"""Single-pass multi-type linking over a MIXED-label mention table
must equal the pure-Python oracle (oracle.match + oracle.format_output)
run per type and unioned, row-for-row (both strategies). The per-type
parity suite runs one label at a time; this covers the cross-label
single pass."""

import os

import pytest

from ontology_matcher_spark import oracle
from ontology_matcher_spark.ontology_types import ONTOLOGY_TYPES, Strategy
from ontology_matcher_spark.operators.link_multi import link_mentions_multi
from ontology_matcher_spark.schemas import FAILED_COLUMNS, FORMATTED_COLUMNS


def _spark_rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _oracle_rows(rows, cols):
    return sorted(tuple(r.get(c, "") or "" for c in cols) for r in rows)


@pytest.mark.parametrize("strategy", [Strategy.MIXTURE, Strategy.UNIQUE])
def test_multi_equals_per_type_union(spark, bundle, fixture_dir, strategy):
    mentions = spark.read.parquet(os.path.join(fixture_dir, "mentions.parquet"))
    edges = spark.read.parquet(os.path.join(fixture_dir, "xref_edges.parquet"))
    terms = spark.read.parquet(os.path.join(fixture_dir, "ontology_terms.parquet"))
    assert mentions.select("label").distinct().count() > 1  # mixed labels

    got_fmt, got_failed = link_mentions_multi(
        mentions, edges, terms, ONTOLOGY_TYPES, strategy
    )

    exp_fmt, exp_failed = [], []
    for tname, otype in ONTOLOGY_TYPES.items():
        ms = [m for m in bundle.mentions if m["label"] == tname]
        conv, failed = oracle.match(ms, bundle.xref_edges, otype, strategy)
        fmt, failed_fmt = oracle.format_output(
            ms, conv, failed, bundle.terms, otype, strategy
        )
        exp_fmt += fmt
        exp_failed += failed_fmt

    assert _spark_rows(got_fmt, FORMATTED_COLUMNS) == _oracle_rows(
        exp_fmt, FORMATTED_COLUMNS
    )
    assert _spark_rows(got_failed, FAILED_COLUMNS) == _oracle_rows(
        exp_failed, FAILED_COLUMNS
    )

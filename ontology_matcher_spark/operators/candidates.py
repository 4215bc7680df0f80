"""Stages 3+4 — candidate generation + tie-break routing for one
entity type: a view of `link_multi.route` (SURVEY.md §2.8 rules 1-4)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from ontology_matcher_spark.ontology_types import OntologyType, Strategy
from ontology_matcher_spark.operators.link_multi import route


def generate_candidates(
    valid_mentions: DataFrame,
    xref_edges: DataFrame,
    otype: OntologyType,
    strategy: Strategy = Strategy.MIXTURE,
) -> DataFrame:
    """`validate_mentions` rows → idx, raw_id, ns, label, reason (NULL =
    converted), cand_default, aliases."""
    return route(valid_mentions, xref_edges, {otype.type: otype}, strategy)

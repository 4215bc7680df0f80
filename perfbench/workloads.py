"""Workload definitions: seeded inputs, one batch, and its output check.

Each workload generates its tables with
``ontology_matcher_spark.fixtures.generate`` from the run's seed, caches
them per (workload, seed) outside the timed region, and states their
sizes. A batch goes from the input tables to output committed on disk;
the check compares that output with values computed without Spark
(link workloads: the pure-Python oracle) or recorded from an earlier
commit (detection), plus identity across the batches of one run.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
#: detection outputs recorded per seed by ``record_detect.py``
EXPECTED_DETECT = os.path.join(HERE, "expected_detect.json")

#: column separator of the row digest (never occurs in generated text)
_SEP = "\x1f"


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "link": run_pipeline batches; "detect": detection batches
    clusters_per_type: int
    mentions_per_type: int
    n_docs: int


# bench.ensure_bench_corpus's sizes (800 clusters / 60k mentions per
# type) take 28 s warm and 60 s cold per pipeline batch on a 4-core box;
# a run must fit set-up, a cold batch and a warm batch in about a minute.
# link_dense keeps that corpus's mentions-per-cluster ratio (75), so each
# distinct (label, id) key still carries ~20 mentions. detect_only uses a
# 200-cluster dictionary because the artifact build is part of set-up;
# the detection kernel's cost per span hardly depends on its size.
WORKLOADS = {
    w.name: w
    for w in (
        # ~20 mentions per (label, id) key: link_multi and the stage
        # writes carry the batch
        Workload("link_dense", "link", 60, 4500, 0),
        # documents only: the Python mapInArrow detection kernel is most
        # of the batch and linking is absent
        Workload("detect_only", "detect", 200, 2000, 10000),
    )
}


# ------------------------------------------------------------------ digests
def row_digest_py(rows, cols) -> dict:
    """Order-independent multiset digest of ``rows`` (dicts) over
    ``cols``: row count plus two sums of 32-bit md5 slices. A changed,
    missing or duplicated row moves it; row order does not."""
    n = h1 = h2 = 0
    for r in rows:
        s = _SEP.join("" if r.get(c) is None else str(r.get(c)) for c in cols)
        h = hashlib.md5(s.encode("utf-8")).hexdigest()
        n += 1
        h1 += int(h[:8], 16)
        h2 += int(h[8:16], 16)
    return {"rows": n, "h1": h1, "h2": h2}


def row_digest_spark(df, cols) -> dict:
    """The same digest as ``row_digest_py``, computed by Spark."""
    from pyspark.sql import functions as F

    md5 = F.md5(
        F.concat_ws(
            _SEP, *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]
        )
    )
    part = lambda a, b: F.conv(F.substring(md5, a, b), 16, 10).cast("long")  # noqa: E731
    r = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(part(1, 8)), F.lit(0)).alias("h1"),
        F.coalesce(F.sum(part(9, 8)), F.lit(0)).alias("h2"),
    ).first()
    return {"rows": int(r["rows"]), "h1": int(r["h1"]), "h2": int(r["h2"])}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ------------------------------------------------------------------ inputs
def prepare_inputs(w: Workload, seed: int, work: str) -> tuple[str, dict]:
    """Generate (or reuse) the parquet inputs of ``w`` for ``seed``.

    Returns (input dir, info) where info holds the stated sizes and the
    expected values the output check needs. Everything here is untimed."""
    d = os.path.join(
        work, "inputs",
        f"{w.name}-c{w.clusters_per_type}-m{w.mentions_per_type}-d{w.n_docs}-s{seed}",
    )
    info_path = os.path.join(d, "info.json")
    if os.path.exists(info_path):
        with open(info_path) as f:
            return d, json.load(f)
    from ontology_matcher_spark import fixtures as fx

    shutil.rmtree(d, ignore_errors=True)
    b = fx.generate(
        seed=seed,
        clusters_per_type=w.clusters_per_type,
        mentions_per_type=w.mentions_per_type,
        n_docs=w.n_docs,
    )
    fx.write_parquet(b, d)
    keys = {(m["label"], m["id"]) for m in b.mentions}
    info = {
        "sizes": {
            "mentions": len(b.mentions),
            "distinct_keys": len(keys),
            "key_ratio": round(len(keys) / max(1, len(b.mentions)), 4),
            "terms": len(b.terms),
            "edges": len(b.xref_edges),
            "docs": len(b.documents),
            "spans": sum(len(doc["spans"]) for doc in b.documents),
            "text_spans": sum(
                1 for doc in b.documents for s in doc["spans"] if s["kind"] == "text"
            ),
        }
    }
    if w.kind == "link":
        info["formatted"] = oracle_formatted_digest(b)
    with open(info_path + ".tmp", "w") as f:
        json.dump(info, f)
    os.replace(info_path + ".tmp", info_path)
    return d, info


def oracle_formatted_digest(bundle) -> dict:
    """Digest of the formatted table the pure-Python oracle produces:
    ``oracle.match`` + ``oracle.format_output`` per entity type."""
    from ontology_matcher_spark import oracle
    from ontology_matcher_spark.ontology_types import ONTOLOGY_TYPES
    from ontology_matcher_spark.schemas import FORMATTED_COLUMNS

    rows: list[dict] = []
    for tname, otype in ONTOLOGY_TYPES.items():
        ms = [m for m in bundle.mentions if m["label"] == tname]
        conv, failed = oracle.match(ms, bundle.xref_edges, otype)
        fmt, _ = oracle.format_output(ms, conv, failed, bundle.terms, otype)
        rows.extend(fmt)
    return row_digest_py(rows, FORMATTED_COLUMNS)


def input_rows(w: Workload, info: dict) -> int:
    """The rows one batch consumes: mentions, or documents for detection."""
    return info["sizes"]["docs" if w.kind == "detect" else "mentions"]


# ------------------------------------------------------------------ batches
def build_artifact(spark, input_dir: str, artifact_dir: str) -> str:
    """The detection dictionary artifact (set-up of detect workloads)."""
    from ontology_matcher_spark.operators.dictionary_build import (
        write_detection_artifact,
    )

    terms = spark.read.parquet(os.path.join(input_dir, "ontology_terms.parquet"))
    edges = spark.read.parquet(os.path.join(input_dir, "xref_edges.parquet"))
    return write_detection_artifact(terms, artifact_dir, edges)


def read_documents(spark, input_dir: str, partitions: int):
    # a single-file parquet scans as one task: fan out like the CLI does
    return spark.read.parquet(
        os.path.join(input_dir, "documents.parquet")
    ).repartition(partitions)


def run_batch(spark, w: Workload, input_dir: str, out_dir: str,
              partitions: int, artifact_dir: str | None = None) -> None:
    """One batch, from the input tables to output committed under
    ``out_dir`` (which must not exist yet)."""
    if w.kind == "link":
        from ontology_matcher_spark.plans.pipeline import run_pipeline

        run_pipeline(spark, input_dir, out_dir, num_partitions=partitions)
    else:
        from ontology_matcher_spark.operators.mention_detect import (
            best_candidate_per_mention,
            detect_mentions,
        )

        docs = read_documents(spark, input_dir, partitions)
        best_candidate_per_mention(detect_mentions(docs, artifact_dir)).write.parquet(
            out_dir
        )


# ------------------------------------------------------------------ checks
TRIPLE_COLUMNS = ["subj", "pred", "obj", "label", "src"]
DETECT_COLUMNS = ["doc_id", "span_idx", "offset", "surface", "id", "match_type"]
TIERS = ["exact-id", "xref", "name", "synonym", "fuzzy"]


def output_signature(spark, w: Workload, out_dir: str) -> dict:
    """What the check compares: digests and counts of one batch's output."""
    from pyspark.sql import functions as F

    from ontology_matcher_spark.schemas import FORMATTED_COLUMNS

    if w.kind == "link":
        stages = os.path.join(out_dir, "stages")
        return {
            "formatted": row_digest_spark(
                spark.read.parquet(os.path.join(stages, "formatted")),
                FORMATTED_COLUMNS,
            ),
            "triples": row_digest_spark(
                spark.read.parquet(os.path.join(stages, "triples")), TRIPLE_COLUMNS
            ),
        }
    df = spark.read.parquet(out_dir)
    tiers = {t: 0 for t in TIERS}
    for r in df.groupBy("match_type").count().collect():
        tiers[r["match_type"]] = int(r["count"])
    return {"mentions": row_digest_spark(df, DETECT_COLUMNS), "tiers": tiers}


def load_expected_detect(w: Workload, seed: int) -> dict | None:
    """The detection signature recorded for ``seed``, if any."""
    if not os.path.exists(EXPECTED_DETECT):
        return None
    with open(EXPECTED_DETECT) as f:
        rec = json.load(f)
    if rec.get("params") != detect_params(w):
        return None
    return rec["seeds"].get(str(seed))


def detect_params(w: Workload) -> dict:
    return {
        "clusters_per_type": w.clusters_per_type,
        "mentions_per_type": w.mentions_per_type,
        "n_docs": w.n_docs,
    }


def check_output(w: Workload, info: dict, sig: dict, reference: dict | None,
                 recorded: dict | None) -> list[str]:
    """Problems found in one batch's output signature ``sig``.

    ``reference`` is the first batch's signature in this run (identity
    across batches); ``recorded`` the detection values recorded from an
    earlier commit for this seed. An empty list means the output passed."""
    problems: list[str] = []
    if w.kind == "link":
        if sig["formatted"] != info["formatted"]:
            problems.append(
                f"formatted differs from oracle: {sig['formatted']} != {info['formatted']}"
            )
        if sig["triples"]["rows"] == 0:
            problems.append("no triples")
        if reference is not None and sig["triples"] != reference["triples"]:
            problems.append(
                f"triples differ from first batch: {sig['triples']} != {reference['triples']}"
            )
        return problems
    if sig["mentions"]["rows"] == 0:
        problems.append("no detected mentions")
    if sum(sig["tiers"].values()) != sig["mentions"]["rows"]:
        problems.append(f"tier counts {sig['tiers']} do not sum to the row count")
    for name, want in (("first batch", reference), ("recorded value", recorded)):
        if want is not None and sig != want:
            problems.append(f"detection output differs from {name}: {sig} != {want}")
    return problems

"""The benchmark's output check catches corrupted outputs.

    python3 -m pytest perfbench/test_checks.py -q

Each test runs one small batch through the same code the benchmark
uses, shows that the check passes it, corrupts the written output and
shows that the check then reports it."""

from __future__ import annotations

import dataclasses
import glob
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
from workloads import (  # noqa: E402
    WORKLOADS, build_artifact, check_output, output_signature, prepare_inputs,
    run_batch,
)


@pytest.fixture(scope="module")
def spark():
    run.configure_env()
    s = run.start_session(2)
    yield s
    run.stop_session(s)


def _parts(root: str) -> list[str]:
    return sorted(
        p for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        if pq.read_metadata(p).num_rows
    )


def _rewrite(part: str, table: pa.Table) -> None:
    """Replace a part file's rows. The Hadoop checksum sidecar goes too,
    so the change reads as wrong data rather than as a damaged file."""
    pq.write_table(table, part)
    crc = os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _edit_first_row(root: str, column: str) -> None:
    part = _parts(root)[0]
    t = pq.read_table(part)
    vals = t.column(column).to_pylist()
    vals[0] = f"{vals[0]}!"
    i = t.schema.get_field_index(column)
    _rewrite(part, t.set_column(i, column, pa.array(vals, t.schema.field(i).type)))


def _drop_first_row(root: str) -> None:
    part = _parts(root)[0]
    _rewrite(part, pq.read_table(part).slice(1))


def test_link_check_catches_corruption(spark, tmp_path):
    w = dataclasses.replace(
        WORKLOADS["link_dense"], clusters_per_type=20, mentions_per_type=300)
    d, info = prepare_inputs(w, 3, str(tmp_path))
    out = str(tmp_path / "out")
    run_batch(spark, w, d, out, 4)
    good = output_signature(spark, w, out)
    assert check_output(w, info, good, None, None) == []
    assert check_output(w, info, good, good, None) == []

    _edit_first_row(os.path.join(out, "stages", "triples"), "obj")
    bad = output_signature(spark, w, out)
    assert [p for p in check_output(w, info, bad, good, None) if "first batch" in p]

    _edit_first_row(os.path.join(out, "stages", "formatted"), "name")
    bad = output_signature(spark, w, out)
    assert [p for p in check_output(w, info, bad, None, None) if "oracle" in p]


def test_detect_check_catches_corruption(spark, tmp_path):
    w = dataclasses.replace(
        WORKLOADS["detect_only"], clusters_per_type=20, mentions_per_type=50,
        n_docs=300)
    d, info = prepare_inputs(w, 3, str(tmp_path))
    art = build_artifact(spark, d, str(tmp_path / "artifact"))
    out = str(tmp_path / "out")
    run_batch(spark, w, d, out, 4, art)
    good = output_signature(spark, w, out)
    assert good["mentions"]["rows"] > 0
    assert check_output(w, info, good, good, good) == []

    _drop_first_row(out)
    bad = output_signature(spark, w, out)
    problems = check_output(w, info, bad, good, good)
    assert [p for p in problems if "first batch" in p]
    assert [p for p in problems if "recorded value" in p]

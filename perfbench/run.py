"""Closed-loop batch benchmark of the KG-construction engine.

    python3 perfbench/run.py --workload link_dense --seed 1 --seconds 14 --trace 0

Run from the root of a source tree. One driver process starts a Spark
session on local[<cores>] (cores from the CPU affinity mask, shuffle
partitions 2 x cores), generates the workload's inputs from the seed,
runs one cold batch, then runs warm batches back to back (one client,
each batch waits for the previous one) until ``--seconds`` have passed.
Every batch's output is checked. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` runs the traced variant and reports the
per-layer metrics. Human-readable lines start with "#"; the last line
of standard output is one JSON object. Scratch files go to
.bench_build/perfbench under the tree. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, ROOT)

from spans import (  # noqa: E402
    RssSampler, SQL_OPS, Tracer, cpu_seconds, cpu_steal_share, harvest,
    process_tree,
)
from workloads import (  # noqa: E402
    TIERS, WORKLOADS, build_artifact, check_output, dir_bytes, input_rows,
    load_expected_detect, output_signature, prepare_inputs, read_documents,
    run_batch,
)

#: no warm batch starts once the process is this old, so a run ends well
#: inside the 180 s a run may take even on a loaded machine, and the runs
#: of a whole benchmark stay within their time when the host is busy
HARD_STOP_S = 65.0
#: untimed warm-up: the cold batch, then more batches until this many
#: seconds have passed, so the JIT has compiled the hot paths before the
#: measured batches (a pipeline batch is longer than this on its own)
WARMUP_S = 8.0
#: measured batches per run at least, even when they outlast --seconds:
#: the median of three is not moved by one batch that a busy host or a
#: late JIT compilation slowed
MIN_BATCHES = 3
#: driver heap, fixed (-Xms = -Xmx), set through the engine's own
#: SPARK_DRIVER_MEMORY: with its 16g default, warm batches on a 4-core,
#: 15 GB VM were slower and varied more between runs; see README.md
DRIVER_HEAP = "2g"
#: JVM options of the driver. C1 only (TieredStopAtLevel=1): with the
#: default tiered JIT, warm pipeline batches kept getting faster for more
#: batches than a run holds, so a run's median depended on how far the
#: optimising compiler had got; with C1 alone they level off after the
#: cold batch. See README.md.
JVM_OPTS = (f"-Xms{DRIVER_HEAP} -XX:TieredStopAtLevel=1 -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}")

END_TO_END = {
    "setup_s": "s",
    "batch_s": "s",
    "input_rows_per_s": "1/s",
    "output_mb": "MB",
}

_DET = ["scan_s", "best_s", "spans_in", "candidates_out", "mentions_out"] + [
    f"hits.{t}" for t in TIERS] + ["cpu_s", "worker_cpu_s", "gc_s", "task_skew"]
_LINK = ["wall_s", "rows_in", "keys_in", "key_ratio", "formatted_out",
         "failed_out", "shuffle_write_mb", "spill_mb", "peak_exec_mem_mb",
         "task_skew"] + [f"op.{v}" for v in SQL_OPS.values()]
PER_LAYER = (
    ["session.start_s"]
    + [f"dictionary_build.{m}" for m in
       ("wall_s", "artifact_mb", "surfaces_out", "fuzzy_variants_out")]
    + [f"mention_detect.{m}" for m in _DET]
    + [f"link_multi.{m}" for m in _LINK]
    + [f"canonicalize.{m}" for m in
       ("wall_s", "edges_in", "nodes_out", "components", "max_component", "jobs")]
    + ["triples.wall_s", "triples.rows_out", "triples.shuffle_write_mb"]
    + [f"checkpoint.{s}.wall_s" for s in ("formatted", "canonical", "triples")]
    + ["checkpoint.written_mb", "checkpoint.files", "checkpoint.write_share",
       "traced_batch_s", "trace_overhead"]
)


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("link_multi.key_ratio", "checkpoint.write_share", "trace_overhead") \
            or name.endswith("task_skew"):
        return "ratio"
    return "count"


def note(msg: str) -> None:
    print(f"# {msg}", flush=True)


def process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - start_ticks / os.sysconf("SC_CLK_TCK")


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# ------------------------------------------------------------------ session
def configure_env() -> None:
    """Keep every file the run writes inside the tree, and put the
    engine on the Python workers' path (they do not inherit sys.path)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ.update(
        PYTHONPATH=ROOT + (os.pathsep + old if old else ""),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_GRAFT_SCRATCH=os.path.join(WORK, "scratch"),
        SPARK_DRIVER_MEMORY=DRIVER_HEAP,
        # the launcher JVM spark-submit starts first would otherwise
        # write its perf counters under /tmp
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )


def start_session(cores: int):
    from ontology_matcher_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": JVM_OPTS,
        },
    )
    spark.range(1).count()
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until it and every Python worker
    it started have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 20
    for p in pids[1:]:
        while _alive(p) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(p):
            os.kill(p, signal.SIGKILL)


# ------------------------------------------------------------------ batches
class BatchLoop:
    """Runs batches into fresh output directories and checks each one."""

    def __init__(self, spark, w, seed, info, input_dir, partitions, artifact):
        self.spark, self.w, self.info = spark, w, info
        self.input_dir, self.partitions, self.artifact = input_dir, partitions, artifact
        self.prefix = os.path.join(WORK, "out", f"{w.name}-s{seed}")
        shutil.rmtree(self.prefix, ignore_errors=True)
        self.recorded = load_expected_detect(w, seed) if w.kind == "detect" else None
        if w.kind == "detect" and self.recorded is None:
            note(f"no detection output recorded for seed {seed} in "
                 "expected_detect.json: batches are checked against each "
                 "other only")
        self.reference = None
        self.attempted = self.failed = 0
        self.out_bytes: list[int] = []
        self.cpu: list[float] = []
        self.last_out = None
        self.last_sig = None

    def batch(self, tracer: Tracer | None = None) -> float:
        """One batch; returns its wall time. The check, the deletion of
        the previous output and the garbage collection are untimed."""
        out = os.path.join(self.prefix, f"b{self.attempted}")
        self.attempted += 1
        ok = True
        tree = process_tree(jvm_pid())
        c0 = cpu_seconds(tree)
        t0 = time.perf_counter()
        try:
            if tracer is None:
                run_batch(self.spark, self.w, self.input_dir, out,
                          self.partitions, self.artifact)
            else:
                with tracer.span("batch") as sp:
                    run_batch(self.spark, self.w, self.input_dir, out,
                              self.partitions, self.artifact)
                    sp["attrs"]["spark"] = harvest(self.spark, sp)
        except Exception:
            traceback.print_exc()
            ok = False
        wall = time.perf_counter() - t0
        self.cpu.append(cpu_seconds(process_tree(jvm_pid())) - c0)
        if ok:
            try:
                sig = output_signature(self.spark, self.w, out)
                problems = check_output(self.w, self.info, sig, self.reference,
                                        self.recorded)
            except Exception as e:
                traceback.print_exc()
                sig, problems = None, [f"output unreadable: {e}"]
            for p in problems:
                note(f"CHECK FAILED batch {self.attempted - 1}: {p}")
            ok = not problems
            if ok and self.reference is None:
                self.reference = sig
            self.last_sig = sig
        if not ok:
            self.failed += 1
        self.out_bytes.append(dir_bytes(out) if os.path.isdir(out) else 0)
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out
        settle(self.spark)
        return wall


def settle(spark) -> None:
    """Driver and JVM GC between batches: Spark's ContextCleaner removes
    shuffle files only after the Spark driver collects the references."""
    from ontology_matcher_spark.functions.materialize import clear_scratch

    clear_scratch(spark)
    gc.collect()
    spark._jvm.System.gc()


def high_percentile(xs: list[float]) -> str:
    """The highest percentile that has at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return f"none (n={n}; needs >= 11)"
    p = int(100 * (1 - 10 / n))
    k = min(n - 1, max(0, int(round(p / 100 * (n - 1)))))
    return f"p{p} {sorted(xs)[k]:.3f} s (n={n})"


def warm_up(loop: BatchLoop) -> float:
    """Untimed batches before the measured ones (see WARMUP_S); returns
    the wall time of the first, cold batch."""
    t0 = time.perf_counter()
    first = loop.batch()
    while time.perf_counter() - t0 < WARMUP_S:
        loop.batch()
    return first


def warm_loop(seconds: float, step, least: int = MIN_BATCHES) -> None:
    """Call ``step`` until ``seconds`` have passed and it ran at least
    ``least`` times (at least once past HARD_STOP_S)."""
    deadline = time.perf_counter() + seconds
    n = 0
    while True:
        step()
        n += 1
        if process_age() >= HARD_STOP_S or (
                n >= least and time.perf_counter() >= deadline):
            return


# ------------------------------------------------------------------ runs
def set_up(spark, w, seed, session_s, tracer=None):
    """Inputs (untimed) and, for detection, the artifact build, which
    counts as set-up."""
    input_dir, info = prepare_inputs(w, seed, WORK)
    note("inputs " + " ".join(f"{k}={v}" for k, v in info["sizes"].items()))
    setup_s, artifact = session_s, None
    if w.kind == "detect":
        artifact = os.path.join(WORK, "artifact", f"{w.name}-s{seed}")
        shutil.rmtree(artifact, ignore_errors=True)
        t0 = time.perf_counter()
        if tracer is None:
            build_artifact(spark, input_dir, artifact)
        else:
            with tracer.span("dictionary_build.write_detection_artifact"):
                build_artifact(spark, input_dir, artifact)
        setup_s += time.perf_counter() - t0
    return input_dir, info, setup_s, artifact


def run_timed(spark, w, seed, seconds, cores, session_s) -> dict:
    input_dir, info, setup_s, artifact = set_up(spark, w, seed, session_s)
    loop = BatchLoop(spark, w, seed, info, input_dir, 2 * cores, artifact)
    walls: list[float] = []
    steal0 = cpu_steal_share()
    with RssSampler(jvm_pid()) as rss:
        first = warm_up(loop)
        warm_loop(seconds, lambda: walls.append(loop.batch()))
    steal1 = cpu_steal_share()
    batch_s = statistics.median(walls)
    rows = input_rows(w, info)
    metrics = {
        "setup_s": setup_s,
        "batch_s": batch_s,
        "input_rows_per_s": rows / batch_s,
        "output_mb": statistics.median(loop.out_bytes) / 2**20,
    }
    # diagnostics only: each varied by more than a quarter between runs
    # of the same workload on a 4-core box, so none is tracked
    note(f"first_batch_s {first:.4f} s (cold); batch_cpu_s "
         f"{statistics.median(loop.cpu[-len(walls):]):.4f} s (median CPU of JVM and "
         "workers per warm batch); peak_rss_mb "
         f"{rss.peak / 2**20:.1f} MB (JVM and workers)")
    note(f"cpu steal during batches {(steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]):.3f} "
         "of all CPU time (time the hypervisor ran other guests)")
    note("batches " + ", ".join(f"{x:.3f}" for x in walls)
         + f" s; median {batch_s:.3f} s; high percentile: {high_percentile(walls)}")
    note(f"input_rows={rows} ({'documents' if w.kind == 'detect' else 'mentions'})")
    note(f"error_rate {loop.failed}/{loop.attempted} = "
         f"{loop.failed / loop.attempted:.3f} (batches failed / attempted)")
    for k, v in metrics.items():
        note(f"{k:18s} {v:14.4f} {END_TO_END[k]}")
    return {"loop": loop, "metrics": {
        k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}}


def run_traced(spark, w, seed, seconds, cores, session_s) -> dict:
    tracer = Tracer(spark)
    m = {k: 0.0 for k in PER_LAYER}  # layers the workload does not run stay 0
    m["session.start_s"] = session_s
    with tracer.span("run"):
        input_dir, info, _, artifact = set_up(spark, w, seed, session_s, tracer)
        loop = BatchLoop(spark, w, seed, info, input_dir, 2 * cores, artifact)
        warm_up(loop)  # untraced: the measured batches run warm
        plain: list[float] = []
        traced: list[float] = []

        def pair():
            plain.append(loop.batch())
            traced.append(loop.batch(tracer))

        # two pairs at least: a pair is two batches, and the per-layer
        # calls after them must still fit the time a run may take
        warm_loop(seconds, pair, least=2)
        m["traced_batch_s"] = statistics.median(traced)
        # traced batch wall (spans, job groups, status-store reads) over
        # the untraced warm batch wall of the same run
        m["trace_overhead"] = m["traced_batch_s"] / statistics.median(plain)
        if loop.failed:
            # the layer calls read the last batch's output: skip them
            note(f"{loop.failed} batch(es) failed: per-layer calls skipped")
        else:
            layers = trace_detect if w.kind == "detect" else trace_link
            try:
                m.update(layers(spark, tracer, loop, input_dir, artifact,
                                info["sizes"], 2 * cores))
            except Exception:
                traceback.print_exc()
                note("per-layer calls raised: counted as a failed batch")
                loop.failed += 1
    for k in m:
        note(f"{k:42s} {m[k]:14.4f} {unit_of(k)}")
    agg: dict[str, float] = {}
    for s in tracer.spans:
        agg[s["name"]] = agg.get(s["name"], 0.0) + tracer.self_time(s)
    for name, v in sorted(agg.items(), key=lambda kv: -kv[1]):
        note(f"self time {name:46s} {v:10.3f} s")
    tracer.write(
        os.path.join(WORK, f"trace-{w.name}-s{seed}.json"),
        {"workload": w.name, "seed": seed, "sizes": info["sizes"], "metrics": m},
    )
    return {"loop": loop, "metrics": {
        k: {"value": v, "unit": unit_of(k)} for k, v in m.items()}}


def noop_count(df, tag: str) -> int:
    """Run ``df`` into Spark's noop sink (no write cost) and count its rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.observation import Observation

    obs = Observation(f"perfbench_{tag}_{time.monotonic_ns()}")
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite").save()
    return int(obs.get["n"])


def probe(spark, tracer: Tracer, name: str, fn):
    """Call ``fn`` inside span ``name``; returns (seconds, result, Spark
    numbers). ``worker_cpu_s`` is the Python workers' CPU from /proc,
    because Spark's executor CPU counts JVM threads only."""
    jvm = jvm_pid()
    workers0 = cpu_seconds(process_tree(jvm)[1:])
    with tracer.span(name) as sp:
        out = fn()
    h = harvest(spark, sp)
    h["worker_cpu_s"] = cpu_seconds(process_tree(jvm)[1:]) - workers0
    sp["attrs"]["spark"] = h
    return sp["end"] - sp["start"], out, h


def trace_detect(spark, tracer, loop, input_dir, artifact, sizes, partitions):
    from ontology_matcher_spark.operators.mention_detect import (
        best_candidate_per_mention, detect_mentions,
    )

    build = next(s for s in tracer.spans
                 if s["name"] == "dictionary_build.write_detection_artifact")
    m = {
        "dictionary_build.wall_s": build["end"] - build["start"],
        "dictionary_build.artifact_mb": dir_bytes(artifact) / 2**20,
        "dictionary_build.surfaces_out":
            spark.read.parquet(os.path.join(artifact, "surfaces")).count(),
        "dictionary_build.fuzzy_variants_out":
            spark.read.parquet(os.path.join(artifact, "fuzzy")).count(),
    }
    docs = lambda: read_documents(spark, input_dir, partitions)  # noqa: E731
    scan_s, cands, h = probe(
        spark, tracer, "mention_detect.detect_mentions",
        lambda: noop_count(detect_mentions(docs(), artifact), "scan"))
    best_s, best, _ = probe(
        spark, tracer, "mention_detect.best_candidate_per_mention",
        lambda: noop_count(best_candidate_per_mention(
            detect_mentions(docs(), artifact)), "best"))
    m.update({
        "mention_detect.scan_s": scan_s,
        "mention_detect.best_s": best_s,
        "mention_detect.spans_in": sizes["spans"],
        "mention_detect.candidates_out": cands,
        "mention_detect.mentions_out": best,
        "mention_detect.cpu_s": h["cpu_s"],
        "mention_detect.worker_cpu_s": h["worker_cpu_s"],
        "mention_detect.gc_s": h["gc_s"],
        "mention_detect.task_skew": h["task_skew"],
    })
    for t, n in loop.last_sig["tiers"].items():
        m[f"mention_detect.hits.{t}"] = n
    return m


def trace_link(spark, tracer, loop, input_dir, artifact, sizes, partitions):
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from ontology_matcher_spark.ontology_types import ONTOLOGY_TYPES
    from ontology_matcher_spark.operators.canonicalize import (
        canonical_assignment_by_label,
    )
    from ontology_matcher_spark.operators.link_multi import link_mentions_multi
    from ontology_matcher_spark.plans.pipeline import build_triples_multi, xref_pairs

    m: dict[str, float] = {}
    # the last traced batch's stages: the pipeline's lineage table holds
    # each stage's wall time, which become child spans of that batch
    last = [s for s in tracer.spans if s["name"] == "batch"][-1]
    stages = os.path.join(loop.last_out, "stages")
    walls = {r["stage"]: r["wall_ms"] / 1e3
             for r in pq.read_table(os.path.join(loop.last_out, "lineage")).to_pylist()
             if r["metric"] == "rows_out"}
    for stage, secs in walls.items():
        tracer.add_child(last, f"checkpoint.{stage}", secs)
        m[f"checkpoint.{stage}.wall_s"] = secs
    m["checkpoint.written_mb"] = dir_bytes(stages) / 2**20
    m["checkpoint.files"] = sum(
        1 for _, _, fs in os.walk(stages) for f in fs if f.endswith(".parquet"))

    tnames = list(ONTOLOGY_TYPES)
    read = lambda name: spark.read.parquet(os.path.join(input_dir, f"{name}.parquet"))  # noqa: E731
    mentions = read("mentions").repartition(partitions)
    edges, terms = read("xref_edges"), read("ontology_terms")
    fmt, failed = link_mentions_multi(
        mentions.where(F.col("label").isin(tnames)), edges, terms, ONTOLOGY_TYPES)
    link_s, n_fmt, h = probe(spark, tracer, "link_multi.link_mentions_multi",
                             lambda: noop_count(fmt, "formatted"))
    m.update({
        "link_multi.wall_s": link_s,
        "link_multi.rows_in": sizes["mentions"],
        "link_multi.keys_in": sizes["distinct_keys"],
        "link_multi.key_ratio": sizes["key_ratio"],
        "link_multi.formatted_out": n_fmt,
        "link_multi.failed_out": failed.count(),
        "link_multi.shuffle_write_mb": h["shuffle_write_mb"],
        "link_multi.spill_mb": h["spill_mb"],
        "link_multi.peak_exec_mem_mb": h["peak_exec_mem_mb"],
        "link_multi.task_skew": h["task_skew"],
    })
    for k, v in h["op"].items():
        m[f"link_multi.op.{k}"] = v

    formatted = spark.read.parquet(os.path.join(stages, "formatted"))
    defaults = {t: ONTOLOGY_TYPES[t].default for t in tnames}
    cc_s, _, h = probe(
        spark, tracer, "canonicalize.canonical_assignment_by_label",
        lambda: noop_count(canonical_assignment_by_label(
            xref_pairs(formatted), terms.select("curie", "label"), defaults), "canon"))
    canon = spark.read.parquet(os.path.join(stages, "canonical"))
    comp = canon.groupBy("canonical").count().agg(
        F.count(F.lit(1)).alias("c"), F.max("count").alias("mx"),
        F.sum("count").alias("n")).first()
    m.update({
        "canonicalize.wall_s": cc_s,
        "canonicalize.edges_in": xref_pairs(formatted).count(),
        "canonicalize.nodes_out": int(comp["n"] or 0),
        "canonicalize.components": int(comp["c"] or 0),
        "canonicalize.max_component": int(comp["mx"] or 0),
        "canonicalize.jobs": h["jobs"],
    })
    tr_s, n_tr, h = probe(
        spark, tracer, "triples.build_triples_multi",
        lambda: noop_count(build_triples_multi(formatted, terms, tnames, canon),
                           "triples"))
    m.update({"triples.wall_s": tr_s, "triples.rows_out": n_tr,
              "triples.shuffle_write_mb": h["shuffle_write_mb"]})
    stage_total = sum(walls.values())
    m["checkpoint.write_share"] = (stage_total - link_s - cc_s - tr_s) / stage_total
    return m


# ------------------------------------------------------------------ main
def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import ontology_matcher_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    configure_env()
    cores = len(os.sched_getaffinity(0))
    l1_start = load1()
    spark = start_session(cores)
    session_s = process_age()
    try:
        run = run_traced if args.trace else run_timed
        res = run(spark, w, args.seed, args.seconds, cores, session_s)
    finally:
        stop_session(spark)
    loop = res["loop"]
    for d in (loop.prefix, loop.artifact):
        if d:
            shutil.rmtree(d, ignore_errors=True)
    note(f"workload={w.name} seed={args.seed} cores={cores} trace={args.trace} "
         f"load1 {l1_start:.2f} -> {load1():.2f} wall {process_age():.1f} s")
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": res["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

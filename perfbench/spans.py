"""Spans around calls into the engine's layers, and the Spark numbers
behind them, read from Spark's own status stores from outside.

Every span gets its own Spark job group, so the jobs, stages and SQL
executions a call caused can be found afterwards. Spans are kept in
memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        group = f"perfbench-{sid}-{name}"
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "group": group,
            "start": time.perf_counter(),
            "end": None,
            "attrs": {},
        }
        self.spans.append(rec)
        self._stack.append(sid)
        # SQL executions are numbered in order: the span's own start
        # after this count, so harvest() reads only those
        rec["first_execution"] = sql_store(self.spark).executionsCount()
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            parent = self.spans[self._stack[-1]]["group"] if self._stack else "perfbench-idle"
            sc.setJobGroup(parent, "perfbench")

    def add_child(self, parent: dict, name: str, seconds: float) -> dict:
        """A child span known only by its duration (for instance a
        pipeline stage from the run's lineage table). Such children are
        sequential, so they are placed back to back from the parent's
        start; only their lengths carry information."""
        siblings = [s for s in self.spans if s["parent"] == parent["id"]]
        start = siblings[-1]["end"] if siblings else parent["start"]
        rec = {
            "id": len(self.spans), "parent": parent["id"], "name": name,
            "group": None, "start": start, "end": start + seconds,
            "attrs": {},
        }
        self.spans.append(rec)
        return rec

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted(
            (max(s["start"], rec["start"]), min(s["end"], rec["end"]))
            for s in self.spans
            if s["parent"] == rec["id"]
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in kids:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return (rec["end"] - rec["start"]) - covered

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0,
             "self_s": self.self_time(s)}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": out, **extra}, f, indent=1)


# ------------------------------------------------------------ status stores
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric value, in seconds or bytes.

    Task-level metrics read "total (min, med, max ...)\\n<total> (...)";
    driver-level ones are just "<total>"."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


#: SQL operator metrics summed per span, by the name Spark gives them
SQL_OPS = {
    "time to build": "broadcast_build_s",
    "time in aggregation build": "aggregate_s",
    "sort time": "sort_s",
}


def sql_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def harvest(spark, span: dict) -> dict:
    """Spark's numbers for every job of ``span``'s job group: job count,
    task time, JVM CPU, GC, shuffle, spill, peak execution memory, task
    skew and the SQL operator times in ``SQL_OPS``."""
    group = span["group"]
    sc = spark.sparkContext
    jvm = spark._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = sc._jsc.sc().statusStore()
    job_ids = set(int(j) for j in sc.statusTracker().getJobIdsForGroup(group))
    out = {
        "jobs": len(job_ids), "cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_mb": 0.0, "spill_mb": 0.0, "peak_exec_mem_mb": 0.0,
        "task_skew": 1.0,
    }
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    heaviest = (-1.0, None)
    for j in job_ids:
        info = sc.statusTracker().getJobInfo(j)
        for sid in list(info.stageIds) if info else []:
            seq = store.stageData(int(sid), False, None, False, None)
            for i in range(seq.size()):
                st = seq.apply(i)
                if str(st.status()) != "COMPLETE":
                    continue
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += st.diskBytesSpilled() / 2**20
                out["peak_exec_mem_mb"] = max(
                    out["peak_exec_mem_mb"], st.peakExecutionMemory() / 2**20
                )
                if st.numTasks() > 1 and st.executorRunTime() > heaviest[0]:
                    heaviest = (st.executorRunTime(), (st.stageId(), st.attemptId()))
    if heaviest[1] is not None:
        summ = store.taskSummary(heaviest[1][0], heaviest[1][1], quantiles)
        if summ.isDefined():
            rt = summ.get().executorRunTime()
            med, mx = rt.apply(0), rt.apply(1)
            out["task_skew"] = mx / med if med > 0 else 1.0
    ops = {v: 0.0 for v in SQL_OPS.values()}
    sql = sql_store(spark)
    for ex in conv.asJava(sql.executionsList(span["first_execution"], 1 << 30)):
        ex_jobs = set(int(k) for k in conv.asJava(ex.jobs()).keySet())
        if not ex_jobs or not ex_jobs <= job_ids:
            continue
        values = conv.asJava(sql.executionMetrics(ex.executionId()))
        for m in conv.asJava(ex.metrics()):
            key = SQL_OPS.get(m.name())
            v = values.get(m.accumulatorId())
            if key and v:
                ops[key] += parse_metric(v)
    out["op"] = ops
    return out


# ------------------------------------------------------------ memory
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_bytes(pids) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def cpu_seconds(pids) -> float:
    """User + system CPU seconds of ``pids``, including their reaped
    children (utime, stime, cutime, cstime of /proc/<pid>/stat)."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def cpu_steal_share() -> tuple[int, int]:
    """(steal ticks, all ticks) of the machine so far, from /proc/stat;
    the difference of two readings gives the share of CPU time the
    hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


class RssSampler:
    """Peak RSS of a process and all its descendants (the Spark driver
    JVM and its Python workers), sampled from /proc on a background
    thread."""

    #: seconds between samples: sampling runs in the Python process whose
    #: main thread drives the batch, so it is kept rare
    INTERVAL = 1.0

    def __init__(self, root_pid: int):
        self.root = root_pid
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(process_tree(self.root)))
            self._stop.wait(self.INTERVAL)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload link_dense --seeds 1-10 --seconds 14

The spread is the distance between the first and third quartile of the
per-run values (``statistics.quantiles(values, n=4)``) as a share of
their median."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    args = ap.parse_args()
    runs = []
    for seed in args.seeds:
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds),
             "--trace", "0"],
            capture_output=True, text=True, timeout=600,
        )
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            return 1
        res = json.loads(lines[-1])
        res["seed"], res["wall_s"] = seed, time.time() - t0
        runs.append(res)
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        steal = next((ln.split()[5] for ln in lines if ln.startswith("# cpu steal")), "?")
        batches = next((ln[2:].split(";")[0] for ln in lines if ln.startswith("# batches")), "")
        print(f"seed {seed} wall {res['wall_s']:.1f} s steal {steal} correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} {vals} ({batches})", flush=True)
    if len(runs) < 2:
        return 0
    for name in runs[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:40s} median {med:12.4f} spread {spread:.4f}")
    print(f"run wall: median {statistics.median(r['wall_s'] for r in runs):.1f} s, "
          f"max {max(r['wall_s'] for r in runs):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())

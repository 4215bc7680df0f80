"""Record the detect_only output signature (row count, tier counts and
row digest of the detected-mention table) for a range of seeds, into
perfbench/expected_detect.json. The benchmark's check compares every
detection batch with the value recorded for its seed, when there is one.

    python3 perfbench/record_detect.py --seeds 0-99

Record only from a commit whose detection output is known to be right:
the recorded values are the reference that later commits must match.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run
from spread import seeds_arg
from workloads import (
    EXPECTED_DETECT, WORKLOADS, build_artifact, detect_params, output_signature,
    prepare_inputs, run_batch,
)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=seeds_arg, required=True)
    args = ap.parse_args()
    w = WORKLOADS["detect_only"]
    rec = {"params": detect_params(w), "seeds": {}}
    if os.path.exists(EXPECTED_DETECT):
        with open(EXPECTED_DETECT) as f:
            old = json.load(f)
        if old.get("params") == rec["params"]:
            rec = old
    run.configure_env()
    cores = len(os.sched_getaffinity(0))
    spark = run.start_session(cores)
    try:
        for seed in args.seeds:
            d, _ = prepare_inputs(w, seed, run.WORK)
            art = os.path.join(run.WORK, "artifact", f"record-s{seed}")
            out = os.path.join(run.WORK, "out", f"record-s{seed}")
            for p in (art, out):
                shutil.rmtree(p, ignore_errors=True)
            build_artifact(spark, d, art)
            run_batch(spark, w, d, out, 2 * cores, art)
            rec["seeds"][str(seed)] = output_signature(spark, w, out)
            print(seed, rec["seeds"][str(seed)], flush=True)
            for p in (art, out, d):
                shutil.rmtree(p, ignore_errors=True)
            run.settle(spark)
    finally:
        run.stop_session(spark)
    rec["seeds"] = dict(sorted(rec["seeds"].items(), key=lambda kv: int(kv[0])))
    with open(EXPECTED_DETECT, "w") as f:
        json.dump(rec, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

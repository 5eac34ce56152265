"""fossil_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload wire|batch
                             --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Inputs are generated from the
seed under .perfbench/ in the current directory, which is removed when
the run ends. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}, with the end-to-end
metrics when --trace 0 and the per-layer metrics when --trace 1. The
line before it records the box (nproc, Spark, Python, seed). A failed
correctness or durability check exits non-zero without a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("wire", "batch")


def check_manifest(metrics: dict, trace: bool) -> None:
    """Every workload reports exactly the metrics BENCHMARK.json lists
    for its mode, each in the listed unit, never NaN, and end-to-end
    metrics above 0."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        manifest = json.load(f)
    want = {m["name"]: m["unit"] for m in manifest["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in metrics.items()}
    if got != want:
        raise RuntimeError(f"metrics {sorted(got.items())} differ from BENCHMARK.json's "
                           f"{sorted(want.items())}")
    bad = [k for k, v in metrics.items()
           if v["value"] != v["value"] or (not trace and v["value"] <= 0)]
    if bad:
        raise RuntimeError(f"NaN, or end-to-end metrics not above 0: {bad}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    from common import box_facts, log
    from launch import ROOT

    # the program under test must be importable from the checkout
    sys.path.insert(0, ROOT)
    import fossil_spark.server  # noqa: F401

    workdir = os.path.join(os.getcwd(), ".perfbench",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    t0 = time.perf_counter()
    try:
        if args.workload == "wire":
            from wire import run_wire as run
        else:
            from batch import run_batch as run
        res = run(workdir, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    log(f"{args.workload} finished in {time.perf_counter() - t0:.1f} s")
    check_manifest(res["metrics"], bool(args.trace))
    print("# box " + json.dumps(box_facts(args.seed)))
    print(json.dumps({
        "correct": True,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": res["metrics"],
    }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

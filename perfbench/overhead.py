"""Tracing overhead: run each workload untraced and then traced on the same
seed, and print, per workload, the traced minus untraced value of every timed
end-to-end metric.

    python3 perfbench/overhead.py [--seed N] [--seconds S] [--workload NAME ...]
"""
import argparse
import json
import os
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402

TIMED_UNITS = ("s", "ms")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=run.benchmark_spec()["run_seconds"])
    ap.add_argument("--workload", nargs="*", default=list(run.WORKLOADS))
    args = ap.parse_args()
    cp = run.build()
    for w in args.workload:
        plain = run.run_workload(cp, w, args.seed, args.seconds, trace=0)
        traced = run.run_workload(cp, w, args.seed, args.seconds, trace=1)
        delta = {k: {"untraced": v["value"], "traced": traced["e2e"][k]["value"],
                     "delta": traced["e2e"][k]["value"] - v["value"], "unit": v["unit"]}
                 for k, v in sorted(plain["e2e"].items())
                 if v["unit"] in TIMED_UNITS and k in traced["e2e"]}
        print(json.dumps({"workload": w, "seed": args.seed, "overhead": delta}), flush=True)


if __name__ == "__main__":
    main()

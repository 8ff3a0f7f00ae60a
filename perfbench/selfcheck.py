"""Self-check of the benchmark harness at toy scale.

Runs all three workloads side by side on tiny inputs (incremental traced, so
the span and listener path runs too) and checks that:
  - every workload passes its own correctness gate;
  - backfill runs its pinned 1-core leg, whose final state passes the same
    digest gate, and reports events_per_s_1core and scaling_eff;
  - the final-state gate of backfill and incremental fails when the expected
    digest is perturbed;
  - the DuckDB oracle gate of query_suite fails when one oracle is perturbed;
  - the traced run emits every per-layer metric of BENCHMARK.json.

    python3 perfbench/selfcheck.py
"""
import concurrent.futures
import os
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402


def main():
    cp = run.build()
    t0 = time.time()
    problems = []
    # the workloads use separate work directories, so they run side by side
    with concurrent.futures.ThreadPoolExecutor(len(run.WORKLOADS)) as pool:
        reports = list(pool.map(
            lambda w: run.run_workload(cp, w, seed=1, seconds=1, trace=int(w == "incremental"),
                                       toy=True, perturb=True), run.WORKLOADS))
    for w, rep in zip(run.WORKLOADS, reports):
        trace = rep["trace"]
        if rep["failed"]:
            problems.append(f"{w}: {rep['failed']} of {rep['attempted']} checks failed: "
                            f"{rep['errors'][:3]}")
        if w == "query_suite":
            if not rep["oracle"]["perturbed_gate_failed"]:
                problems.append("query_suite: a perturbed oracle was not detected")
        elif rep["info"].get("perturbed_gate_failed") is not True:
            problems.append(f"{w}: the gate accepted a perturbed expected digest")
        if w == "backfill":
            missing = [k for k in ("events_per_s_1core", "scaling_eff") if k not in rep["e2e"]]
            if missing:
                problems.append(f"backfill: the 1-core leg did not report {missing}")
        if trace:
            line = run.result_line(rep, trace)
            missing = [m["name"] for m in run.benchmark_spec()["per_layer"]
                       if m["name"] not in line["metrics"]]
            if missing:
                problems.append(f"{w}: traced run lacks {missing}")
        print(f"[selfcheck] {w}: {rep['attempted']} checks, {rep['failed']} failed",
              flush=True)
    print(f"[selfcheck] {'FAIL' if problems else 'ok'} in {time.time() - t0:.1f} s")
    for p in problems:
        print(f"[selfcheck]   {p}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

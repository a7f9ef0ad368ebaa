#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload surface_small --seed 1 --seconds 25 --trace 0

Builds the program and the benchmark on first use (Scala compiler), stages
the seeded inputs, runs the workload in one JVM on local[4] and checks
its outputs. It prints every end-to-end metric of the workload by name
with its unit; with --trace 1 it prints the per-layer metrics instead
and writes the span tree. The last stdout line is the JSON summary; run
files land in perfbench/.work/runs/. A failed or wrong op makes the run
exit 1 after the summary; a run that cannot measure at all exits 2
without one.
"""
import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(bench.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    w = bench.WORKLOADS[a.workload]
    try:
        cp = bench.build()
        deadline = time.time() + bench.RUN_LIMIT_S
        run_dir = os.path.join(bench.WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
        os.makedirs(run_dir, exist_ok=True)
        t0 = time.time()
        data = bench.stage(w["scale"], a.seed, os.path.join(run_dir, "input"))
        staging_s = time.time() - t0
        args = ["--workload", w["kind"], "--data", data, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--modules", ",".join(bench.MODULES)]
        expected = None
        if w["kind"] == "surface":
            # The draw once, untimed, on the run's own inputs: the first use
            # of each query (class loading, codegen, JIT) falls in set-up.
            ops = bench.draw(bench.load_pool(a.workload), a.seed)
            args += ["--ops", ",".join(ops), "--warm", data, "--warm-ops", ",".join(ops)]
            expected = bench.load_expected(w["scale"])
        else:
            args += ["--warm", bench.data_dir("sf0.01"), "--warm-ops", ",".join(bench.WARM_QUERIES)]
        raw, spawn_ms = bench.run_jvm(cp, args, run_dir, deadline)
        if data != bench.data_dir(w["scale"]):
            shutil.rmtree(data)
    except (bench.BenchError, OSError, ValueError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    summary = bench.summarize(a.workload, raw, spawn_ms, staging_s, expected)
    summary["wall_s"] = time.time() - started
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)

    tail = summary["tail"]
    print(f"{a.workload} seed={a.seed} trace={a.trace}: {summary['samples']} samples, "
          f"{summary['failed']}/{summary['attempted']} ops failed"
          + (f", p{tail['percentile']:g} {tail['secs']:.6g} s" if tail["percentile"] else "")
          + f", host steal {summary['host_steal_s']:.3g} CPU-s")
    for k in w["metrics"]:
        v = summary["metrics"][k]
        unit = bench.END_TO_END[k][0]
        print(f"  {k:<16} {'n/a' if v is None else f'{v:.6g}'} {unit}")
    for cls, ids in sorted(summary["errors"].items()):
        print(f"  failed: {cls} x{len(ids)} ({', '.join(ids[:3])}{', ...' if len(ids) > 3 else ''})")
    if a.trace:
        print(f"  spans: {run_dir}/raw.json.spans.json")
    print(bench.contract_line(summary, a.trace))
    return 0 if summary["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

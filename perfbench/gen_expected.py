#!/usr/bin/env python3
"""Regenerate perfbench/expected/<scale>.json, the committed output digests.

    python3 perfbench/gen_expected.py --scale sf0.01

Dumps every pool query of that scale with graft.Verify over the shipped
inputs, checks the dumps against the DuckDB oracle with tools/compare.py,
and digests only the dumps that pass. A query that fails the oracle gets
no expected value, so the benchmark counts it as failed. Run it when a
query's declared output changes, never to make a run pass.
"""
import argparse
import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description="regenerate the expected output digests")
    ap.add_argument("--scale", required=True)
    a = ap.parse_args()
    pools = [w for w, s in bench.WORKLOADS.items()
             if s["kind"] == "surface" and s["scale"] == a.scale]
    queries = sorted({q["name"] for w in pools for q in bench.load_pool(w)["queries"]})
    cp = bench.build()
    data = bench.data_dir(a.scale)
    out = os.path.join(bench.WORK, "verify", a.scale)
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(bench.CORES))
    verify = bench.jvm_command(cp, [], os.path.join(out, "spark.log"), os.path.join(out, "tmp"))
    verify[verify.index("perfbench.Main")] = "graft.Verify"
    subprocess.run(verify + [data, out] + queries, check=True, env=env, cwd=out)
    cmp = subprocess.run([sys.executable, os.path.join(bench.ROOT, "tools", "compare.py"),
                          data, out] + queries, capture_output=True, text=True)
    passing = re.findall(r"^OK\s+(\S+):", cmp.stdout, re.M)
    failing = sorted(set(queries) - set(passing))
    if failing:
        print(f"not passing the oracle, left without expected value: {failing}")
    run_dir = os.path.join(bench.WORK, "runs", f"dumps-{a.scale}")
    os.makedirs(run_dir, exist_ok=True)
    raw, _ = bench.run_jvm(cp, ["--workload", "dumps", "--data", out,
                                "--warm", bench.data_dir("sf0.01"), "--warm-ops", "", "--seed", "0",
                                "--seconds", "0", "--trace", "0", "--ops", ",".join(passing)],
                           run_dir, deadline=None)
    expected = {c["name"]: {"rows": c["rows"], "digest": c["digest"]}
                for c in sorted(raw["checks"], key=lambda c: c["name"])}
    path = os.path.join(bench.HERE, "expected", f"{a.scale}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(expected)} expected digests -> {path}")


if __name__ == "__main__":
    main()

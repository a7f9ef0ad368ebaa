#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on the benchmark.

    python3 perfbench/ab.py --base ../parent --change . \\
        --workload surface_small --workload surface_heavy --pairs 10

Each pair runs both checkouts on the same seed (BASE_SEED + pair index),
alternating which side runs first. Per workload and end-to-end metric it
reports each side's median and quartiles, the share of pairs the change
won (ties count for neither side) and a verdict:

  gain        the change won at least 9 of 10 pairs and the medians differ,
              in its favour, by more than the base's interquartile range;
  regression  the change's median is worse than the base's by more than
              the metric's bound;
  unresolved  the base's run-to-run spread (interquartile range over
              median) exceeds the bound, and not every change run beat
              every base run;
  same        none of the above.

A gain does not count when the change failed more ops than the base.

Bounds and the run length (run_seconds) come from the base checkout's
BENCHMARK.json. Raw results go to --out (JSON).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench  # noqa: E402

BASE_SEED = 1000


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=1200)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        raise RuntimeError(f"{checkout}: no result for {workload} seed {seed}:\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def verdict(base, change, better, bound):
    """The rule for one metric; `base` and `change` are per-pair values."""
    pairs = list(zip(base, change))
    wins = sum(1 for b, c in pairs if (c < b if better == "lower" else c > b))
    mb, mc = statistics.median(base), statistics.median(change)
    q1, q3 = bench.quartiles(base)
    iqr = q3 - q1
    gap = (mb - mc) if better == "lower" else (mc - mb)
    worse = -gap / mb if mb else 0.0
    all_better = (max(change) < min(base)) if better == "lower" else (min(change) > max(base))
    if wins >= 0.9 * len(pairs) and gap > iqr:
        v = "gain"
    elif worse > bound:
        v = "regression"
    elif mb and iqr / mb > bound and not all_better:
        v = "unresolved"
    else:
        v = "same"
    return {"base_median": mb, "base_q1": q1, "base_q3": q3,
            "change_median": mc, "change_q1": bench.quartiles(change)[0],
            "change_q3": bench.quartiles(change)[1],
            "win_fraction": wins / len(pairs), "verdict": v}


def spec_of(checkout):
    path = os.path.join(checkout, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description="interleaved A/B of two checkouts")
    ap.add_argument("--base", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--out", default="ab_result.json")
    a = ap.parse_args()
    if a.pairs < 10:
        ap.error("the rule needs at least 10 pairs")
    base_spec = spec_of(a.base)
    if "run_seconds" not in base_spec:
        ap.error(f"no BENCHMARK.json with run_seconds in {a.base}")
    spec = {m["name"]: m for m in base_spec["end_to_end"]}
    seconds = base_spec["run_seconds"]
    raw = {}
    for w in a.workload:
        raw[w] = {"base": [], "change": []}
        for i in range(a.pairs):
            seed = BASE_SEED + i
            sides = [("base", a.base), ("change", a.change)]
            if i % 2:
                sides.reverse()
            for side, checkout in sides:
                raw[w][side].append(run_once(checkout, w, seed, seconds))
                print(f"{w} pair {i} {side} done", file=sys.stderr)
    report = {}
    for w, sides in raw.items():
        report[w] = {}
        names = sorted(set(sides["base"][0]["metrics"]) & set(sides["change"][0]["metrics"]))
        for name in names:
            better = spec.get(name, {}).get("better", bench.END_TO_END.get(name, ("", "lower"))[1])
            bound = spec.get(name, {}).get("bound", 0.1)
            b = [r["metrics"][name]["value"] for r in sides["base"]]
            c = [r["metrics"][name]["value"] for r in sides["change"]]
            report[w][name] = dict(verdict(b, c, better, bound), bound=bound, better=better)
        failed = {"base": sum(r["failed"] for r in sides["base"]),
                  "change": sum(r["failed"] for r in sides["change"])}
        if failed["change"] > failed["base"]:
            for r in report[w].values():
                if r["verdict"] == "gain":
                    r["verdict"] = "void: more failed ops"
        report[w]["failed"] = failed
    with open(a.out, "w") as f:
        json.dump({"report": report, "raw": raw}, f, indent=1)
    for w, rows in report.items():
        print(f"{w}: failed ops base={rows['failed']['base']} change={rows['failed']['change']}")
        for name, r in rows.items():
            if name == "failed":
                continue
            print(f"  {name:<14} base {r['base_median']:.4g} [{r['base_q1']:.4g}, {r['base_q3']:.4g}]"
                  f"  change {r['change_median']:.4g} [{r['change_q1']:.4g}, {r['change_q3']:.4g}]"
                  f"  wins {r['win_fraction']:.0%}  {r['verdict']}")


if __name__ == "__main__":
    main()

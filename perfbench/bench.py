"""Library behind run.py: workloads, the seeded draw, input staging, the
build, the JVM launch and the metrics. Pure functions here are covered
by tests/test_bench.py.
"""
import hashlib
import json
import math
import os
import random
import re
import shutil
import statistics
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

CORES = 4
HEAP = "3g"
RUN_LIMIT_S = 170  # a run must end within 180 s; the build is not counted

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "mix_s": ("s", "lower"),
    "query_p50_s": ("s", "lower"),
    "query_p90_s": ("s", "lower"),
    "pipeline_s": ("s", "lower"),
    "ranker_auc": ("ratio", "higher"),
    "serve_build_s": ("s", "lower"),
    "serve_p50_ms": ("ms", "lower"),
    "serve_p95_ms": ("ms", "lower"),
    "serve_rps": ("1/s", "higher"),
    "fail_ratio": ("ratio", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

# The end-to-end metrics in BENCHMARK.json: the ones both listed
# workloads report, never 0, with a run-to-run spread a bound can hold.
# query_p50_s (five samples on surface_heavy) and peak_rss_mb spread
# 10-15% across seeds; they are printed but not bounded.
CONTRACT_END_TO_END = ["setup_s", "mix_s"]

# Repo modules whose job time a traced run reports, zero or not, so every
# traced run prints the same keys; passed to the JVM.
MODULES = ["SparkEntry", "Tables", "SimilarityOps", "DedupOps", "TextOps",
           "GraphOps", "MetricOps", "RelationalOps", "RetrievalOps",
           "MultimodalOps", "SketchOps", "ExperimentOps", "SamplingOps",
           "MixtureOps", "QualityChecks", "EncodeOps", "RecsysModels",
           "construct", "drain"]
KERNELS = ["graft_dot", "graft_dot_range", "graft_sqdist", "graft_sqdist_d",
           "graft_jw", "nearest_cells", "topk_aggregator", "asof_join_exec"]

# name -> unit, for the traced run
PER_LAYER = {
    "Sessions.session_s": "s",
    "Sessions.warmup_s": "s",
    "SparkEntry.construct_s": "s",
    "SparkEntry.construct_self_s": "s",
    "SparkEntry.construct_jobs": "count",
    "SparkEntry.construct_share": "ratio",
    "plans.plan_s": "s",
    "plans.exchanges": "count",
    "plans.bnl_joins": "count",
    "plans.broadcast_joins": "count",
    "plans.sort_merge_joins": "count",
    "plans.codegen_stages": "count",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.job_s": "s",
    "scheduler.idle_frac": "ratio",
    "executor.task_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.spill_bytes": "B",
    "executor.peak_mem_bytes": "B",
    "executor.task_failures": "count",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "shuffle.fetch_wait_s": "s",
    "tables.scan_bytes": "B",
    "tables.scan_records": "count",
}
PER_LAYER.update({f"{m}.job_s": "s" for m in MODULES})
for k in KERNELS:
    PER_LAYER[f"functions.{k}.ns_per_row"] = "ns"
    if k != "graft_jw":  # Spark has no built-in Jaro-Winkler
        PER_LAYER[f"functions.{k}.builtin_ns_per_row"] = "ns"
PER_LAYER["trace.overhead_frac"] = "ratio"

SERVE_LAYERS = {
    "serve.jobs_per_batch": "count",
    "serve.cells_per_batch": "count",
    "serve.rows_read_per_result": "ratio",
    "serve.driver_s_per_batch": "s",
    "serve.build_jobs": "count",
    "serve.build_shuffle_bytes": "B",
}

# Untimed warm-up queries on the sf0.01 inputs for the pipeline and serve
# workloads: aggregation, join, window, top-k and text. A surface workload
# warms up on its own draw and inputs instead.
WARM_QUERIES = ["q03_group_count", "q07_left_join", "q10_pit_window",
                "q16_topk_per_group", "q23_token_tf"]

WORKLOADS = {
    "surface_small": {"kind": "surface", "scale": "sf0.01", "listed": True,
                      "metrics": ["setup_s", "mix_s", "query_p50_s", "query_p90_s",
                                  "fail_ratio", "peak_rss_mb"]},
    "surface_heavy": {"kind": "surface", "scale": "sf0.1", "listed": True,
                      "metrics": ["setup_s", "mix_s", "query_p50_s", "query_p90_s",
                                  "fail_ratio", "peak_rss_mb"]},
    "recsys_pipeline": {"kind": "pipeline", "scale": "sf0.1", "listed": False,
                        "metrics": ["setup_s", "pipeline_s", "ranker_auc",
                                    "fail_ratio", "peak_rss_mb"]},
    "serve_ivf": {"kind": "serve", "scale": "sf0.1", "listed": False,
                  "metrics": ["setup_s", "serve_build_s", "serve_p50_ms",
                              "serve_p95_ms", "serve_rps", "fail_ratio",
                              "peak_rss_mb"]},
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    """A run that cannot produce a result: it exits non-zero, no JSON."""


# ------------------------------------------------------------ statistics

PERCENTILE_LADDER = (50, 75, 90, 95, 99, 99.9)


def beyond(n, p):
    """Samples strictly beyond the nearest-rank p-th percentile of n."""
    return n - math.ceil(p / 100.0 * n)


def tail_percentile(n):
    """The highest ladder percentile with at least ten samples beyond it,
    or None when even the median has fewer."""
    ok = [p for p in PERCENTILE_LADDER if n > 0 and beyond(n, p) >= 10]
    return ok[-1] if ok else None


def percentile(values, p):
    """Nearest-rank percentile; None when fewer than ten samples lie
    beyond it, so a tail is never read off too few samples."""
    xs = sorted(values)
    if not xs or beyond(len(xs), p) < 10:
        return None
    return xs[math.ceil(p / 100.0 * len(xs)) - 1]


def median(values):
    return statistics.median(values) if values else None


def quartiles(values):
    if len(values) < 2:
        return (values[0], values[0]) if values else (None, None)
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


# ------------------------------------------------------------- the draw

def load_pool(name):
    with open(os.path.join(HERE, "queries", f"{name}.json")) as f:
        return json.load(f)


def draw(pool, seed):
    """The seeded draw of a surface workload: every pool entry, stratified
    by family, in an order fixed by the seed. Families are interleaved
    round-robin so that every prefix of the order covers the families
    evenly; within a family the order is shuffled."""
    rng = random.Random(seed)
    fams = {}
    for q in pool["queries"]:
        fams.setdefault(q["family"], []).append(q["name"])
    order = sorted(fams)
    rng.shuffle(order)
    for f in order:
        rng.shuffle(fams[f])
    out = []
    while any(fams[f] for f in order):
        for f in order:
            if fams[f]:
                out.append(fams[f].pop())
    return out


# ------------------------------------------------------------- staging

def data_dir(scale):
    return os.path.join(HERE, "data", scale)


def stage(scale, seed, dest):
    """Stage the input tables for a seed. Seed 0 reads the shipped data as
    is; any other seed rewrites each table with its rows in a seeded
    order, with the writer and layout of the shipped files (pyarrow,
    snappy, one row group), so the same seed gives the same bytes."""
    src = data_dir(scale)
    if seed == 0:
        return src
    import numpy as np
    import pyarrow.parquet as pq
    if os.path.exists(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    rng = np.random.default_rng(seed)
    for name in sorted(os.listdir(src)):
        if not name.endswith(".parquet"):
            continue
        table = pq.read_table(os.path.join(src, name))
        perm = rng.permutation(table.num_rows)
        pq.write_table(table.take(perm), os.path.join(dest, name),
                       compression="snappy", row_group_size=max(1, table.num_rows))
    return dest


# --------------------------------------------------------------- build

def _build_setting(key):
    """A `key := "value"` or `key := file("value")` setting of the graft
    build.sbt."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(key + r'\s*:=\s*(?:file\()?"([^"]+)"', f.read())
    if not m:
        raise BenchError(f"no {key} in the graft build.sbt")
    return m.group(1)


def _sources():
    for base, tree in ((ROOT, "src/main"), (HERE, "src/main")):
        for d, dirs, names in os.walk(os.path.join(base, tree)):
            dirs.sort()
            for n in sorted(names):
                if n.endswith(".scala"):
                    yield os.path.join(d, n)


def source_stamp():
    h = hashlib.sha256()
    for p in [os.path.join(ROOT, "build.sbt")] + list(_sources()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark and return the runtime
    classpath. Runs only when a source changed.

    The Scala compiler is called directly, with the Scala version and the
    jar directory (`unmanagedBase`) of the graft build.sbt, because sbt
    keeps locks and caches under the home directory and a run writes
    only inside its checkout."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("no graft sources next to the benchmark")
    os.makedirs(WORK, exist_ok=True)
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    jars_dir = os.path.join(ROOT, _build_setting("unmanagedBase"))
    version = _build_setting("scalaVersion")
    if not os.path.isdir(jars_dir):
        raise BenchError(f"no jar directory {jars_dir}")
    jars = [os.path.join(jars_dir, n) for n in sorted(os.listdir(jars_dir)) if n.endswith(".jar")]
    compiler = [os.path.join(jars_dir, f"scala-{m}-{version}.jar")
                for m in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if j not in jars]
    if missing:
        raise BenchError(f"no Scala {version} compiler jars: {missing}")
    classes = os.path.join(WORK, "classes")
    tmp = os.path.join(WORK, "build-tmp")
    for d in (classes, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    args = os.path.join(tmp, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(_sources()) + "\n")
    log = os.path.join(WORK, "build.log")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-d", classes, "-classpath", os.pathsep.join(jars), "@" + args]
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=WORK, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=850)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError("build timed out")
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        raise BenchError(f"build failed, see {log}")
    cp = os.pathsep.join([classes] + jars)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ----------------------------------------------------------------- run

def jvm_command(cp, args, log, tmp):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Dperfbench.log={log}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"] + args


def run_jvm(cp, args, run_dir, deadline):
    """Run one benchmark JVM to completion; returns (raw result, spawn
    time in epoch ms). Kills the JVM at the deadline."""
    tmp = os.path.join(run_dir, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(run_dir, "raw.json")
    if os.path.exists(out):
        os.remove(out)
    log = os.path.join(run_dir, "spark.log")
    cmd = jvm_command(cp, args + ["--out", out, "--work", run_dir], log, tmp)
    with open(os.path.join(run_dir, "jvm.out"), "w") as jout:
        spawn_ms = time.time() * 1000.0
        # Spark's local dirs must stay inside the checkout.
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=jout, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            code = p.wait(timeout=None if deadline is None else max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError("the run exceeded its time limit")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "spark-local"), ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        raise BenchError(f"benchmark JVM exited with {code}, see {run_dir}/jvm.out")
    with open(out) as f:
        return json.load(f), spawn_ms


# ------------------------------------------------------------- metrics

def load_expected(scale):
    path = os.path.join(HERE, "expected", f"{scale}.json")
    with open(path) as f:
        return json.load(f)


def judge_checks(checks, expected):
    """Map each query whose output check failed to its error class. A
    query with no expected value fails: an unchecked output is never
    counted as correct."""
    wrong = {}
    for c in checks:
        name = c["name"]
        if not c.get("ok"):
            wrong[name] = c.get("error", {}).get("class", "CheckFailed")
        elif expected is not None:
            exp = expected.get(name)
            if exp is None:
                wrong[name] = "NoExpectedOutput"
            elif (c["rows"], c["digest"]) != (exp["rows"], exp["digest"]):
                wrong[name] = "WrongOutput"
    return wrong


def account(ops, wrong):
    """Split ops into (good, failed). An op fails when it threw or when
    its query's output check failed; failed ops carry their error class
    and stay out of every latency and total."""
    good, failed = [], []
    for o in ops:
        if not o["ok"]:
            failed.append(dict(o, error_class=o.get("error", {}).get("class", "Error")))
        elif o["name"] in wrong:
            failed.append(dict(o, error_class=wrong[o["name"]]))
        else:
            good.append(o)
    return good, failed


def surface_metrics(raw, good):
    """mix_s sums each query's median time over the run's passes; the
    percentiles pool every sample."""
    lat = [o["secs"] for o in good]
    by_query = {}
    for o in good:
        by_query.setdefault(o["name"], []).append(o["secs"])
    return {
        "mix_s": sum(median(v) for v in by_query.values()) if by_query else None,
        "query_p50_s": median(lat),
        "query_p90_s": percentile(lat, 90),
    }


def pipeline_metrics(raw, good):
    aucs = [c["auc"] for c in raw["checks"] if c.get("ok") and "auc" in c]
    return {"pipeline_s": median([o["secs"] for o in good]),
            "ranker_auc": aucs[0] if aucs else None}


def serve_metrics(raw, good):
    build = [o["secs"] for o in raw["ops"] if o["name"] == "build" and o["ok"]]
    batches = [o for o in good if o["name"] == "batch"]
    ms = [o["secs"] * 1000.0 for o in batches]
    loop = [p for p in raw["passes"] if "batches" in p]
    rps = None
    if loop and batches and loop[0]["secs"] > 0:
        rps = len(batches) * raw.get("serve", {}).get("batch", 8) / loop[0]["secs"]
    return {"serve_build_s": build[0] if build else None,
            "serve_p50_ms": median(ms),
            "serve_p95_ms": percentile(ms, 95),
            "serve_rps": rps}


def summarize(workload, raw, spawn_ms, staging_s, expected):
    """Turn a raw JVM result into the run summary: every end-to-end
    metric of the workload (None when it has no value), the failure
    accounting, and, traced, the per-layer metrics."""
    w = WORKLOADS[workload]
    wrong = judge_checks(raw["checks"], expected)
    kernels = dict(raw.get("kernels", {}))
    for name, bad in kernels.pop("functions.mismatches", {}).items():
        if bad:
            wrong[f"kernel:{name}"] = "KernelMismatch"
    good, failed = account(raw["ops"], wrong)
    metrics = {
        "surface": surface_metrics,
        "pipeline": pipeline_metrics,
        "serve": serve_metrics,
    }[w["kind"]](raw, good)
    attempted = len(raw["ops"])
    # A check that failed on an op that did not throw is a failed op; a
    # check with no op behind it (serve parity) counts as one more op.
    extra = [n for n in wrong if n not in {o["name"] for o in raw["ops"]}]
    attempted += len(extra)
    n_failed = len(failed) + len(extra)
    # Set-up counts from the JVM spawn; staging the seeded inputs is the
    # harness's work and is reported apart, as setup.staging_s.
    metrics["setup_s"] = (raw["setup"]["ready_ms"] - spawn_ms) / 1000.0
    metrics["fail_ratio"] = n_failed / attempted if attempted else None
    metrics["peak_rss_mb"] = raw["peak_rss_mb"]
    errors = {}
    for o in failed:
        errors.setdefault(o["error_class"], []).append(o["id"])
    for n in extra:
        errors.setdefault(wrong[n], []).append(n)
    lat = [o["secs"] for o in good]
    tail = tail_percentile(len(lat))
    summary = {
        "workload": workload,
        "seed": raw["seed"],
        "attempted": attempted,
        "failed": n_failed,
        "correct": n_failed == 0,
        "errors": errors,
        "samples": len(good),
        "tail": {"percentile": tail, "secs": percentile(lat, tail) if tail else None},
        "host_steal_s": sum(o.get("steal_s", 0.0) for o in raw["ops"]),
        "metrics": {k: metrics.get(k) for k in w["metrics"]},
        "setup": dict(raw["setup"], staging_s=staging_s,
                      boot_s=(raw["main_ms"] - spawn_ms) / 1000.0),
    }
    if "layers" in raw:
        layers = dict(raw["layers"])
        layers["Sessions.session_s"] = raw["setup"]["session_s"]
        layers["Sessions.warmup_s"] = raw["setup"]["warmup_s"]
        layers.update(kernels)
        summary["layers"] = layers
    return summary


def contract_line(summary, trace):
    """The last stdout line: exactly the contract's metric names for a
    listed workload; the workload's own metrics otherwise."""
    w = WORKLOADS[summary["workload"]]
    if trace:
        names = dict(PER_LAYER, **SERVE_LAYERS) if w["kind"] == "serve" else PER_LAYER
        layers = summary.get("layers", {})
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in names.items()
                   if w["listed"] or k in layers}
    else:
        names = CONTRACT_END_TO_END if w["listed"] else w["metrics"]
        metrics = {k: {"value": summary["metrics"][k], "unit": END_TO_END[k][0]}
                   for k in names if summary["metrics"].get(k) is not None}
    return json.dumps({"correct": summary["correct"], "attempted": summary["attempted"],
                       "failed": summary["failed"], "metrics": metrics})

"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The last test builds the benchmark and runs two short JVMs.
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench  # noqa: E402


def op(name, secs, ok=True, pass_=1, error=None):
    o = {"id": f"{pass_}:{name}", "name": name, "pass": pass_, "ok": ok, "secs": secs,
         "construct_s": 0.0, "traced": False}
    if error:
        o["error"] = {"class": error}
    return o


def raw_surface(ops, checks):
    return {"seed": 3, "ops": ops, "checks": checks, "passes": [],
            "setup": {"ready_ms": 11000.0, "session_s": 1.0, "warmup_s": 2.0},
            "main_ms": 1500.0, "peak_rss_mb": 900.0}


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(bench.tail_percentile(100), 90)
        self.assertEqual(bench.tail_percentile(99), 75)
        self.assertEqual(bench.tail_percentile(200), 95)
        self.assertEqual(bench.tail_percentile(1000), 99)
        self.assertEqual(bench.tail_percentile(20), 50)
        self.assertIsNone(bench.tail_percentile(19))

    def test_percentile_refuses_a_thin_tail(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(bench.percentile(xs, 90), 90.0)
        self.assertIsNone(bench.percentile(xs[:99], 90))
        self.assertEqual(bench.percentile(xs[:99], 75), 75.0)


class AccountingTest(unittest.TestCase):
    def test_failed_op_is_counted_and_kept_out_of_latencies(self):
        ops = [op("q1", 1.0), op("q2", 2.0), op("q3", 0.01, ok=False, error="java.lang.Boom"),
               op("q1", 1.2, pass_=2), op("q2", 2.2, pass_=2),
               op("q3", 0.01, ok=False, pass_=2, error="java.lang.Boom")]
        checks = [{"name": "q1", "ok": True, "rows": 1, "digest": "a"},
                  {"name": "q2", "ok": True, "rows": 2, "digest": "b"}]
        expected = {"q1": {"rows": 1, "digest": "a"}, "q2": {"rows": 2, "digest": "b"},
                    "q3": {"rows": 3, "digest": "c"}}
        s = bench.summarize("surface_small", raw_surface(ops, checks), 1000.0, 0.5, expected)
        self.assertEqual((s["attempted"], s["failed"]), (6, 2))
        self.assertFalse(s["correct"])
        self.assertEqual(s["errors"], {"java.lang.Boom": ["1:q3", "2:q3"]})
        self.assertEqual(s["metrics"]["fail_ratio"], 2 / 6)
        self.assertAlmostEqual(s["metrics"]["query_p50_s"], 1.6)  # of 1.0, 1.2, 2.0, 2.2
        self.assertAlmostEqual(s["metrics"]["mix_s"], 3.2)  # medians 1.1 + 2.1, q3 left out
        # from the JVM spawn; the 0.5 s of staging is reported apart
        self.assertAlmostEqual(s["metrics"]["setup_s"], 10.0)
        self.assertEqual(s["setup"]["staging_s"], 0.5)
        line = json.loads(bench.contract_line(s, 0))
        self.assertEqual((line["attempted"], line["failed"], line["correct"]), (6, 2, False))

    def test_mutated_expected_digest_is_caught(self):
        ops = [op("q1", 1.0), op("q2", 2.0)]
        checks = [{"name": "q1", "ok": True, "rows": 1, "digest": "a"},
                  {"name": "q2", "ok": True, "rows": 2, "digest": "b"}]
        expected = {"q1": {"rows": 1, "digest": "a"}, "q2": {"rows": 2, "digest": "b"}}
        ok = bench.summarize("surface_small", raw_surface(ops, checks), 1000.0, 0.0, expected)
        self.assertTrue(ok["correct"])
        mutated = dict(expected, q2={"rows": 2, "digest": "b" + "0"})
        bad = bench.summarize("surface_small", raw_surface(ops, checks), 1000.0, 0.0, mutated)
        self.assertFalse(bad["correct"])
        self.assertEqual(bad["errors"], {"WrongOutput": ["1:q2"]})
        self.assertEqual(bad["metrics"]["query_p50_s"], 1.0)

    def test_query_without_expected_value_fails(self):
        ops = [op("q1", 1.0)]
        checks = [{"name": "q1", "ok": True, "rows": 1, "digest": "a"}]
        s = bench.summarize("surface_small", raw_surface(ops, checks), 1000.0, 0.0, {})
        self.assertEqual(s["errors"], {"NoExpectedOutput": ["1:q1"]})

    def test_contract_line_carries_exactly_the_listed_metrics(self):
        ops = [op("q1", 1.0)]
        checks = [{"name": "q1", "ok": True, "rows": 1, "digest": "a"}]
        s = bench.summarize("surface_small", raw_surface(ops, checks), 1000.0, 0.0,
                            {"q1": {"rows": 1, "digest": "a"}})
        line = json.loads(bench.contract_line(s, 0))
        self.assertEqual(sorted(line["metrics"]), sorted(bench.CONTRACT_END_TO_END))

    def test_contract_matches_benchmark_json(self):
        path = os.path.join(bench.ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to the benchmark")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([m["name"] for m in spec["end_to_end"]], bench.CONTRACT_END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, bench.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]),
                         sorted(w for w, s in bench.WORKLOADS.items() if s["listed"]))


class AbRuleTest(unittest.TestCase):
    BASE = [10.0, 10.5, 9.8, 10.2, 10.1, 9.9, 10.3, 10.0, 10.4, 9.7]

    def test_gain_needs_nine_wins_and_a_gap_beyond_the_base_spread(self):
        import ab
        faster = [x * 0.9 for x in self.BASE]
        self.assertEqual(ab.verdict(self.BASE, faster, "lower", 0.15)["verdict"], "gain")
        barely = [x - 0.05 for x in self.BASE]
        self.assertEqual(ab.verdict(self.BASE, barely, "lower", 0.15)["verdict"], "same")

    def test_regression_beyond_the_bound(self):
        import ab
        slower = [x * 1.2 for x in self.BASE]
        self.assertEqual(ab.verdict(self.BASE, slower, "lower", 0.15)["verdict"], "regression")

    def test_unresolved_when_the_base_spreads_more_than_the_bound(self):
        import ab
        noisy = [5.0, 15.0, 6.0, 14.0, 7.0, 13.0, 8.0, 12.0, 9.0, 11.0]
        self.assertEqual(ab.verdict(noisy, list(noisy), "lower", 0.15)["verdict"], "unresolved")


def file_digest(path):
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class SeedTest(unittest.TestCase):
    def test_same_seed_gives_identical_staging_and_draw(self):
        os.makedirs(bench.WORK, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=bench.WORK) as tmp:
            a = bench.stage("sf0.01", 7, os.path.join(tmp, "a"))
            b = bench.stage("sf0.01", 7, os.path.join(tmp, "b"))
            c = bench.stage("sf0.01", 8, os.path.join(tmp, "c"))
            self.assertEqual(file_digest(a), file_digest(b))
            self.assertNotEqual(file_digest(a), file_digest(c))
        self.assertEqual(bench.stage("sf0.01", 0, "unused"), bench.data_dir("sf0.01"))
        pool = bench.load_pool("surface_small")
        self.assertEqual(bench.draw(pool, 7), bench.draw(pool, 7))
        self.assertNotEqual(bench.draw(pool, 7), bench.draw(pool, 8))
        self.assertEqual(sorted(bench.draw(pool, 7)), sorted(q["name"] for q in pool["queries"]))

    def test_different_seeds_give_identical_output_digests(self):
        cp = bench.build()
        pool = bench.load_pool("surface_small")
        queries = [q["name"] for q in pool["queries"]][:6]
        expected = bench.load_expected("sf0.01")
        digests = []
        os.makedirs(bench.WORK, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=bench.WORK) as tmp:
            for seed in (0, 11):
                run_dir = os.path.join(tmp, str(seed))
                os.makedirs(run_dir)
                data = bench.stage("sf0.01", seed, os.path.join(run_dir, "input"))
                raw, _ = bench.run_jvm(cp, ["--workload", "surface", "--data", data,
                                            "--warm", bench.data_dir("sf0.01"),
                                            "--warm-ops", "", "--seed", str(seed),
                                            "--seconds", "0",
                                            "--trace", "0", "--ops", ",".join(queries)],
                                       run_dir, deadline=None)
                digests.append({c["name"]: (c["rows"], c["digest"]) for c in raw["checks"]})
        self.assertEqual(digests[0], digests[1])
        self.assertEqual(digests[0], {q: (expected[q]["rows"], expected[q]["digest"])
                                      for q in queries})


if __name__ == "__main__":
    unittest.main()

"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

``SmokeTest`` builds the engine (first time only) and runs all three
workloads end to end at sf0.001 with a handful of operations (~3 min).
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402


class PercentileRuleTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(200), 95)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(99), 75)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(39), 50)
        self.assertEqual(metrics.tail_percentile(5), 50)

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(metrics.percentile([7], 90), 7)
        self.assertAlmostEqual(metrics.percentile(range(101), 90), 90.0)


class GeneratorTest(unittest.TestCase):
    def test_dashboard_plan_is_seeded(self):
        a, b = gen.dashboard_plan(5, 10), gen.dashboard_plan(5, 10)
        self.assertEqual(a, b)
        self.assertNotEqual(a, gen.dashboard_plan(6, 10))

    def test_dashboard_plan_has_fixed_hit_share_and_consistent_expectations(self):
        plan = gen.dashboard_plan(3, 20)
        self.assertEqual(sum(c["hit"] for c in plan["clicks"]), 12)
        seen = set()
        for c in plan["clicks"]:
            self.assertEqual(c["hit"], c["point"] in seen)
            seen.add(c["point"])
        for p in plan["points"]:
            lines = p["body"].splitlines()
            self.assertEqual(lines[1].split(",")[0], "UTC")
            self.assertLessEqual(p["rows"], 72 + 3)
            self.assertTrue(0.5 < p["score"] <= 1.0)

    def test_stream_plan_is_seeded_and_exact(self):
        a, b = gen.stream_plan(9, 3, 40), gen.stream_plan(9, 3, 40)
        self.assertEqual(a, b)
        self.assertNotEqual(a, gen.stream_plan(10, 3, 40))
        docs = dict(d for batch in a["batches"] for d in batch)
        self.assertEqual(sorted(docs), list(range(1, 121)))
        fresh = {docs[i]: i for i in a["fresh_ids"]}
        self.assertEqual(len(fresh), len(a["fresh_ids"]))
        for i in sorted(docs):
            if i in a["exact_repost_ids"]:   # repeats an earlier fresh text
                self.assertLess(fresh[docs[i]], i)
            elif i not in a["fresh_ids"]:    # a fresh text plus one word
                self.assertLess(fresh[docs[i].rsplit(" ", 1)[0]], i)

    def test_query_order_is_a_seeded_permutation(self):
        names = [f"q{i}" for i in range(20)]
        self.assertEqual(gen.query_order(names, 1), gen.query_order(names, 1))
        self.assertNotEqual(gen.query_order(names, 1), gen.query_order(names, 2))
        self.assertEqual(sorted(gen.query_order(names, 1)), sorted(names))

    def test_tables_are_seeded(self):
        a, b = gen.make_tables(0.001), gen.make_tables(0.001)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        c = gen.make_tables(0.001, seed=7)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))


def synthetic_record():
    span = {"jobs": 1, "stages": 1, "tasks": 2, "failed_tasks": 0, "executor_run_ms": 5,
            "executor_cpu_ns": 4_000_000, "gc_ms": 0, "scheduler_delay_ms": 1,
            "shuffle_write_bytes": 10, "shuffle_read_bytes": 10, "spill_bytes": 0,
            "input_bytes": 100, "exchanges": 1}
    spans = [dict(span, id=0, parent=-1, name="query", req="q1", start_ns=0, end_ns=100),
             dict(span, id=1, parent=0, name="construct", req="q1", start_ns=2, end_ns=20),
             dict(span, id=2, parent=0, name="plan", req="q1", start_ns=20, end_ns=40),
             dict(span, id=3, parent=0, name="run", req="q1", start_ns=40, end_ns=98),
             dict(span, id=4, parent=3, name="inner", req="q1", start_ns=50, end_ns=60)]
    orphan = {k: 0 for k in span}
    return {"setup": [{"session_build_s": 1.0, "prepare_s": 2.0}] * 3, "warmup_s": 4.0,
            "ops": [{"req": "q1", "ms": 10.0, "cold_ms": 30.0}],
            "traced_ops": [{"req": "q1", "ms": 11.0}],
            "live_heap_bytes": 2 ** 21,
            "trace": {"spans": spans, "orphan": orphan, "progress": []}}


class MetricsTest(unittest.TestCase):
    def test_spec_names_and_units_are_valid(self):
        spec = metrics.load_spec(ROOT)
        self.assertEqual(metrics.spec_problems(spec), [])
        self.assertEqual(set(spec), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        self.assertIn("setup_s", [m["name"] for m in spec["end_to_end"]])
        for m in spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)

    def test_bad_names_are_reported(self):
        bad = {"end_to_end": [{"name": "_x", "unit": "s"}, {"name": "a b", "unit": "s"},
                              {"name": "ok", "unit": "no spaces"}]}
        self.assertEqual(len(metrics.spec_problems(bad)), 3)

    def test_every_spec_metric_is_produced(self):
        spec = metrics.load_spec(ROOT)
        rec = synthetic_record()
        self.assertEqual(set(metrics.end_to_end(rec)), {m["name"] for m in spec["end_to_end"]})
        layers = metrics.per_layer(rec, "query_suite", {})
        self.assertEqual(set(layers), {m["name"] for m in spec["per_layer"]})

    def test_self_times_and_uncovered_share(self):
        spans = synthetic_record()["trace"]["spans"]
        own = metrics.self_times(spans)
        self.assertEqual(own, {0: 4, 1: 18, 2: 20, 3: 48, 4: 10})
        self.assertEqual(metrics.uncovered_ns(spans), {"q1": (4, 100)})
        self.assertEqual(metrics.trace_problems(spans), [])
        layers = metrics.per_layer(synthetic_record(), "query_suite", {})
        self.assertAlmostEqual(layers["plan.plan_s"], 20e-9)
        self.assertAlmostEqual(layers["trace.overhead_pct"], 10.0)
        self.assertAlmostEqual(layers["trace.uncovered_pct"], 4.0)

    def test_trace_problems_are_reported(self):
        def problems(changes):
            spans = synthetic_record()["trace"]["spans"]
            for (i, key), v in changes.items():
                spans[i][key] = v
            return metrics.trace_problems(spans)
        # a child that ends after its parent
        self.assertIn("outside its parent", problems({(4, "end_ns"): 99})[0])
        # siblings that overlap
        self.assertIn("overlap", problems({(2, "end_ns"): 45})[0])
        # layer spans leave 10% of the request uncovered
        self.assertIn("uncovered", problems({(1, "start_ns"): 8})[0])


class ChecksTest(unittest.TestCase):
    def test_dashboard_check_catches_a_wrong_hit_and_changed_rows(self):
        plan = gen.dashboard_plan(2, 10)
        ops = []
        for i, c in enumerate(plan["clicks"]):
            pt = plan["points"][c["point"]]
            ops.append({"req": f"c{i}", "ms": 1.0, "hit": c["hit"], "rows": pt["rows"],
                        "score": pt["score"], "describe_rows": 8, "nearby": c["nearby"],
                        "fp": f"fp{c['point']}"})
        self.assertEqual(metrics.check_dashboard(ops, plan, "t"), [])
        first_hit = next(o for o in ops if o["hit"])
        first_hit["fp"] = "other"
        self.assertEqual(len(metrics.check_dashboard(ops, plan, "t")), 1)
        ops[0]["hit"] = True
        self.assertGreaterEqual(len(metrics.check_dashboard(ops, plan, "t")), 2)

    def test_stream_check_catches_a_landed_repost(self):
        plan = gen.stream_plan(4, 2, 30)
        fresh = list(reversed(plan["fresh_ids"]))
        self.assertEqual(metrics.check_stream({"ops": [], "landed_ids": fresh}, plan, "t"), [])
        bad = fresh[:-1] + [plan["exact_repost_ids"][0]]
        fails = metrics.check_stream({"ops": [], "landed_ids": bad}, plan, "t")
        self.assertEqual(len(fails), 2)
        self.assertIn("reposts", fails[0])

    def test_query_check_uses_row_count_only_for_unstable_queries(self):
        expected = {"q1": {"rows": 3, "fp": "a", "stable": True},
                    "q2": {"rows": 3, "fp": "a", "stable": False}}
        ops = [{"req": "q1", "rows": 3, "fp": "b"}, {"req": "q2", "rows": 3, "fp": "b"},
               {"req": "q3", "rows": 1, "fp": "c"}]
        fails = metrics.check_query_suite(ops, expected)
        self.assertEqual([f.split(":")[0] for f in fails], ["q1", "q3"])


class SmokeTest(unittest.TestCase):
    def test_all_workloads_end_to_end(self):
        for workload in ("query_suite", "dashboard", "stream_ingest"):
            for trace in ("0", "1"):
                with self.subTest(workload=workload, trace=trace):
                    proc = subprocess.run(
                        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                         "--seed", "3", "--seconds", "5", "--trace", trace, "--smoke"],
                        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                        timeout=1200)
                    self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
                    result = json.loads(proc.stdout.strip().splitlines()[-1])
                    self.assertTrue(result["correct"])
                    self.assertEqual(result["failed"], 0)
                    self.assertGreater(result["attempted"], 0)


if __name__ == "__main__":
    unittest.main()

"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests

The fast tests check the generator and the metric arithmetic. The
workload tests build the engine if needed and run every workload for
one pass at sf0.001 (a few minutes in all): each must finish with no
failed op, face results must match the DuckDB oracle, table_ops reads
(time travel included) must match the model, and the same seed must
give the same op sequence while another seed gives another.
"""
import contextlib
import io
import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b, c = gen.tables(5, 0.001), gen.tables(5, 0.001), gen.tables(6, 0.001)
        self.assertEqual(set(a), set(gen.TABLES))
        for name in gen.TABLES:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))
        self.assertFalse(a["documents"].equals(c["documents"]))


class MetricsTest(unittest.TestCase):
    def test_percentiles(self):
        xs = [float(i) for i in range(1, 11)]
        self.assertAlmostEqual(metrics.pct(xs, 50), 5.5)
        self.assertAlmostEqual(metrics.pct(xs, 90), 9.1)
        self.assertEqual(metrics.pct([], 50), 0.0)

    def test_self_time_subtracts_children(self):
        spans = [
            {"id": 0, "parent": -1, "op": 0, "name": "op", "start_ms": 0.0, "end_ms": 100.0},
            {"id": 1, "parent": 0, "op": 0, "name": "build", "start_ms": 0.0, "end_ms": 30.0},
            {"id": 2, "parent": 0, "op": 0, "name": "exec", "start_ms": 30.0, "end_ms": 90.0},
        ]
        st = metrics.span_self_times(spans)
        self.assertAlmostEqual(st["op"]["self_s"], 0.010)
        self.assertAlmostEqual(st["exec"]["self_s"], 0.060)

    def test_trace_overhead_pairs_the_same_pass_seed(self):
        wall = [{"seed_index": 0, "traced": True, "op_s": 11.0},
                {"seed_index": 0, "traced": False, "op_s": 10.0},
                {"seed_index": 1, "traced": False, "op_s": 30.0},
                {"seed_index": 1, "traced": True, "op_s": 33.0},
                {"seed_index": 2, "traced": True, "op_s": 99.0}]  # unpaired
        self.assertAlmostEqual(metrics.trace_overhead(wall), 0.1)
        self.assertEqual(metrics.trace_overhead(wall[-1:]), 0.0)


def bench(workload, seed, trace=0, passes=1):
    """Run one tiny benchmark invocation; (last stdout line, detail)."""
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        detail = run.main(["--workload", workload, "--seed", str(seed), "--seconds", "1",
                           "--trace", str(trace), "--passes", str(passes),
                           "--scale", "0.001"])
    return json.loads(out.getvalue().strip().splitlines()[-1]), detail


def ops(detail):
    return [o["desc"] for o in detail["raw"]["ops"]]


class WorkloadTest(unittest.TestCase):
    def assert_clean(self, line, detail):
        self.assertEqual(detail["failed"], [])
        self.assertEqual(detail["warmup_failures"], [])
        self.assertTrue(line["correct"])
        self.assertEqual(line["failed"], 0)
        self.assertGreater(line["attempted"], 0)

    def test_face_workloads_match_the_oracle(self):
        for workload in ("relational", "text_pipeline"):
            with self.subTest(workload=workload):
                line, detail = bench(workload, 7)
                self.assert_clean(line, detail)
                self.assertEqual(line["metrics"]["ok_frac"]["value"], 1.0)

    def test_table_ops_is_seeded_and_matches_its_model(self):
        line, a = bench("table_ops", 7, trace=1, passes=2)
        self.assert_clean(line, a)
        self.assertIn("vt.time_travel_s", line["metrics"])
        self.assertTrue(any(d.startswith("time_travel") for d in ops(a)))
        # the traced run replays pass seed 0 untraced, the same op kinds
        wall = a["raw"]["pass_wall"]
        self.assertEqual([(p["seed_index"], p["traced"]) for p in wall],
                         [(0, True), (0, False)])
        kinds = [o["name"] for o in a["raw"]["ops"]]
        self.assertEqual(kinds[:10], kinds[10:])
        _, b = bench("table_ops", 7)
        _, c = bench("table_ops", 8)
        self.assertEqual(ops(a)[:10], ops(b))
        self.assertNotEqual(ops(b), ops(c))


if __name__ == "__main__":
    unittest.main()

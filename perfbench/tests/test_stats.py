"""Unit tests of the benchmark's statistics and output format.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import run  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_each_type_reads_its_highest_of_the_first_k(self):
        kinds = {"insert": [1.0, 4.0, 2.0], "serve": [0.5, 0.25, 0.5]}
        value, n = stats.type_tail(kinds, 3)
        self.assertAlmostEqual(value, math.sqrt(4.0 * 0.5))
        self.assertEqual(n, 3)

    def test_more_units_do_not_move_the_rank(self):
        # a faster engine fits a fourth unit: the tail reads the same samples
        three = {"insert": [1.0, 4.0, 2.0], "serve": [0.5, 0.25, 0.5]}
        four = {k: v + [9.0] for k, v in three.items()}
        self.assertEqual(stats.type_tail(three, 3), stats.type_tail(four, 3))

    def test_expensive_types_do_not_outvote_cheap_ones(self):
        # one sample of each type per unit; a pooled rank would read the
        # expensive type only, the per-type tail weighs both equally
        kinds = {"cheap": [0.1, 0.2, 0.1], "dear": [10.0, 10.0, 12.0]}
        self.assertAlmostEqual(stats.type_tail(kinds, 3)[0], math.sqrt(0.2 * 12.0))

    def test_sample_count_reports_a_shortfall(self):
        self.assertEqual(stats.type_tail({"a": [1.0, 2.0], "b": [3.0, 1.0, 1.0]}, 3),
                         (math.sqrt(2.0 * 3.0), 2))
        v, n = stats.type_tail({}, 3)
        self.assertTrue(math.isnan(v) and n == 0)


def span(name, start, end, parent=-1, op=0):
    return [name, int(start * 1e9), int(end * 1e9), parent, op]


class SelfTime(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([span("a", 0, 2)]), [2.0])

    def test_children_are_subtracted_from_the_parent(self):
        spans = [span("op", 0, 10), span("read", 1, 3, 0), span("merge", 4, 9, 0)]
        self.assertEqual(stats.self_times(spans), [3.0, 2.0, 5.0])

    def test_overlapping_children_count_once(self):
        spans = [span("op", 0, 10), span("a", 1, 5, 0), span("b", 4, 6, 0)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 5.0)

    def test_only_direct_children_count(self):
        spans = [span("op", 0, 10), span("mid", 1, 9, 0), span("leaf", 2, 8, 1)]
        self.assertEqual(stats.self_times(spans), [2.0, 2.0, 6.0])

    def test_child_outside_the_parent_is_clipped(self):
        spans = [span("op", 0, 4), span("late", 3, 6, 0)]
        self.assertEqual(stats.self_times(spans)[0], 3.0)

    def test_mean_by_name(self):
        spans = [span("op", 0, 4), span("read", 0, 1, 0), span("op", 4, 6), span("read", 4, 6, 2)]
        got = stats.mean_self_by_name(spans)
        self.assertAlmostEqual(got["read"], 1.5)
        self.assertAlmostEqual(got["op"], 1.5)


class ResultLine(unittest.TestCase):
    def test_round_trip(self):
        line = stats.result_line(True, 12, 0, {"setup_s": (12.5, "s"), "op_s.tail": (0.61, "s")})
        obj = stats.parse_result_line(line, expected_metrics=["setup_s", "op_s.tail"])
        self.assertEqual(obj["attempted"], 12)
        self.assertEqual(obj["metrics"]["setup_s"], {"value": 12.5, "unit": "s"})
        self.assertEqual(list(json.loads(line)), ["correct", "attempted", "failed", "metrics"])

    def test_rejects_malformed_lines(self):
        good = json.loads(stats.result_line(True, 3, 0, {"x": (1.0, "s")}))
        bad = [
            dict(good, extra=1),
            dict(good, attempted=0),
            dict(good, attempted=2.5),
            dict(good, correct="yes"),
            dict(good, metrics={"x": {"value": float("inf"), "unit": "s"}}),
            dict(good, metrics={"x": {"value": 1.0}}),
            dict(good, metrics={"x": {"value": True, "unit": "s"}}),
        ]
        for obj in bad:
            with self.assertRaises(ValueError, msg=str(obj)):
                stats.parse_result_line(json.dumps(obj))
        with self.assertRaises(ValueError):
            stats.parse_result_line(json.dumps(good), expected_metrics=["y"])


def fake_result():
    return {
        "session_s": 8.0, "setup_reps_s": [4.0, 1.0, 2.0], "warmup_s": 10.0,
        "samples": {"plain": {"insert": [1.0, 1.2, 0.8], "serve": [0.5, 0.5]},
                    "traced": {"insert": [1.1], "serve": [0.55]}},
        "parts": {"plain": {"triggerExecution": [0.7, 0.9]}},
        "cpu_samples": {"plain": {"insert": [2.0, 2.0, 1.0], "serve": [0.5, 0.5]},
                        "traced": {"insert": [2.2], "serve": [0.6]}},
        "rows": {"plain": 300}, "wall_s": {"plain": 4.0}, "units": {"plain": 2},
        "params": {"tail_units": 2},
        "layers": {"LocalSpark.session_s": 8.0},
        "spans": [span("insert", 0, 2), span("KeyedTable.read", 0.5, 1, 0)],
    }


class Metrics(unittest.TestCase):
    spec = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())

    def test_end_to_end_covers_benchmark_json(self):
        got, info = run.end_to_end(fake_result(), rss_mb=900.0)
        self.assertEqual(set(got), {m["name"] for m in self.spec["end_to_end"]})
        self.assertEqual(got["setup_s"], 8.0 + 2.0 + 10.0)
        self.assertAlmostEqual(got["cpu_s.geomean"], math.sqrt(2.0 * 0.5))
        self.assertAlmostEqual(got["cpu_s.tail"], math.sqrt(2.0 * 0.5))
        self.assertEqual(got["rows_per_cpu_s"], 50.0)
        self.assertEqual(info["tail_samples_per_kind"], 2)
        self.assertTrue(all(v > 0 for v in got.values()))

    def test_per_layer_names_are_declared(self):
        got = run.per_layer(fake_result())
        declared = {m["name"] for m in self.spec["per_layer"]}
        self.assertTrue(set(got) - {"LocalSpark.session_s"} <= declared | set(fake_result()["layers"]))
        self.assertAlmostEqual(got["KeyedTable.read_s"], 0.5)
        self.assertAlmostEqual(got["trace.overhead_ratio"],
                               math.sqrt(1.1 * 0.55) / math.sqrt(1.0 * 0.5))
        self.assertEqual(got["insert.p50_s"], 1.0)
        self.assertAlmostEqual(got["Ingest.triggerExecution_s"], 0.8)
        self.assertEqual(got["cpu_s_per_unit"], 3.0)
        self.assertAlmostEqual(got["op_s.geomean"], math.sqrt(1.0 * 0.5))
        self.assertEqual(got["rows_per_s"], 75.0)

    def test_benchmark_json_shape(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
        self.assertEqual([w["name"] for w in s["workloads"]], list(run.WORKLOADS))
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(s["end_to_end"]), 16)
        self.assertLessEqual(len(s["per_layer"]), 128)
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in s["end_to_end"]))
        self.assertTrue(all(m["bound"] <= 0.25 for m in s["end_to_end"]))


if __name__ == "__main__":
    unittest.main()

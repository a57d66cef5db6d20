"""Self-test of the benchmark harness; needs no Spark and runs in seconds.

    python3 perfbench/selftest.py

Covers the metric names and units promised in BENCHMARK.json, the
percentile sample-count rule, failure counting, span self-time
arithmetic, CPU accounting across a worker that exits, the output
digest, and the determinism of the generated inputs (at sf0.001 size).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import harness  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


class MetricNames(unittest.TestCase):
    def test_names_and_units_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in spec["end_to_end"]))
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]),
                         sorted(__import__("workloads").WORKLOADS))


class Percentiles(unittest.TestCase):
    def test_highest_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(harness.supported_percentile(19))
        self.assertEqual(harness.supported_percentile(20), 50)
        self.assertEqual(harness.supported_percentile(39), 50)
        self.assertEqual(harness.supported_percentile(40), 75)
        self.assertEqual(harness.supported_percentile(100), 90)
        self.assertEqual(harness.supported_percentile(1000), 99)

    def test_describe_states_the_sample_count(self):
        d = harness.describe([float(i) for i in range(1, 41)])
        self.assertEqual(d, {"n": 40, "p50": 20.5, "p75": 30.0})
        self.assertEqual(harness.describe([3.0]), {"n": 1, "p50": 3.0})
        self.assertEqual(harness.describe([]), {"n": 0})


class Failures(unittest.TestCase):
    def test_failed_operations_and_wrong_outputs_both_count(self):
        passes = [{"ops": 8, "failed": 0}, {"ops": 8, "failed": 2}]
        self.assertEqual(harness.tally(passes, 8, ["topicStream"]), (24, 3))
        self.assertEqual(harness.tally(passes[:1], 3, []), (11, 0))


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": 0, "parent": None, "name": "pass", "start": 0.0, "end": 10.0},
            {"id": 1, "parent": 0, "name": "trigger", "start": 1.0, "end": 4.0},
            {"id": 2, "parent": 0, "name": "trigger", "start": 3.0, "end": 6.0},  # overlaps
            {"id": 3, "parent": 0, "name": "trigger", "start": 9.0, "end": 12.0},  # clipped
            {"id": 4, "parent": 1, "name": "phase", "start": 1.5, "end": 2.0},
        ]
        st = harness.self_times(spans)
        self.assertAlmostEqual(st["pass"], 10.0 - 5.0 - 1.0)
        self.assertAlmostEqual(st["trigger"], (3.0 - 0.5) + 3.0 + 3.0)
        self.assertAlmostEqual(st["phase"], 0.5)

    def test_tracer_nests_and_disabled_records_nothing(self):
        tr = harness.Tracer(enabled=True)
        with tr.span("outer"):
            with tr.span("inner", query="q"):
                pass
        self.assertEqual([(s["name"], s["parent"]) for s in tr.spans],
                         [("outer", None), ("inner", 0)])
        off = harness.Tracer(enabled=False)
        with off.span("outer"):
            pass
        self.assertEqual(off.spans, [])


class CpuAccounting(unittest.TestCase):
    def test_worker_cpu_survives_the_worker_exiting(self):
        # Root the tree at this process: the child plays a Python worker.
        tree = harness.ProcTree(os.getpid())
        before = tree.cpu()["pyworker"]
        child = subprocess.Popen([sys.executable, "-c", "sum(i*i for i in range(4_000_000))"])
        child.wait()  # reaped: its CPU moves to our reaped-children time
        after = tree.cpu()["pyworker"]
        self.assertGreater(after - before, 0.05)


class Digest(unittest.TestCase):
    def test_digest_ignores_row_and_column_order(self):
        import pandas as pd

        from workloads import digest

        a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5], "s": ["x", "y", "z"]})
        b = a.iloc[::-1][["s", "v", "k"]]
        self.assertEqual(digest(a), digest(b))
        self.assertNotEqual(digest(a), digest(a.assign(v=[0.5, 1.5, 2.6])))
        self.assertEqual(digest(a)["rows"], 3)


class Inputs(unittest.TestCase):
    def test_seed_picks_a_reproducible_contiguous_slice(self):
        a, b = inputs.event_lines(7, 1000), inputs.event_lines(7, 1000)
        self.assertTrue(a.equals(b))
        ids = a.column("event_id").to_pylist()
        self.assertEqual(ids, list(range(ids[0], ids[0] + 1000)))
        self.assertNotEqual(inputs.event_lines(8, 1000).column("event_id")[0], ids[0])
        self.assertRegex(a.column("line")[0].as_py(), r'^(view|click|purchase|signup|error),\d+,\{"k": \d+\}$')

    def test_chunks_keep_event_order(self):
        import pyarrow.parquet as pq

        with tempfile.TemporaryDirectory() as d:
            paths = inputs.write_chunks(inputs.event_lines(1, 1000), d, 400)
            tables = [pq.read_table(p) for p in paths]
            self.assertEqual([t.num_rows for t in tables], [400, 400, 200])
            ts = [v for t in tables for v in t.column("ts").to_pylist()]
            self.assertEqual(ts, sorted(ts))


if __name__ == "__main__":
    unittest.main()

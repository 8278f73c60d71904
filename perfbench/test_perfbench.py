"""Self-tests of the benchmark's own arithmetic and inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import hashlib
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import measure  # noqa: E402


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "op": 0, "name": name, "start_ns": start, "end_ns": end}


class PercentileRule(unittest.TestCase):
    def test_no_p90_under_100_samples(self):
        self.assertIsNone(measure.percentile(list(range(99)), 90))
        self.assertIsNone(measure.percentile([5.0], 90))

    def test_p90_from_100_samples(self):
        self.assertEqual(measure.percentile(list(range(1, 101)), 90), 90)
        self.assertEqual(measure.percentile(list(range(1, 201)), 90), 180)

    def test_median_needs_no_tail(self):
        self.assertEqual(measure.percentile([3, 1, 2], 50), 2)

    def test_spread_is_iqr_over_median(self):
        v = [10.0] * 4 + [12.0] * 4
        q1, _, q3 = __import__("statistics").quantiles(v, n=4)
        self.assertAlmostEqual(measure.spread(v), (q3 - q1) / 11.0)


class SpanSelfTime(unittest.TestCase):
    def test_children_subtract_once_when_overlapping(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 30, 50), span(3, 1, 15, 20)]
        st = measure.self_times(spans)
        self.assertEqual(st[0], 100 - 40)   # children cover 10..50
        self.assertEqual(st[1], 30 - 5)     # grandchild does not count for the root
        self.assertEqual(st[2], 20)
        self.assertEqual(st[3], 5)

    def test_child_outside_parent_is_clipped(self):
        st = measure.self_times([span(0, -1, 0, 10), span(1, 0, 5, 30)])
        self.assertEqual(st[0], 5)

    def test_union(self):
        self.assertEqual(measure.union_ns([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(measure.union_ns([]), 0)


class ListenerAttribution(unittest.TestCase):
    spans = [span(0, -1, 1_000_000_000, 2_000_000_000, "op:read"),
             span(1, 0, 1_100_000_000, 1_500_000_000, "cypher.compile"),
             span(2, 0, 1_600_000_000, 1_900_000_000, "exec.collect")]

    def test_span_property_wins(self):
        jobs = [{"id": 7, "span": "2", "submit_ms": 1200}]
        self.assertEqual(measure.attribute(jobs, self.spans), {7: 2})

    def test_untagged_job_goes_to_innermost_span_by_time(self):
        jobs = [{"id": 1, "span": None, "submit_ms": 1200},
                {"id": 2, "span": None, "submit_ms": 1550},
                {"id": 3, "span": None, "submit_ms": 2500}]
        self.assertEqual(measure.attribute(jobs, self.spans), {1: 1, 2: 0, 3: None})

    def test_layer_metrics_count_jobs_under_compile(self):
        out = {"ops": [{"i": 0, "kind": "read", "ms": 1000.0, "error": None, "rows": [],
                        "storage_mb": 1.0, "status": "ok"}],
               "spans": self.spans, "first_op_ms": 1000, "end_ms": 2000, "gc_ms": 3,
               "catalyst": [[1200, 1, 2, 3], [5000, 9, 9, 9]],
               "blocks": {"written": 2, "dropped": 1, "bytes_written": 1048576},
               "jobs": [{"id": 1, "span": "1", "submit_ms": 1200, "end_ms": 1300, "stages": 1,
                         "tasks": 4, "task_ms": 50, "wait_ms": 5, "shuffle_read": 0,
                         "shuffle_write": 0, "spill": 0},
                        {"id": 2, "span": "2", "submit_ms": 1700, "end_ms": 1800, "stages": 2,
                         "tasks": 8, "task_ms": 100, "wait_ms": 5, "shuffle_read": 1048576,
                         "shuffle_write": 0, "spill": 0}]}
        m = measure.per_layer(out)
        self.assertEqual(m["cypher.compile_jobs"][0], 1)
        self.assertAlmostEqual(m["cypher.compile_job_s"][0], 0.1)
        self.assertEqual(m["exec.jobs"][0], 2)
        self.assertAlmostEqual(m["exec.ms"][0], 200.0)
        self.assertEqual(m["catalyst.plan_ms"][0], 3)   # the event after end_ms is outside
        self.assertAlmostEqual(m["exec.shuffle_read_mb"][0], 1.0)
        self.assertAlmostEqual(m["trace.coverage"][0], 0.7)


class RowChecks(unittest.TestCase):
    def test_multiset_and_tolerance(self):
        self.assertTrue(measure.rows_match([[2, "b"], [1, 0.1 + 0.2]], [[1, 0.3], [2, "b"]]))
        self.assertFalse(measure.rows_match([[1, 0.31]], [[1, 0.3]]))
        self.assertFalse(measure.rows_match([[1]], [[1], [1]]))
        self.assertFalse(measure.rows_match(None, []))
        self.assertTrue(measure.rows_match([[None, 3]], [[None, 3.0]]))


class GeneratorDeterminism(unittest.TestCase):
    def digest(self, d):
        h = hashlib.sha256()
        for root, _, files in sorted(os.walk(d)):
            for f in sorted(files):
                h.update(f.encode())
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(fh.read())
        return h.hexdigest()

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            stars = [os.path.join(t, "star_a"), os.path.join(t, "star_b")]
            for d in stars:
                gen.make_star(d)
            self.assertEqual(self.digest(stars[0]), self.digest(stars[1]))
            for workload in ("write_mix", "upload_pipeline"):
                a, b, c = (os.path.join(t, f"{workload}-{k}") for k in "abc")
                sa, _ = gen.generate(workload, 5, a, stars[0])
                sb, _ = gen.generate(workload, 5, b, stars[1])
                sc, _ = gen.generate(workload, 6, c, stars[0])
                # write_mix specs differ only in where their star store lies
                sa.pop("data_dir", None)
                sb.pop("data_dir", None)
                self.assertEqual(sa, sb, workload)
                if workload == "upload_pipeline":
                    self.assertEqual(self.digest(a), self.digest(b))
                self.assertNotEqual(sa["input_hashes"], sc["input_hashes"])


class BenchmarkFile(unittest.TestCase):
    def test_contract_shape(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            cfg = json.load(f)
        self.assertEqual(set(cfg), {"command", "paths", "run_seconds", "workloads",
                                    "end_to_end", "per_layer"})
        names = [m["name"] for m in cfg["end_to_end"] + cfg["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertTrue(all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names))
        self.assertIn("setup_s", names)
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in cfg["end_to_end"]))
        self.assertTrue(all(m["name"] in measure.LAYER_UNITS and
                            measure.LAYER_UNITS[m["name"]] == m["unit"] for m in cfg["per_layer"]))


if __name__ == "__main__":
    unittest.main()

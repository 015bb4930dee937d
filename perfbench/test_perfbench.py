"""Tests for the benchmark's own helpers:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import copy
import filecmp
import os
import tempfile
import unittest

import checks
import gen
from stats import call_layers, self_time, tail_percentile, union_length

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_build")


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 201))  # 200 samples
        self.assertEqual(tail_percentile(xs), (95, 190, 200))
        self.assertEqual(tail_percentile(list(range(1, 101))), (90, 90, 100))

    def test_cap_and_shuffled_input(self):
        xs = list(range(300, 0, -1))
        self.assertEqual(tail_percentile(xs, cap=95), (95, 285, 300))
        self.assertEqual(tail_percentile(xs)[0], 96)

    def test_too_few_samples(self):
        self.assertIsNone(tail_percentile(list(range(19))))
        self.assertEqual(tail_percentile(list(range(1, 21))), (50, 10, 20))


class SelfTime(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(union_length([]), 0)

    def test_nested_children_and_clipping(self):
        # Children overlap each other and one pokes out of the parent.
        self.assertEqual(self_time((0, 100), [(10, 30), (20, 50), (90, 120)]), 50)
        self.assertEqual(self_time((0, 100), []), 100)

    def test_call_layers_attributes_jobs_by_time(self):
        trace = {
            "spans": [
                {"id": 0, "name": "c.a", "parent": -1, "request": 0, "start_us": 0,
                 "end_us": 100_000, "attrs": {"round": 1, "plan_ms": 4, "codegen_compile_ns": 2e6}},
                {"id": 1, "name": "construct", "parent": 0, "request": 0, "start_us": 0,
                 "end_us": 30_000, "attrs": {}},
                {"id": 2, "name": "collect", "parent": 0, "request": 0, "start_us": 30_000,
                 "end_us": 100_000, "attrs": {}},
                {"id": 3, "name": "c.a", "parent": -1, "request": 3, "start_us": 200_000,
                 "end_us": 250_000, "attrs": {"round": 1}},
            ],
            "jobs": [
                {"id": 0, "start_ms": 10, "end_ms": 20, "tasks": 2, "cpu_ns": 5e6,
                 "shuffle_bytes": 10},
                {"id": 1, "start_ms": 15, "end_ms": 40, "tasks": 1, "cpu_ns": 1e6,
                 "shuffle_bytes": 5},
                {"id": 2, "start_ms": 210, "end_ms": 220, "tasks": 1, "cpu_ns": 0,
                 "shuffle_bytes": 0},
            ],
        }
        first, second = call_layers(trace)
        self.assertEqual(first["jobs"], 2)
        self.assertAlmostEqual(first["job_s"], 0.030)
        self.assertAlmostEqual(first["driver_gap_s"], 0.070)
        self.assertAlmostEqual(first["construct_s"], 0.030)
        self.assertAlmostEqual(first["plan_s"], 0.004)
        self.assertEqual(first["shuffle_bytes"], 15)
        self.assertAlmostEqual(first["self_s"], 0.0)
        self.assertEqual(second["jobs"], 1)
        self.assertAlmostEqual(second["driver_gap_s"], 0.040)


class Generator(unittest.TestCase):
    SIZES = {"ts_batch": {"series": 3, "hours": 200, "lstm_series": 1},
             "curation": {"base_docs": 40, "exact_groups": 5, "chains": 3, "chain_len": 4,
                          "vectors": 50, "clusters": 4}}

    def test_same_seed_same_bytes(self):
        os.makedirs(SCRATCH, exist_ok=True)
        for workload, sizes in self.SIZES.items():
            with tempfile.TemporaryDirectory(dir=SCRATCH) as d:
                a, b, c = (os.path.join(d, x) for x in "abc")
                ta = gen.generate(workload, sizes, 7, a)
                tb = gen.generate(workload, sizes, 7, b)
                gen.generate(workload, sizes, 8, c)
                self.assertEqual(ta, tb)
                for name in os.listdir(a):
                    self.assertTrue(filecmp.cmp(os.path.join(a, name), os.path.join(b, name),
                                                shallow=False))
                    self.assertFalse(filecmp.cmp(os.path.join(a, name), os.path.join(c, name),
                                                 shallow=False))

    def test_ground_truth(self):
        with tempfile.TemporaryDirectory(dir=SCRATCH) as d:
            t = gen.generate("ts_batch", self.SIZES["ts_batch"], 7, d)
            with open(os.path.join(d, "ts.csv")) as f:
                lines = f.read().splitlines()
        self.assertEqual(len(lines) - 1, 3 * 200 + t["duplicates"])
        self.assertEqual(sum(1 for x in lines if x.endswith(";")), t["missing"])
        self.assertEqual(t["pca_rows"], 3 * (200 - gen.PIPELINE_WARMUP_ROWS))
        self.assertEqual(lines[1].split(";")[0], "Jan 2, 2023 1:00 AM")
        with tempfile.TemporaryDirectory(dir=SCRATCH) as d:
            c = gen.generate("curation", self.SIZES["curation"], 7, d)
        copies = sum(len(g) - 1 for g in c["exact_groups"])
        self.assertEqual(c["distinct"], c["docs"] - copies)
        self.assertTrue(all(len(ch) == 4 for ch in c["chains"]))


class Checks(unittest.TestCase):
    def ts_calls(self):
        return [{"call": f"ts_batch.{m}", "round": r, "ok": True, "rows": n, "digest": "d" + m}
                for r in range(3) for m, n in (("pca", 10), ("lstm", 4))]

    def test_ts_batch(self):
        truth = {"pca_rows": 10, "lstm_rows": 4}
        self.assertTrue(all(c["ok"] for c in checks.check_ts_batch(self.ts_calls(), truth)))
        bad = self.ts_calls()
        bad[2]["digest"] = "other"
        self.assertFalse(all(c["ok"] for c in checks.check_ts_batch(bad, truth)))
        bad = self.ts_calls()
        bad[1]["rows"] = 5
        self.assertFalse(all(c["ok"] for c in checks.check_ts_batch(bad, truth)))

    def test_stream(self):
        good = {"fed_events": 3, "stream_ids": [1, 2, 3], "batch_ids": [1, 2, 3],
                "stream_z": [None, 0.5, -1.25], "batch_z": [None, 0.5 + 1e-12, -1.25]}
        self.assertTrue(all(c["ok"] for c in checks.check_stream(good)))
        for key, value in (("stream_z", [None, 0.5, -1.2]), ("stream_z", [0.0, 0.5, -1.25]),
                           ("stream_ids", [1, 2, 4])):
            bad = dict(good, **{key: value})
            self.assertFalse(all(c["ok"] for c in checks.check_stream(bad)), key)

    def test_curation(self):
        vectors = [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [0.2, 0.9]]
        truth = {"docs": 6, "distinct": 5, "exact_groups": [[1, 4]], "chains": [[2, 5]],
                 "singletons": [3, 6], "vectors": vectors}
        scores = checks.cosines(vectors, 1)
        good = {"exact_survivors": 5, "survivors": [1, 2, 3, 6], "k": 2,
                "split": [[d, d, "train"] for d in (2, 3, 5, 6)] + [[1, 1, "val"], [4, 1, "val"]],
                "brute": [[1, n, round(s, 4)] for n, s in checks.topk(scores, 2)]}
        self.assertTrue(all(c["ok"] for c in checks.check_curation(good, truth)))
        corruptions = [("exact_survivors", 6), ("survivors", [1, 2, 3, 4, 6]),
                       ("survivors", [2, 3, 6]),
                       ("split", good["split"][:-1] + [[4, 4, "train"]]),
                       ("brute", [[1, 3, 0.0], [1, 2, 0.9939]])]
        for key, value in corruptions:
            bad = copy.deepcopy(good)
            bad[key] = value
            self.assertFalse(all(c["ok"] for c in checks.check_curation(bad, truth)), key)


if __name__ == "__main__":
    unittest.main()

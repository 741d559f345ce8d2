"""Tests of the benchmark's own helpers. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import re
import unittest
from collections import Counter
from pathlib import Path

import benchlib as B
import families as F
import run

ROOT = Path(__file__).resolve().parent.parent


def spark_entry_names(map_name):
    """Keys of one of SparkEntry's two query maps, read from the source."""
    src = (ROOT / "src/main/scala/graft/SparkEntry.scala").read_text()
    start = src.index(f"def {map_name}:")
    end = src.index("\n  def ", start + 1) if map_name == "queries" else len(src)
    return re.findall(r'^\s+"(q_[a-z0-9_]+)" ->', src[start:end], re.M)


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(B.percentile(xs, 50), 50)
        self.assertEqual(B.percentile(xs, 95), 95)
        self.assertEqual(B.percentile(xs, 100), 100)
        self.assertEqual(B.percentile([7.0], 95), 7.0)
        self.assertEqual(B.percentile([3, 1, 2], 50), 2)

    def test_tail_keeps_ten_samples_beyond(self):
        self.assertEqual(B.tail_percentile(200), 95)
        self.assertEqual(B.beyond(200, 95), 10)
        self.assertEqual(B.tail_percentile(199), 90)
        self.assertEqual(B.tail_percentile(100), 90)
        self.assertEqual(B.tail_percentile(40), 75)
        self.assertEqual(B.tail_percentile(39), 70)
        self.assertEqual(B.tail_percentile(32), 66)
        self.assertIsNone(B.tail_percentile(20))
        for n in range(11, 400):
            p = B.tail_percentile(n)
            if p is not None:
                self.assertGreaterEqual(B.beyond(n, p), 10, n)
                higher = [q for q in B.TAIL_CANDIDATES if q > p]
                self.assertTrue(all(B.beyond(n, q) < 10 for q in higher), n)

    def test_tail_falls_back_to_max(self):
        self.assertEqual(B.tail([3.0, 1.0, 2.0]), (100, 3.0))
        self.assertEqual(B.tail(list(range(1, 41))), (75, 30))


    def test_tail_mean_of_slowest_quarter(self):
        self.assertEqual(B.tail_mean([5.0, 1.0, 3.0, 2.0]), 5.0)
        self.assertEqual(B.tail_mean(list(range(1, 14))), (10 + 11 + 12 + 13) / 4)
        self.assertEqual(B.tail_mean([7.0]), 7.0)
        self.assertRaises(ValueError, B.tail_mean, [])


class SelfTimeTest(unittest.TestCase):
    def test_children_overlap_counted_once(self):
        self.assertEqual(B.covered((0, 10), [(1, 3), (2, 5), (8, 12)]), 6)
        self.assertEqual(B.self_time((0, 10), [(1, 3), (2, 5), (8, 12)]), 4)

    def test_no_children_and_outside_children(self):
        self.assertEqual(B.self_time((5, 9), []), 4)
        self.assertEqual(B.self_time((5, 9), [(0, 5), (9, 20)]), 4)
        self.assertEqual(B.self_time((5, 9), [(0, 20)]), 0)


class MetricNameTest(unittest.TestCase):
    def test_rule(self):
        for ok in ("setup_s", "route.write_self_s", "surface.family.text_s", "a", "9x", "A-b.c_d"):
            self.assertTrue(B.valid_name(ok), ok)
        for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65, "é", "a:b"):
            self.assertFalse(B.valid_name(bad), bad)

    def test_declared_metrics_match_benchmark_json(self):
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
        self.assertEqual(e2e, run.END_TO_END)
        self.assertEqual(layer, run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        for name in list(e2e) + list(layer):
            self.assertTrue(B.valid_name(name), name)


class FamilyTableTest(unittest.TestCase):
    def test_every_query_in_exactly_one_family(self):
        listed = Counter(q for names in F.FAMILIES.values() for q in names)
        self.assertEqual([q for q, n in listed.items() if n > 1], [])
        queries = spark_entry_names("queries")
        self.assertEqual(len(queries), 178)
        self.assertEqual(set(listed), set(queries))
        self.assertEqual(set(spark_entry_names("oracleSql")), set(queries))

    def test_sample_draws_from_every_family(self):
        sample = F.sample(run.SURFACE_EVERY)
        self.assertEqual(len(sample), len(set(sample)))
        self.assertEqual({F.FAMILY_OF[q] for q in sample}, set(F.FAMILIES))


if __name__ == "__main__":
    unittest.main()

"""Self-tests for the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402


def span(i, parent, start, end, pass_=1, key=""):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end,
            "pass": pass_, "key": key, "layer": "x", "name": "x"}


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, n) for n in "abc")
            ma, mb = gen.write(5, a), gen.write(5, b)
            gen.write(6, c)
            self.assertEqual(gen.digest(a), gen.digest(b))
            self.assertEqual(ma, mb)
            self.assertNotEqual(gen.digest(a), gen.digest(c))

    def test_one_row_group_per_table(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            m = gen.write(1, d)
            for name, t in m["tables"].items():
                f = pq.ParquetFile(os.path.join(d, name + ".parquet"))
                self.assertEqual(f.metadata.num_row_groups, 1, name)
                self.assertEqual(f.metadata.num_rows, t["rows"], name)

    def test_near_dup_share_is_seeded_and_bounded(self):
        shares = {gen.near_dup_share(s) for s in range(20)}
        self.assertGreater(len(shares), 1)
        self.assertTrue(all(0.04 <= s <= 0.06 for s in shares))
        self.assertEqual(gen.near_dup_share(3), gen.near_dup_share(3))

    def test_some_near_dups_collapse_under_exact_hash_normalisation(self):
        import re
        docs = gen.tables(1)["documents"].column("text").to_pylist()
        norm = {re.sub(r"\s+", " ", t).strip().lower() for t in docs}
        self.assertGreater(len(docs) - len(norm), 0)
        self.assertLess(len(docs) - len(norm), gen.near_dup_share(1) * len(docs))


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(range(99), 0.9))
        self.assertIsNotNone(stats.percentile(range(100), 0.9))
        self.assertIsNone(stats.percentile(range(19), 0.5))
        self.assertIsNotNone(stats.percentile(range(20), 0.5))
        self.assertIsNone(stats.percentile(range(999), 0.99))
        self.assertIsNotNone(stats.percentile(range(1000), 0.99))
        self.assertIsNone(stats.percentile([], 0.5))

    def test_values(self):
        self.assertEqual(stats.percentile(range(101), 0.5), 50)
        self.assertAlmostEqual(stats.percentile(range(1, 101), 0.9), 90.1)


class SpanTest(unittest.TestCase):
    def test_self_time_nested_children(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 60), span(3, 2, 20, 30)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 50)   # 100 - 50 of child 2
        self.assertEqual(st[2], 40)   # 50 - 10 of grandchild 3, not counted in 1
        self.assertEqual(st[3], 10)

    def test_self_time_overlapping_children_subtracted_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 30, 70),
                 span(4, 1, 90, 130)]
        st = stats.self_times(spans)
        # children cover [10, 70] and [90, 100] once clipped to the parent
        self.assertEqual(st[1], 100 - 60 - 10)

    def test_union(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 30), (25, 26)]), 25)
        self.assertEqual(stats.union_ms([]), 0)

    def test_attach_picks_innermost_span_with_matching_key(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 50, key="q"), span(3, 2, 10, 40, key="q"),
                 span(4, 1, 50, 100, key="r")]
        placed = stats.attach(spans, [span(9, None, 15, 80, key="q"),
                                      span(8, None, 60, 70, key="q")])
        parent = {s["id"]: s["parent"] for s in placed}
        self.assertEqual(parent[9], 3)   # starts inside 3, the innermost "q" span
        self.assertEqual(parent[8], 9)   # inside the longer floating span 9, not "r"-keyed 4

    def test_attach_same_pass_only(self):
        placed = stats.attach([span(1, 0, 0, 100, pass_=1)], [span(9, None, 5, 6, pass_=2)])
        self.assertEqual(placed[-1]["parent"], 0)


if __name__ == "__main__":
    unittest.main()

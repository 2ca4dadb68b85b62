"""Tests of the benchmark's pure logic: python3 -m unittest discover -s perfbench"""
import collections
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import bench_lib as lib  # noqa: E402


PANEL, SHARES = lib.load_panel(Path(__file__).resolve().parent / "panel.tsv")


class TailRule(unittest.TestCase):
    def test_rank_leaves_ten_beyond(self):
        for n in range(11, 500):
            k, pct = lib.tail_rank(n)
            self.assertEqual(n - k, 10)
            self.assertAlmostEqual(pct, 100.0 * k / n)

    def test_known_values(self):
        self.assertEqual(lib.tail_rank(100), (90, 90.0))
        self.assertEqual(lib.tail_rank(20), (10, 50.0))
        v, pct, n = lib.tail([float(i) for i in range(1, 101)][::-1])
        self.assertEqual((v, pct, n), (90.0, 90.0, 100))

    def test_too_few_samples_falls_back_to_minimum(self):
        self.assertEqual(lib.tail_rank(10), (1, 10.0))
        self.assertEqual(lib.tail([3.0, 1.0, 2.0]), (1.0, 100.0 / 3, 3))
        with self.assertRaises(ValueError):
            lib.tail_rank(0)


class Sampler(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        self.assertEqual(lib.sample_run(PANEL, 7), lib.sample_run(PANEL, 7))
        self.assertNotEqual(lib.sample_run(PANEL, 7), lib.sample_run(PANEL, 8))

    def test_seed_orders_the_fixed_panel_block_by_block(self):
        blocks = [sorted(n for n, _ in b) for b in PANEL["timed"]]
        orders = set()
        for seed in range(10):
            _, order = lib.sample_run(PANEL, seed)
            got, i = [], 0
            for b in blocks:
                got.append(sorted(order[i:i + len(b)]))
                i += len(b)
            self.assertEqual(got, blocks)
            self.assertEqual(i, len(order))
            orders.add(tuple(order))
        self.assertGreater(len(orders), 1)

    def test_warmup_fixed_and_disjoint_from_the_panel(self):
        timed = {n for b in PANEL["timed"] for n, _ in b}
        warm, _ = lib.sample_run(PANEL, 0)
        self.assertTrue(warm)
        self.assertFalse(set(warm) & timed)
        for seed in range(1, 10):
            self.assertEqual(lib.sample_run(PANEL, seed)[0], warm)

    def test_panel_covers_every_module_with_a_share_of_one_query(self):
        total = sum(SHARES.values())
        got = collections.Counter(m for b in PANEL["timed"] for _, m in b)
        size = sum(got.values())
        for m, n in SHARES.items():
            if n * size / total >= 1:
                self.assertGreater(got[m], 0, f"no {m} query")
        self.assertLessEqual(set(got), set(SHARES))

    def test_panel_queries_are_distinct(self):
        names = [n for b in PANEL["timed"] for n, _ in b]
        self.assertEqual(len(names), len(set(names)))


class SelfTime(unittest.TestCase):
    @staticmethod
    def span(name, parent, a, b, qid="t0.1"):
        return {"qid": qid, "name": name, "parent": parent, "start_ns": a, "end_ns": b}

    def test_children_subtracted(self):
        spans = [self.span("query", "", 0, 100), self.span("ops.construct", "query", 0, 30),
                 self.span("driver.collect", "query", 40, 90)]
        got = {s["name"]: ns for s, ns in lib.self_times(spans)}
        self.assertEqual(got, {"query": 20, "ops.construct": 30, "driver.collect": 50})

    def test_overlapping_and_overhanging_children_count_once(self):
        spans = [self.span("query", "", 10, 100), self.span("a", "query", 0, 50),
                 self.span("b", "query", 40, 60), self.span("c", "query", 90, 120)]
        got = {s["name"]: ns for s, ns in lib.self_times(spans)}
        self.assertEqual(got["query"], 90 - 40 - 10 - 10)

    def test_other_queries_ignored(self):
        spans = [self.span("query", "", 0, 100), self.span("a", "query", 0, 100, qid="t0.2")]
        self.assertEqual(lib.self_times(spans)[0][1], 100)


class Digest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = lib.digest(["b", "a"], [(1, "x"), (2, "y")])
        b = lib.digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertEqual(a[0], 2)

    def test_values_matter(self):
        self.assertNotEqual(lib.digest(["a"], [(1,), (2,)]), lib.digest(["a"], [(1,), (3,)]))
        self.assertNotEqual(lib.digest(["a"], [(1,)]), lib.digest(["b"], [(1,)]))
        self.assertNotEqual(lib.digest(["a"], [(1,), (1,)]), lib.digest(["a"], [(1,)]))

    def test_float_normalisation(self):
        self.assertEqual(lib.digest(["a"], [(0.1 + 0.2,)]), lib.digest(["a"], [(0.3,)]))
        self.assertEqual(lib.norm(float("nan")), "NaN")
        self.assertEqual(lib.norm(1e-12), "1e-12")

    def test_frame_digest_matches_rows(self):
        import pandas as pd
        df = pd.DataFrame({"k": [2, 1], "v": ["b", "a"]})
        self.assertEqual(lib.frame_digest(df), lib.digest(["v", "k"], [("a", 1), ("b", 2)]))


if __name__ == "__main__":
    unittest.main()

"""Tests of the benchmark's pure logic.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import benchlib  # noqa: E402


def span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "trace": 1, "name": name,
            "start_ns": start, "end_ns": end}


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(benchlib.percentile(xs, 50), 50)
        self.assertEqual(benchlib.percentile(xs, 90), 90)
        self.assertEqual(benchlib.percentile(xs, 100), 100)
        self.assertEqual(benchlib.percentile([7], 99), 7)
        self.assertEqual(benchlib.percentile([3, 1, 2], 50), 2)

    def test_tail_leaves_ten_samples_beyond(self):
        self.assertEqual(benchlib.tail_pct(100), 90)
        self.assertEqual(benchlib.tail_pct(40), 75)
        self.assertEqual(benchlib.tail_pct(41), 75)
        self.assertEqual(benchlib.tail_pct(1000), 99)
        for n in range(20, 400):
            pct = benchlib.tail_pct(n)
            rank = -(-pct * n // 100)
            self.assertGreaterEqual(n - rank, 10, n)
            # one whole percentile higher would leave fewer than ten
            if pct < 99:
                self.assertLess(n - (-(-(pct + 1) * n // 100)), 10, n)

    def test_tail_never_below_median(self):
        self.assertEqual(benchlib.tail_pct(5), 50)
        self.assertEqual(benchlib.tail_pct(19), 50)
        s = benchlib.latency_summary([5.0, 1.0, 3.0, 4.0])
        self.assertEqual((s["p50"], s["tail"], s["tail_pct"], s["n"]), (3.0, 3.0, 50, 4))

    def test_summary_reports_count_and_pct(self):
        s = benchlib.latency_summary([float(i) for i in range(1, 41)])
        self.assertEqual((s["tail"], s["tail_pct"], s["n"]), (30.0, 75, 40))


class SelfTime(unittest.TestCase):
    def test_leaf_is_its_duration(self):
        self.assertEqual(benchlib.self_times([span(1, 0, 10, 25)]), {1: 15})

    def test_children_subtracted(self):
        st = benchlib.self_times([span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60)])
        self.assertEqual(st, {1: 70, 2: 20, 3: 10})

    def test_overlapping_children_counted_once(self):
        st = benchlib.self_times([span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 40, 70)])
        self.assertEqual(st[1], 40)

    def test_children_clipped_to_parent(self):
        st = benchlib.self_times([span(1, 0, 0, 100), span(2, 1, 90, 130)])
        self.assertEqual(st[1], 90)

    def test_grandchildren_only_reduce_their_parent(self):
        st = benchlib.self_times([span(1, 0, 0, 100), span(2, 1, 0, 60), span(3, 2, 0, 40)])
        self.assertEqual(st, {1: 40, 2: 20, 3: 40})

    def test_layer_totals(self):
        lt = benchlib.layer_totals([span(1, 0, 0, 4_000_000, "op"),
                                    span(2, 1, 0, 1_000_000, "a"),
                                    span(3, 1, 2_000_000, 3_000_000, "a")])
        self.assertEqual(lt["a"], (2, 2.0, 2.0))
        self.assertEqual(lt["op"], (1, 4.0, 2.0))


class Storage(unittest.TestCase):
    def test_new_and_rewritten_files_count(self):
        before = {"a": 10, "b": 20, "c": 5}
        after = {"a": 10, "b": 25, "d": 7}  # b rewritten, c deleted, d new
        self.assertEqual(benchlib.files_written(before, after), (2, 32))

    def test_nothing_written(self):
        self.assertEqual(benchlib.files_written({"a": 1}, {"a": 1}), (0, 0))

    def test_amplification(self):
        self.assertEqual(benchlib.write_amp(300, 100), 3.0)
        self.assertEqual(benchlib.space_amp(150, 100), 1.5)


class CriticalPath(unittest.TestCase):
    def test_longest_weighted_path(self):
        w = {"a": 1.0, "b": 5.0, "c": 1.0, "d": 2.0}
        edges = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]
        self.assertEqual(benchlib.critical_path(w, edges), 8.0)

    def test_edges_outside_the_run_ignored(self):
        self.assertEqual(benchlib.critical_path({"a": 2.0}, [("z", "a")]), 2.0)


class Determinism(unittest.TestCase):
    CATALOG = [(f"{fam}_{i}", fam) for fam in ("q", "txt", "sim") for i in range(6)]

    def test_draw_is_seeded(self):
        a = benchlib.draw_queries(self.CATALOG, 1)
        self.assertEqual(a, benchlib.draw_queries(self.CATALOG, 1))
        self.assertTrue(any(benchlib.draw_queries(self.CATALOG, s) != a for s in range(2, 6)))

    def test_draw_takes_one_per_family(self):
        for seed in range(20):
            d = benchlib.draw_queries(self.CATALOG, seed)
            self.assertEqual(sorted(q.split("_")[0] for q in d), ["q", "sim", "txt"])

    def test_single_query_family_drawn_every_seed(self):
        catalog = self.CATALOG + [("txt_char_lm_score", "resident")]
        for seed in range(20):
            self.assertIn("txt_char_lm_score", benchlib.draw_queries(catalog, seed))

    def test_shipped_catalog_draws_resident_query(self):
        path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                            "battery_catalog.tsv")
        self.assertIn(("txt_char_lm_score", "resident"), benchlib.read_catalog(path))

    def test_densest_takes_largest_window(self):
        costs = {"a": 161, "b": 213, "c": 324, "d": 362}
        self.assertEqual(benchlib.densest(costs, 0.07), ["c", "d"])

    def test_densest_prefers_cheaper_window_on_tie(self):
        self.assertEqual(benchlib.densest({"a": 466, "b": 315}, 0.07), ["b"])
        self.assertEqual(benchlib.densest({"a": 100}, 0.07), ["a"])

    def test_family(self):
        self.assertEqual(benchlib.family("q21_sole_late_supplier"), "tpch")
        self.assertEqual(benchlib.family("q_median"), "q")
        self.assertEqual(benchlib.family("txt_stats"), "txt")

    def test_shipped_catalog_parses(self):
        path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                            "battery_catalog.tsv")
        rows = benchlib.read_catalog(path)
        self.assertGreater(len(rows), 10)
        self.assertEqual(len({q for q, _ in rows}), len(rows))

    def assert_same_tree(self, a, b):
        cmp = filecmp.dircmp(a, b)
        self.assertEqual((cmp.left_only, cmp.right_only, cmp.diff_files), ([], [], []))
        for sub in cmp.common_dirs:
            self.assert_same_tree(os.path.join(a, sub), os.path.join(b, sub))

    def test_dbt_project_is_seeded(self):
        with tempfile.TemporaryDirectory() as t:
            e1 = benchlib.gen_dbt_project(5, os.path.join(t, "a"), "/data")
            e2 = benchlib.gen_dbt_project(5, os.path.join(t, "b"), "/data")
            benchlib.gen_dbt_project(6, os.path.join(t, "c"), "/data")
            self.assertEqual(e1, e2)
            self.assert_same_tree(os.path.join(t, "a"), os.path.join(t, "b"))
            differ = filecmp.dircmp(os.path.join(t, "a", "models"),
                                    os.path.join(t, "c", "models")).diff_files
            self.assertTrue(differ)
            self.assertIn("mb_events", e1["ticking"])


if __name__ == "__main__":
    unittest.main()

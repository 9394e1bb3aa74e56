"""Tests of the benchmark's own logic (no JVM, no data needed).

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import analysis  # noqa: E402
import workloads  # noqa: E402


class SeedTest(unittest.TestCase):
    def test_same_seed_same_statements_and_order(self):
        for w in workloads.WORKLOADS:
            a, b = workloads.make_plan(w, 7), workloads.make_plan(w, 7)
            self.assertEqual(a, b, w)

    def test_different_seed_different_statements(self):
        a = workloads.make_plan("sql_interactive", 1)
        b = workloads.make_plan("sql_interactive", 2)
        self.assertNotEqual([op["sql"] for op in a["ops"]], [op["sql"] for op in b["ops"]])
        self.assertNotEqual(a["passes"], b["passes"])

    def test_different_seed_different_row_order_same_rows(self):
        a, b = workloads.make_plan("pipeline_warm", 1), workloads.make_plan("pipeline_warm", 2)
        self.assertEqual(a["ops"], b["ops"])
        self.assertNotEqual(a["passes"], b["passes"])
        for p in a["passes"] + b["passes"]:
            self.assertEqual(sorted(p), list(range(len(a["ops"]))))

    def test_sql_mix_is_seed_independent(self):
        for seed in range(5):
            ops = workloads.make_plan("sql_interactive", seed)["ops"]
            self.assertEqual(sum(op["json"] for op in ops), round(len(ops) / 4))
            self.assertEqual(sum(op["id"].startswith("w_") for op in ops),
                             len(workloads.WRITE_TEMPLATES))


class TailPercentileTest(unittest.TestCase):
    def test_hundred_samples_gives_p90(self):
        p, v, beyond = analysis.tail_percentile(list(range(1, 101)))
        self.assertEqual((p, v, beyond), (90, 90, 10))

    def test_thousand_samples_gives_p99(self):
        p, v, beyond = analysis.tail_percentile(list(range(1000)))
        self.assertEqual((p, beyond), (99, 10))
        self.assertEqual(v, 989)

    def test_highest_percentile_with_ten_beyond(self):
        xs = [float(x) for x in range(30)]
        p, v, beyond = analysis.tail_percentile(xs)
        self.assertEqual((p, beyond), (66, 10))
        # one percentile higher would leave only 9 samples beyond it
        self.assertLess(30 - __import__("math").ceil(67 * 30 / 100), 10)
        self.assertEqual(v, 19.0)

    def test_order_of_input_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(analysis.tail_percentile(xs), analysis.tail_percentile(sorted(xs)))

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(analysis.tail_percentile([1.0, 2.0, 3.0])[:2], (50, 2.0))


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(analysis.self_time(0, 10, []), 10)

    def test_disjoint_children(self):
        self.assertEqual(analysis.self_time(0, 10, [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        # (1, 5) and (3, 7) overlap on (3, 5): together they cover 6, not 8
        self.assertEqual(analysis.self_time(0, 10, [(1, 5), (3, 7)]), 4)

    def test_nested_and_duplicate_children(self):
        self.assertEqual(analysis.self_time(0, 10, [(2, 8), (3, 4), (2, 8)]), 4)

    def test_children_sticking_out_are_clipped(self):
        self.assertEqual(analysis.self_time(0, 10, [(-5, 2), (9, 20)]), 7)

    def test_children_outside_are_ignored(self):
        self.assertEqual(analysis.self_time(0, 10, [(11, 12), (-3, -1)]), 10)

    def test_trace_self_times_with_overlapping_jobs(self):
        def span(i, parent, layer, name, start, end):
            return {"id": i, "parent": parent, "layer": layer, "name": name,
                    "start": start, "end": end, "op": 0}

        def job(i, start, end):
            return {"id": i, "group": "perfbench-op-0", "start": start, "end": end,
                    "ok": True, "stages": [i]}

        def stage(i, submit, end):
            return {"id": i, "submit": submit, "end": end, "tasks": 4}

        raw = {
            "spans": [span(0, -1, "op", "o", 0.0, 100.0),
                      span(1, 0, "queries", "eager", 0.0, 60.0),
                      span(2, 0, "queries", "exec", 60.0, 100.0)],
            # two concurrent jobs inside eager, one inside exec
            "jobs": [job(1, 10.0, 30.0), job(2, 20.0, 40.0), job(3, 70.0, 90.0)],
            "stages": [stage(1, 12.0, 28.0), stage(2, 20.0, 40.0), stage(3, 70.0, 90.0)],
        }
        runs = [{"seq": 0, "op": 0, "start": 0.0, "end": 100.0, "traced": True}]
        selfs = analysis.Trace(raw, runs).self_times()
        self.assertEqual(selfs["op.harness"], 0.0)
        self.assertEqual(selfs["queries.eager"], 30.0)  # 60 - union(10..40)
        self.assertEqual(selfs["queries.exec"], 20.0)
        self.assertEqual(selfs["spark.job"], 4.0 + 0.0 + 0.0)


class EndToEndTest(unittest.TestCase):
    def test_ops_per_s_uses_pass_wall_less_harness_checks(self):
        raw = {"setup_s": [1.0], "vm_hwm_kb": 1024,
               # pass 1 is traced and not among the runs measured
               "passes": [{"pass": 0, "start": 0.0, "end": 1000.0},
                          {"pass": 1, "start": 1000.0, "end": 3000.0}]}
        runs = [{"pass": 0, "start": 0.0, "end": 300.0, "harnessMs": 100.0,
                 "error": None, "mismatch": False},
                {"pass": 0, "start": 400.0, "end": 700.0, "harnessMs": 100.0,
                 "error": None, "mismatch": False}]
        e2e = analysis.end_to_end(raw, runs)
        # 2 operations in 1000 ms of pass wall, 200 ms of it harness checks;
        # the 200 ms between the operations that is not a check counts
        self.assertAlmostEqual(e2e["ops_per_s"], 2 / 0.8)
        self.assertEqual(e2e["op_p50_ms"], 300.0)


class ParseTest(unittest.TestCase):
    def test_table_and_empty_blocks(self):
        import checks
        text = "\n".join(["++", "++",
                          "+---+----+", "| a | b  |", "+---+----+",
                          "| 1 | xy |", "| 2 |    |", "+---+----+",
                          "++", "++"])
        self.assertEqual(checks.parse_blocks(text, False),
                         [[], [["1", "xy"], ["2", ""]], []])

    def test_json_blocks(self):
        import checks
        self.assertEqual(checks.parse_blocks('[]\n[{"a":1,"b":"x"}]', True),
                         [[], [[1, "x"]]])


if __name__ == "__main__":
    unittest.main()

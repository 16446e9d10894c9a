"""The benchmark's own tests: percentile rule, self-time arithmetic,
generator determinism and the metric names BENCHMARK.json declares.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import benchlib  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        value, pct, n = benchlib.tail(list(range(1, 22)))
        self.assertEqual((value, pct, n), (11, 100.0 * 11 / 21, 21))
        xs = [0.5] * 89 + [float(i) for i in range(1, 12)]
        value, pct, n = benchlib.tail(xs)
        self.assertEqual(value, 1.0)
        self.assertEqual(sum(x > value for x in xs), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        xs = list(range(30))
        self.assertEqual(benchlib.tail(xs[::-1]), benchlib.tail(xs))
        self.assertEqual(benchlib.tail(xs)[0], 19)

    def test_too_few_samples_reports_the_maximum(self):
        self.assertEqual(benchlib.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(benchlib.tail(list(range(20))), (19, 100.0, 20))


class SelfTime(unittest.TestCase):
    def test_overlapping_and_clipped_children(self):
        spans = [(0, "cycle", -1, "c0", 0, 100),
                 (1, "jobs.raw.run", 0, "c0", 10, 30),
                 (2, "catalog.register", 0, "c0", 20, 50),   # overlaps 1
                 (3, "sources.read", 1, "c0", 12, 18),       # grandchild of 0
                 (4, "sql.read", 0, "c0", 90, 120)]          # runs past its parent
        s = benchlib.self_times(spans)
        self.assertEqual(s[0], 100 - 40 - 10)
        self.assertEqual(s[1], 20 - 6)
        self.assertEqual(s[2], 30)
        self.assertEqual(s[3], 6)
        self.assertEqual(s[4], 30)

    def test_self_times_add_up_without_overlap(self):
        spans = [(0, "op", -1, "u", 0, 50), (1, "a", 0, "u", 0, 20), (2, "b", 0, "u", 25, 50)]
        s = benchlib.self_times(spans)
        self.assertEqual(sum(s.values()), 50)

    def test_merged_length(self):
        self.assertEqual(benchlib.merged_length([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(benchlib.merged_length([]), 0)


class TraceOverhead(unittest.TestCase):
    def test_compared_within_each_query(self):
        units = [{"name": "slow", "traced": True, "op_s": 2.1},
                 {"name": "slow", "traced": False, "op_s": 2.0},
                 {"name": "fast", "traced": False, "op_s": 0.1},
                 {"name": "fast", "traced": True, "op_s": 0.13},
                 {"name": "once", "traced": True, "op_s": 9.0}]
        self.assertAlmostEqual(benchlib.trace_overhead(units), 0.065)

    def test_every_query_traced_once_per_pass(self):
        # the traced operator_mix layout: one pass, each query run twice in
        # a row, the traced twin first in even passes
        names = ["q03", "tx_tfidf", "q38"]
        units = []
        for name in names:
            base = {"q03": 0.5, "tx_tfidf": 1.0, "q38": 0.2}[name]
            units += [{"name": name, "traced": True, "op_s": base + 0.02},
                      {"name": name, "traced": False, "op_s": base}]
        self.assertAlmostEqual(benchlib.trace_overhead(units), 0.02)
        res = {"units": [dict(u, id=f"{u['name']}#0.{i % 2}", family="Relational",
                              start_ms=0, end_ms=0) for i, u in enumerate(units)],
               "spans": [], "exec": [], "plan": []}
        self.assertAlmostEqual(benchlib.per_layer(res, "operator_mix")["trace.overhead_s"], 0.02)

    def test_cycles_compare_as_one_group(self):
        units = [{"traced": i % 2 == 0, "op_s": 1.0 + (0.1 if i % 2 == 0 else 0)} for i in range(6)]
        self.assertAlmostEqual(benchlib.trace_overhead(units), 0.1)


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            gen.fixtures(a, 7, 0.001)
            gen.fixtures(b, 7, 0.001)
            gen.fixtures(c, 8, 0.001)
            names = sorted(os.listdir(a))
            self.assertEqual(len(names), 10)
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            self.assertFalse(filecmp.cmp(os.path.join(a, "lineitem.parquet"),
                                         os.path.join(c, "lineitem.parquet"), shallow=False))

    def test_snapshots_repeat_and_match_their_expectations(self):
        import duckdb
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            p1 = gen.bulk_snapshots(a, 3, 2, 2000)
            p2 = gen.bulk_snapshots(b, 3, 2, 2000)
            self.assertEqual([x["agg"] for x in p1], [x["agg"] for x in p2])
            self.assertNotEqual(p1[0]["agg"], p1[1]["agg"])
            self.assertTrue(filecmp.cmp(p1[1]["path"], p2[1]["path"], shallow=False))
            got = duckdb.sql(
                f"SELECT l_returnflag, count(*), CAST(sum(l_quantity) AS BIGINT), "
                f"CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100) AS BIGINT) "
                f"FROM '{p1[0]['path']}' GROUP BY 1").fetchall()
            self.assertEqual({f: list(v) for f, *v in got}, p1[0]["agg"])


class Checks(unittest.TestCase):
    def test_expected_rows_format_exact_decimals(self):
        plan = [{"run_id": "r0", "agg": {"A": [9, 9, 9]}},
                {"run_id": "r1", "agg": {"A": [2, 30, 12345], "N": [1, 5, 7]}}]
        self.assertEqual(checks.bulk_rows(plan, 1), ["r1|A|2|30.00|123.45", "r1|N|1|5.00|0.07"])


class Declared(unittest.TestCase):
    def test_benchmark_json_names_what_the_run_reports(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
            spec = json.load(f)
        e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        self.assertEqual(e2e, benchlib.END_TO_END)
        layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
        self.assertEqual(layer, benchlib.per_layer_units())


if __name__ == "__main__":
    unittest.main()

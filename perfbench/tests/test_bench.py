"""The benchmark's own tests:

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "op": "op-1", "name": name, "start_ns": start, "end_ns": end}


class TailTest(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(stats.tail_with_10_beyond(list(range(10))))

    def test_eleven_samples_give_the_minimum(self):
        self.assertEqual(stats.tail_with_10_beyond(list(range(11)))[0], 0)

    def test_exactly_ten_samples_beyond(self):
        xs = [float(x) for x in range(100)]
        value, pct, n = stats.tail_with_10_beyond(xs[::-1])
        self.assertEqual(value, 89.0)
        self.assertEqual(sum(x > value for x in xs), 10)
        self.assertEqual((pct, n), (90.0, 100))

    def test_percentile_rises_with_samples(self):
        self.assertLess(stats.tail_with_10_beyond(list(range(40)))[1],
                        stats.tail_with_10_beyond(list(range(400)))[1])


class SelfTimeTest(unittest.TestCase):
    def test_leaf_keeps_its_duration(self):
        self.assertEqual(stats.self_times([span(0, -1, 10, 30)]), {0: 20})

    def test_children_are_subtracted(self):
        got = stats.self_times([span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 50, 60)])
        self.assertEqual(got, {0: 70, 1: 20, 2: 10})

    def test_overlapping_children_count_once(self):
        got = stats.self_times([span(0, -1, 0, 100), span(1, 0, 10, 50), span(2, 0, 40, 60)])
        self.assertEqual(got[0], 50)

    def test_children_are_clipped_to_the_parent(self):
        got = stats.self_times([span(0, -1, 10, 20), span(1, 0, 0, 15)])
        self.assertEqual(got[0], 5)

    def test_grandchildren_only_reduce_their_parent(self):
        got = stats.self_times([span(0, -1, 0, 100), span(1, 0, 0, 60), span(2, 1, 0, 50)])
        self.assertEqual(got, {0: 40, 1: 10, 2: 50})


class AgreementTest(unittest.TestCase):
    SPEC = [{"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
            {"name": "op_p50_s", "unit": "s", "better": "lower", "bound": 0.1},
            {"name": "success_rate", "unit": "ratio", "better": "higher", "bound": 0.01}]

    def runs(self, setup, op, ok=1.0):
        return {"setup_s": setup, "op_p50_s": op, "success_rate": [ok] * len(op)}

    def test_spread_is_quartile_distance_over_median(self):
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5]), (4.5 - 1.5) / 3)

    def test_same_runs_agree(self):
        r = self.runs([10, 11, 12, 10, 11], [1.0, 1.01, 0.99, 1.0, 1.02])
        self.assertEqual(stats.agreement(r, r, self.SPEC), [])

    def test_wide_spread_is_a_violation(self):
        r = self.runs([1, 5, 10, 20, 40], [1.0, 1.5, 0.7, 1.2, 0.8])
        bad = stats.agreement(r, r, self.SPEC)
        self.assertEqual({(n, w) for n, w, _, _ in bad},
                         {(n, w) for n in ("setup_s", "op_p50_s")
                          for w in ("first spread", "second spread")})

    def test_drift_in_the_worse_direction_is_a_violation(self):
        a = self.runs([10] * 5, [1.0, 1.01, 0.99, 1.0, 1.0])
        b = self.runs([10] * 5, [1.2, 1.21, 1.19, 1.2, 1.2])
        self.assertEqual([(n, w) for n, w, _, _ in stats.agreement(a, b, self.SPEC)],
                         [("op_p50_s", "median drift")])
        self.assertEqual(stats.agreement(b, a, self.SPEC), [])

    def test_higher_is_better_drifts_downwards(self):
        a = self.runs([10] * 5, [1.0] * 5, ok=1.0)
        b = self.runs([10] * 5, [1.0] * 5, ok=0.9)
        self.assertEqual([(n, w) for n, w, _, _ in stats.agreement(a, b, self.SPEC)],
                         [("success_rate", "median drift")])


class GeneratorTest(unittest.TestCase):
    def digest(self, d):
        return {p.relative_to(d).as_posix(): hashlib.sha256(p.read_bytes()).hexdigest()
                for p in sorted(Path(d).rglob("*")) if p.is_file()}

    def make(self, root, name, seed):
        d = Path(root) / name
        gen.generate(d, seed, 0.05)
        gen.generate_warehouse(d, d / "warehouse")
        return d

    def test_same_seed_same_bytes_other_seed_same_shape(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as root:
            a, b, c = self.make(root, "a", 3), self.make(root, "b", 3), self.make(root, "c", 4)
            self.assertEqual(self.digest(a), self.digest(b))
            self.assertNotEqual(self.digest(a), self.digest(c))
            for t in gen.TABLE_IDS:
                ta, tc = pq.read_table(a / f"{t}.parquet"), pq.read_table(c / f"{t}.parquet")
                self.assertEqual((ta.schema, ta.num_rows), (tc.schema, tc.num_rows), t)


class DeclaredCheckTest(unittest.TestCase):
    def test_reports_differing_and_unchecked_results(self):
        import json
        import duckdb
        with tempfile.TemporaryDirectory() as root:
            data, results = Path(root) / "data", Path(root) / "results"
            gen.generate(data, 1, 0.05)
            con = duckdb.connect()
            for name, sql in (("good", "SELECT r_name FROM region"),
                              ("short", "SELECT r_name FROM region LIMIT 3"),
                              ("unchecked", "SELECT 1 AS x")):
                (results / name).mkdir(parents=True)
                con.sql(f"COPY ({sql.replace('region', repr(str(data / 'region.parquet')))}) "
                        f"TO '{results / name / 'part.parquet'}' (FORMAT PARQUET)")
            oracle_sql = {"good": "SELECT r_name FROM region", "short": "SELECT r_name FROM region"}
            (results / "oracle_sql.json").write_text(json.dumps(oracle_sql))
            self.assertEqual(sorted(oracle.check_declared(results, data)), ["short", "unchecked"])


class MarkdownTest(unittest.TestCase):
    def test_renders_like_the_engine(self):
        import datetime
        import decimal
        md = oracle.markdown(["a", "b", "c"], [("x|y", decimal.Decimal("1.50"), datetime.date(2024, 1, 2)),
                                               (None, 3, "two\nlines")])
        self.assertEqual(md, "| a | b | c |\n| --- | --- | --- |\n"
                             "| x\\|y | 1.50 | 2024-01-02 |\n|  | 3 | two lines |\n")


if __name__ == "__main__":
    unittest.main()

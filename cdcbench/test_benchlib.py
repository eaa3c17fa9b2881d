"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s cdcbench -p 'test_*.py'
"""
import json
import os
import statistics
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib as bl  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(bl.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(bl.percentile([4, 1, 3, 2], 0.0), 1)
        self.assertEqual(bl.percentile([4, 1, 3, 2], 1.0), 4)
        self.assertAlmostEqual(bl.percentile(range(101), 0.9), 90.0)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            bl.percentile([], 0.5)

    def test_tail_needs_ten_samples_beyond(self):
        # below 20 samples even p75 has fewer than 10 beyond it
        self.assertEqual(bl.tail_quantile(19), 0.5)
        self.assertEqual(bl.tail_quantile(39), 0.5)
        self.assertEqual(bl.tail_quantile(40), 0.75)
        self.assertEqual(bl.tail_quantile(99), 0.75)
        self.assertEqual(bl.tail_quantile(100), 0.9)
        self.assertEqual(bl.tail_quantile(200), 0.95)
        self.assertEqual(bl.tail_quantile(1000), 0.99)
        self.assertEqual(bl.tail_quantile(10000), 0.999)
        for n in (20, 40, 100, 200, 1000, 10000, 12345):
            p = bl.tail_quantile(n)
            self.assertGreaterEqual(round(n * (1 - p), 9), bl.MIN_BEYOND)

    def test_tail_value(self):
        p, v = bl.tail(list(range(100)))
        self.assertEqual(p, 0.9)
        self.assertAlmostEqual(v, 89.1)

    def test_spread_matches_statistics_quantiles(self):
        vals = [10, 11, 9, 10.5, 9.5, 10, 12, 8, 10, 10]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(bl.spread(vals), (q3 - q1) / q2)
        self.assertEqual(bl.spread([5.0] * 10), 0.0)


class JournalTest(unittest.TestCase):
    def line(self, **kw):
        return json.dumps(kw)

    def test_first_record_per_epoch_in_epoch_order(self):
        lines = [
            self.line(epoch=1, millis=30, events=5, lineageMs=3, maintMs=7),
            self.line(epoch=0, millis=20, events=4, lineageMs=2),
            "",
            self.line(epoch=1, millis=99, events=5),  # a replay appends again
        ]
        recs = bl.parse_journal(lines)
        self.assertEqual([r["epoch"] for r in recs], [0, 1])
        self.assertEqual(recs[1]["millis"], 30)

    def test_totals_count_absent_phases_as_zero(self):
        recs = bl.parse_journal([
            self.line(epoch=0, millis=20, events=4, lineageMs=2, mergeWriteMs=10),
            self.line(epoch=1, millis=30, events=5, lineageMs=3, maintMs=7),
        ])
        t = bl.phase_totals(recs)
        self.assertEqual(t["lineageMs"], 5)
        self.assertEqual(t["mergeWriteMs"], 10)
        self.assertEqual(t["maintMs"], 7)
        self.assertEqual(t["commitMs"], 0)
        self.assertEqual((t["millis"], t["events"]), (50, 9))

    def test_malformed_lines_are_errors(self):
        with self.assertRaisesRegex(ValueError, "line 2"):
            bl.parse_journal([self.line(epoch=0, millis=1), "{not json"])
        with self.assertRaisesRegex(ValueError, "no epoch"):
            bl.parse_journal([self.line(millis=1)])


class OracleTest(unittest.TestCase):
    def test_canon_orders_columns_and_rows(self):
        df = pd.DataFrame({"b": [2, 1, 1], "a": ["y", "z", "x"]})
        c = bl.canon(df)
        self.assertEqual(list(c.columns), ["a", "b"])
        self.assertEqual(c["a"].tolist(), ["x", "y", "z"])
        self.assertEqual(list(c.index), [0, 1, 2])

    def test_match_ignores_row_and_column_order(self):
        got = pd.DataFrame({"k": ["a", "b"], "n": [1, 2]})
        exp = pd.DataFrame({"n": [2, 1], "k": ["b", "a"]})
        self.assertIsNone(bl.frames_match(got, exp))

    def test_nulls_sort_last_and_compare_equal(self):
        got = pd.DataFrame({"k": [None, "a"], "x": [float("nan"), 1.5]})
        exp = pd.DataFrame({"k": ["a", None], "x": [1.5, float("nan")]})
        self.assertIsNone(bl.frames_match(got, exp))

    def test_reports_each_kind_of_mismatch(self):
        base = pd.DataFrame({"k": ["a", "b"], "n": [1, 2]})
        self.assertIn("columns", bl.frames_match(
            base, base.rename(columns={"n": "m"})))
        self.assertIn("rows", bl.frames_match(base, base.head(1)))
        self.assertIn("col n", bl.frames_match(
            base, pd.DataFrame({"k": ["a", "b"], "n": [1, 3]})))
        # floats compare exactly, not within a tolerance
        self.assertIn("col x", bl.frames_match(
            pd.DataFrame({"x": [0.1 + 0.2]}), pd.DataFrame({"x": [0.3]})))


class FoldTest(unittest.TestCase):
    """The expected state: latest event per key decides visibility, each
    payload column keeps its latest non-null value."""

    def test_fold_in_duckdb(self):
        import duckdb
        rows = [
            # key a: updated, lang/content carried over nulls, commit not
            ("a", "p", "c1", "py", "v1", "I", 1, 0),
            ("a", "p", "c2", None, None, "U", 2, 0),
            # key b: deleted last -> invisible
            ("b", "p", "c3", "rs", "w1", "U", 3, 0),
            ("b", "p", "c4", "rs", "w2", "D", 4, 0),
            # key c: deleted, then revived with a null lang
            ("c", "p", "c5", "go", "x1", "I", 5, 0),
            ("c", "p", "c6", "go", "x2", "D", 6, 0),
            ("c", "p", "c7", None, "x3", "U", 7, 0),
            # key d: same lsn, seq breaks the tie
            ("d", "p", "c9", "md", "y2", "U", 8, 2),
            ("d", "p", "c8", "md", "y1", "U", 8, 1),
            # key e: a null commit keeps the earlier one
            ("e", "p", "c10", "sh", "z1", "I", 9, 0),
            ("e", "p", None, "sh", "z2", "U", 10, 0),
        ]
        values = ", ".join(
            "(" + ", ".join("NULL" if v is None else repr(v) for v in r) + ")"
            for r in rows)
        ev = ("SELECT * FROM (VALUES " + values + ") AS t(repo, path, "
              "commit, lang, content, op, commit_lsn, seq)")
        got = sorted(duckdb.connect().execute(bl.fold_sql(ev)).fetchall())
        self.assertEqual(got, [
            ("a", "p", "c2", "py", "v1"),
            ("c", "p", "c7", "go", "x3"),
            ("d", "p", "c9", "md", "y2"),
            ("e", "p", "c10", "sh", "z2"),
        ])


if __name__ == "__main__":
    unittest.main()

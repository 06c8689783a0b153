"""Self-tests of the cli_csv generator and the output checks:
    python3 -m unittest discover -s perfbench/tests
"""

import os
import re
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pb import check, clicsv  # noqa: E402


class Generator(unittest.TestCase):
    def texts(self, seed, sizes=(1, 2, 2)):
        return [t for r in clicsv.rounds(seed, list(sizes)) for t in r]

    def test_seeded_and_distinct(self):
        a = self.texts(5)
        self.assertEqual(a, self.texts(5))
        self.assertNotEqual(a, self.texts(6))
        self.assertEqual(len(a), 5 * len(clicsv.STRATA))
        self.assertEqual(len(set(a)), len(a))

    def test_every_round_holds_every_stratum_equally(self):
        def stratum(text):
            head, rest = text.split(" FROM ", 1)
            tables = rest.split(" WHERE ")[0].split(" GROUP BY ")[0].split(" ORDER BY ")[0]
            kind = ("distinct" if "DISTINCT" in head else "group" if "GROUP BY" in rest
                    else "order" if "LIMIT" in rest else "agg" if "(" in head
                    else "star" if head == "SELECT *" and "," not in tables else "rows")
            return kind, tables.replace(" ", "")
        rounds = clicsv.rounds(3, [1, 2, 2])
        first = sorted(map(stratum, rounds[1]))
        self.assertEqual(sorted(list(map(stratum, rounds[0])) * 2), first)
        self.assertEqual(sorted(map(stratum, rounds[2])), first)
        self.assertEqual(sorted(map(stratum, clicsv.rounds(4, [2])[0])), first)

    def test_covers_the_reference_grammar(self):
        text = "\n".join(self.texts(5))
        for feature in ["SELECT *", "DISTINCT", "GROUP BY", "ORDER BY", "LIMIT",
                        " AND ", " OR ", "FROM table1, table2, table3",
                        "FROM table1, table2 WHERE", "(("]:
            self.assertIn(feature, text, feature)
        for agg in clicsv.AGGREGATES:
            self.assertRegex(text, r"(?i)\b%s\(" % agg)
        for op in ["<", "<=", ">", ">=", "==", "!="]:
            self.assertIn(" %s " % op, text, op)
        self.assertRegex(text, r" = \d")
        self.assertRegex(text, r" -\d")

    def test_row_queries_are_bounded(self):
        for q in self.texts(9, [4, 4, 4]):
            if q.startswith("SELECT DISTINCT") or "(" in q.split(" FROM ")[0] \
                    or " LIMIT " in q:
                continue
            self.assertRegex(q, r"\bA (<|<=|>|>=|==) \d+|\b[BE] (<|<=|>|>=|==) \d+", q)

    def test_tables_are_seeded_quoted_and_keyed(self):
        small = {"table1": 300, "table2": 200, "table3": 100}
        with mock.patch.dict(clicsv.ROWS, small), tempfile.TemporaryDirectory() as d:
            clicsv.write_tables(os.path.join(d, "a"), 4)
            clicsv.write_tables(os.path.join(d, "b"), 4)
            for t in clicsv.TABLES:
                with open(os.path.join(d, "a", t + ".csv")) as f:
                    a = f.read()
                with open(os.path.join(d, "b", t + ".csv")) as f:
                    self.assertEqual(a, f.read())
                rows = [line.replace('"', "").split(",") for line in a.splitlines()]
                self.assertEqual(len(rows), small[t])
                self.assertEqual(sorted(int(r[0]) for r in rows), list(range(small[t])))
                self.assertIn('"', a)
                self.assertTrue(re.search(r"(^|,)\d", a))
            with open(os.path.join(d, "a", "metadata.txt")) as f:
                self.assertEqual(f.read().count("<begin_table>"), 3)


class RenderedOutput(unittest.TestCase):
    def test_parse(self):
        self.assertEqual(check.parse_rendered("A, B\n1, -2\nNULL, 2.5"),
                         [(1, -2), (None, 2.5)])
        self.assertEqual(check.parse_rendered("max(A)\nNo Results Found"), [])
        self.assertEqual(check.parse_rendered("avg(B)\n554.7272727272727"),
                         [(554.7272727272727,)])

    def test_compare(self):
        got = [(1, 2.0), (3, 4)]
        self.assertTrue(check.same_rows(got, [(3, 4), (1, 2)], ordered=False))
        self.assertFalse(check.same_rows(got, [(3, 4), (1, 2)], ordered=True))
        self.assertFalse(check.same_rows(got, [(1, 2)], ordered=False))
        self.assertFalse(check.same_rows([(None,)], [(0,)], ordered=False))
        self.assertTrue(check.same_rows([(1e16 / 3,)], [(1e16 / 3 + 1,)], ordered=True))


class CliOracle(unittest.TestCase):
    def test_duckdb_keeps_every_range(self):
        # the filter DuckDB 1.0.0 answers wrongly with filter pushdown on
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "t.csv"), "w") as f:
                f.write("6911,36250,131\n102238,\"36250\",258\n5,1,1\n")
            with open(os.path.join(d, "o.txt"), "w") as f:
                f.write("B\nNo Results Found")
            text = "SELECT B FROM t WHERE B <= 123 AND (E = 36250 AND B > E)"
            bad = check.check_cli(d, [text], ["o"], d, d, {"t": ["B", "E", "F"]})
            self.assertEqual(bad, {})


class CliJoinOracle(unittest.TestCase):
    def test_inequality_across_joined_tables(self):
        tables = {"table1": ["A", "B"], "table2": ["B", "E"], "table3": ["E", "H"]}
        rows = {"table1": "0,0\n1,1\n2,1\n", "table2": "0,0\n1,1\n", "table3": "0,5\n1,0\n"}
        text = ("SELECT table1.A FROM table1, table2, table3 WHERE table1.B = table2.B "
                "AND table2.E == table3.E AND (table3.H <= table1.B)")
        with tempfile.TemporaryDirectory() as d:
            for t, body in rows.items():
                with open(os.path.join(d, t + ".csv"), "w") as f:
                    f.write(body)
            for name, out in (("ok", "table1.A\n1\n2"), ("bad", "table1.A\n0")):
                with open(os.path.join(d, name + ".txt"), "w") as f:
                    f.write(out)
            bad = check.check_cli(d, [text, text], ["ok", "bad"], d, d, tables)
            self.assertEqual(list(bad), ["bad"])


class Frames(unittest.TestCase):
    def test_order_free_compare(self):
        import pandas as pd
        a = pd.DataFrame({"k": [2, 1], "v": [0.5, 0.25]})
        b = pd.DataFrame({"v": [0.25, 0.5], "k": [1, 2]})
        self.assertIsNone(check.compare_frames(a, b))
        self.assertIn("values differ", check.compare_frames(a, b.assign(v=[0.25, 0.75])))
        self.assertIn("rows", check.compare_frames(a, b.iloc[:1]))
        self.assertIn("columns", check.compare_frames(a, b.rename(columns={"v": "w"})))


if __name__ == "__main__":
    unittest.main()

"""Seeded inputs for the cli_csv workload: a metadata.txt catalog, three
integer CSV tables and ad-hoc query texts over the reference grammar.

Every key column is unique within its table and every foreign key points
into one, so a comma join on equality never fans out. Every query that
returns rows rather than aggregates carries a bound on a unique key, a
LIMIT or a low-cardinality column, so its output stays small.
"""

import os
import random

TABLES = {
    "table1": ["A", "B", "C", "D", "G"],
    "table2": ["B", "E", "F"],
    "table3": ["E", "H", "K"],
}
ROWS = {"table1": 200_000, "table2": 120_000, "table3": 60_000}
KEY = {"table1": "A", "table2": "B", "table3": "E"}
# column -> (low, high) of its values; keys are 0..rows-1
RANGE = {
    "table1": {"C": (-5000, 5000), "D": (-100, 100), "G": (0, 19)},
    "table2": {"F": (-1000, 1000)},
    "table3": {"H": (-50, 50), "K": (0, 9)},
}
LOW_CARD = {"table1": ["G", "D"], "table3": ["K", "H"]}
COMPARATORS = ["<", "<=", ">", ">=", "=", "==", "!="]
AGGREGATES = ["max", "min", "sum", "avg"]
QUOTED_SHARE = 0.25


def write_tables(out_dir, seed):
    """Write metadata.txt and one headerless CSV per table; about a
    quarter of the cells are double-quoted."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "metadata.txt"), "w") as f:
        for t, cols in TABLES.items():
            f.write("<begin_table>\n%s\n%s\n<end_table>\n" % (t, "\n".join(cols)))
    n2, n3 = ROWS["table2"], ROWS["table3"]
    for t, cols in TABLES.items():
        n = ROWS[t]
        keys = list(range(n))
        rng.shuffle(keys)
        data = {KEY[t]: keys}
        for c in cols:
            if c in data:
                continue
            if t == "table1" and c == "B":
                data[c] = [rng.randrange(n2) for _ in range(n)]
            elif t == "table2" and c == "E":
                data[c] = [rng.randrange(n3) for _ in range(n)]
            else:
                lo, hi = RANGE[t][c]
                data[c] = [rng.randint(lo, hi) for _ in range(n)]
        quoted = [rng.random() < QUOTED_SHARE for _ in range(n * len(cols))]
        with open(os.path.join(out_dir, t + ".csv"), "w") as f:
            k = 0
            lines = []
            for i in range(n):
                cells = []
                for c in cols:
                    v = data[c][i]
                    cells.append('"%d"' % v if quoted[k] else str(v))
                    k += 1
                lines.append(",".join(cells))
            f.write("\n".join(lines))
            f.write("\n")


class _Gen:
    def __init__(self, rng):
        self.rng = rng

    def col(self, tables, qualify):
        t = self.rng.choice(tables)
        c = self.rng.choice(TABLES[t])
        return t, c, ("%s.%s" % (t, c) if qualify else c)

    def literal(self, t, c):
        if c == KEY[t]:
            return self.rng.randrange(ROWS[t])
        if c in RANGE[t]:
            lo, hi = RANGE[t][c]
        else:  # foreign keys
            lo, hi = 0, ROWS["table2" if c == "B" else "table3"] - 1
        return self.rng.randint(lo, hi)

    def leaf(self, tables, qualify):
        t, c, ref = self.col(tables, qualify)
        op = self.rng.choice(COMPARATORS)
        if self.rng.random() < 0.2:
            _, _, other = self.col(tables, qualify)
            return "%s %s %s" % (ref, op, other)
        return "%s %s %d" % (ref, op, self.literal(t, c))

    def tree(self, tables, qualify, depth):
        """Nested AND/OR; parentheses only sometimes, so that AND binding
        tighter than OR is exercised too."""
        if depth == 0 or self.rng.random() < 0.3:
            return self.leaf(tables, qualify)
        op = self.rng.choice(["AND", "OR"])
        a = self.tree(tables, qualify, depth - 1)
        b = self.tree(tables, qualify, depth - 1)
        text = "%s %s %s" % (a, op, b)
        return "(%s)" % text if self.rng.random() < 0.6 else text

    def bound(self, t, qualify):
        """A predicate on a unique key that admits at most ~400 rows."""
        key = "%s.%s" % (t, KEY[t]) if qualify else KEY[t]
        n, k = ROWS[t], self.rng.randint(1, 400)
        return self.rng.choice([
            "%s < %d" % (key, k),
            "%s <= %d" % (key, k),
            "%s >= %d" % (key, n - k),
            "%s > %d" % (key, n - k),
            "%s == %d" % (key, self.rng.randrange(n)),
        ])

    def where(self, tables, qualify, bounded_on=None, joins=()):
        parts = list(joins)
        if bounded_on:
            parts.append(self.bound(bounded_on, qualify))
        if self.rng.random() < 0.8 or not parts:
            tree = self.tree(tables, qualify, self.rng.randint(1, 3))
            parts.append("(%s)" % tree if parts else tree)
        return " AND ".join(parts)

    def agg(self, t, c, qualify):
        name = self.rng.choice(AGGREGATES)
        name = name.upper() if self.rng.random() < 0.3 else name
        return "%s(%s)" % (name, "%s.%s" % (t, c) if qualify else c)

    def projection(self, tables, qualify, k):
        cols = [(t, c) for t in tables for c in TABLES[t]]
        picked = self.rng.sample(cols, min(k, len(cols)))
        return ["%s.%s" % p if qualify else p[1] for p in picked]

    def join(self, n):
        tables = ["table1", "table2", "table3"][:n]
        eq = lambda: self.rng.choice(["=", "=="])
        joins = ["table1.B %s table2.B" % eq()]
        if n == 3:
            joins.append("table2.E %s table3.E" % eq())
        return tables, joins

    # One method per query shape. Each takes the stratum's argument: the
    # table it reads, or the number of tables it joins.
    def project(self, t):
        q = self.rng.random() < 0.3
        cols = self.projection([t], q, self.rng.randint(1, len(TABLES[t])))
        return "SELECT %s FROM %s WHERE %s" % (
            ", ".join(cols), t, self.where([t], q, bounded_on=t))

    def star(self, t):
        return "SELECT * FROM %s WHERE %s" % (t, self.where([t], False, bounded_on=t))

    def distinct(self, t):
        cols = self.rng.sample(LOW_CARD[t], self.rng.randint(1, 2))
        where = " WHERE " + self.where([t], False) if self.rng.random() < 0.7 else ""
        return "SELECT DISTINCT %s FROM %s%s" % (", ".join(cols), t, where)

    def aggregate(self, t):
        aggs = [self.agg(t, self.rng.choice(TABLES[t]), False)
                for _ in range(self.rng.randint(1, 4))]
        where = " WHERE " + self.where([t], False) if self.rng.random() < 0.7 else ""
        return "SELECT %s FROM %s%s" % (", ".join(aggs), t, where)

    def join_rows(self, n):
        tables, joins = self.join(n)
        if self.rng.random() < 0.2:
            cols = ["*"]
        else:
            cols = self.projection(tables, True, self.rng.randint(1, 5))
        return "SELECT %s FROM %s WHERE %s" % (
            ", ".join(cols), ", ".join(tables),
            self.where(tables, True, bounded_on="table1", joins=joins))

    def join_aggregate(self, n):
        tables, joins = self.join(n)
        aggs = []
        for _ in range(self.rng.randint(1, 3)):
            t = self.rng.choice(tables)
            aggs.append(self.agg(t, self.rng.choice(TABLES[t]), True))
        return "SELECT %s FROM %s WHERE %s" % (
            ", ".join(aggs), ", ".join(tables),
            self.where(tables, True, joins=joins))

    def group_by(self, t):
        g = LOW_CARD[t][0]
        others = [c for c in TABLES[t] if c != g]
        aggs = [self.agg(t, self.rng.choice(others), False)
                for _ in range(self.rng.randint(1, 3))]
        where = " WHERE " + self.where([t], False) if self.rng.random() < 0.5 else ""
        order = " ORDER BY %s" % g if self.rng.random() < 0.5 else ""
        return "SELECT %s, %s FROM %s%s GROUP BY %s%s" % (
            g, ", ".join(aggs), t, where, g, order)

    def order_limit(self, t):
        cols = self.projection([t], False, self.rng.randint(1, 3))
        if KEY[t] not in cols:
            cols.append(KEY[t])  # a unique column makes the order total
        keys = ["%s %s" % (c, self.rng.choice(["ASC", "DESC"])) for c in cols]
        where = " WHERE " + self.where([t], False) if self.rng.random() < 0.5 else ""
        return "SELECT %s FROM %s%s ORDER BY %s LIMIT %d" % (
            ", ".join(cols), t, where, ", ".join(keys), self.rng.randint(1, 50))


# A stratum is a shape with the table it reads or the number of tables it
# joins: what sets a query's cost, since every query scans whole tables.
# Every round holds each stratum equally often, so rounds, and runs on
# different seeds, cost about the same.
STRATA = ([(_Gen.project, t) for t in TABLES] + [(_Gen.star, t) for t in TABLES]
          + [(_Gen.distinct, t) for t in LOW_CARD] + [(_Gen.aggregate, t) for t in TABLES]
          + [(_Gen.join_rows, n) for n in (2, 3)] + [(_Gen.join_aggregate, n) for n in (2, 3)]
          + [(_Gen.group_by, t) for t in LOW_CARD] + [(_Gen.order_limit, t) for t in TABLES])


def rounds(seed, sizes):
    """One round of query texts per entry of `sizes`, round i holding
    sizes[i] texts of every stratum in an order shuffled by the seed. No
    text repeats."""
    rng = random.Random(seed * 7919 + 1)
    gen, seen, out = _Gen(rng), set(), []
    for per_stratum in sizes:
        texts = []
        for shape, arg in STRATA * per_stratum:
            text = shape(gen, arg)
            while text in seen:
                text = shape(gen, arg)
            seen.add(text)
            texts.append(text)
        rng.shuffle(texts)
        out.append(texts)
    return out

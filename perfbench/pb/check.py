"""Output checks, run after the timed region. Oracle answers come from
DuckDB; each failed check is a message keyed by query name."""

import glob
import hashlib
import math
import os

PARQUET_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]


def _connect(scratch):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET temp_directory = '%s'" % os.path.join(scratch, "duckdb.tmp"))
    # a query that spills more than this fails its check instead of
    # filling the disk
    con.execute("SET max_temp_directory_size = '2GB'")
    return con


# -- cli_csv -----------------------------------------------------------

def _cell(text):
    if text == "NULL":
        return None
    try:
        return int(text)
    except ValueError:
        return float(text)


def parse_rendered(text):
    """Rows of a ResultFormatter.render output, without its header."""
    lines = text.split("\n")
    if lines[1:] == ["No Results Found"]:
        return []
    return [tuple(_cell(c) for c in line.split(", ")) for line in lines[1:]]


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)


def _key(row):
    return tuple((v is None, 0 if v is None else float(v)) for v in row)


def same_rows(got, want, ordered):
    """Row lists equal up to float rounding; as multisets unless ordered."""
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=_key), sorted(want, key=_key)
    return all(len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
               for g, w in zip(got, want))


def check_cli(data_dir, texts, names, out_dir, scratch, tables):
    """Compare each rendered output under out_dir/<name>.txt against
    DuckDB running the same text over the same CSVs."""
    con = _connect(scratch)
    for t, cols in tables.items():
        spec = ", ".join("'%s': 'BIGINT'" % c for c in cols)
        con.execute("CREATE TABLE %s AS SELECT * FROM read_csv('%s', header=false, "
                    "quote='\"', columns={%s})" % (t, os.path.join(data_dir, t + ".csv"), spec))
    bad = {}
    for name, text in zip(names, texts):
        path = os.path.join(out_dir, name + ".txt")
        if not os.path.exists(path):
            continue  # the check pass already recorded why
        with open(path) as f:
            got = parse_rendered(f.read())
        # DuckDB 1.0.0's filter pushdown drops a range when the column is
        # also compared with a column pinned to a constant: given
        # `B <= 123 AND E = 36250 AND B > E` it keeps only B > 36250. The
        # generator writes such filters, so single-table queries run
        # without that pass. A comma join needs it to become a join, but
        # runs without join reordering: with it, a 3-way join filtered on
        # `table3.H <= table1.B` spilled until the disk was full; in the
        # written order, table1, table2, table3, the joins follow the
        # equality keys and it took 10 ms.
        single = "," not in text.upper().split(" FROM ")[1].split(" WHERE ")[0]
        con.execute("SET disabled_optimizers = '%s'" % (
            "filter_pushdown" if single else "join_order"))
        try:
            want = con.execute(text.replace("==", "=")).fetchall()
        except Exception as e:  # unverifiable counts as failed
            bad[name] = "DuckDB could not run it: %s" % e
            continue
        if not same_rows(got, want, "ORDER BY" in text.upper()):
            bad[name] = "rows differ from DuckDB (%d vs %d rows)" % (len(got), len(want))
    con.close()
    return bad


# -- inventory ---------------------------------------------------------

def _norm(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_localize(None)
    return df


def compare_frames(got, want):
    """None when equal after sorting columns by name and rows by all
    columns, else the first difference."""
    d, s = _norm(want), _norm(got)
    if list(d.columns) != list(s.columns):
        return "columns %s vs oracle %s" % (list(s.columns), list(d.columns))
    if len(d) != len(s):
        return "%d rows vs oracle %d" % (len(s), len(d))
    for c in d.columns:
        if str(d[c].dtype) != str(s[c].dtype):
            return "%s: dtype %s vs oracle %s" % (c, s[c].dtype, d[c].dtype)
        eq = (d[c].isna() & s[c].isna()) | (d[c] == s[c])
        if not eq.all():
            return "%s: %d values differ" % (c, int((~eq).sum()))
    return None


def read_output(out_dir, name):
    import pyarrow.dataset as ds
    return ds.dataset(os.path.join(out_dir, name)).to_table().to_pandas()


def _oracle_answer(con, sql, sf_dir, cache_dir):
    """DuckDB's answer to `sql`, cached by the SQL text and the dataset's
    file sizes and times: it does not depend on the program under test,
    and a few oracle queries take half a minute."""
    import pandas as pd
    h = hashlib.sha1(sql.encode())
    for t in PARQUET_TABLES:
        st = os.stat(os.path.join(sf_dir, t + ".parquet"))
        h.update(("%s:%d:%d" % (t, st.st_size, st.st_mtime_ns)).encode())
    path = os.path.join(cache_dir, h.hexdigest() + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).fetchdf()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def check_inventory(sf_dir, names, oracle, out_dir, scratch, cache_dir):
    """Each output against DuckDB running the query's oracle SQL; a query
    without oracle SQL fails its check."""
    con = _connect(scratch)
    for t in PARQUET_TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(sf_dir, t + ".parquet")))
    bad = {}
    for name in names:
        if not glob.glob(os.path.join(out_dir, name, "*.parquet")):
            continue  # the check pass already recorded why
        if oracle.get(name):
            why = compare_frames(read_output(out_dir, name),
                                 _oracle_answer(con, oracle[name], sf_dir, cache_dir))
        else:
            why = "no oracle SQL"
        if why:
            bad[name] = why
    con.close()
    return bad

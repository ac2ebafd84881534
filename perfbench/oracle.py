"""Output check for catalogue lines: each line's Spark output (parquet,
one directory per line) against its `SparkEntry.oracleSql` query run in
DuckDB over the same tables. Columns are compared sorted by name, rows
positionally (every line ends in an ORDER BY on a unique key), values
exactly (floats bit for bit, NaN equal to NaN)."""
import glob
import math

import duckdb


def _same(e, g):
    if isinstance(e, float) or isinstance(g, float):
        if e is None or g is None:
            return e is g
        return e == g or (math.isnan(e) and math.isnan(g))
    return e == g


def _sorted_rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], [[r[i] for i in order] for r in cur.fetchall()]


def compare(tables_dir, tables, out_dir, name, sql):
    """Return None when `name`'s output matches its oracle, else a reason."""
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    if not files:
        return "no output"
    if not sql:
        return "no oracle"
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    try:
        ecols, exp = _sorted_rows(con, sql)
    except duckdb.Error as e:
        return f"oracle error: {e}"
    gcols, got = _sorted_rows(con, f"SELECT * FROM read_parquet({files!r})")
    if ecols != gcols:
        return f"columns {gcols} != {ecols}"
    if len(exp) != len(got):
        return f"rows {len(got)} != {len(exp)}"
    for i, (er, gr) in enumerate(zip(exp, got)):
        for c, e, g in zip(ecols, er, gr):
            if not _same(e, g):
                return f"row {i} col {c}: {g!r} != {e!r}"
    return None

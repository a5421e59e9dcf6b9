"""DuckDB oracle check for the benchmark's written outputs.

Each query's output (a directory of parquet part files) is compared with
its `SparkEntry.oracleSql` query run in DuckDB over the same fixture. The
comparison is the one `tools/oracle_check.py` makes: columns sorted by name,
rows in order, values rendered by dtype (floats at 6 dp), dtype kinds equal;
only values that are not already equal are rendered.
Fixture tables may be single files (`t.parquet`) or directories of part files
(`t.parquet/*.parquet`, the sf1 layout); both are read through glob views.
"""
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(fixture_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(fixture_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def table_rows(con):
    return {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
            for t in TABLES}


def _cell(v):
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "NULL"
    if isinstance(v, (np.floating, float)):
        return f"{float(v):.6f}"
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def _same_values(x, y):
    """Whether two columns render the same, value for value. Only values that
    are neither equal nor both missing, or are zeros of opposite sign, are
    rendered."""
    if len(x) != len(y):
        return False
    kinds = x.dtype.kind + y.dtype.kind
    try:
        if kinds == "ff":
            a, b = x.to_numpy(dtype=np.float64), y.to_numpy(dtype=np.float64)
            nulls = np.isnan(a) & np.isnan(b)
            differ = ~nulls & ((a != b) | (np.signbit(a) != np.signbit(b)))
        else:
            differ = np.asarray(x.to_numpy() != y.to_numpy(), dtype=bool)
    except (TypeError, ValueError):  # values without a plain truth value, as pd.NA
        differ = np.ones(len(x), dtype=bool)
    return all(_cell(x.iat[i]) == _cell(y.iat[i]) for i in np.flatnonzero(differ))


def _kinds(df):
    cols = sorted(df.columns)
    return cols, [df[c].dtype.kind for c in cols]


def check(con, sql, dirs):
    """Compare every output dir with the oracle. Returns one (ok, reason) per
    dir."""
    try:
        want = con.execute(sql).df()
    except Exception as e:  # the oracle itself fails: nothing can be checked
        return [(False, f"oracle failed: {e}")] * len(dirs)
    wc, wk = _kinds(want)
    out = []
    for d in dirs:
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{os.path.join(d, '*.parquet')}')").df()
        except Exception as e:  # a missing or unreadable output is a failure
            out.append((False, f"unreadable: {e}"))
            continue
        gc, gk = _kinds(got)
        if gc != wc:
            out.append((False, f"columns {gc} vs oracle {wc}"))
        elif gk != wk:
            out.append((False, f"dtype kinds {gk} vs oracle {wk}"))
        elif not all(_same_values(got[c], want[c]) for c in gc):
            out.append((False, "rows differ from the oracle's"))
        else:
            out.append((True, "oracle-equal"))
    return out

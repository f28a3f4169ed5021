"""Oracle check: every op's output against its DuckDB oracle SQL.

The harness writes each op's output (parquet, or the pipeline's CSV for the
CSV op) plus `oracle_sql.json` holding `SparkEntry.oracleSql` for the same
ops. DuckDB runs each oracle over the same generated tables. Parquet
outputs are canonicalized and compared the way `scripts/selfcheck.py` does
it (column order, row order, float tolerance 1e-9, int-vs-float dtype
drift is a failure); the CSV is checked for header and row count.
"""
import glob
import json
import os

import duckdb

from gen import TABLES


def canon(df):
    """selfcheck.py's canonical form: sorted columns, stringified objects,
    rows sorted by every column."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def diff(got, want):
    """First difference between two canonical frames, or None if equal."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        if (a.dtype.kind == "f") != (b.dtype.kind == "f"):
            return f"col {c}: dtype {a.dtype} vs {b.dtype}"
        if a.dtype.kind == "f":
            af, bf = a.astype(float), b.astype(float)
            neq = ~(((af - bf).abs() <= 1e-9 + 1e-9 * bf.abs()) | (af.isna() & bf.isna()))
            if neq.any():
                i = neq.idxmax()
                return f"col {c} row {i}: {af[i]!r} vs {bf[i]!r}"
        elif not a.equals(b):
            neq = a.astype(str) != b.astype(str)
            if neq.any():
                i = neq.idxmax()
                return f"col {c} row {i}: {a[i]!r} vs {b[i]!r}"
    return None


def _spark_output(con, out_dir, name):
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    if not files:
        raise ValueError("no output files")
    return con.execute(f"SELECT * FROM read_parquet({files!r})").df()


def _check_csv(out_dir, name, want):
    """The CSV sink's file against the oracle: its header must name the
    oracle's columns in order and it must hold as many rows. Values are
    not compared: Spark's CSV writer trims leading and trailing blanks of
    string fields by default, so a headline cut after a blank reads back
    different from the oracle's."""
    files = sorted(p for p in glob.glob(os.path.join(out_dir, name, "*.csv"))
                   if os.path.getsize(p) > 0)
    if len(files) != 1:
        return f"expected one CSV part file, found {len(files)}"
    with open(files[0], encoding="utf-8") as f:
        header = f.readline().rstrip("\n").split(",")
        rows = sum(1 for _ in f)
    if header != list(want.columns):
        return f"CSV header {header} vs oracle {list(want.columns)}"
    if rows != len(want):
        return f"CSV rows {rows} vs oracle {len(want)}"
    return None


def check(out_dir, data_dir, ops):
    """Compare each op's output with its oracle. `ops` is [(name, csv)].
    Returns {name: None if it matched, else a one-line reason}."""
    with open(os.path.join(out_dir, "oracle_sql.json"), encoding="utf-8") as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    result = {}
    for name, csv in ops:
        try:
            want = con.execute(oracle[name]).df()
            result[name] = (_check_csv(out_dir, name, want) if csv else
                            diff(canon(_spark_output(con, out_dir, name)), canon(want)))
        except Exception as e:  # a failed read or oracle is a mismatch
            result[name] = f"{type(e).__name__}: {e}"[:300]
    return result


def corrupt(out_dir, name):
    """Damage one op's parquet output in place (its first row's first
    column is nulled), for the self-test that proves the check can fail."""
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    con = duckdb.connect()
    rows = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
    for p in files:
        os.remove(p)
    rows.iloc[0, 0] = None
    con.register("damaged", rows)
    con.execute(f"COPY damaged TO '{os.path.join(out_dir, name, 'part-0.parquet')}' (FORMAT parquet)")

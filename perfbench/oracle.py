"""DuckDB oracle check of the query rows' results.

For each row the benchmark JVM wrote its result as parquet plus a Spark
fingerprint (row count and content hash, taken twice from two
constructions).  A row's fingerprint is accepted when both
fingerprints agree and, for rows with oracle SQL, when the result equals
the DuckDB result of that SQL over the same tables; rows without oracle
SQL must return rows and every boolean gate column must be true.

Values are compared as tools/diffcheck.py compares them: columns sorted
by name, timestamps at microsecond precision, a column compared as
floats when either side is floating, other values by equality; rows are
compared as multisets, so row order does not matter.
"""
import decimal
import glob
import math
import os

import duckdb
import numpy as np
import pandas as pd


def _norm(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0 else v
    if isinstance(v, (np.floating,)):
        return _norm(float(v))
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, decimal.Decimal):
        return _norm(float(v))
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, pd.Timestamp):
        return int(v.value // 1000)
    return v


def _rows(df, float_cols, ts_cols):
    out = []
    for c in sorted(df.columns):
        s = df[c]
        if c in ts_cols:
            t = pd.to_datetime(s).astype("datetime64[us]")
            s = pd.Series([None if pd.isna(x) else int(x.value // 1000) for x in t])
        elif c in float_cols:
            s = s.astype(float)
        out.append([_norm(x) for x in s.tolist()])
    return sorted(repr(r) for r in zip(*out))


def compare(spark_df, duck_df):
    """Returns None when equal, else a description of the first difference."""
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return f"columns spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}"
    if len(spark_df) != len(duck_df):
        return f"rows spark={len(spark_df)} duck={len(duck_df)}"
    def either(kind):
        return {c for c in spark_df.columns
                if spark_df[c].dtype.kind == kind or duck_df[c].dtype.kind == kind}
    ts_cols = either("M")
    float_cols = either("f") - ts_cols
    a, b = _rows(spark_df, float_cols, ts_cols), _rows(duck_df, float_cols, ts_cols)
    if a != b:
        diff = sorted(set(a) ^ set(b))[:1]
        return f"content differs, e.g. {diff}"
    return None


def gate_failures(df):
    """Rows-only rows: must return rows, and boolean columns must hold."""
    if len(df) == 0:
        return "no rows"
    bad = [c for c in df.columns if df[c].dtype == bool and not df[c].all()]
    return f"gate columns not all true: {bad}" if bad else None


def verify(records, result_dir, data_dir):
    """records: row -> fingerprint record from the JVM's fingerprint mode."""
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET enable_progress_bar=false")  # stdout's last line is the result
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for row, r in sorted(records.items()):
        v = {"family": r.get("family"), "rows": r.get("rows"), "hash": r.get("hash"), "ok": False}
        if "error" in r:
            v["detail"] = f"Spark failed: {r['error']}"
        elif (r["rows"], r["hash"]) != (r["rows2"], r["hash2"]):
            v["detail"] = "nondeterministic: two constructions gave different fingerprints"
        else:
            files = glob.glob(os.path.join(result_dir, row, "*.parquet"))
            spark_df = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
            if r.get("oracle_sql"):
                try:
                    v["detail"] = compare(spark_df.reset_index(drop=True),
                                          con.execute(r["oracle_sql"]).fetchdf())
                except Exception as e:  # noqa: BLE001 - a broken oracle fails the row
                    v["detail"] = f"oracle SQL failed: {e}"
                v["check"] = "oracle"
            else:
                v["detail"] = gate_failures(spark_df)
                v["check"] = "rows-only"
            v["ok"] = v["detail"] is None
        out[row] = v
    return out

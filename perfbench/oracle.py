"""DuckDB oracle check of the outputs a benchmark run dumped.

Query keys are checked against `SparkEntry.oracleSql`, serving requests
against DuckDB SQL with the same parameters. The comparison follows
tools/check.py: columns sorted by name, rows sorted, timestamps unified
to microseconds, non-float columns equal as strings, float columns
exact or within 1e-9.
"""
import datetime
import os
import time

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        if str(df[c].dtype) in ("datetime64[us]", "datetime64[ns]"):
            df[c] = df[c].astype("datetime64[us]")
        if str(df[c].dtype) == "date32[day][pyarrow]":
            df[c] = pd.to_datetime(df[c])
        if df[c].dtype == object and len(df) and isinstance(
                df[c].dropna().iloc[0] if df[c].notna().any() else None,
                datetime.date):
            df[c] = pd.to_datetime(df[c])
    return df.sort_values(by=list(df.columns), ignore_index=True,
                          na_position="last")


def compare(mine: pd.DataFrame, theirs: pd.DataFrame):
    """None when equal under the rules above, else the reason."""
    a, b = normalize(mine), normalize(theirs)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]):
            d = (a[c].fillna(-1e308) - b[c].astype(float).fillna(-1e308)).abs().max()
            if not d < 1e-9:
                return f"column {c}: float maxdiff {d}"
        elif not a[c].astype(str).equals(b[c].astype(str)):
            i = (a[c].astype(str) != b[c].astype(str)).idxmax()
            return f"column {c} row {i}: {a[c][i]!r} vs {b[c][i]!r}"
    return None


def serve_sql(name, args, feature_cols):
    if name == "latestFeatureRow":
        return "SELECT * FROM features ORDER BY time DESC LIMIT 1"
    if name == "priceHistory":
        return f"SELECT * FROM events ORDER BY ts DESC, event_id DESC LIMIT {args[0]}"
    if name == "page":
        return f"SELECT * FROM events ORDER BY event_id LIMIT {args[1]} OFFSET {args[0]}"
    if name == "tableStatus":
        return ("SELECT count(*) AS n_rows, min(ts) AS min_ts, max(ts) AS max_ts "
                "FROM events")
    if name == "featureStatus":
        return "SELECT count(*) AS n_total, " + ", ".join(
            f'count("{c}") AS "n_{c}"' for c in feature_cols) + " FROM features"
    if name == "chartSeries":
        return ("WITH r AS (SELECT *, row_number() OVER (ORDER BY ts, event_id) AS rn, "
                "count(*) OVER () AS n FROM events) SELECT * EXCLUDE (rn, n) FROM r "
                f"WHERE (rn - 1) % CAST(ceil(n / {args[0]}.0) AS BIGINT) = 0")
    raise ValueError(name)


def connect(data_dir, out_dir):
    """A DuckDB connection with one view per input table, and the stored
    feature view if the run wrote one."""
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                    f"SELECT * FROM read_parquet('{data_dir}/{f}')")
    if os.path.isdir(os.path.join(out_dir, "features")):
        con.execute("CREATE VIEW features AS SELECT * FROM "
                    f"read_parquet('{out_dir}/features/*.parquet')")
    return con


def check(result, inputs, out_dir):
    """One record per dumped output: its name, and whether it matched.
    `inputs` maps each input name a check can carry to its directory."""
    cons = {k: connect(d, out_dir) for k, d in inputs.items()}
    feature_cols = []
    if os.path.isdir(os.path.join(out_dir, "features")):
        feature_cols = [r[0] for r in cons["data"].execute("DESCRIBE features").fetchall()
                        if r[0] != "time"]
    records = []
    for c in result["checks"]:
        name = c["name"]
        t0 = time.time()
        try:
            sql = result["oracle_sql"].get(name) or serve_sql(name, c["args"], feature_cols)
            why = compare(pd.read_parquet(c["dir"]), cons[c["input"]].execute(sql).df())
        except Exception as ex:  # an unreadable dump or failing SQL is a mismatch
            why = f"error: {ex}"
        records.append({"name": name, "args": c["args"], "ok": why is None,
                        "s": round(time.time() - t0, 3),
                        **({"why": why} if why else {})})
    return records

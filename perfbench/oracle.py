"""One-off output check against the program's DuckDB twin queries.

Each output the JVM dumped as parquet is compared, as a multiset of rows
with columns in name order, to its twin query run by DuckDB over the same
generated inputs. An output without a twin must be non-empty.
"""
import glob
import os

import duckdb
import pandas as pd


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        kind = str(df[c].dtype)
        if kind.startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None else str(v))
        elif kind.startswith("float"):
            df[c] = df[c].astype("float64")
        elif kind.startswith("int"):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="mergesort") \
        .reset_index(drop=True)


def _read_dir(path: str) -> pd.DataFrame:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def compare(data_dir: str, tables, dumped: dict) -> dict:
    """Return {output: None if it matches its twin, else a mismatch note}."""
    con = duckdb.connect()
    for t in tables:
        files = os.path.join(data_dir, f"{t}.parquet", "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{files}')")
    verdicts = {}
    for name, d in sorted(dumped.items()):
        try:
            got = _read_dir(d["dir"])
            if d["oracle_sql"] is None:
                verdicts[name] = None if len(got) > 0 else "no rows"
                continue
            got = _norm(got)
            want = _norm(con.execute(d["oracle_sql"]).fetchdf())
        except Exception as e:  # a failing twin is a failed check, not a crash
            verdicts[name] = f"{type(e).__name__}: {e}"[:300]
            continue
        if list(got.columns) != list(want.columns):
            verdicts[name] = (f"columns: program {list(got.columns)} "
                              f"twin {list(want.columns)}")
        elif len(got) != len(want):
            verdicts[name] = f"rows: program {len(got)} twin {len(want)}"
        elif not got.equals(want):
            bad = [c for c in got.columns if not got[c].equals(want[c])]
            verdicts[name] = f"values differ in {bad}"
        else:
            verdicts[name] = None
    return verdicts

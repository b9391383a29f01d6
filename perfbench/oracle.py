"""DuckDB oracle check for the stream_stores workload.

Each pipeline's answer (parquet under <out>/<query>) is compared with
its registered oracle SQL run by DuckDB over the same generated tables.
Both sides are canonicalised the way tools/oracle_check.py does it:
columns sorted by name, doubles rounded to 6 places, rows sorted. The
digest is the SHA-256 of the canonical rows, so two runs on one seed
can be compared from their artifacts.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "datetime" in str(df[c].dtype):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]").astype(str)
        elif df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def digest(df):
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


def check(sf_dir, out_dir):
    """Yields (query, ok, digest-or-reason) per pipeline in oracle_sql.json."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        con.sql(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    for name, sql in oracle.items():
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            yield name, False, "no output"
            continue
        try:
            spark = canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
            duck = canon(con.sql(sql).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            yield name, False, f"oracle error: {e}"
            continue
        if list(spark.columns) != list(duck.columns):
            yield name, False, f"columns {list(spark.columns)} != {list(duck.columns)}"
        elif len(spark) != len(duck):
            yield name, False, f"{len(spark)} rows != oracle {len(duck)}"
        elif not spark.equals(duck):
            yield name, False, "values differ from the oracle"
        else:
            yield name, True, digest(spark)

"""Targeted contract check: like drive_contract.py but only for the
query names passed on the command line (fast iteration on a change
that touches a known set of oracle-paired queries). Same vanilla
session, same compare. Usage:

    python tools/check_subset.py neardup_ngram_jaccard dedup_corpus_greedy ...
"""
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

SF = (os.environ.get("CHECK_SF") or os.environ.get("EFS_SF_DIR")
      or "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

names = sys.argv[1:]
assert names, "pass query names"

_builder = (
    SparkSession.builder.master("local[*]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.ui.showConsoleProgress", "false")
)
# replica-scale checks need a bigger heap than pyspark's 1g default
# (memory sizing is outside the bit-exactness contract; default path
# stays vanilla) — same knob as drive_contract.py
if os.environ.get("EFS_DRIVER_MEM"):
    _builder = _builder.config("spark.driver.memory", os.environ["EFS_DRIVER_MEM"])
spark = _builder.getOrCreate()
import __spark_entry__ as e

con = duckdb.connect()
for t in TABLES:
    p = os.path.join(SF, f"{t}.parquet")
    if os.path.isdir(p):  # replica dirs are Spark parquet DIRECTORIES
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    elif os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                pass
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def vhash(df):
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


q, o = e.queries(), e.oracle_sql()
fails = []
for name in names:
    if name not in q:
        fails.append((name, "NOT REGISTERED"))
        print(f"{name}: NOT REGISTERED")
        continue
    try:
        spdf = norm(q[name](spark, SF).toPandas())
        if name in o:
            ddf = norm(con.execute(o[name]).df())
            ok = (
                list(spdf.columns) == list(ddf.columns)
                and len(spdf) == len(ddf)
                and vhash(spdf) == vhash(ddf)
            )
            status = f"hash-ok ({len(spdf)} rows)" if ok else (
                f"MISMATCH spark={len(spdf)} duck={len(ddf)} "
                f"cols {list(spdf.columns)} vs {list(ddf.columns)}"
            )
        else:
            ok = len(spdf) > 0
            status = f"rows-ok ({len(spdf)})" if ok else "EMPTY"
    except Exception as ex:
        ok, status = False, f"ERROR {type(ex).__name__}: {ex}"[:300]
    if not ok:
        fails.append((name, status))
    print(f"{name}: {status}")
print(json.dumps({"checked": len(names), "failed": fails}))
spark.stop()

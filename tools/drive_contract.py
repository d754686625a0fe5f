"""Vanilla-driver contract check: fresh SparkSession with ONLY the
driver's configs, every registered query vs its DuckDB oracle."""
import hashlib, os, sys, json
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

# override for degenerate-regime sweeps (e.g. sf0.001, where tiny
# groups / empty tails / single-day spans exercise the edge paths the
# driver's sf0.01 compare never reaches)
SF = os.environ.get("EFS_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

builder = (
    SparkSession.builder.master("local[*]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.ui.showConsoleProgress", "false")
)
# Replica-scale runs (EFS_SF_DIR=/tmp/sf1x10 etc.) need a bigger heap
# than pyspark's 1g default — memory SIZING is not part of the
# bit-exactness contract, so this stays opt-in and the default path
# stays byte-for-byte the driver's vanilla session.
if os.environ.get("EFS_DRIVER_MEM"):
    builder = builder.config("spark.driver.memory", os.environ["EFS_DRIVER_MEM"])
spark = builder.getOrCreate()
# harness log hygiene ONLY (session stays vanilla): the allowlisted
# bounded unpartitioned windows each print a benign WindowExec WARN
# that buries real warnings; plan_audit.py remains the actual guard
from elastic_freight_spark.session import quiet_benign_window_warnings

quiet_benign_window_warnings(spark)

import __spark_entry__ as e

rows = e.entry(spark).collect()
assert len(rows) == 8 and sum(r["n_docs"] for r in rows) > 0, "entry() contract"
print("entry() ok:", len(rows), "shards")

con = duckdb.connect()
# Replica-scale runs: cap DuckDB's memory (default is 80% of RAM —
# a runaway oracle at 100x would otherwise eat the whole box before
# erroring). Like EFS_DRIVER_MEM this is opt-in sizing, not part of
# the bit-exactness contract.
if os.environ.get("EFS_DUCK_MEM"):
    con.execute(f"SET memory_limit='{os.environ['EFS_DUCK_MEM']}'")
for t in TABLES:
    p = os.path.join(SF, f"{t}.parquet")
    if os.path.isdir(p):
        # replica dirs (tools/replicate_10x.py) are Spark parquet
        # DIRECTORIES, not single files — glob the part files so the
        # oracle contract can also run at 10x/100x scale
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    elif os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try: df[c] = df[c].dt.tz_localize(None)
            except TypeError: pass
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), ignore_index=True)

def vhash(df):
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()

q, o = e.queries(), e.oracle_sql()
# comma-separated names to fence out — the deliberately-quadratic
# audit twins when driving at sf0.1 (EFS_SF_DIR), mirroring
# sweep_registry.py's AUDIT_TIER fence
skip = {s for s in os.environ.get("EFS_SKIP", "").split(",") if s}
# EFS_ONLY: comma-separated subset to run (resume a long replica-scale
# battery after a fence, or spot-check one family) — empty means all.
only = {s for s in os.environ.get("EFS_ONLY", "").split(",") if s}
fails = []
skipped = []  # every query NOT executed (EFS_SKIP or EFS_ONLY filter)
import time as _time

for i, name in enumerate(q):
    if name in skip or (only and name not in only):
        skipped.append(name)
        if name in skip:
            print(f"[{i+1}/{len(q)}] {name}: SKIPPED (EFS_SKIP)", flush=True)
        continue
    _t0 = _time.perf_counter()
    try:
        spdf = norm(q[name](spark, SF).toPandas())
        if name in o:
            ddf = norm(con.execute(o[name]).df())
            ok = (list(spdf.columns) == list(ddf.columns)
                  and len(spdf) == len(ddf) and vhash(spdf) == vhash(ddf))
            status = "hash-ok" if ok else "MISMATCH"
        else:
            ok = len(spdf) > 0
            status = "rows-ok" if ok else "EMPTY"
    except Exception as ex:
        ok, status = False, f"ERROR {type(ex).__name__}: {ex}"[:200]
    dt = _time.perf_counter() - _t0
    if not ok:
        fails.append((name, status))
    # per-query line (flushed) so long replica-scale batteries are
    # monitorable mid-run; failures stay grep-able by MISMATCH/ERROR
    print(f"[{i+1}/{len(q)}] {name}: {status} ({dt:.1f}s)", flush=True)
# ran/skipped make a subset run (EFS_ONLY / EFS_SKIP) distinguishable
# from a full-contract pass in the tail capture (round-9 advice): a
# green run with skipped > 0 is NOT a full pass. EFS_SKIP names are
# listed while small (the documented fences); a large ad-hoc skip set
# (e.g. fencing a whole family while bisecting) is capped at 10 names
# + a remainder count so the summary stays inside the ~1.5 KB compact
# budget the ~2 KB driver tail capture relies on (round-10 advice).
# An EFS_ONLY subset is summarized by count for the same reason.
_skip_names = sorted(skip & set(q))
if len(_skip_names) > 10:
    _skip_names = _skip_names[:10] + [f"+{len(_skip_names) - 10} more"]
print(json.dumps({
    "total": len(q), "ran": len(q) - len(skipped), "skipped": len(skipped),
    "efs_skip": _skip_names, "efs_only": len(only),
    "oracled": len(o), "failed": fails,
}))
spark.stop()

"""Simulate the correctness driver: import __spark_entry__ from this
checkout, build a VANILLA SparkSession (none of the repo's tuned configs),
run entry(), then run every queries() entry at sf0.01 against oracle_sql()
via DuckDB with an order-insensitive value-hash compare."""
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from oracle_diff import driver_hash
from pyspark.sql import SparkSession

import __spark_entry__ as mod
from bench import duckdb_connect
from tidb_gateway_spark.catalog import TABLES

spark = SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

# --- smoke: entry() on a vanilla session
t0 = time.time()
edf = mod.entry(spark)
rows = edf.collect()
print(f"entry(): {len(rows)} rows, schema={edf.schema.simpleString()}, {time.time()-t0:.1f}s")
assert len(rows) >= 0

SF_DIR = "/root/testdata/sf0.01"
con = duckdb_connect(SF_DIR, TABLES)

qs = mod.queries()
oracles = mod.oracle_sql()
# optional argv qid prefixes restrict the run (targeted re-verification
# after a rework); no args = the full driver-faithful sweep
if sys.argv[1:]:
    qs = {q: f for q, f in qs.items()
          if any(q.startswith(p) for p in sys.argv[1:])}
print(f"{len(qs)} queries, {len(oracles)} oracles")
fails = []
for qid, fn in sorted(qs.items()):
    t0 = time.time()
    # the real driver records a per-query err instead of aborting the
    # whole window — mirror that (r7: q190's canonicalizer TypeError)
    try:
        sdf = fn(spark, SF_DIR)
        spdf = sdf.toPandas()
        el = time.time() - t0
        if qid not in oracles:
            print(f"  {qid}: rows-only ({len(spdf)} rows) {el:.1f}s")
            continue
        dpdf = con.execute(oracles[qid]).fetchdf()
        ok = len(spdf) == len(dpdf) and driver_hash(spdf) == driver_hash(dpdf)
    except Exception as exc:  # noqa: BLE001
        print(f"  {qid}: ERR {type(exc).__name__}: {exc}")
        fails.append(qid)
        continue
    print(f"  {qid}: {'OK' if ok else 'MISMATCH'} ({len(spdf)} rows) {el:.1f}s")
    if not ok:
        fails.append(qid)
print("FAILURES:", fails if fails else "none")
sys.exit(1 if fails else 0)

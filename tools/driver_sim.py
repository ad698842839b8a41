"""Simulate the driver: smoke entry(), then run every queries() entry at
sf0.01 against its oracle_sql() via DuckDB — count/schema/value compare."""
import sys, hashlib
sys.path.insert(0, "/root/repo")
import duckdb
import __spark_entry__ as e
from sparkstreaming_spark.session import get_spark

spark = get_spark("driver-sim")
df = e.entry(spark)
rows = df.collect()
print(f"entry(): {len(rows)} rows, schema={df.columns}")
assert len(rows) > 0

con = duckdb.connect()
SF = "/root/testdata/sf0.01"
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

def valhash(pdf):
    pdf = pdf[sorted(pdf.columns)].copy()
    import pandas as pd
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pd.to_datetime(pdf[c]).dt.floor("ms")
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(9)
    rows = sorted(tuple(str(v) for v in r) for r in pdf.itertuples(index=False))
    return hashlib.sha256(str(rows).encode()).hexdigest()[:16]

from sparkstreaming_spark.suite.invariants import INVARIANTS

qs, oracles = e.queries(), e.oracle_sql()
fails = 0
for name, fn in sorted(qs.items()):
    spdf = fn(spark, SF).toPandas()
    if name in oracles:
        dpdf = con.sql(oracles[name]).df()
        cnt = len(spdf) == len(dpdf)
        cols = sorted(spdf.columns) == sorted(dpdf.columns)
        h = valhash(spdf) == valhash(dpdf)
        status = "OK " if (cnt and cols and h) else "FAIL"
        if status == "FAIL": fails += 1
        print(f"{status} {name}: rows {len(spdf)}/{len(dpdf)} cols={cols} hash={h}")
    elif name in INVARIANTS:
        # rows-only entry WITH an executable invariant: independent
        # reference recomputation (suite/invariants.py) replaces the
        # bare row count, so these report a real verdict too
        try:
            msg = INVARIANTS[name](spark, SF, spdf)
        except Exception as ex:  # invariant crash = failure, not a skip
            msg = f"invariant raised {type(ex).__name__}: {ex}"
        if msg is None:
            print(f"OK  {name}: rows {len(spdf)} [invariant]")
        else:
            fails += 1
            print(f"FAIL {name}: [invariant] {msg}")
    else:
        print(f"rows-only {name}: {len(spdf)} rows")
    # drop frames queries cached: without this the 300+-query session
    # accumulates memory pressure (perfbench's pass clears them the same way)
    spark.catalog.clearCache()
print("FAILURES:", fails)
sys.exit(1 if fails else 0)

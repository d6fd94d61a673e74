"""Mimic the driver's CORRECTNESS gate: every queries() entry vs its
oracle_sql() in DuckDB at sf0.01 — row count, schema, sorted-value equality."""
import sys, time, traceback

import os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import numpy as np
import duckdb

from geoclimate_spark.session import get_spark
import __spark_entry__ as E

SF = "/root/testdata/sf0.01"
only = set(sys.argv[1:])

spark = get_spark(cores=8)
spark.sparkContext.setLogLevel("ERROR")
con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    con.execute(f"create view {t} as select * from read_parquet('{SF}/{t}.parquet')")

qs, os_ = E.queries(), E.oracle_sql()
names = [n for n in qs if not only or n in only]
fails = []
for name in names:
    t0 = time.time()
    try:
        sdf = qs[name](spark, SF).toPandas()
        spark.catalog.clearCache()
        odf = con.execute(os_[name]).fetchdf()
        cols = sorted(sdf.columns)
        assert cols == sorted(odf.columns), f"schema {cols} vs {sorted(odf.columns)}"
        a = sdf[cols].sort_values(cols).reset_index(drop=True)
        b = odf[cols].sort_values(cols).reset_index(drop=True)
        assert len(a) == len(b), f"rows {len(a)} vs {len(b)}"
        for c in cols:
            if a[c].dtype == object:
                assert (a[c].values == b[c].values).all(), f"col {c}"
            else:
                av = a[c].to_numpy(dtype="float64", na_value=np.nan)
                bv = b[c].to_numpy(dtype="float64", na_value=np.nan)
                assert np.array_equal(av, bv, equal_nan=True), f"col {c}"
        print(f"PASS {name:36s} n={len(a)} ({time.time()-t0:.1f}s)", flush=True)
    except Exception as e:
        fails.append(name)
        print(f"FAIL {name:36s} {type(e).__name__}: {str(e)[:200]} ({time.time()-t0:.1f}s)", flush=True)
        traceback.print_exc(limit=2)

print(f"\n{len(names)-len(fails)}/{len(names)} pass; FAILS: {fails}")
spark.stop()
sys.exit(1 if fails else 0)

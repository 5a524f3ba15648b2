"""Local stand-in for the driver's correctness gate: run every
__spark_entry__ query on Spark and its oracle on DuckDB at sf0.01,
compare row count + order-insensitive values.  Exits 1 when any query
fails (or the SF dir does not exist).

Usage: [SPARK_GRAFT_CPUS=4] python BENCH/check_correctness.py [sf_dir] [query ...]
(local[SPARK_GRAFT_CPUS], default: all cores)."""
import os, sys, math
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import __spark_entry__ as E
from polars_iptools_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
only = sys.argv[2:] if len(sys.argv) > 2 else None
if not os.path.isdir(SF):
    sys.exit(f"no such SF dir: {SF}")

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
spark = get_spark(master=f"local[{CPUS}]", shuffle_partitions=CPUS)
spark.sparkContext.setLogLevel("ERROR")
E._ensure_importable(spark)  # executor imports independent of launch cwd
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def canon(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]
            if isinstance(v, float):
                if math.isnan(v): v = "nan"
                else: v = round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)

qs = E.queries(); os_ = E.oracle_sql()
fails = []
for name, fn in qs.items():
    if only and name not in only: continue
    try:
        sdf = fn(spark, SF)
        spark_rows = [r.asDict() for r in sdf.collect()]
        cols = sorted(sdf.columns)
    except Exception as e:
        print(f"{name}: SPARK ERROR {e}"); fails.append(name); continue
    if name not in os_:
        print(f"{name}: rows-only ({len(spark_rows)} rows)"); continue
    try:
        ddf = con.execute(os_[name]).fetch_arrow_table().to_pylist()
    except Exception as e:
        print(f"{name}: DUCKDB ERROR {str(e)[:200]}"); fails.append(name); continue
    dcols = sorted(ddf[0].keys()) if ddf else cols
    if cols != dcols:
        print(f"{name}: COLUMN MISMATCH {cols} vs {dcols}"); fails.append(name); continue
    a, b = canon(spark_rows, cols), canon(ddf, cols)
    if len(a) != len(b):
        print(f"{name}: ROWCOUNT {len(a)} vs {len(b)}"); fails.append(name); continue
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
        print(f"{name}: VALUE MISMATCH e.g. {diff}"); fails.append(name); continue
    print(f"{name}: OK ({len(a)} rows)")
print("FAILS:", fails if fails else "none")
spark.stop()
sys.exit(1 if fails else 0)

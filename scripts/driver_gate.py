"""Value gate: run every catalog entry at sf0.01 and compare it with its
DuckDB oracle (MATCH / MISMATCH / rows-only / ERROR per entry).

    python scripts/driver_gate.py                 # all entries
    python scripts/driver_gate.py pip_ zonal      # entries whose name contains any substring

Cores come from $SPARK_GRAFT_CPUS, else the CPUs this process may run on.
"""
import sys, math, os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.chdir("/tmp")  # foreign cwd like the driver might use
import duckdb, pandas as pd
import __spark_entry__ as E
from htrc_ingester_spark.session import get_spark

SF = "/root/testdata/sf0.01"
cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
spark = get_spark("gate", cores=cores, shuffle_partitions=cores)
qs, osql = E.queries(), E.oracle_sql()
picks = sys.argv[1:]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.sql(f"create view {t} as select * from '{SF}/{t}.parquet'")

def canon(df):
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if isinstance(v, float):
                row.append(round(v, 6) if not math.isnan(v) else "nan")
            else:
                row.append(str(v))
        rows.append(tuple(row))
    return sorted(rows)

fails = []
for name in sorted(qs):
    if picks and not any(p in name for p in picks):
        continue
    try:
        got = qs[name](spark, SF).toPandas()
        if name in osql:
            want = con.sql(osql[name]).df()
            ok = sorted(got.columns) == sorted(want.columns) and len(got) == len(want) and canon(got) == canon(want)
            status = "MATCH" if ok else "MISMATCH"
        else:
            status = f"rows-only({len(got)})"
            ok = True
    except Exception as e:
        status, ok = f"ERROR: {repr(e)[:100]}", False
    if not ok: fails.append(name)
    print(f"{name:32s} {status}", flush=True)
print("FAILS:", fails)

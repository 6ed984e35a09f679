"""Driver-simulation: exercise the __spark_entry__ contract at sf0.01."""
import math, os, sys, time
sys.path.insert(0, "/root/repo")
import duckdb
import __spark_entry__ as entry_mod
from presto_weather_spark.session import TABLE_NAMES
from pyspark.sql import SparkSession

SF = "/root/testdata/sf0.01"
# Vanilla session on purpose — the real driver does NOT use build_session,
# so any reliance on our session presets must fail here too.
spark = (
    SparkSession.builder.master("local[16]")
    .appName("drive")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "16g")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

# 1. smoke: entry()
df = entry_mod.entry(spark)
n = df.count()
print(f"entry(): {n} rows, schema: {[f.name for f in df.schema.fields]}")
assert n > 0

# 1b. smoke: the streaming sources on a vanilla session — catches signature
# or schema drift in the s14* path up front, before the 3-minute query loop.
from presto_weather_spark.session import load_table
from presto_weather_spark.streaming.pipeline import documents_stream, events_stream
sdf_stream = events_stream(spark, SF)
assert sdf_stream.isStreaming, "events_stream must return a streaming frame"
ts_type = dict((f.name, f.dataType.simpleString()) for f in sdf_stream.schema.fields)["ts"]
assert ts_type == "timestamp", f"events_stream ts must normalize to timestamp, got {ts_type}"
print(f"events_stream(): streaming schema ok (ts={ts_type})")
sdf_docs = documents_stream(spark, SF)
assert sdf_docs.isStreaming, "documents_stream must return a streaming frame"
assert sdf_docs.schema == load_table(spark, SF, "documents").schema, (
    f"documents_stream schema drifted from the batch read: {sdf_docs.schema.simpleString()}"
)
print(f"documents_stream(): streaming schema ok ({sdf_docs.schema.simpleString()})")

qs = entry_mod.queries()
oracles = entry_mod.oracle_sql()
con = duckdb.connect()
for t in TABLE_NAMES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def norm(df):
    df = df[sorted(df.columns)]
    def nv(v):
        if v is None: return None
        if isinstance(v, float):
            if math.isnan(v): return "NaN"
            return repr(v + 0.0)
        return str(v)
    return sorted(tuple(nv(v) for v in r) for r in df.itertuples(index=False, name=None))

ok = fail = 0
for name, fn in sorted(qs.items()):
    t0 = time.time()
    try:
        sdf = fn(spark, SF).toPandas()
        if name in oracles:
            ddf = con.execute(oracles[name]).fetchdf()
            match = (len(sdf) == len(ddf)
                     and sorted(sdf.columns) == sorted(ddf.columns)
                     and norm(sdf) == norm(ddf))
            status = "MATCH" if match else "MISMATCH"
        else:
            status = f"ROWS-ONLY({len(sdf)})"
            match = True
    except Exception as e:
        status = f"ERROR: {type(e).__name__}: {str(e)[:120]}"
        match = False
    if match: ok += 1
    else: fail += 1
    print(f"{name:40s} {status:12s} {time.time()-t0:6.1f}s")
print(f"\n{ok} ok, {fail} fail")

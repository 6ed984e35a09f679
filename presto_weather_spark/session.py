"""SparkSession factory and table loading.

Scale notes (100 TB design intent, tested on local[32]):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  sort-merge -> broadcast demotion replace hand-tuned plans.
- ``spark.sql.shuffle.partitions`` is sized for the local test harness; on a
  real cluster AQE's ``advisoryPartitionSizeInBytes`` governs post-shuffle
  sizing, so the static number only sets the pre-AQE upper bound.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (naive-UTC timestamps).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import ArrayType, DataType, LongType, MapType, StructField, StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def scratch_base() -> str:
    """Root for ALL engine scratch: shuffle/blockmgr files (spark.local.dir),
    temporary streaming checkpoints (java.io.tmpdir), and the staged
    write-then-read-back query outputs (operators._util.scratch_root).

    Round-11 optimization (guide §6): scratch is pure intra-job state —
    shuffle files live for one stage, stream checkpoints for one query,
    staged parquet for one session — so it belongs on the fastest local
    storage available, not on the OS temp dir's backing disk where every
    write also queues page-cache writeback that taxes LATER queries (the
    round-10 s34 in-bench-inflation finding). Selection order:

    - ``SPARK_GRAFT_SCRATCH_DIR`` if set — on a production cluster point
      this at the fast local-disk mount (NVMe scratch), exactly like
      ``spark.local.dir`` is provisioned on real deployments;
    - ``/dev/shm`` when it exists and is writable (Linux tmpfs — RAM-backed,
      no writeback; the 128 GiB harness sandbox runs sf0.1 scratch in the
      tens of MB, so capacity is a non-issue there);
    - the OS temp dir otherwise (the pre-round-11 behavior).
    """
    env = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    if env:
        os.makedirs(env, exist_ok=True)
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return shm
    import tempfile

    return tempfile.gettempdir()


def build_session(app_name: str = "presto_weather_spark", cpus: int | None = None) -> SparkSession:
    """Create (or reuse) the engine's SparkSession with scale-aware defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # Shuffle/blockmgr scratch AND the JVM temp dir (temporary streaming
    # checkpoint roots) go to the fast scratch base — see scratch_base().
    local_dir = os.path.join(scratch_base(), "pws-spark-local")
    os.makedirs(local_dir, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.local.dir", local_dir)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # A long session compiles one generated class per codegen stage;
        # the JVM's default 240 MB code cache fills after ~50 queries and
        # the JIT silently stops compiling, leaving compute-heavy stages
        # interpreted (~10x). Bigger cache + flushing keeps the JIT alive.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
            f"-Djava.io.tmpdir={local_dir}",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # A source table may carry TIMESTAMP(NANOS), which Spark's reader
        # rejects; read_parquet_table reads it as long and converts it by
        # exact integer division (going through double would lose precision).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of the source table ``name`` under ``sf_dir``;
    Catalyst pushes filters and column pruning into it.

    One path, ``read_parquet_table``: the schema comes from the parquet
    footer, so the read launches no Spark job. TIMESTAMP(NANOS) columns
    are truncated exactly to microseconds. Naive (NTZ) timestamps are
    declared TIMESTAMP, which reads them as naive UTC only when the session
    timezone is UTC: ``build_session`` sets it, and a caller passing its
    own session must set it too."""
    return read_parquet_table(spark, os.path.join(sf_dir, f"{name}.parquet"))


def read_parquet_table(
    spark: SparkSession, path: str, stream_dir: str | None = None
) -> DataFrame:
    """The one way a parquet table is read, as a batch frame or, over the
    staged ``stream_dir``, as a file-source stream.

    The schema comes from the table's own footer (``footer_schema``) and is
    passed through ``.schema(...)``, so no read runs Spark's per-read
    schema-inference job. A missing or unreadable footer raises pyarrow's
    error, which names the path. Every timestamp column arrives as plain
    TIMESTAMP:

    - TIMESTAMP(NANOS), which Spark's reader rejects outright
      (PARQUET_TYPE_ILLEGAL), is declared long under ``nanosAsLong`` and
      truncated to microseconds by exact integer ``DIV 1000``, matching
      DuckDB's ns->us cast. The conf is set only when the footer has such
      columns, and deliberately not restored: Spark re-reads it at physical
      planning of every action on the returned frame. Callers of the query
      contract may pass a vanilla SparkSession, so this happens at read
      time, not only in ``build_session``.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark would infer as
      TIMESTAMP_NTZ, is declared TIMESTAMP. Spark reads the stored value
      unshifted, so this equals the naive-UTC reading DuckDB uses only
      under a UTC session timezone.
    """
    schema, nanos = footer_schema(path)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream if stream_dir else spark.read
    df = reader.schema(schema).parquet(stream_dir or path)
    for c in nanos:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return df


def footer_schema(path: str) -> tuple[StructType, list[str]]:
    """The schema Spark's file source infers for the parquet table at
    ``path`` (a bare file or a directory of part files) when naive
    timestamps are read as TIMESTAMP (see ``read_parquet_table``), taken
    from the footer alone; returns it with the TIMESTAMP(NANOS) column
    names.

    Every field is nullable, as Spark makes it. Nanosecond timestamps map
    to long, and INT96 (Spark's own timestamp encoding) to TIMESTAMP."""
    footer = pq.ParquetDataset(path, coerce_int96_timestamp_unit="us").schema
    nanos = [
        f.name for f in footer if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]
    fields = [
        StructField(f.name, LongType() if f.name in nanos else _nullable(f.dataType))
        for f in from_arrow_schema(footer)
    ]
    return StructType(fields), nanos


def _nullable(t: DataType) -> DataType:
    """``t`` with every nested field, element and map value nullable."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType)) for f in t])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType))
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType))
    return t


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every driver table as a temp view (for the SQL API path)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

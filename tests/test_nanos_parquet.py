"""Regression: the driver's parquet may carry TIMESTAMP(NANOS) columns
(round-1 correctness run failed with PARQUET_TYPE_ILLEGAL on every query
touching ``events``).  ``load_table`` must read them on a *vanilla*
SparkSession — the driver harness does not use ``build_session``, so the
nanosAsLong escape hatch has to be applied at read time."""

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from presto_weather_spark.session import TABLE_NAMES, footer_schema, load_table
from presto_weather_spark.streaming.pipeline import _run_to_memory, events_stream

SF_DIRS = [os.path.join(os.path.dirname(SF_DIR), sf) for sf in ("sf0.001", "sf0.01", "sf0.1")]


@pytest.fixture(scope="module")
def nanos_dir(tmp_path_factory):
    """A bare-file ns ``events`` table, plus under ``parts/`` a
    directory-shaped one of two part files whose ns values carry a
    sub-microsecond remainder (row i: hour i, i microseconds, i ns)."""
    d = tmp_path_factory.mktemp("nanos_sf")
    ts = pa.array(
        [1704067200_000000000 + i * 3600_000000000 for i in range(10)],
        pa.timestamp("ns"),
    )
    t = pa.table(
        {
            "event_id": pa.array(range(10), pa.int64()),
            "ts": ts,
            "value": pa.array([float(i) for i in range(10)]),
        }
    )
    pq.write_table(t, str(d / "events.parquet"))
    parts = d / "parts" / "events.parquet"
    parts.mkdir(parents=True)
    ts_parts = pa.array(
        [1704067200_000000000 + i * (3600_000000000 + 1001) for i in range(10)],
        pa.timestamp("ns"),
    )
    t_parts = t.set_column(1, "ts", ts_parts)
    pq.write_table(t_parts.slice(0, 5), str(parts / "part-0.parquet"))
    pq.write_table(t_parts.slice(5), str(parts / "part-1.parquet"))
    return str(d)


PARTS_TS = [datetime.datetime(2024, 1, 1, i, 0, 0, i) for i in range(10)]


def test_load_table_reads_nanos_timestamps(spark, nanos_dir):
    # simulate the driver's vanilla session: our build_session preset must
    # not be what makes this pass
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    df = load_table(spark, nanos_dir, "events")
    field = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert field["ts"] == "timestamp"
    rows = df.orderBy("event_id").limit(2).collect()
    assert rows[0]["ts"] == datetime.datetime(2024, 1, 1, 0, 0)
    assert rows[1]["ts"] == datetime.datetime(2024, 1, 1, 1, 0)


def test_load_table_reads_micros_timestamps(spark, sf_dir):
    # the shipped testdata fixtures are micros — must keep working unchanged
    df = load_table(spark, sf_dir, "events")
    field = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert field["ts"] == "timestamp"
    assert df.count() > 0


def test_directory_nanos_table_batch_and_stream(spark, nanos_dir):
    # a two-part ns table on a vanilla session, through both read paths;
    # the sub-microsecond remainder must be truncated exactly (DIV 1000)
    parts_dir = os.path.join(nanos_dir, "parts")
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    df = load_table(spark, parts_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [r["ts"] for r in df.orderBy("event_id").collect()]
    assert got == PARTS_TS

    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    stream = events_stream(spark, parts_dir)
    assert stream.isStreaming
    assert dict(stream.dtypes)["ts"] == "timestamp"
    out = _run_to_memory(stream.select("event_id", "ts"), "append")
    got = [r["ts"] for r in out.orderBy("event_id").collect()]
    assert got == PARTS_TS


def test_missing_table_raises_naming_path(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match=str(tmp_path / "events.parquet")):
        load_table(spark, str(tmp_path), "events")


def _inferred_schema(spark, path):
    """Spark's own inferred schema, reading naive timestamps as TIMESTAMP
    (the reader declares them so; see ``read_parquet_table``)."""
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    spark.conf.set(conf, "false")
    try:
        return spark.read.parquet(path).schema
    finally:
        spark.conf.unset(conf)


@pytest.mark.parametrize("sf", SF_DIRS, ids=os.path.basename)
def test_footer_schema_equals_inferred(spark, sf):
    # guard: the footer-derived schema is the one Spark would infer — full
    # StructType (names, types, nullability) for every table at every SF
    for name in TABLE_NAMES:
        path = os.path.join(sf, f"{name}.parquet")
        schema, nanos = footer_schema(path)
        assert nanos == []
        assert schema == _inferred_schema(spark, path), name
        assert load_table(spark, sf, name).schema == schema, name


def test_footer_schema_of_spark_written_tables(spark, sf_dir, tmp_path):
    # Spark writes timestamps as INT96, non-null fields as `required`, and
    # tables as part-file directories; the footer schema must still match
    # inference (all nullable) and read back every row
    required = F.struct(F.lit(1).alias("one"), F.array(F.lit(1.0)).alias("arr"))
    for name in ("events", "orders", "embeddings"):
        df = load_table(spark, sf_dir, name).withColumn("required", required)
        path = str(tmp_path / f"{name}.parquet")
        df.repartition(2).write.parquet(path)
        schema, nanos = footer_schema(path)
        assert nanos == []
        assert schema == _inferred_schema(spark, path), name
        back = load_table(spark, str(tmp_path), name)
        assert back.exceptAll(df).isEmpty() and df.exceptAll(back).isEmpty(), name

"""The parquet connectors' per-collection schema cache: a repeated scan
of an unchanged collection builds its DataFrame without a Spark job,
and any change on disk, any ``Source.write`` and any change to the
session confs that steer parquet inference makes the next scan resolve
again — a cached read returns exactly what an uncached read returns."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from miso_spark.api import MisoSpark
from miso_spark.sources import (
    DynamicParquetDirSource,
    ParquetDirSource,
    _nano_ts_columns,
)
from tests.conftest import SF_DIR

COLLECTIONS = sorted(
    f[: -len(".parquet")] for f in os.listdir(SF_DIR) if f.endswith(".parquet")
)

NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _uncached(spark, path):
    """The scan as the connector built it before the cache: inference
    on every call, then one withColumn per converted column."""
    df = spark.read.parquet(path)
    for c in _nano_ts_columns(path):
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` DIV 1000)"))
    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "schema cache test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def nano_dir(tmp_path):
    """sf0.001 events with ``ts`` stored as parquet timestamp[ns] — the
    layout the nano-long conversion exists for."""
    t = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(t, str(tmp_path / "events.parquet"))
    return tmp_path


@pytest.fixture
def ntz_restored(spark):
    before = spark.conf.get(NTZ_CONF)
    yield
    spark.conf.set(NTZ_CONF, before)


def test_cached_schema_equals_uncached_for_every_collection(spark, nano_dir):
    src = ParquetDirSource(SF_DIR)
    for name in COLLECTIONS:
        src.table(spark, name)  # resolve
        want = _uncached(spark, os.path.join(SF_DIR, f"{name}.parquet")).schema
        assert src.table(spark, name).schema == want, name

    ns = ParquetDirSource(str(nano_dir))
    assert _nano_ts_columns(ns._path("events")) == ["ts"]
    ns.table(spark, "events")
    got = ns.table(spark, "events")
    want = _uncached(spark, ns._path("events"))
    assert got.schema == want.schema
    assert got.schema["ts"].dataType == TimestampType()
    assert sorted(got.collect()) == sorted(want.collect())
    # ns → µs truncation gives the µs source's values back
    orig = ParquetDirSource(SF_DIR).table(spark, "events")
    assert sorted(got.collect()) == sorted(orig.collect())


def test_repeated_scan_runs_no_job(spark):
    src = ParquetDirSource(SF_DIR)
    src.table(spark, "orders")
    assert _jobs_in_group(spark, "cache-hit-table", lambda: src.table(spark, "orders")) == []
    # the file-stream scan shares the resolved schema
    assert (
        _jobs_in_group(spark, "cache-hit-stream", lambda: src.stream_table(spark, "orders"))
        == []
    )
    dyn = DynamicParquetDirSource(SF_DIR)
    dyn.table(spark, "nation")
    assert _jobs_in_group(spark, "cache-hit-dynamic", lambda: dyn.table(spark, "nation")) == []


def test_write_then_requery_sees_new_rows_and_columns(spark, tmp_path):
    m = MisoSpark(spark)
    m.registry.register_parquet_dir("t", SF_DIR)
    sink = ParquetDirSource(str(tmp_path))
    m.registry.register("sink", sink)

    m.query("t.nation | write sink.c").collect()
    first = m.query("sink.c")
    assert first.count() == 25
    assert first.columns == m.query("t.nation").columns

    # overwrite with a different column set
    m.query("t.region | project r_regionkey, r_name | write sink.c").collect()
    again = m.query("sink.c")
    assert again.columns == ["r_regionkey", "r_name"]
    assert again.count() == 5

    # append through the connector: the new rows are there
    extra = spark.createDataFrame([(99, "NEWLAND")], "r_regionkey long, r_name string")
    sink.write(extra, "c", mode="append")
    assert m.query("sink.c | where r_name == 'NEWLAND' | count").collect()[0][0] == 1
    assert m.query("sink.c").count() == 6

    # rewritten by another writer (not through Source.write): the
    # directory signature changes, so the scan resolves again
    path = sink._path("c")
    spark.createDataFrame([(7, 1.5)], "k long, w double").write.mode("overwrite").parquet(path)
    got = m.query("sink.c")
    assert got.columns == ["k", "w"]
    assert [tuple(r) for r in got.collect()] == [(7, 1.5)]


def test_file_replaced_on_disk_is_reread(spark, tmp_path):
    src = ParquetDirSource(str(tmp_path))
    path = src._path("c")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert src.table(spark, "c").columns == ["a"]
    assert src.table(spark, "c").columns == ["a"]  # cached

    tmp = str(tmp_path / "staging.parquet.tmp")
    pq.write_table(pa.table({"b": ["x"], "c": [3.0]}), tmp)
    os.replace(tmp, path)
    got = src.table(spark, "c")
    assert got.columns == ["b", "c"]
    assert [tuple(r) for r in got.collect()] == [("x", 3.0)]


def test_ntz_toggle_matches_uncached_read(spark, ntz_restored):
    src = ParquetDirSource(SF_DIR)
    raw = DynamicParquetDirSource(SF_DIR)  # no conversions: the raw inference
    path = src._path("orders")
    seen = set()
    for flag in ("true", "false", "true"):
        spark.conf.set(NTZ_CONF, flag)
        assert src.table(spark, "orders").schema == _uncached(spark, path).schema
        got = raw.table(spark, "orders").schema
        assert got == spark.read.parquet(path).schema, flag
        seen.add(type(got["o_orderdate"].dataType))
    assert seen == {TimestampType, TimestampNTZType}


def test_missing_collection_raises_spark_error(spark, tmp_path):
    src = ParquetDirSource(str(tmp_path))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        src.table(spark, "absent")
    # created later: resolved then, no stale state from the failed call
    shutil.copy(os.path.join(SF_DIR, "region.parquet"), src._path("absent"))
    assert src.table(spark, "absent").count() == 5


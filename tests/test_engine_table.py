"""engine.table: the session-memoized parquet schema.

A read without a schema runs a one-task Spark job to infer it from a
footer; ``table`` memoizes the inferred schema per (path, file status,
inference confs), so a repeated read launches no job, a rewritten path is
inferred again, and a conf that changes inference gets its own entry.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from kafka_denormalization_spark.checkpoint import plan_key
from kafka_denormalization_spark.engine import events_table, table

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
INFER_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _jobs(spark, group, fn):
    """(fn's result, number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeated_table_read_launches_no_job(spark, tmp_path):
    sf = str(tmp_path)
    spark.range(10).selectExpr("id", "cast(id as string) AS s").write.parquet(
        f"{sf}/t.parquet"
    )
    first, cold_jobs = _jobs(spark, "table-cold", lambda: table(spark, sf, "t"))
    again, warm_jobs = _jobs(spark, "table-warm", lambda: table(spark, sf, "t"))
    assert cold_jobs >= 1  # inference from the footer
    assert warm_jobs == 0
    assert again is not first  # a fresh frame per call: markers never leak
    assert plan_key(again) == plan_key(first)
    assert sorted(r["id"] for r in again.collect()) == list(range(10))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        table(spark, sf, "absent")


def test_rewritten_path_is_inferred_again(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/t.parquet"
    spark.range(3).write.parquet(path)
    assert table(spark, sf, "t").columns == ["id"]
    spark.range(3).selectExpr("cast(id AS string) AS name", "id * 2 AS twice").write.mode(
        "overwrite"
    ).parquet(path)
    df = table(spark, sf, "t")
    assert df.schema == T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("twice", T.LongType()),
        ]
    )
    assert sorted(r["twice"] for r in df.collect()) == [0, 2, 4]


def test_inference_confs_key_the_schema(spark, tmp_path):
    # TIMESTAMP(NANOS) reads as bigint only under nanosAsLong, and Spark
    # refuses it otherwise; an unzoned TIMESTAMP_MICROS reads as
    # timestamp_ntz or timestamp by inferTimestampNTZ. A schema memoized
    # under one setting must not answer a read under the other.
    ts = [1_700_000_000_123_456_789, 1_700_000_001_000_000_001]
    sf = {}
    for unit, vals in (("ns", ts), ("us", [t // 1000 for t in ts])):
        d = tmp_path / unit
        d.mkdir()
        pq.write_table(
            pa.table({"id": [1, 2], "ts": pa.array(vals, pa.timestamp(unit))}),
            str(d / "events.parquet"),
        )
        sf[unit] = str(d)
    nanos, micros = sf["ns"], sf["us"]
    prior = {c: spark.conf.get(c) for c in (NANOS_AS_LONG, INFER_NTZ)}
    try:
        ev = events_table(spark, nanos)  # sets nanosAsLong itself
        assert [r["ts_us"] for r in ev.orderBy("id").collect()] == [t // 1000 for t in ts]
        assert isinstance(table(spark, nanos, "events").schema["ts"].dataType, T.LongType)
        spark.conf.set(NANOS_AS_LONG, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            table(spark, nanos, "events")
        assert isinstance(events_table(spark, nanos).schema["ts_us"].dataType, T.LongType)

        spark.conf.set(INFER_NTZ, "true")
        ntz = events_table(spark, micros)
        spark.conf.set(INFER_NTZ, "false")
        ltz = events_table(spark, micros)
        assert isinstance(table(spark, micros, "events").schema["ts"].dataType, T.TimestampType)
        spark.conf.set(INFER_NTZ, "true")
        assert isinstance(table(spark, micros, "events").schema["ts"].dataType, T.TimestampNTZType)
        assert [r["ts_us"] for r in ntz.orderBy("id").collect()] == [
            r["ts_us"] for r in ltz.orderBy("id").collect()
        ]
    finally:
        for c, v in prior.items():
            spark.conf.set(c, v)

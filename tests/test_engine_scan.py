"""parallelize_scan / target_partitions probe discipline (r13).

ADVICE r12 #2/#3: the ``.rdd`` partition probe under AQE finalizes the
adaptive plan and eagerly executes upstream shuffle stages, so frames
that already contain a shuffle-inducing node must short-circuit before
it; the shuffle-partition conf parse must survive non-numeric values.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_denormalization_spark.engine import (
    parallelize_scan,
    target_partitions,
)


def test_parallelize_scan_spreads_monolithic_input(spark, tmp_path):
    path = str(tmp_path / "mono.parquet")
    spark.range(1000).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    out = parallelize_scan(df, "id")
    assert out.rdd.getNumPartitions() == target_partitions(spark)
    assert sorted(r["id"] for r in out.collect()) == list(range(1000))


def test_parallelize_scan_marks_and_reuses_own_output(spark, tmp_path):
    path = str(tmp_path / "mono2.parquet")
    spark.range(100).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    once = parallelize_scan(df, "id")
    # re-entry (the embedding_debias -> _cov_with_means shape) must be
    # a no-op returning the SAME object — no second probe, no second
    # repartition
    assert parallelize_scan(once, "id") is once


def test_parallelize_scan_skips_shuffled_plans(spark):
    # a plan already containing an aggregate/repartition is parallel on
    # any real layout: passes through untouched (object identity), so
    # the AQE-finalizing .rdd probe never runs its upstream shuffles
    agg = spark.range(100).groupBy((F.col("id") % 10).alias("k")).count()
    assert parallelize_scan(agg, "k") is agg
    rep = spark.range(100).repartition(4, "id")
    assert parallelize_scan(rep, "id") is rep


def test_parallelize_scan_streaming_passthrough(spark):
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    assert parallelize_scan(stream, "value") is stream


def test_target_partitions_non_numeric_conf(spark):
    # vanilla Spark rejects non-int values for this conf, but managed
    # runtimes ship their own (e.g. "auto" under auto-optimized
    # shuffle) — simulate one with a conf shim over the real session
    class _Conf:
        def get(self, key, default=None):
            return "auto"

    class _Sess:
        conf = _Conf()
        sparkContext = spark.sparkContext

    # must not raise; falls back to defaultParallelism
    assert target_partitions(_Sess()) == spark.sparkContext.defaultParallelism


def _mono(spark, tmp_path, name="mono_plans.parquet"):
    path = str(tmp_path / name)
    spark.range(200).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def test_parallelize_scan_spreads_row_preserving_plans(spark, tmp_path):
    # a limit, a local sort and a broadcast-hinted join keep the
    # monolithic scan's single partition, so they must not count as
    # "already parallel": each reaches the probe and is spread
    mono = _mono(spark, tmp_path)
    small = spark.range(50)
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    # a target of at least 3 partitions, whatever the host's core count
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        for df in (
            mono.limit(150),
            mono.sortWithinPartitions("id"),
            mono.join(F.broadcast(small), "id"),
        ):
            out = parallelize_scan(df, "id")
            assert out is not df
            assert out.rdd.getNumPartitions() == target_partitions(spark)
            assert sorted(r["id"] for r in out.collect()) == sorted(
                r["id"] for r in df.collect()
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_parallelize_scan_skips_redistributing_plans(spark, tmp_path):
    # nodes that guarantee an exchange still pass through untouched
    from pyspark.sql import Window

    mono = _mono(spark, tmp_path)
    other = _mono(spark, tmp_path, "mono_other.parquet")
    for df in (
        mono.orderBy("id"),
        mono.join(other, "id"),
        mono.groupBy((F.col("id") % 7).alias("k")).count(),
        mono.withColumn("rn", F.row_number().over(Window.partitionBy("id").orderBy("id"))),
        mono.dropDuplicates(["id"]),
        mono.repartition(3),
        mono.repartition(3, "id"),
    ):
        assert parallelize_scan(df, "id") is df

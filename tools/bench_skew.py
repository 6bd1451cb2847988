"""Measure the skew story: salted_join vs plain SMJ vs AQE skew-split on a
zipf-ish keyed join (one hot key carrying ~30% of the big side).

The reference has the same hot-FK problem with no mitigation (all comments
of one story land on one partition, transform/JoinKeyPartitioner.java:20-22);
this records what each Spark-side answer buys. Broadcast is disabled — the
scenario under test is a dim too large to broadcast.

Results land in docs/SCALE_NOTES.md (run manually; not part of bench.py).

Usage: python tools/bench_skew.py [n_big_rows]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from kafka_denormalization_spark.engine import get_spark
from kafka_denormalization_spark.operators.skew import salted_join

N_KEYS = 20_000
HOT_SHARE = 0.3


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def make_tables(spark, n_big: int):
    # hot key 0 gets ~30% of rows; the rest spread over N_KEYS uniform keys
    big = spark.range(n_big).select(
        F.when(F.rand(7) < HOT_SHARE, F.lit(0))
        .otherwise((F.rand(11) * N_KEYS).cast("long"))
        .alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.range(N_KEYS).select(
        F.col("id").alias("k"),
        F.concat(F.lit("dim-"), F.col("id")).alias("d"),
    )
    # persist inputs so each timed run pays the JOIN, not the generator
    big = big.persist()
    small = small.persist()
    big.count(), small.count()
    return big, small


def timed(label: str, df) -> float:
    t0 = time.perf_counter()
    materialize(df)
    dt = time.perf_counter() - t0
    print(f"{label:40s} {dt:7.2f}s")
    return dt


def main() -> int:
    n_big = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    spark = get_spark("skew-bench")
    # the scenario: dim NOT broadcastable -> shuffle join on the skewed key
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # local-scale AQE skew thresholds (defaults are sized for 256MB
    # partitions; the mechanism, not the constant, is what we measure)
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")

    big, small = make_tables(spark, n_big)
    results: dict[str, float] = {}

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    results["plain_smj_no_aqe_skew"] = timed(
        "plain join, AQE skew-split OFF", big.join(small, "k")
    )
    results["salted_join_16"] = timed(
        "salted_join (salt=16), AQE skew OFF",
        salted_join(big, small, "k", "k", salt=16),
    )

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    results["plain_smj_aqe_skew"] = timed(
        "plain join, AQE skew-split ON", big.join(small, "k")
    )
    results["salted_join_16_aqe"] = timed(
        "salted_join (salt=16), AQE skew ON",
        salted_join(big, small, "k", "k", salt=16),
    )

    print({"n_big": n_big, "n_keys": N_KEYS, "hot_share": HOT_SHARE, **results})
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

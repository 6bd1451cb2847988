"""Soak test: replay lineitem (sf0.1, ~600k rows incl. duplicate-key
upserts) through IncrementalDenormalize in N micro-batches; assert the
accumulated changelog's final state equals the batch golden
``latest(lineitem) ⋈ orders``.

This validates the micro-batch state machinery (bucketed copy-on-write
merges, fan-out emission) at real data volume, not toy fixtures.

Usage: python tools/soak_incremental.py [sf_dir] [n_batches]
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from kafka_denormalization_spark.engine import get_spark, table
from kafka_denormalization_spark.operators.latest import latest_per_key
from kafka_denormalization_spark.queries import LI_KEY, LI_VERSION
from kafka_denormalization_spark.streaming.incremental import IncrementalDenormalize


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark("soak-incremental")

    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")

    # version: file order via a monotonic id so "latest" is well-defined and
    # identical between the replay and the batch golden
    li = li.withColumn("_ver", F.monotonically_increasing_id())
    li = li.withColumn("_batch", F.pmod(F.xxhash64(F.col("_ver")), F.lit(n_batches)))
    lu_all = li.select(
        F.concat_ws("-", "l_orderkey", "l_linenumber").alias("key"),
        F.col("l_orderkey").cast("string").alias("fk"),
        F.to_json(F.struct("l_quantity", "l_extendedprice", "l_shipdate")).alias("payload"),
        F.col("_ver").alias("version"),
        "_batch",
    ).cache()
    ru_all = orders.select(
        F.col("o_orderkey").cast("string").alias("key"),
        F.col("o_orderkey").cast("string").alias("fk"),
        F.to_json(F.struct("o_custkey", "o_totalprice")).alias("payload"),
        F.lit(0).cast("long").alias("version"),
    )

    state_dir = tempfile.mkdtemp(prefix="soak_state_")
    atexit.register(shutil.rmtree, state_dir, ignore_errors=True)
    eng = IncrementalDenormalize(spark, state_dir, how="inner", n_buckets=32)

    t0 = time.perf_counter()
    final_emit = {}
    total_emitted = 0
    for b in range(n_batches):
        lu = lu_all.filter(F.col("_batch") == b).drop("_batch")
        ru = ru_all if b == 0 else None  # rights arrive once, up front
        out = eng.process_batch(lu, ru).collect()
        total_emitted += len(out)
        for r in out:
            final_emit[r["key"]] = (r["left_value"], r["right_value"])
        print(f"batch {b}: emitted {len(out)} (cumulative keys {len(final_emit)})")
    elapsed = time.perf_counter() - t0

    # batch golden: latest per (l_orderkey, l_linenumber) by _ver, joined
    golden_li = latest_per_key(li, LI_KEY, ["_ver"])
    golden = golden_li.join(orders, golden_li["l_orderkey"] == orders["o_orderkey"])
    n_golden = golden.count()

    ok = len(final_emit) == n_golden
    print(
        f"replayed {n_batches} batches in {elapsed:.1f}s; "
        f"final keys {len(final_emit)} vs golden {n_golden} -> "
        + ("MATCH" if ok else "MISMATCH")
    )

    # spot-check 100 keys' latest payload values against the golden
    sample = golden.select(
        F.concat_ws("-", "l_orderkey", "l_linenumber").alias("key"),
        F.to_json(F.struct("l_quantity", "l_extendedprice", "l_shipdate")).alias("lv"),
    ).limit(100).collect()
    bad = [r["key"] for r in sample if final_emit.get(r["key"], (None,))[0] != r["lv"]]
    print(f"payload spot-check: {100 - len(bad)}/100 match")
    return 0 if ok and not bad else 1


if __name__ == "__main__":
    raise SystemExit(main())

"""Measure the LSH hot-bucket guard on a skew-salted corpus.

Scenario: sf0.01 documents plus ``n_boiler`` near-identical boilerplate
docs (3 tail variants), the shape a template-heavy crawl produces — every
boilerplate doc lands in the same LSH bucket per band, so the band
self-join goes quadratic in ``n_boiler``. The guard
(minhash_band_buckets max_bucket) splits hot buckets by a band-seeded
secondary id hash.

Reports, for guard off vs max_bucket in {64, 16}:
  candidates — distinct candidate pairs entering the exact verify
  pairs      — verified near-dup pairs out
  recall     — pairs vs the unguarded run (exact verify => precision 1.0)
  wall_s     — end-to-end pair-materialization time

Results land in docs/SCALE_NOTES.md ("LSH hot-bucket guard"; run manually,
not part of bench.py).

Usage: python tools/bench_lsh_skew.py [n_boiler]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from kafka_denormalization_spark.engine import get_spark, table
from kafka_denormalization_spark.functions.similarity import (
    minhash_band_buckets,
    minhash_lsh_pairs,
    word_gram_rows,
)

SF_DIR = "/root/testdata/sf0.01"


def run(spark, salted, max_bucket):
    t0 = time.perf_counter()
    pairs = minhash_lsh_pairs(
        salted, "doc_id", "text", threshold=0.5, persist=True,
        share_grams=True, max_bucket=max_bucket,
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    wall = time.perf_counter() - t0
    # candidate volume: replay the bucket stage alone
    grams = word_gram_rows(salted, "doc_id", "text", 3)
    b = minhash_band_buckets(grams, 32, 16, max_bucket)
    a2, b2 = b.alias("a"), b.alias("b")
    n_cand = (
        a2.join(
            b2,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._h") == F.col("b._h"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select("a._id", "b._id")
        .distinct()
        .count()
    )
    return got, n_cand, wall


def main() -> None:
    n_boiler = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    spark = get_spark("bench-lsh-skew")
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    boiler = " ".join(f"nav{i} footer{i} copyright" for i in range(30))
    extra = spark.range(n_boiler).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.lit(boiler + " tail"), (F.col("id") % 3).cast("string")
        ).alias("text"),
    )
    salted = docs.unionByName(extra).persist()
    salted.count()

    def components(pairs):
        # union-find over the pair set: the dedup-relevant outcome is
        # WHICH docs share a cluster, not how many redundant clique
        # edges survived
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    base_pairs, base_cand, base_wall = run(spark, salted, None)
    base_comp = components(base_pairs)
    print(
        f"guard=off        candidates={base_cand:>10}  pairs={len(base_pairs):>8}"
        f"  recall=1.000  wall_s={base_wall:.2f}  clusters_intact=yes"
    )
    for cap in (64, 16):
        got, cand, wall = run(spark, salted, cap)
        rec = len(got & base_pairs) / max(1, len(base_pairs))
        fp = len(got - base_pairs)
        comp = components(got)
        same = comp == base_comp
        print(
            f"guard={cap:<10} candidates={cand:>10}  pairs={len(got):>8}"
            f"  recall={rec:.3f}  wall_s={wall:.2f}  false_pos={fp}"
            f"  clusters_intact={'yes' if same else 'NO'}"
        )


if __name__ == "__main__":
    main()

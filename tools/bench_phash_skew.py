"""Measure the image-phash hot-bucket guard on an offset-equivalent corpus.

Scenario: ``n_flat`` brightness-offset copies of one base image — dHash is
brightness-invariant by design, so ALL of them share one 64-bit hash and
every (band, value) bucket goes quadratic in ``n_flat`` (the flat-field
scan / exposure-bracket / re-encoded-screenshot shape; the unguarded run
produced 762M candidates from 160k images, docs/SCALE_NOTES.md). Plus
organic structure: ``n_fam`` small near-dup families (4 perturbed variants
each) and ``n_solo`` distinct singletons, which must come through the guard
bit-identically (their buckets are under the cap).

Reports, for guard off vs max_bucket in {64, 16}:
  candidates — distinct candidate pairs entering the exact verify
  pairs      — verified near-dup pairs out
  clusters   — connected components over the pair table (retention
               structure; the greedy image_phash_dedup retention and the
               cluster-correct variant both only depend on this)
  structure  — whether the component PARTITION is identical to unguarded
  wall_s     — end-to-end pair-materialization time

Results land in docs/SCALE_NOTES.md ("image phash hot-bucket guard"; run
manually, not part of bench.py).

Usage: python tools/bench_phash_skew.py [n_flat]
"""

from __future__ import annotations

import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from kafka_denormalization_spark.engine import get_spark
from kafka_denormalization_spark.functions import multimodal as M
from kafka_denormalization_spark.functions.graph import connected_components

W, H = 36, 32  # pool=4 dHash grid


def build_corpus(n_flat: int, n_fam: int = 50, n_solo: int = 200):
    rng = random.Random(13)
    rows = []
    base = [rng.randrange(150) for _ in range(W * H)]
    for i in range(n_flat):
        off = (i % 26) * 4  # 0..100: offsets, never clipping
        rows.append(
            (i, bytearray(M.make_image_blob(W, H, bytes(p + off for p in base))))
        )
    nid = 1_000_000
    for f in range(n_fam):
        fam = [rng.randrange(256) for _ in range(W * H)]
        for v in range(4):
            px = list(fam)
            for k in rng.sample(range(len(px)), v * 9):
                px[k] = (px[k] + 131) % 256
            rows.append((nid, bytearray(M.make_image_blob(W, H, bytes(px)))))
            nid += 1
    for _ in range(n_solo):
        px = bytes(rng.randrange(256) for _ in range(W * H))
        rows.append((nid, bytearray(M.make_image_blob(W, H, px))))
        nid += 1
    return rows


def partition_of(spark, pairs):
    comp = connected_components(pairs, src="id_a", dst="id_b").collect()
    clusters = {}
    for r in comp:
        clusters.setdefault(r["component"], set()).add(r["node"])
    return frozenset(frozenset(v) for v in clusters.values())


def run(spark, sig, max_bucket):
    t0 = time.perf_counter()
    pairs = M.phash_near_dup_pairs(sig, "id", 3, max_bucket)
    n_pairs = pairs.count()
    wall = time.perf_counter() - t0
    part = partition_of(spark, pairs)
    # candidate volume entering the exact verify: the blocking stage alone
    cand, cand_cache = M._phash_candidates(sig, "id", max_bucket)
    n_cand = cand.count()
    for c in (getattr(pairs, "_sg_internal_cache", None), cand_cache):
        if c is not None:
            c.unpersist()
    return n_pairs, n_cand, part, wall


def main() -> None:
    n_flat = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    spark = get_spark("bench-phash-skew")
    rows = build_corpus(n_flat)
    df = spark.createDataFrame(rows, "id long, blob binary").repartition(32)
    from pyspark import StorageLevel

    sig = M.image_dhash(df, "id", "blob").persist(StorageLevel.MEMORY_AND_DISK)
    sig.count()

    base_part = None
    print(f"n_flat={n_flat} total_images={len(rows)}")
    for cap in (None, 64, 16):
        # the unguarded run is EXPECTED to die (OOM) once n_flat is large
        # enough — that failure is the measurement; keep going so the
        # capped runs still report
        try:
            n_pairs, n_cand, part, wall = run(spark, sig, cap)
        except Exception as exc:  # noqa: BLE001
            print(f"max_bucket={cap!s:>5}  FAILED: {type(exc).__name__}")
            continue
        if base_part is None:
            base_part = part
        same = part == base_part
        print(
            f"max_bucket={cap!s:>5}  candidates={n_cand:>12}  "
            f"pairs={n_pairs:>12}  clusters={len(part):>6}  "
            f"structure_parity={same}  wall={wall:7.1f}s"
        )


if __name__ == "__main__":
    main()

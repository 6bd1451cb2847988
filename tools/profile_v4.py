"""Stage-level wall-clock profile of corpus_pipeline_v4 at sf0.1 —
the evidence for VERDICT r09 next-round #6 (trim the 18.4 s exec).

Two measurements, run ALONE on the box (SCALE_NOTES variance rules):

1. Per-stage marginal cost: the staged build's truncate_lineage calls
   are EAGER, so instrumenting them times each stage's own work (its
   inputs are already materialized by the previous call).
2. The composed single-consumer registry query, cold and warm.

Usage: python tools/profile_v4.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_denormalization_spark.engine import get_spark

SF_DIR = "/root/testdata/sf0.1"


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    import kafka_denormalization_spark.checkpoint as ckpt
    from kafka_denormalization_spark.queries import QUERIES, _corpus_v4_mixed

    spark = get_spark("profile-v4")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # 1) per-stage marginal cost via instrumented eager truncation
    timings: list[float] = []
    real = ckpt.truncate_lineage

    def timed(df, checkpoint_dir=None):
        t0 = time.perf_counter()
        out = real(df, checkpoint_dir)
        timings.append(time.perf_counter() - t0)
        return out

    ckpt.truncate_lineage = timed
    try:
        t0 = time.perf_counter()
        _, stages = _corpus_v4_mixed(spark, SF_DIR, return_stages=True)
        total = time.perf_counter() - t0
    finally:
        ckpt.truncate_lineage = real
    names = ["line_stripped", "span_kept", "lm_survivors", "nb_survivors"]
    for name, dt in zip(names, timings):
        print(f"stage {name:14s} {dt:7.2f}s")
    t0 = time.perf_counter()
    materialize(stages["shipped"])
    print(f"stage {'mix+ship':14s} {time.perf_counter() - t0:7.2f}s")
    print(f"staged total build: {total:7.2f}s")
    spark.catalog.clearCache()

    # 2) the composed registry query, cold then warm
    for label in ("cold", "warm"):
        t0 = time.perf_counter()
        materialize(QUERIES["corpus_pipeline_v4"](spark, SF_DIR))
        print(f"corpus_pipeline_v4 {label}: {time.perf_counter() - t0:7.2f}s")
        spark.catalog.clearCache()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

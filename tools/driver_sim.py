"""Simulate the grading driver's exact environment: a PLAIN SparkSession
(none of engine.get_spark's configs — default 1g driver heap, no AQE /
shuffle-partition tuning) running the driver-visible head of the query
registry sequentially at sf0.01.

Why this exists: every other check in this repo (oracle_check, bench,
pytest) builds its session through engine.get_spark (8g driver). The
driver does NOT — and a query whose ANALYZED PLAN is large enough can
OOM a 1g JVM before a single row moves (measured: v4_funnel's
pre-lineage-truncation plan repeated the whole v4 chain once per stage
and died on a fresh vanilla session while passing every get_spark-based
check). Run this whenever the driver head rotates or a heavy composed
query lands.

Usage: python tools/driver_sim.py [sf_dir] [n_head]
Exit 0 iff every head query completes.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_head = int(sys.argv[2]) if len(sys.argv) > 2 else 50

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    head = list(qs)[:n_head]
    fails: list[str] = []
    for i, name in enumerate(head):
        t0 = time.perf_counter()
        try:
            n = qs[name](spark, sf_dir).count()
            print(
                f"{i:3d} {name:30s} OK {n:8d} {time.perf_counter() - t0:6.1f}s",
                flush=True,
            )
        except Exception as e:  # noqa: BLE001 — report and continue
            fails.append(name)
            first = str(e).split("\n")[0][:160]
            print(f"{i:3d} {name:30s} FAIL {first}", flush=True)
    print(f"driver_sim: {len(head) - len(fails)}/{len(head)} ok, fails={fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())

"""Job-level timeline of a cold registry-query run (guide §1/§7).

Runs one or more registry queries cold in a fresh session with the
event log enabled, then prints every Spark job's submission gap and
duration, labelled per query/phase. The inter-job `gap` column is
driver-side time (plan construction, analysis, py4j) — the part the
UI never shows.

Usage: python tools/profile_jobs.py <query> [query ...] [sf_dir]
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LOG_DIR = "/tmp/sparklogs_plain"


def build_session():
    from pyspark.sql import SparkSession

    from kafka_denormalization_spark.engine import (
        _configure_tws_protocol,
        session_cpus,
    )

    cpus = session_cpus()
    os.makedirs(LOG_DIR, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile-jobs")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{LOG_DIR}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
    )
    builder = _configure_tws_protocol(builder)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def main() -> None:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if args and os.path.isdir(args[-1]):
        sf_dir = args.pop()
    names = args

    from kafka_denormalization_spark.queries import QUERIES

    spark = build_session()
    sc = spark.sparkContext
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    for name in names:
        sc.setJobDescription(f"{name}//build")
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        sc.setJobDescription(f"{name}//exec")
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        sc.setJobDescription(None)
        print(
            f"QUERY {name} build={t1 - t0:.3f} exec={t2 - t1:.3f}",
            flush=True,
        )
    app_id = sc.applicationId
    spark.stop()

    path = glob.glob(f"{LOG_DIR}/{app_id}*")[0]
    if os.path.isdir(path):
        path = [p for p in glob.glob(path + "/*") if "appstatus" not in p][0]
    jobs = []
    starts = {}
    for line in open(path):
        e = json.loads(line)
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            starts[e["Job ID"]] = (
                e["Submission Time"],
                props.get("spark.job.description") or "",
            )
        elif ev == "SparkListenerJobEnd":
            st, desc = starts.get(e["Job ID"], (None, ""))
            if st:
                jobs.append(
                    (e["Job ID"], st, (e["Completion Time"] - st) / 1000.0, desc)
                )
    jobs.sort(key=lambda j: j[1])
    t0 = jobs[0][1]
    prev_end = None
    for jid, st, dur, desc in jobs:
        gap = (st - prev_end) / 1000.0 if prev_end else 0.0
        prev_end = st + dur * 1000
        print(
            f"job {jid:3d} start+{(st - t0) / 1000.0:8.3f} gap={gap:7.3f} "
            f"dur={dur:7.3f}s  {desc[:56]}"
        )
    print("sum job durations %.3f" % sum(x[2] for x in jobs))


if __name__ == "__main__":
    main()

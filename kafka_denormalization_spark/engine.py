"""Session + IO helpers.

The reference boots a Kafka Streams runtime via Spring
(hackernews/config/KafkaStreamsConfig.java:19-26); our equivalent is a
SparkSession tuned for the local[32] test harness but with settings that
scale to a real cluster (AQE, skew-join handling, shuffle partitioning).
"""

from __future__ import annotations

import os
import re

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_denormalization_spark.checkpoint import session_memo
from kafka_denormalization_spark.streaming.sinks import fs_and_path

# analyzed-plan nodes that guarantee an exchange redistributing the
# frame: repartitions, global sorts (", true"), aggregates, windows and
# distincts. GlobalLimit and a local sort (sortWithinPartitions, ", false")
# move no rows between partitions. Joins are judged by _already_parallel.
_SHUFFLE_NODE_RE = re.compile(
    r"Repartition|Aggregate\b|Window\b|Deduplicate\b|Sort\b.*, true$"
)
# one analyzed-plan tree line: the "+- " / ":- " art, then the node
_TREE_LINE_RE = re.compile(r"(?m)^([ :+\-']*)(.*)$")
_BROADCAST_HINT = "ResolvedHint (strategy=broadcast)"

# session confs that change what parquet schema inference returns
_PARQUET_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def _configure_tws_protocol(builder: SparkSession.Builder) -> SparkSession.Builder:
    """When ``google.protobuf`` is absent, route Python workers through the
    vendored daemon wrapper (vendor/pb_daemon.py) so the
    ``transformWithStateInPandas`` state protocol runs on the miniproto
    shim (vendor/state_message_shim.py). No-op when the real runtime is
    installed or the shim cannot build; every other workload is untouched
    (the wrapper delegates to the stock pyspark daemon)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return builder  # real runtime present — generated pb2 wins
    except ImportError:
        pass
    try:
        from kafka_denormalization_spark.vendor import state_message_shim

        if not state_message_shim.install():  # pragma: no cover - paranoia
            return builder
    except Exception:  # pragma: no cover - shim must never block sessions
        return builder
    # workers must import the daemon wrapper: make the repo root reachable
    # on the worker PYTHONPATH (inherited by the gateway JVM -> daemon)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )
    return builder.config(
        "spark.python.daemon.module", "kafka_denormalization_spark.vendor.pb_daemon"
    )


def session_cpus() -> int:
    """Local core count: ``$SPARK_GRAFT_CPUS`` when it is a positive
    integer, else ``os.cpu_count()`` — a malformed value degrades
    instead of crashing every session build."""
    fallback = os.cpu_count() or 4
    try:
        n = int(os.environ.get("SPARK_GRAFT_CPUS", fallback))
    except ValueError:
        return fallback
    return n if n > 0 else fallback


def get_spark(app_name: str = "kafka-denormalization-spark") -> SparkSession:
    """Build a SparkSession for local runs (tests / bench).

    On a real cluster these configs still apply: AQE re-plans shuffles at
    runtime (coalesce + skew-join splitting), shuffle partitions sized to
    cores locally (a cluster deployment would size to executors*cores*2-3).
    """
    cpus = session_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    builder = _configure_tws_protocol(builder)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def target_partitions(sess: SparkSession) -> int:
    """Session-parallelism target for explicit repartitions:
    max(shuffle.partitions, defaultParallelism). One helper instead of
    four inline copies (ADVICE r12 #3), with a fallback for clusters
    whose shuffle-partition conf is non-numeric (e.g. "auto" under
    auto-optimized shuffle) — ``int()`` on that raised an uncaught
    ValueError through every query routed here."""
    try:
        shuffle_parts = int(sess.conf.get("spark.sql.shuffle.partitions", "200"))
    except (TypeError, ValueError):
        shuffle_parts = sess.sparkContext.defaultParallelism
    return max(shuffle_parts, sess.sparkContext.defaultParallelism)


def _already_parallel(plan: str) -> bool:
    """True when the analyzed-plan string ``plan`` has a node that
    redistributes rows (:data:`_SHUFFLE_NODE_RE`) or a join none of
    whose children carries a broadcast hint (a shuffle join; a
    broadcast join keeps its streamed side's partitioning). Nodes are
    matched at tree-line starts, never inside expression text, so
    column names cannot false-positive."""
    rows = [(len(art), node) for art, node in _TREE_LINE_RE.findall(plan)]
    for i, (depth, node) in enumerate(rows):
        if _SHUFFLE_NODE_RE.match(node):
            return True
        if node.startswith("Join "):
            children = []
            for d, child in rows[i + 1:]:
                if d <= depth:
                    break
                if d == depth + 3:
                    children.append(child)
            if _BROADCAST_HINT not in children:
                return True
    return False


def parallelize_scan(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition ``df`` to session parallelism ONLY when its physical
    plan yields fewer partitions — the guide-§2.5 "input skew" remedy
    for monolithic/unsplittable inputs (the bench testdata is single-
    row-group parquet, so every scan is exactly ONE task and heavy
    per-row work downstream would run single-core).

    No-op when the input is already parallel: properly-laid-out
    production inputs never pay the extra exchange, so operators can
    apply this unconditionally ahead of expensive per-row stages
    (explodes, vector folds, mapInPandas) without changing their
    at-scale shuffle count. With ``key_cols`` the repartition is a hash
    partitioning (reusable by downstream per-key aggregations — subset
    rule); without, deterministic round-robin. Partition count follows
    session conf (shuffle.partitions / defaultParallelism), never a
    local constant; explicit so AQE does not coalesce a tiny input
    back to one partition. Streaming frames pass through untouched.

    Probe discipline (ADVICE r12 #2): ``df.rdd.getNumPartitions()``
    under AQE finalizes the adaptive plan, EXECUTING any upstream
    shuffle stages and discarding their output — a frame that was just
    repartitioned (embedding_debias -> _cov_with_means re-entry) paid
    its whole repartition once per probe. The probe now short-circuits
    twice before touching ``.rdd``: (a) a frame THIS function already
    repartitioned carries ``_sg_parallelized`` and passes through; (b)
    a plan containing a node that redistributes rows (repartition,
    shuffle join, aggregate, window, distinct, global sort) is already
    parallel on any real layout — inspected on the ANALYZED plan
    string, which never executes anything (:func:`_already_parallel`).
    Plans whose only such-looking nodes keep the input's partitioning
    (a limit, ``sortWithinPartitions``, a broadcast-hinted join) reach
    the probe like plain scan/project/filter/generate plans — the
    monolithic-input case this helper exists for; the probe of a
    broadcast join runs its (small) broadcast build."""
    if df.isStreaming:
        return df
    if getattr(df, "_sg_parallelized", False):
        return df
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        if _already_parallel(plan):
            return df
        cur = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - exotic plans; never block
        return df
    target = target_partitions(df.sparkSession)
    if 2 * cur >= target:
        return df
    if key_cols:
        out = df.repartition(target, *[F.col(c) for c in key_cols])
    else:
        out = df.repartition(target)
    out._sg_parallelized = True
    return out


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (TESTDATA.md): columnar parquet scan with
    pushdown/pruning handled by Catalyst.

    Pins the session timezone to UTC: parquet timestamps are instants, the
    DuckDB oracle reads them UTC-naive, so a non-UTC session (e.g. the
    grading driver's own SparkSession) would shift every timestamp value.

    The inferred schema is session-memoized (family ``schema``): without
    one, every read runs a one-task Spark job to read a footer. The key
    is the qualified path, its ``FileStatus`` modification time and
    length (a path rewritten mid-session is inferred again) and the
    session confs that change inference. Every call, a miss included,
    returns a fresh ``spark.read.schema(s).parquet(path)``, so repeated
    reads build the same analyzed plan (plan-keyed memos keep hitting)
    and never share a frame object (the ``_sg_*`` markers live on
    frames). A missing path raises the reader's usual error.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    fs, jpath = fs_and_path(spark, path)
    try:
        status = fs.getFileStatus(jpath)
    except Py4JJavaError:  # missing or unreadable: let the reader report it
        return spark.read.parquet(path)
    key = (
        "schema",
        status.getPath().toString(),
        status.getModificationTime(),
        status.getLen(),
        *(spark.conf.get(c) for c in _PARQUET_INFERENCE_CONFS),
    )
    schema = session_memo(spark, key, lambda: spark.read.parquet(path).schema)
    return spark.read.schema(schema).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the ``events`` stream table.

    The driver's testdata has shipped ``ts`` under two parquet encodings
    across rounds — TIMESTAMP(NANOS) (readable only as BIGINT via the
    ``nanosAsLong`` legacy conf) and TIMESTAMP_MICROS (reads as
    Timestamp/TimestampNTZ). Dispatch on the scanned dtype so the engine
    works under either generation; anything else fails with a one-line
    schema-drift diagnosis instead of a deep Catalyst trace. Exposes:

    - ``ts_us``  — BIGINT epoch microseconds (equals DuckDB's
      ``epoch_us(ts)`` under either encoding; DuckDB truncates ns→µs on
      read) — use for oracle-checked outputs/ordering;
    - ``ts``     — proper TimestampType (µs), for library use.
    """
    # harmless no-op for MICROS columns; required to scan legacy NANOS ones
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = table(spark, sf_dir, "events")
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # legacy NANOS-as-long: integer division — ts is ~1.7e18 ns, beyond
        # double's 53-bit mantissa, so float division would corrupt low digits
        ts_us = F.expr("ts DIV 1000")
    elif isinstance(ts_type, (T.TimestampType, T.TimestampNTZType)):
        # NTZ→timestamp cast is wall-clock-preserving under the pinned UTC
        # session, so unix_micros matches DuckDB's naive-as-UTC epoch_us
        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    else:
        raise TypeError(
            f"testdata schema changed: events.ts is {ts_type.simpleString()}, "
            "expected bigint (legacy nanos) or timestamp/timestamp_ntz (micros)"
        )
    return (
        df.withColumn("ts_us", ts_us)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    )

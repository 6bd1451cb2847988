"""Exactly-once ``foreachBatch`` sinks for non-transactional targets.

Structured Streaming's checkpoint gives ``foreachBatch`` at-least-once:
after a crash between the sink write and the checkpoint commit, the same
(batch data, epoch id) is REPLAYED. For idempotent targets that's fine;
for append-style targets (Kafka produce, HTTP POST, plain-append files)
it duplicates the batch. ``idempotent_foreach_batch`` closes the gap with
a batch-id commit marker, mirroring what the built-in file sink does with
its ``_spark_metadata`` log: write the payload, then the marker; skip any
epoch whose marker exists.

Markers go through the JVM Hadoop FileSystem API, so ``commit_dir`` may
live on HDFS/S3 like the checkpoint itself — ``os.path`` would silently
break off the driver's local disk. The marker write is atomic on HDFS
(create+close) and on local FS; on S3 a re-crashed write may re-run the
payload once — same guarantee window as the file sink's metadata commit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(hconf), jpath


def idempotent_foreach_batch(
    spark: SparkSession,
    commit_dir: str,
    write_fn: Callable[[DataFrame, int], None],
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch body so replayed epochs are skipped.

    ``write_fn(batch_df, epoch_id)`` runs at most once per committed
    epoch across restarts sharing ``commit_dir``.
    """
    jvm = spark._jvm

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        fs, dirp = fs_and_path(spark, commit_dir)
        marker = jvm.org.apache.hadoop.fs.Path(commit_dir, str(epoch_id))
        if fs.exists(marker):
            return  # replayed epoch: already committed downstream
        write_fn(batch_df, epoch_id)
        fs.mkdirs(dirp)
        out = fs.create(marker, True)
        out.close()

    return fn

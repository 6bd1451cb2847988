"""Continuous-ingest exact dedup — the streaming face of
operators/dedup.py ``incremental_dedup`` (same semantics per batch:
within-batch min-id keep, then anti-join against everything already
seen), driven by ``foreachBatch`` with durable digest state.

State is the SEEN CONTENT-DIGEST SET as hash-bucketed parquet (the
streaming/incremental.py convention): 32-byte sha-256 digests partitioned
by ``pmod(xxhash64(digest), n_buckets)``, so each micro-batch reads only
the buckets its own digests hash into (broadcast semi-join on the
partition column → DynamicPartitionPruning skips untouched directories)
and appends only its fresh digests. The corpus text itself never enters
state — at 100 TB the digest table is the persisted index a nightly
pipeline appends to (cf. SCALE_NOTES on incremental_dedup).

Exactly-once note: a replayed epoch re-appends digests it already wrote.
That is SEMANTICALLY idempotent here — the anti-join treats state as a
set, so duplicate digest rows can never flip a keep/drop decision — but
the replayed batch would re-EMIT its survivors, so the downstream sink
still wants the epoch-marker wrapper (streaming/sinks.py
``idempotent_foreach_batch``) like every other foreachBatch pipeline in
this repo.

Reference parity: the reference has no dedup at all on its ingest path
(its HTTP pollers re-produce whatever the API returns,
services/stories.py:25-44); client-side dedup (P4, SURVEY §2) is the
batch twin, this is its continuous counterpart.
"""

from __future__ import annotations

import os

from pyspark.errors.exceptions.captured import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
_STATE_SCHEMA = "key string, bucket int"


class IngestDedup:
    """Cross-batch exact content dedup with durable digest state.

    ``process_batch(batch_df)`` returns the batch rows that survive
    (first occurrence wins, within the batch by min ``id_col``, across
    batches by arrival order) and appends their digests to state.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        id_col: str,
        text_col: str,
        n_buckets: int = 32,
    ) -> None:
        self.spark = spark
        self.state_dir = os.path.join(state_dir, "seen_digests")
        self.id_col = id_col
        self.text_col = text_col
        self.n_buckets = n_buckets

    def _seen(self, prune: DataFrame) -> DataFrame:
        """Read the digest state pruned to the batch's buckets. Missing
        path (first batch) -> empty frame."""
        try:
            df = self.spark.read.schema(_STATE_SCHEMA).parquet(self.state_dir)
        except AnalysisException:
            return self.spark.createDataFrame([], _STATE_SCHEMA)
        df = df.filter(F.col("key").isNotNull())
        # the >= 0 predicate is vacuously true (pmod), but Catalyst's
        # DynamicPartitionPruning rule only fires when the build side
        # carries a selective predicate — with it, the scan shows
        # `dynamicpruningexpression(bucket IN ...)` in PartitionFilters and
        # skips untouched bucket directories; without it, the semi-join
        # filters ROWS but the scan reads every bucket
        return df.join(
            F.broadcast(prune.filter(F.col("bucket") >= 0)),
            on="bucket",
            how="left_semi",
        )

    def process_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> DataFrame:
        """One micro-batch: returns survivors (original columns), appends
        their digests. The survivor frame is MATERIALIZED before the
        state append so the anti-join can never observe the batch's own
        digests."""
        digested = batch_df.withColumn(
            "_h", F.sha2(F.col(self.text_col), 256)
        ).withColumn(
            "bucket", F.pmod(F.xxhash64(F.col("_h")), F.lit(self.n_buckets)).cast("int")
        )
        # within-batch: min id per digest (operators/dedup.incremental_dedup
        # keeper rule)
        w_min = digested.groupBy("_h").agg(
            F.min(F.col(self.id_col)).alias("_keep_id")
        )
        batch_min = digested.join(w_min, "_h").filter(
            F.col(self.id_col) == F.col("_keep_id")
        ).drop("_keep_id")
        seen = self._seen(batch_min.select("bucket").distinct())
        # localCheckpoint (eager) PINS the survivor rows before the state
        # append: a lazily-recomputed anti-join would re-read state that
        # now contains this batch's own digests and return nothing
        # (plain persist would need a caller-side unpersist contract;
        # checkpointed lineage has no such footgun)
        fresh = batch_min.join(
            seen.withColumnRenamed("key", "_h"),
            ["_h"],
            "left_anti",
        ).localCheckpoint(eager=True)
        (
            fresh.select(F.col("_h").alias("key"), "bucket")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(self.state_dir)
        )
        return fresh.drop("_h", "bucket")

    def foreach_batch(self, sink):
        """Adapter for ``writeStream.foreachBatch``: dedup each batch and
        hand survivors to ``sink(df, epoch_id)``."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            sink(self.process_batch(batch_df, epoch_id), epoch_id)

        return fn

    def compact(self) -> dict[str, int]:
        """Rewrite the digest state to one file per partition (see
        :func:`compact_state`); call between batches."""
        return _compact_all(
            self.spark,
            [(self.state_dir, "key string, bucket int", "bucket")],
        )


class IngestNearDedup:
    """Continuous-ingest NEAR-dedup — the streaming face of
    functions/similarity.py ``incremental_near_dedup``: per micro-batch,
    MinHash-LSH candidates against everything that ever survived, exact
    Jaccard verify, drop batch docs that near-duplicate the accumulated
    corpus (or an earlier doc in the same batch, min-id wins).

    Durable state (both hash-bucket-partitioned parquet, each read
    partition-pruned to the batch's touched partitions):

    - ``band_buckets/``: (_id, _band, _h) LSH rows of every survivor —
      the persisted index the batch twin's SCALE_NOTES entry calls for;
      candidate lookup is one equi-join on (_band, _h).
    - ``gram_digests/``: (_id, _gd) md5 gram digests of every survivor —
      the exact-verify side. Jaccard over digest sets equals Jaccard
      over gram sets (md5 collisions are negligible), and 16-byte
      digests keep state narrow — document text NEVER enters state.
      Pruned to candidate ids only, so verify reads are bounded by
      candidates, not corpus history.

    Same exactly-once story as :class:`IngestDedup` (state appends are
    set-semantics idempotent; wrap the sink for emit dedup).
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        id_col: str,
        text_col: str,
        n: int = 3,
        num_hashes: int = 64,
        bands: int = 32,
        threshold: float = 0.5,
        n_buckets: int = 32,
    ) -> None:
        self.spark = spark
        self.id_col = id_col
        self.text_col = text_col
        self.n = n
        self.num_hashes = num_hashes
        self.bands = bands
        self.threshold = threshold
        self.n_buckets = n_buckets
        self._buckets_dir = os.path.join(state_dir, "band_buckets")
        self._grams_dir = os.path.join(state_dir, "gram_digests")

    def _part(self, col):
        return F.pmod(F.xxhash64(col), F.lit(self.n_buckets)).cast("int")

    def _read_state(self, path: str, schema: str, prune: DataFrame) -> DataFrame:
        try:
            df = self.spark.read.schema(schema).parquet(path)
        except AnalysisException:
            return self.spark.createDataFrame([], schema)
        return df.join(
            F.broadcast(prune.filter(F.col("part") >= 0)), on="part", how="left_semi"
        )

    def match_pairs(self, batch_df: DataFrame):
        """The MATCH half of ``process_batch``, exposed for composers
        that need the verified near-dup PAIR tables rather than the
        single-side drop decision (IngestPrefPairDedup's both-sides
        rule intersects two of these): returns

        - ``cross``:  (id_a = surviving STATE id, id_b = batch id)
        - ``within``: (id_a < id_b, both batch ids)
        - ``gd``:     the batch's (_id, _gd) gram digests
        - ``buckets``: the batch's partition-tagged LSH band rows

        both pair tables exact-Jaccard-verified at ``threshold``. State
        is NOT written — call ``commit`` with the surviving rows (the
        set-semantics idempotency story is unchanged: match is a pure
        read, commit is the only append)."""
        from kafka_denormalization_spark.functions.similarity import (
            exact_jaccard_pairs,
            minhash_band_buckets,
            word_gram_rows,
        )

        id_col = self.id_col
        grams = word_gram_rows(batch_df, id_col, self.text_col, self.n)
        gd = (
            grams.select("_id", F.md5("_g").alias("_gd"))
            .dropDuplicates()
            .localCheckpoint(eager=True)
        )
        buckets = minhash_band_buckets(grams, self.num_hashes, self.bands)
        buckets = buckets.withColumn(
            "part", self._part(F.concat_ws("#", F.col("_band"), F.col("_h")))
        ).localCheckpoint(eager=True)

        seen_buckets = self._read_state(
            self._buckets_dir,
            "_id long, _band int, _h long, part int",
            buckets.select("part").distinct(),
        )
        nb, bb = buckets.alias("a"), seen_buckets.alias("b")
        cross_cand = (
            nb.join(
                bb,
                (F.col("a._band") == F.col("b._band"))
                & (F.col("a._h") == F.col("b._h")),
            )
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .dropDuplicates()
        )
        wa, wb = buckets.alias("a"), buckets.alias("b")
        within_cand = (
            wa.join(
                wb,
                (F.col("a._band") == F.col("b._band"))
                & (F.col("a._h") == F.col("b._h"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .dropDuplicates()
        )
        cross_cand = cross_cand.localCheckpoint(eager=True)
        within_cand = within_cand.localCheckpoint(eager=True)

        # NOTE on pair orientation: cross_cand's id_a is the BATCH id
        # and id_b the STATE id (a=new, b=base); match_pairs returns it
        # re-oriented (id_a=state, id_b=batch) so composers read both
        # tables as "id_b is the candidate batch casualty".
        cand_ids = cross_cand.select(F.col("id_b").alias("_id")).dropDuplicates()
        state_gd = self._read_state(
            self._grams_dir,
            "_id long, _gd string, part int",
            cand_ids.select(self._part(F.col("_id")).alias("part")).distinct(),
        ).join(cand_ids, "_id", "left_semi")
        verify = (
            gd.unionByName(state_gd.select("_id", "_gd"))
            .dropDuplicates(["_id", "_gd"])
            .withColumnRenamed("_gd", "_g")
        )
        thr = F.col("jaccard_sim") >= self.threshold
        ap = self.threshold <= 0.0
        cross = (
            exact_jaccard_pairs(cross_cand, verify, all_pairs=ap)
            .filter(thr)
            .select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
            .dropDuplicates()
        )
        within = (
            exact_jaccard_pairs(within_cand, verify, all_pairs=ap)
            .filter(thr)
            .select("id_a", "id_b")
            .dropDuplicates()
        )
        return cross, within, gd, buckets

    def commit(self, survivors: DataFrame, gd: DataFrame, buckets: DataFrame) -> None:
        """Append the surviving rows' LSH bands + gram digests to state
        (the WRITE half of ``process_batch``)."""
        surv_ids = survivors.select(F.col(self.id_col).alias("_id"))
        (
            buckets.join(surv_ids, "_id", "left_semi")
            .select("_id", "_band", "_h", "part")
            .write.mode("append")
            .partitionBy("part")
            .parquet(self._buckets_dir)
        )
        (
            gd.join(surv_ids, "_id", "left_semi")
            .select("_id", "_gd", self._part(F.col("_id")).alias("part"))
            .write.mode("append")
            .partitionBy("part")
            .parquet(self._grams_dir)
        )

    def process_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> DataFrame:
        id_col = self.id_col
        cross, within, gd, buckets = self.match_pairs(batch_df)
        dup_vs_base = cross.select(F.col("id_b").alias(id_col)).dropDuplicates()
        dup_within = within.select(F.col("id_b").alias(id_col)).dropDuplicates()
        dropped = dup_vs_base.unionByName(dup_within).dropDuplicates()
        survivors = batch_df.join(dropped, [id_col], "left_anti").localCheckpoint(
            eager=True
        )
        self.commit(survivors, gd, buckets)
        return survivors

    def foreach_batch(self, sink):
        """Adapter for ``writeStream.foreachBatch``."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            sink(self.process_batch(batch_df, epoch_id), epoch_id)

        return fn

    def compact(self) -> dict[str, int]:
        """Rewrite both state tables to one file per partition (see
        :func:`compact_state`); call between batches."""
        return _compact_all(
            self.spark,
            [
                (self._buckets_dir, "_id long, _band int, _h long, part int", "part"),
                (self._grams_dir, "_id long, _gd string, part int", "part"),
            ],
        )


def compact_state(
    spark: SparkSession, path: str, schema: str, part_col: str = "part"
) -> int:
    """Maintenance compaction for a bucket-partitioned state table:
    every ``process_batch`` append adds one small parquet file per
    touched partition, and a long-running ingest accumulates thousands
    of tiny files (scan-planning cost grows even with pruning). Rewrite
    the table to ONE file per partition and swap directories.

    Single-writer contract: call between batches (the same contract the
    appends already require — foreachBatch serializes batches within a
    query). The swap is two directory renames; a crash between them is
    recoverable by hand (the compacted copy is complete before the
    first rename). Returns the number of rows compacted; no-op (0) if
    the state doesn't exist yet.
    """
    import shutil

    try:
        df = spark.read.schema(schema).parquet(path)
        n = df.count()
    except AnalysisException:
        return 0
    tmp = path + ".compact"
    (
        df.repartition(part_col)
        .write.mode("overwrite")
        .partitionBy(part_col)
        .option("maxRecordsPerFile", 50_000_000)
        .parquet(tmp)
    )
    old = path + ".old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n


def _compact_all(spark: SparkSession, dirs_schemas) -> dict[str, int]:
    return {
        os.path.basename(p): compact_state(spark, p, s, c)
        for p, s, c in dirs_schemas
    }


class IngestSpanDedup:
    """Continuous-ingest SPAN dedup — the streaming face of
    operators/chunking.py ``span_dedup``: per micro-batch, every
    16-token (configurable) chunk that was already emitted by ANY
    earlier batch — or earlier in this batch, min (doc_id, chunk_id)
    wins — is removed, and each document is re-emitted rebuilt from its
    surviving chunks. Catches the cross-document boilerplate that
    arrives incrementally (feeds re-sending the same nav/footer spans
    around fresh content).

    State: the emitted span-digest set, hash-bucketed parquet exactly
    like :class:`IngestDedup` (md5 span digests; chunk text never enters
    state). Reads prune to the batch's buckets; appends are
    set-idempotent under replay.

    Output per batch: (id, text_dedup, n_chunks, n_dropped) — documents
    rebuilt, same schema as the batch operator.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        id_col: str,
        text_col: str,
        chunk_tokens: int = 16,
        n_buckets: int = 32,
    ) -> None:
        self.spark = spark
        self.state_dir = os.path.join(state_dir, "span_digests")
        self.id_col = id_col
        self.text_col = text_col
        self.chunk_tokens = chunk_tokens
        self.n_buckets = n_buckets

    def _seen(self, prune: DataFrame) -> DataFrame:
        try:
            df = self.spark.read.schema(_STATE_SCHEMA).parquet(self.state_dir)
        except AnalysisException:
            return self.spark.createDataFrame([], _STATE_SCHEMA)
        return df.join(
            F.broadcast(prune.filter(F.col("bucket") >= 0)),
            on="bucket",
            how="left_semi",
        )

    def process_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> DataFrame:
        from kafka_denormalization_spark.operators.chunking import chunk_documents

        id_col = self.id_col
        ch = chunk_documents(
            batch_df, id_col, self.text_col, self.chunk_tokens, overlap=0
        ).select(
            F.col(id_col),
            "chunk_id",
            "chunk_text",
            F.md5("chunk_text").alias("_h"),
        ).withColumn(
            "bucket", F.pmod(F.xxhash64(F.col("_h")), F.lit(self.n_buckets)).cast("int")
        )
        # within-batch first occurrence (the batch operator's min-struct rule)
        first = ch.groupBy("_h").agg(
            F.min(
                F.struct(
                    F.col(id_col).alias("i"),
                    F.col("chunk_id").alias("c"),
                    F.col("chunk_text").alias("t"),
                    F.col("bucket").alias("b"),
                )
            ).alias("_k")
        )
        batch_first = first.select(
            F.col("_h"),
            F.col("_k.i").alias(id_col),
            F.col("_k.c").alias("chunk_id"),
            F.col("_k.t").alias("chunk_text"),
            F.col("_k.b").alias("bucket"),
        )
        seen = self._seen(batch_first.select("bucket").distinct())
        fresh = batch_first.join(
            seen.withColumnRenamed("key", "_h"), ["_h"], "left_anti"
        ).localCheckpoint(eager=True)
        (
            fresh.select(F.col("_h").alias("key"), "bucket")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(self.state_dir)
        )
        rebuilt = fresh.groupBy(id_col).agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("chunk_id").alias("c"),
                                F.col("chunk_text").alias("t"),
                            )
                        )
                    ),
                    lambda s: s.getField("t"),
                ),
                " ",
            ).alias("text_dedup"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        from kafka_denormalization_spark.functions.text import tokens as _toks

        wc = F.size(_toks(F.col(self.text_col)))
        step = self.chunk_tokens
        n_chunks = F.greatest(
            F.lit(1), F.floor((wc + F.lit(step - 1)) / F.lit(step))
        ).cast("long")
        return (
            batch_df.select(F.col(id_col), n_chunks.alias("n_chunks"))
            .join(rebuilt, id_col, "left")
            .select(
                id_col,
                F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
                F.col("n_chunks"),
                (F.col("n_chunks") - F.coalesce(F.col("n_kept"), F.lit(0)))
                .cast("long")
                .alias("n_dropped"),
            )
        )

    def foreach_batch(self, sink):
        """Adapter for ``writeStream.foreachBatch``."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            sink(self.process_batch(batch_df, epoch_id), epoch_id)

        return fn

    def compact(self) -> dict[str, int]:
        """Rewrite the span-digest state (see :func:`compact_state`)."""
        return _compact_all(
            self.spark, [(self.state_dir, _STATE_SCHEMA, "bucket")]
        )


class IngestSubstrDedup:
    """Continuous-ingest rolling-window SUBSTRING dedup — the streaming
    face of operators/chunking.py ``exact_substr_dedup`` (stride-1
    ExactSubstr), completing the incremental family: exact
    (:class:`IngestDedup`), chunk-span (:class:`IngestSpanDedup`), near
    (:class:`IngestNearDedup`), and now arbitrary-offset substring.
    Per micro-batch, every ``window_tokens``-token WINDOW whose text was
    already emitted by an earlier batch — or whose within-batch first
    occurrence is elsewhere (min (doc_id, start) wins, the batch
    operator's rule) — is not a coverage witness; each document is
    re-emitted rebuilt from the tokens its fresh windows cover. Short
    documents pass through intact.

    Union parity (pytest-pinned): with document ids increasing across
    batches — the arrival-order contract every twin in this module
    documents — the streamed union equals ``exact_substr_dedup`` over
    the concatenated corpus: a window text's global winner is its first
    batch's within-batch winner either way.

    State: the emitted window-digest set, hash-bucketed parquet exactly
    like :class:`IngestSpanDedup` (md5 window digests; window text
    never enters state). Reads prune to the batch's buckets; appends
    are set-idempotent under replay.

    Output per batch: (id, text_dedup, n_tokens, n_kept) — the batch
    operator's schema.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        id_col: str,
        text_col: str,
        window_tokens: int = 16,
        n_buckets: int = 32,
    ) -> None:
        if window_tokens < 2:
            raise ValueError("window_tokens must be >= 2")
        self.spark = spark
        self.state_dir = os.path.join(state_dir, "substr_digests")
        self.id_col = id_col
        self.text_col = text_col
        self.window_tokens = int(window_tokens)
        self.n_buckets = n_buckets

    def _seen(self, prune: DataFrame) -> DataFrame:
        try:
            df = self.spark.read.schema(_STATE_SCHEMA).parquet(self.state_dir)
        except AnalysisException:
            return self.spark.createDataFrame([], _STATE_SCHEMA)
        return df.join(
            F.broadcast(prune.filter(F.col("bucket") >= 0)),
            on="bucket",
            how="left_semi",
        )

    def process_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> DataFrame:
        from kafka_denormalization_spark.operators.chunking import (
            assemble_from_kept_windows,
            substr_window_digests,
        )

        id_col = self.id_col
        w_ = self.window_tokens
        base, digested = substr_window_digests(
            batch_df, id_col, self.text_col, w_
        )
        # within-batch first occurrence (the batch operator's min rule)
        first = digested.groupBy("_h").agg(
            F.min(
                F.struct(F.col(id_col).alias("i"), F.col("_s").alias("s"))
            ).alias("_k")
        )
        batch_first = first.select(
            "_h",
            F.col("_k.i").alias(id_col),
            F.col("_k.s").alias("_s"),
        ).withColumn(
            "bucket",
            F.pmod(F.xxhash64(F.col("_h")), F.lit(self.n_buckets)).cast("int"),
        )
        seen = self._seen(batch_first.select("bucket").distinct())
        # pin the fresh winners BEFORE the state append: the append
        # changes what _seen() returns, and an unpinned `fresh` re-read
        # after the append would see its own digests as already-seen
        fresh = batch_first.join(
            seen.withColumnRenamed("key", "_h"), ["_h"], "left_anti"
        ).localCheckpoint(eager=True)
        (
            fresh.select(F.col("_h").alias("key"), "bucket")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(self.state_dir)
        )
        kept_wins = fresh.select(
            id_col, "_s", (F.col("_s") + F.lit(w_ - 1)).alias("_e")
        )
        return assemble_from_kept_windows(base, kept_wins, id_col, w_)

    def foreach_batch(self, sink):
        """Adapter for ``writeStream.foreachBatch``."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            sink(self.process_batch(batch_df, epoch_id), epoch_id)

        return fn

    def compact(self) -> dict[str, int]:
        """Rewrite the digest state to one file per bucket (see
        ``compact_state``)."""
        return _compact_all(
            self.spark, [(self.state_dir, _STATE_SCHEMA, "bucket")]
        )

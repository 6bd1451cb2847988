"""Incremental (micro-batch) changelog denormalization — SURVEY §4.3.2
option (a), the primary verified streaming mode.

Reference parity: identical observable semantics to the continuous mode in
``upsert_join.py`` (and thus to transform/JoinTransformer.java:138-200), but
state lives in hash-bucketed parquet and each call to ``process_batch``
plays one micro-batch:

- left update -> join against latest right, emit (JoinTransformer.java:152-158)
- right update -> re-emit ALL lefts for that FK (JoinTransformer.java:168-186)
- latest-per-key upsert state on both sides (StreamDenormalize.java:66-69)
- left FK-change retraction (``retract_fk_changes``, default on): a left
  update whose FK differs from the stored association deletes the stale
  (key, old_fk) index row and emits a retraction record for it. The
  reference has the exact same staleness gap and never fixes it (old index
  entries are never tombstoned; no null-value check at
  JoinTransformer.java:138) — pass ``retract_fk_changes=False`` for
  bug-parity.

State layout: ONE parquet table under ``state_dir/state``, partitioned by
``bucket`` — the micro-batch twin of the reference's single compacted index
topic with a composite key. A ``kind`` column tells its rows apart:

- ``L``: left rows (key, fk, payload, version), bucketed by FK;
- ``R``: right rows, bucketed by FK;
- ``K``: the key index (key -> latest fk/version, NULL payload), bucketed
  by KEY — FK-change detection and key-only left deletes look a key up
  here, read pruned to the batch's key buckets.

The left rows are bucketed by FK (not by left key) because both the join
and the right-update fan-out are FK-addressed — the same reason the
reference prefix-scans on the FK digest (schema/JoinKey.java:94-99).

``state_dir/_batch/`` holds the batch's two pre-merge views, rewritten by
every ``process_batch`` before the state write: ``resolved`` (the batch's
latest left per key joined to the key index it replaces) and ``gated``
(the ``(fk, gate)`` retraction gates read from the pre-merge right rows).
Read back from parquet, each carries its real file size into the planner,
so the emit broadcasts a small view against an unshuffled state scan and
a large backfill batch keeps shuffle joins.

The returned changelog is lazy: it reads ``_batch/`` and the state table
when it runs, so materialize it (``foreach_batch``'s sink does) before the
next ``process_batch`` overwrites them.

Scale notes (100 TB):
- bucket = pmod(xxhash64(col), n_buckets). A micro-batch rewrites ONLY the
  buckets it touches, with one merge and one dynamic-overwrite write of the
  one table, so merge cost is O(touched state), not O(total state).
- the touched-bucket sets come from two bounded driver collects per batch:
  the batch's key, left-FK, right-FK and tombstoned-right bucket ids (the
  last bound the ``gated`` read), then the old-FK bucket
  ids of the resolved (pinned) FK moves and deletes. Each set holds at
  most ``n_buckets`` ints whatever the data size, and every state read is a
  static ``bucket IN (...)`` partition filter, so untouched bucket
  directories are never scanned.
- every bucket a batch touches gets a literal sentinel row (NULL key) so
  dynamic overwrite rewrites it even when deletions empty it — otherwise
  stale rows would survive on disk in deletion-only buckets. Reads drop
  the sentinels.
- per-FK skew concentrates a hot FK's lefts in one bucket; raise n_buckets
  or use the continuous mode's AQE-planned join for emit.
- payloads are opaque JSON strings (the reference's serde-opaque values);
  the typed projection happens at the edges.
- state paths go through Spark's Hadoop filesystem layer (no ``os.path``
  probes), so ``state_dir`` may live on HDFS/S3, not just the driver's
  local disk.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_denormalization_spark.operators.latest import latest_per_key
from kafka_denormalization_spark.streaming.sinks import fs_and_path

_STATE_SCHEMA = "kind string, key string, fk string, payload string, version long, bucket int"
_UPDATE_SCHEMA = "key string, fk string, payload string, version long"
_CHANGELOG_SCHEMA = "key string, fk string, left_value string, right_value string"
# the three-table layout this engine kept before its state became one table
_OLD_LAYOUT = ("left", "right", "key_index")


class IncrementalDenormalize:
    """FK denormalization with durable micro-batch state.

    Use standalone (call ``process_batch`` per batch) or from Structured
    Streaming via ``foreachBatch``.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        how: str = "inner",
        n_buckets: int = 32,
        retract_fk_changes: bool = True,
        tombstones: bool | None = None,
    ) -> None:
        """``tombstones``: treat NULL payloads as deletes (continuous-mode
        parity — index removal + retraction; a left tombstone's FK is
        resolved through the key index, so only the record KEY is needed,
        matching Kafka's key-only delete convention). Defaults to
        ``retract_fk_changes`` (the key index is its backbone); the
        bug-parity mode (both False) ignores deletes like the reference."""
        if how not in ("inner", "left_outer", "right_outer", "full_outer"):
            raise ValueError(f"unknown join flavor {how!r}")
        if tombstones is None:
            tombstones = retract_fk_changes
        if tombstones and not retract_fk_changes:
            raise ValueError(
                "tombstones=True requires retract_fk_changes=True (left "
                "deletes are resolved through the key index)"
            )
        fs, root = fs_and_path(spark, state_dir)
        path = spark._jvm.org.apache.hadoop.fs.Path
        old = [d for d in _OLD_LAYOUT if fs.exists(path(root, d))]
        if old:
            # this engine would see an empty state/ table and re-emit from
            # scratch, silently ignoring the old state
            raise ValueError(
                f"{state_dir} holds state in the old three-table layout "
                f"({', '.join(d + '/' for d in old)}); this engine keeps one "
                "table under state/ — replay the changelog into a new state_dir"
            )
        self.spark = spark
        self.state_dir = state_dir
        self.how = how
        self.n_buckets = n_buckets
        self.retract_fk_changes = retract_fk_changes
        self.tombstones = tombstones
        self._table = os.path.join(state_dir, "state")

    # -- state helpers -------------------------------------------------------

    def _bucket(self, col: str):
        return F.pmod(F.xxhash64(F.col(col)), F.lit(self.n_buckets)).cast("int")

    def _read(self, buckets: set[int], kind: str | None = None) -> DataFrame:
        """State rows in ``buckets`` (a static partition filter: untouched
        bucket directories are never scanned), optionally of one ``kind``.
        No buckets, or no table yet (first batch) -> empty frame, whatever
        the filesystem (probed by the read itself, not ``os.path``)."""
        if not buckets:
            return self.spark.createDataFrame([], _STATE_SCHEMA)
        try:
            df = self.spark.read.schema(_STATE_SCHEMA).parquet(self._table)
        except AnalysisException:
            return self.spark.createDataFrame([], _STATE_SCHEMA)
        df = df.filter(F.col("bucket").isin(sorted(buckets)) & F.col("key").isNotNull())
        return df if kind is None else df.filter(F.col("kind") == kind)

    def _pin(self, df: DataFrame, name: str) -> DataFrame:
        """Write ``df`` to ``_batch/<name>`` and read it back: the view is
        fixed as of now (a later state write cannot change it) and the
        planner sizes it by its files."""
        path = os.path.join(self.state_dir, "_batch", name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.schema(df.schema).parquet(path)

    def _rows(self, df: DataFrame, kind: str, by: str) -> DataFrame:
        """(key, fk, payload, version) updates as state rows of ``kind``,
        bucketed by column ``by``."""
        return df.select(
            F.lit(kind).alias("kind"), "key", "fk", "payload", "version",
            self._bucket(by).alias("bucket"),
        )

    # -- one micro-batch -----------------------------------------------------

    def process_batch(
        self, left_updates: DataFrame | None, right_updates: DataFrame | None
    ) -> DataFrame:
        """Apply one micro-batch of updates (either side may be None/empty);
        return the changelog to emit: (key, fk, left_value, right_value).
        FK-change retractions come out as (key, old_fk, NULL, NULL).

        Inputs must have columns (key, fk, payload, version); for the right
        side fk == key (RightKeyMapper.java:16-18). Use
        ``streaming.upsert_join.tag_side`` to project typed frames.
        """
        spark = self.spark
        empty = spark.createDataFrame([], _UPDATE_SCHEMA)
        caches: list[DataFrame] = []

        def cached(df: DataFrame) -> DataFrame:
            df = df.cache()
            caches.append(df)
            return df

        lu = cached((left_updates or empty).select("key", "fk", "payload", "version"))
        ru = cached((right_updates or empty).select("key", "fk", "payload", "version"))

        # the batch's bucket ids: at most n_buckets ints per tag
        r_tag = F.lit("R")
        if self.tombstones:
            # a tombstoned right's bucket is tagged T as well (the only
            # right-update buckets `gated` reads), in the same scan of
            # `ru`: one more branch over a cached frame is one more job
            r_tag = F.explode(F.array_compact(
                F.array(r_tag, F.when(F.col("payload").isNull(), F.lit("T")))
            ))
        tagged = [
            lu.select(F.lit("L").alias("tag"), self._bucket("fk").alias("b")),
            ru.select(r_tag.alias("tag"), self._bucket("fk").alias("b")),
        ]
        if self.retract_fk_changes:
            tagged.append(lu.select(F.lit("K").alias("tag"), self._bucket("key").alias("b")))
        sets: dict[str, set[int]] = {"K": set(), "L": set(), "R": set(), "T": set()}
        for r in reduce(DataFrame.unionByName, tagged).distinct().collect():
            sets[r["tag"]].add(r["b"])
        if not (sets["L"] or sets["R"]):
            # empty batch: nothing to merge, nothing to emit
            for df in caches:
                df.unpersist()
            return spark.createDataFrame([], _CHANGELOG_SCHEMA)

        deletes: list[DataFrame] = []  # (kind, key, fk) rows the merge drops
        if self.tombstones:
            # right side: resolve the batch's final value per key and split
            # deletes out
            ru_final = latest_per_key(ru, ["key"], ["version", "payload"])
            rv = ru_final.filter(F.col("payload").isNotNull()).select(
                "key", "fk", "payload", "version"
            )
            rt = ru_final.filter(F.col("payload").isNull()).select("key", "fk")
            deletes.append(rt.select(F.lit("R").alias("kind"), "key", "fk"))
        else:
            rv, rt = ru, None

        lu_apply = lu
        stale = tomb_pairs = stale_right_fks = right_tomb_fks = None
        old_buckets: set[int] = set()
        if self.retract_fk_changes:
            # per-batch winner per KEY (not per (key, fk)): an FK move is a
            # new association for the same key, and out-of-order stragglers
            # (version below the stored one) must not apply at all
            lu_latest = latest_per_key(lu, ["key"], ["version", "fk", "payload"])
            kidx = self._read(sets["K"], "K").select(
                "key",
                F.col("fk").alias("_old_fk"),
                F.col("version").alias("_old_ver"),
            )
            # pinned before the state write: this frame reads the pre-merge
            # key index, which the merge below overwrites — lazy
            # recomputation after the write would silently resolve against
            # the NEW index (no stale rows, no retractions)
            resolved = self._pin(lu_latest.join(kidx, on="key", how="left_outer"), "resolved")
            lw_vals = resolved.filter(
                F.col("_old_ver").isNull() | (F.col("version") >= F.col("_old_ver"))
            )
            if self.tombstones:
                # NULL payload = delete (Kafka compaction convention).
                # The delete targets the INDEXED pair — a tombstone for an
                # unindexed key is a no-op (continuous-mode parity).
                lw_tombs = lw_vals.filter(F.col("payload").isNull())
                lw_vals = lw_vals.filter(F.col("payload").isNotNull())
                tomb_pairs = lw_tombs.filter(F.col("_old_fk").isNotNull()).select(
                    "key", F.col("_old_fk").alias("fk")
                )
                deletes.append(lw_tombs.select(
                    F.lit("K").alias("kind"), "key", F.lit(None).cast("string").alias("fk")
                ))
            lu_apply = lw_vals.select("key", "fk", "payload", "version")
            stale = lw_vals.filter(
                F.col("_old_fk").isNotNull() & (F.col("_old_fk") != F.col("fk"))
            ).select("key", F.col("_old_fk").alias("fk"))
            left_deletes = stale if tomb_pairs is None else stale.unionByName(tomb_pairs)
            deletes.append(left_deletes.select(F.lit("L").alias("kind"), "key", "fk"))
            old_buckets = {
                r["b"]
                for r in left_deletes.select(self._bucket("fk").alias("b")).distinct().collect()
            }
            if self.how in ("inner", "right_outer"):
                # Retraction gates need the right side as of emission time —
                # approximated by the PRE-merge right state, read once here
                # for both gates: `stale` (did old_fk have a right, so the
                # stale pair was ever emitted?) and `tomb` (did the
                # tombstoned right exist?). Post-merge state would miss the
                # retraction when old_fk's right is tombstoned in this same
                # batch, and fabricate one when it first appears in this
                # batch. Pinned for the same pre-merge-view reason as
                # `resolved`. Its readers are semi-joins, so duplicate
                # (fk, gate) rows are harmless and not removed.
                probes = stale.select(
                    "fk", F.lit(None).cast("string").alias("_pkey"), F.lit("stale").alias("gate")
                )
                if rt is not None:
                    probes = probes.unionByName(
                        rt.select("fk", F.col("key").alias("_pkey"), F.lit("tomb").alias("gate"))
                    )
                gated = self._pin(
                    self._read(old_buckets | sets["T"], "R")
                    .join(probes, "fk")
                    .filter((F.col("gate") == "stale") | (F.col("key") == F.col("_pkey")))
                    .select("fk", "gate"),
                    "gated",
                )
                stale_right_fks = gated.filter(F.col("gate") == "stale").select("fk")
                if rt is not None:
                    right_tomb_fks = gated.filter(F.col("gate") == "tomb").select("fk")

        # the merge: one read of every touched bucket (all kinds — a bucket
        # is rewritten whole), the updates, one sentinel per touched bucket;
        # latest row per (kind, key, fk) — per (kind, key) for the key index
        touched = sets["K"] | sets["L"] | sets["R"] | old_buckets
        parts = [
            self._read(touched),
            self._rows(lu_apply, "L", "fk"),
            self._rows(rv, "R", "fk"),
            spark.createDataFrame([(None, None, None, None, 0, b) for b in sorted(touched)], _STATE_SCHEMA),
        ]
        if self.retract_fk_changes:
            parts.append(self._rows(
                lu_apply.withColumn("payload", F.lit(None).cast("string")), "K", "key"
            ))
        merged = latest_per_key(
            reduce(DataFrame.unionByName, parts)
            .repartition("bucket")
            .withColumn("_fk", F.when(F.col("kind") != "K", F.col("fk"))),
            ["bucket", "kind", "key", "_fk"],
            ["version", "fk"],
        ).drop("_fk")
        if deletes:
            d = reduce(DataFrame.unionByName, deletes).select(
                F.col("kind").alias("_dkind"), F.col("key").alias("_dkey"), F.col("fk").alias("_dfk")
            )
            merged = merged.join(
                F.broadcast(d),
                (F.col("kind") == F.col("_dkind"))
                & (F.col("key") == F.col("_dkey"))
                & ((F.col("_dkind") == "K") | (F.col("fk") == F.col("_dfk"))),
                "left_anti",
            )
        (
            merged.write.partitionBy("bucket")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(self._table)
        )
        for df in caches:
            df.unpersist()

        # the reads below are pruned to the batch's FK buckets; the affected
        # FK set narrows the right rows, stale old-FKs included so
        # retractions can look up their rights. The FK and key sets are only
        # ever semi/anti-join build sides, where duplicates cannot change
        # the result, so they are not de-duplicated (each distinct would be
        # one more shuffle per batch).
        right_fks = ru.select("fk")
        affected = lu.select("fk").unionByName(right_fks)
        if stale is not None:
            affected = affected.unionByName(stale.select("fk"))
        fk_buckets = sets["L"] | sets["R"] | old_buckets

        lstate = self._read(fk_buckets, "L")
        rstate = self._read(fk_buckets, "R").join(affected, ["fk"], "left_semi")

        # lefts to emit: updated lefts + full fan-out for FKs whose right changed
        updated_left_keys = lu_apply.select("key", "fk")
        emit_updated = lstate.join(updated_left_keys, ["key", "fk"], "left_semi")
        emit_fanout = lstate.join(right_fks, ["fk"], "left_semi")
        lefts = emit_updated.unionByName(emit_fanout).dropDuplicates(["key", "fk"])

        rights = rstate.select(
            F.col("fk").alias("r_fk"), F.col("payload").alias("right_value")
        )

        jhow = {
            "inner": "inner",
            "left_outer": "left_outer",
            "right_outer": "left_outer",  # right-outer extras added below
            "full_outer": "left_outer",
        }[self.how]
        joined = lefts.join(rights, lefts["fk"] == rights["r_fk"], jhow).select(
            F.col("key"),
            F.col("fk"),
            F.col("payload").alias("left_value"),
            F.col("right_value"),
        )
        out = joined
        if self.how in ("right_outer", "full_outer"):
            # rights (updated this batch) with zero lefts -> (null, right)
            # (JoinTransformer.java:192-196)
            updated_rights = rstate.join(right_fks, ["fk"], "left_semi")
            no_lefts = updated_rights.join(lstate.select("fk"), ["fk"], "left_anti")
            extras = no_lefts.select(
                F.lit(None).cast("string").alias("key"),
                F.col("fk"),
                F.lit(None).cast("string").alias("left_value"),
                F.col("payload").alias("right_value"),
            )
            if self.how == "right_outer":
                out = joined.filter(F.col("right_value").isNotNull()).unionByName(extras)
            else:
                out = joined.unionByName(extras)

        retract_pairs = None
        if stale is not None:
            # retract the old (key, old_fk) association. For the
            # left-preserving flavors that pair was emitted unconditionally;
            # for inner/right_outer it only ever reached the output if a
            # right existed for the old FK — don't retract what was never
            # emitted (a spurious delete could race the same-batch re-emit
            # under the new FK for consumers keyed by `key` alone). Gated on
            # the PRE-merge right state (stale_right_fks) — post-merge rstate
            # is wrong when old_fk's right was deleted or created this batch.
            if self.how in ("left_outer", "full_outer"):
                retract_pairs = stale
            else:
                retract_pairs = stale.join(stale_right_fks, ["fk"], "left_semi")
        if tomb_pairs is not None:
            # left delete: retract whenever the key was indexed, whatever
            # the right side (continuous-mode parity: upsert_join.py emits
            # deleted_lefts unconditionally)
            retract_pairs = (
                tomb_pairs
                if retract_pairs is None
                else retract_pairs.unionByName(tomb_pairs)
            )
        if right_tomb_fks is not None:
            # right delete invalidates every previously-emitted pair for
            # that FK (continuous parity: right_deleted && right_existed).
            # The left-preserving flavors re-emit (left, NULL) through the
            # fan-out path instead — no retraction rows there.
            dead_lefts = lstate.join(right_tomb_fks, ["fk"], "left_semi").select(
                "key", "fk"
            )
            retract_pairs = (
                dead_lefts
                if retract_pairs is None
                else retract_pairs.unionByName(dead_lefts)
            )
        if retract_pairs is not None:
            retractions = retract_pairs.select(
                F.col("key"),
                F.col("fk"),
                F.lit(None).cast("string").alias("left_value"),
                F.lit(None).cast("string").alias("right_value"),
            )
            out = out.unionByName(retractions)
        return out

    def foreach_batch(self, tag_left, tag_right, sink):
        """Adapter for ``writeStream.foreachBatch`` over a side-tagged update
        stream (UPDATE_SCHEMA): splits sides, plays the batch, hands the
        changelog to ``sink(df, epoch_id)``."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            lu = tag_left(batch_df)
            ru = tag_right(batch_df)
            sink(self.process_batch(lu, ru), epoch_id)

        return fn

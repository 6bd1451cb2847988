"""Streaming changelog denormalization: continuous (applyInPandasWithState)
and incremental (bucketed-state micro-batch) modes.

The key semantic Spark's native stream-stream join cannot express, and both
modes must: a RIGHT update arriving in a LATER micro-batch re-emits every
left already indexed for that FK (JoinTransformer.java:168-186)."""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from kafka_denormalization_spark.streaming.incremental import IncrementalDenormalize
from kafka_denormalization_spark.streaming.upsert_join import (
    UPDATE_SCHEMA,
    tag_side,
    upsert_join,
)

UPDATES_B1 = [
    # batch 1: two comments on story 100, one on 200; no stories yet
    (1, "left", "c1", "100", '{"id": "c1", "text": "first"}'),
    (2, "left", "c2", "100", '{"id": "c2", "text": "second"}'),
    (3, "left", "c3", "200", '{"id": "c3", "text": "hello"}'),
]
UPDATES_B2 = [
    # batch 2: story 100 arrives -> must fan out to c1+c2; story 300 no lefts
    (4, "right", "100", "100", '{"id": "100", "title": "story hundred"}'),
    (5, "right", "300", "300", '{"id": "300", "title": "lonely"}'),
]
UPDATES_B3 = [
    # batch 3: c1 edited -> single re-emit with existing story;
    # story 100 updated -> fan-out re-emit of c1+c2 with new title
    (6, "left", "c1", "100", '{"id": "c1", "text": "first (edited)"}'),
    (7, "right", "100", "100", '{"id": "100", "title": "story hundred v2"}'),
]


def _write_batches(spark, tmpdir, batches):
    src = os.path.join(tmpdir, "updates")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, UPDATE_SCHEMA).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(src)
    return src


def _run_stream(spark, src, how):
    name = "out_" + uuid.uuid4().hex[:8]
    stream = (
        spark.readStream.schema(UPDATE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        upsert_join(stream, how=how)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option(
            "checkpointLocation", os.path.join(src, "..", "ckpt_" + name)
        )
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return [r.asDict() for r in spark.sql(f"SELECT * FROM {name}").collect()]


@pytest.fixture()
def tmpdir(tmp_path):
    return str(tmp_path)


def test_continuous_inner_emits_nothing_without_right(spark, tmpdir):
    src = _write_batches(spark, tmpdir, [UPDATES_B1])
    out = _run_stream(spark, src, "inner")
    assert out == []


def test_continuous_right_arrival_fans_out(spark, tmpdir):
    src = _write_batches(spark, tmpdir, [UPDATES_B1, UPDATES_B2])
    out = _run_stream(spark, src, "inner")
    emitted = {(r["key"], json.loads(r["right_value"])["title"]) for r in out}
    # story 100's arrival re-emitted both earlier comments
    assert emitted == {("c1", "story hundred"), ("c2", "story hundred")}


def test_continuous_three_batch_changelog(spark, tmpdir):
    src = _write_batches(spark, tmpdir, [UPDATES_B1, UPDATES_B2, UPDATES_B3])
    out = _run_stream(spark, src, "inner")
    # batch2: c1+c2 with v1 title; batch3: c1 (edit) + c1+c2 (fan-out) with v2
    by_batch = {}
    for r in out:
        title = json.loads(r["right_value"])["title"]
        by_batch.setdefault(title, set()).add((r["key"], json.loads(r["left_value"])["text"]))
    assert by_batch["story hundred"] == {("c1", "first"), ("c2", "second")}
    assert by_batch["story hundred v2"] == {("c1", "first (edited)"), ("c2", "second")}


def test_continuous_left_outer_and_right_outer(spark, tmpdir):
    src = _write_batches(spark, tmpdir, [UPDATES_B1, UPDATES_B2])
    lo = _run_stream(spark, src, "left_outer")
    # batch1 emits all three lefts with null right
    nulls = {r["key"] for r in lo if r["right_value"] is None}
    assert nulls == {"c1", "c2", "c3"}
    ro = _run_stream(spark, src, "right_outer")
    # story 300 has no lefts -> (null, right)
    lonely = [r for r in ro if r["key"] is None]
    assert len(lonely) == 1
    assert json.loads(lonely[0]["right_value"])["title"] == "lonely"


def _play_incremental(spark, tmpdir, how, batches):
    eng = IncrementalDenormalize(spark, os.path.join(tmpdir, "state_" + how), how=how)
    emitted = []
    for rows in batches:
        df = spark.createDataFrame(rows, UPDATE_SCHEMA)
        lu = df.filter(F.col("side") == "left").select(
            "key", "fk", "payload", F.col("seq").alias("version")
        )
        ru = df.filter(F.col("side") == "right").select(
            "key", "fk", "payload", F.col("seq").alias("version")
        )
        emitted.append([r.asDict() for r in eng.process_batch(lu, ru).collect()])
    return emitted


def test_incremental_matches_continuous_semantics(spark, tmpdir):
    b1, b2, b3 = _play_incremental(
        spark, tmpdir, "inner", [UPDATES_B1, UPDATES_B2, UPDATES_B3]
    )
    assert b1 == []  # no rights yet
    assert {(r["key"], json.loads(r["right_value"])["title"]) for r in b2} == {
        ("c1", "story hundred"),
        ("c2", "story hundred"),
    }
    got3 = {(r["key"], json.loads(r["left_value"])["text"], json.loads(r["right_value"])["title"]) for r in b3}
    assert got3 == {
        ("c1", "first (edited)", "story hundred v2"),
        ("c2", "second", "story hundred v2"),
    }


def test_incremental_right_outer_lonely_story(spark, tmpdir):
    _, b2 = _play_incremental(spark, tmpdir, "right_outer", [UPDATES_B1, UPDATES_B2])
    lonely = [r for r in b2 if r["key"] is None]
    assert len(lonely) == 1
    assert json.loads(lonely[0]["right_value"])["title"] == "lonely"


def test_incremental_state_survives_across_engine_instances(spark, tmpdir):
    """State is durable parquet: a new engine instance over the same state
    dir continues the changelog (restart semantics,
    dsl/StreamDenormalize.java:63 store rebuild)."""
    state = os.path.join(tmpdir, "state_restart")
    eng1 = IncrementalDenormalize(spark, state, how="inner")
    df1 = spark.createDataFrame(UPDATES_B1, UPDATE_SCHEMA)
    eng1.process_batch(
        df1.select("key", "fk", "payload", F.col("seq").alias("version")), None
    ).collect()

    eng2 = IncrementalDenormalize(spark, state, how="inner")
    df2 = spark.createDataFrame(UPDATES_B2, UPDATE_SCHEMA)
    out = eng2.process_batch(
        None, df2.select("key", "fk", "payload", F.col("seq").alias("version"))
    ).collect()
    assert {r["key"] for r in out} == {"c1", "c2"}


def test_tag_side_projection(spark, comments):
    tagged = tag_side(
        comments, "left", key="id", fk="story",
        payload_cols=["id", "text", "story"], seq="time",
    )
    assert tagged.columns == ["seq", "side", "key", "fk", "payload"]
    row = tagged.filter(F.col("key") == "3").first()
    assert row["fk"] == "200"
    assert json.loads(row["payload"])["text"] == "hello"


def test_continuous_ttl_evicts_state(spark, tmpdir):
    """With ttl_ms set, an FK's index entries vanish after inactivity: the
    late-arriving story finds no lefts to fan out to (better-than-reference
    state hygiene; the reference keeps state forever)."""
    import time

    # with processing-time timers, no-data micro-batches keep the query busy
    # forever and processAllAvailable() never returns — disable for the test
    # (timeouts then fire on the next data-carrying batch)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    src = os.path.join(tmpdir, "updates")
    spark.createDataFrame(UPDATES_B1, UPDATE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    name = "out_ttl_" + uuid.uuid4().hex[:8]
    stream = (
        spark.readStream.schema(UPDATE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        upsert_join(stream, how="inner", ttl_ms=500)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt_" + name))
        .start()
    )
    q.processAllAvailable()
    time.sleep(1.5)  # let the 500ms TTL lapse
    # an unrelated batch triggers the timeout callback: fk=100/200 get no
    # data this trigger, are expired, and their state is removed
    spark.createDataFrame(
        [(99, "left", "zz", "999", "{}")], UPDATE_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    # now the story arrives: its lefts are gone -> no fan-out emission
    spark.createDataFrame(UPDATES_B2, UPDATE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q.processAllAvailable()
    q.stop()
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    out = [r.asDict() for r in spark.sql(f"SELECT * FROM {name}").collect()]
    assert all(r["fk"] != "100" for r in out), out


def test_tombstones_delete_and_retract(spark, tmpdir):
    """NULL payloads are deletes (beyond-reference capability): a deleted
    comment emits a retraction; a deleted story retracts every joined pair."""
    b1 = UPDATES_B1 + UPDATES_B2  # comments + stories indexed
    b2 = [
        (10, "left", "c2", "100", None),    # delete comment c2
        (11, "right", "200", "200", None),  # delete story 200 (c3 joined? no right yet for 200)
    ]
    src = _write_batches(spark, tmpdir, [b1, b2])
    out = _run_stream(spark, src, "inner")
    # batch2 retraction for c2
    retractions = [r for r in out if r["left_value"] is None and r["right_value"] is None]
    assert {r["key"] for r in retractions} == {"c2"}
    # c2's state is gone: a later story update must not re-emit c2
    b3 = [(12, "right", "100", "100", '{"id": "100", "title": "v3"}')]
    src2 = _write_batches(spark, str(tmpdir) + "_2", [b1, b2, b3])
    out3 = _run_stream(spark, src2, "inner")
    v3_keys = {r["key"] for r in out3 if r["right_value"] and "v3" in r["right_value"]}
    assert v3_keys == {"c1"}


def test_right_tombstone_retracts_all_lefts(spark, tmpdir):
    b1 = UPDATES_B1 + UPDATES_B2
    b2 = [(10, "right", "100", "100", None)]  # delete story 100
    src = _write_batches(spark, tmpdir, [b1, b2])
    out = _run_stream(spark, src, "inner")
    retractions = {r["key"] for r in out if r["left_value"] is None and r["right_value"] is None}
    assert retractions == {"c1", "c2"}


def test_streaming_latest_per_key_suppresses_stragglers(spark, tmpdir):
    """O2 continuous twin: later-version wins; an out-of-order older record
    arriving in a later micro-batch is suppressed entirely."""
    from kafka_denormalization_spark.streaming.latest import (
        streaming_latest_per_key,
    )

    src = os.path.join(tmpdir, "lk")
    b1 = [("a", 5, "a-v5"), ("b", 1, "b-v1")]
    b2 = [("a", 3, "a-v3-straggler"), ("b", 2, "b-v2")]
    schema = "key string, version long, payload string"
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    name = "lk_" + uuid.uuid4().hex[:8]
    q = (
        streaming_latest_per_key(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(tmpdir, "ck_lk"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = [tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()]
    # batch1 emits both; batch2 emits only b's advance (a's straggler suppressed)
    assert sorted(rows) == [("a", 5, "a-v5"), ("b", 1, "b-v1"), ("b", 2, "b-v2")]


def test_continuous_join_on_rocksdb_state_store(spark, tmpdir):
    """The 100 TB state backend: the same stateful join must run unchanged
    on the RocksDB state store provider (bundled with Spark; spills state
    to local disk instead of holding it on the JVM heap)."""
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = _write_batches(spark, tmpdir, [UPDATES_B1, UPDATES_B2])
        out = _run_stream(spark, src, "inner")
        emitted = {(r["key"], json.loads(r["right_value"])["title"]) for r in out}
        assert emitted == {("c1", "story hundred"), ("c2", "story hundred")}
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_stream_static_denormalize(spark, tmpdir, stories):
    """Option (c): streaming comments joined to a static latest-per-key
    stories snapshot; the dimension upsert (score 42) is applied at plan
    time, and the join is broadcast (no stateful shuffle)."""
    from kafka_denormalization_spark.streaming.stream_static import (
        stream_static_denormalize,
    )

    src = os.path.join(tmpdir, "cstream")
    comments = spark.createDataFrame(
        [(1, "first", 100), (2, "second", 100), (4, "orphan", 999)],
        "id long, text string, story long",
    )
    comments.coalesce(1).write.mode("overwrite").parquet(src)
    cstream = spark.readStream.schema(comments.schema).parquet(src)

    joined = stream_static_denormalize(
        cstream, stories, fk="story", dim_key="id",
        dim_version=["time", "id"], how="left_outer",
    ).select("text", "score", "title")
    name = "ss_" + uuid.uuid4().hex[:8]
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmpdir, "ck_ss"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = {r["text"]: (r["score"], r["title"]) for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert rows["first"] == (42, "story hundred (updated)")  # upsert won
    assert rows["orphan"] == (None, None)  # left outer null side


class _FakeGroupState:
    """Minimal GroupState stand-in for unit-testing the joiner function."""

    def __init__(self, value=None):
        self._value = value
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, value):
        self._value = value

    def remove(self):
        self._value = None


def test_joiner_sorts_across_arrow_chunks():
    """Regression: applyInPandasWithState delivers a group's rows as
    multiple Arrow chunks. A lower-seq update in a LATER chunk must not
    overwrite a higher-seq one from an earlier chunk — the joiner has to
    sort the whole group by seq, not per-chunk."""
    import pandas as pd

    from kafka_denormalization_spark.streaming.upsert_join import _joiner

    cols = ["seq", "side", "key", "fk", "payload"]
    # chunk 1 carries the NEWER updates (higher seq); chunk 2 the older ones
    chunk1 = pd.DataFrame(
        [
            (10, "left", "c1", "100", '{"v": "new"}'),
            (11, "right", "100", "100", '{"title": "new title"}'),
        ],
        columns=cols,
    )
    chunk2 = pd.DataFrame(
        [
            (5, "left", "c1", "100", '{"v": "old"}'),
            (6, "right", "100", "100", '{"title": "old title"}'),
        ],
        columns=cols,
    )
    state = _FakeGroupState()
    out = list(_joiner("inner")(("100",), iter([chunk1, chunk2]), state))
    emitted = pd.concat(out, ignore_index=True)
    assert list(emitted["left_value"]) == ['{"v": "new"}']
    assert list(emitted["right_value"]) == ['{"title": "new title"}']
    right_value, left_keys, left_values = state.get
    assert right_value == '{"title": "new title"}'
    assert dict(zip(left_keys, left_values)) == {"c1": '{"v": "new"}'}


def test_joiner_empty_chunk_iterator():
    """TTL timeout invocations can hand the joiner zero input chunks."""
    from kafka_denormalization_spark.streaming.upsert_join import _joiner

    state = _FakeGroupState(("{}", ["c1"], ["{}"]))
    out = list(_joiner("inner")(("100",), iter([]), state))
    assert out == []  # nothing updated -> nothing emitted


def _mkdf(spark, rows):
    return spark.createDataFrame(rows, "key string, fk string, payload string, version long")


def test_incremental_fk_change_retracts_old_pair(spark, tmpdir):
    """A left whose FK moves must (a) emit a retraction for the old
    (key, old_fk) pair, (b) delete the stale index row so a later right
    update on the old FK no longer fans out to it. The reference never
    does this (JoinTransformer.java:138) — our deliberate improvement."""
    eng = IncrementalDenormalize(spark, os.path.join(tmpdir, "st_move"), how="inner")
    # batch 1: comment c1 on story 100, story 100 present -> joined emit
    out1 = eng.process_batch(
        _mkdf(spark, [("c1", "100", '{"t":"v1"}', 1)]),
        _mkdf(spark, [("100", "100", '{"s":"a"}', 1)]),
    ).collect()
    assert {(r["key"], r["fk"]) for r in out1} == {("c1", "100")}
    # batch 2: c1 moves to story 200 (no right for 200 yet, inner join)
    out2 = eng.process_batch(
        _mkdf(spark, [("c1", "200", '{"t":"v2"}', 2)]), None
    ).collect()
    # retraction for the old joined pair; nothing for 200 (no right yet)
    assert [(r["key"], r["fk"], r["left_value"], r["right_value"]) for r in out2] == [
        ("c1", "100", None, None)
    ]
    # batch 3: story 100 updates -> must NOT fan out to the moved c1
    out3 = eng.process_batch(
        None, _mkdf(spark, [("100", "100", '{"s":"b"}', 2)])
    ).collect()
    assert out3 == []
    # batch 4: story 200 arrives -> c1 joins under its NEW fk
    out4 = eng.process_batch(
        None, _mkdf(spark, [("200", "200", '{"s":"c"}', 1)])
    ).collect()
    assert [(r["key"], r["fk"], r["left_value"]) for r in out4] == [
        ("c1", "200", '{"t":"v2"}')
    ]


def test_incremental_fk_change_no_spurious_retraction(spark, tmpdir):
    """Inner join: moving OFF an FK that never had a right must not emit a
    retraction (the pair was never emitted; a spurious delete could race
    the same-batch re-emit for consumers keyed by `key` alone)."""
    eng = IncrementalDenormalize(spark, os.path.join(tmpdir, "st_move2"), how="inner")
    eng.process_batch(_mkdf(spark, [("c1", "100", '{"t":"v1"}', 1)]), None).collect()
    out = eng.process_batch(
        _mkdf(spark, [("c1", "200", '{"t":"v2"}', 2)]),
        _mkdf(spark, [("200", "200", '{"s":"x"}', 1)]),
    ).collect()
    # no right ever existed for 100 -> no retraction; new pair joins
    assert [(r["key"], r["fk"], r["right_value"] is not None) for r in out] == [
        ("c1", "200", True)
    ]


def test_incremental_fk_change_left_outer_always_retracts(spark, tmpdir):
    """left_outer emitted (c1, 100, left, null) even without a right, so the
    move must retract unconditionally."""
    eng = IncrementalDenormalize(spark, os.path.join(tmpdir, "st_move3"), how="left_outer")
    out1 = eng.process_batch(_mkdf(spark, [("c1", "100", '{"t":"v1"}', 1)]), None).collect()
    assert [(r["key"], r["fk"], r["right_value"]) for r in out1] == [("c1", "100", None)]
    out2 = eng.process_batch(_mkdf(spark, [("c1", "200", '{"t":"v2"}', 2)]), None).collect()
    got = sorted((r["key"], r["fk"], r["left_value"]) for r in out2)
    assert got == [("c1", "100", None), ("c1", "200", '{"t":"v2"}')]


def test_incremental_fk_change_with_same_batch_right_tombstone(spark, tmpdir):
    """Inner join, one batch: c1 moves 100->200 WHILE story 100 is
    tombstoned. The (c1, 100) pair WAS emitted in batch 1, so exactly one
    retraction must come out. Gating on post-merge right state misses it
    (100's right is already gone after the merge); the pre-merge snapshot
    (stale_right_fks) catches it."""
    eng = IncrementalDenormalize(spark, os.path.join(tmpdir, "st_rt"), how="inner")
    out1 = eng.process_batch(
        _mkdf(spark, [("c1", "100", '{"t":"v1"}', 1)]),
        _mkdf(spark, [("100", "100", '{"s":"a"}', 1)]),
    ).collect()
    assert {(r["key"], r["fk"]) for r in out1} == {("c1", "100")}
    out2 = eng.process_batch(
        _mkdf(spark, [("c1", "200", '{"t":"v2"}', 2)]),
        _mkdf(spark, [("100", "100", None, 2)]),  # tombstone story 100
    ).collect()
    got = sorted(
        (r["key"], r["fk"], r["left_value"], r["right_value"]) for r in out2
    )
    assert got == [("c1", "100", None, None)]


def test_incremental_fk_change_with_same_batch_right_arrival_on_old_fk(spark, tmpdir):
    """Inner join, one batch: c1 moves 100->200 WHILE story 100 FIRST
    appears. (c1, 100) was never emitted (no right existed), so no
    retraction — gating on post-merge right state would fabricate one."""
    eng = IncrementalDenormalize(spark, os.path.join(tmpdir, "st_ra"), how="inner")
    out1 = eng.process_batch(
        _mkdf(spark, [("c1", "100", '{"t":"v1"}', 1)]), None
    ).collect()
    assert out1 == []  # inner join, no right yet
    out2 = eng.process_batch(
        _mkdf(spark, [("c1", "200", '{"t":"v2"}', 2)]),
        _mkdf(spark, [("100", "100", '{"s":"new"}', 1)]),
    ).collect()
    # story 100 fans out to ZERO lefts (c1 already moved in this batch);
    # no retraction for the never-emitted (c1, 100)
    assert out2 == []


def test_incremental_out_of_order_update_does_not_apply(spark, tmpdir):
    """A straggler with a LOWER version than the stored association must
    not change state, emit, or retract (last-writer-wins by version)."""
    eng = IncrementalDenormalize(spark, os.path.join(tmpdir, "st_ooo"), how="inner")
    eng.process_batch(
        _mkdf(spark, [("c1", "100", '{"t":"v5"}', 5)]),
        _mkdf(spark, [("100", "100", '{"s":"a"}', 1), ("200", "200", '{"s":"b"}', 1)]),
    ).collect()
    out = eng.process_batch(
        _mkdf(spark, [("c1", "200", '{"t":"v2-late"}', 2)]), None
    ).collect()
    assert out == []
    # the association is still 100: a right update on 100 fans out to c1
    out3 = eng.process_batch(None, _mkdf(spark, [("100", "100", '{"s":"a2"}', 2)])).collect()
    assert [(r["key"], r["fk"], r["left_value"]) for r in out3] == [
        ("c1", "100", '{"t":"v5"}')
    ]


def test_incremental_bug_parity_mode_keeps_stale_pair(spark, tmpdir):
    """retract_fk_changes=False reproduces the reference's staleness bug:
    both (key, old_fk) and (key, new_fk) rows survive in the index."""
    eng = IncrementalDenormalize(
        spark, os.path.join(tmpdir, "st_parity"), how="inner", retract_fk_changes=False
    )
    eng.process_batch(
        _mkdf(spark, [("c1", "100", '{"t":"v1"}', 1)]),
        _mkdf(spark, [("100", "100", '{"s":"a"}', 1)]),
    ).collect()
    eng.process_batch(_mkdf(spark, [("c1", "200", '{"t":"v2"}', 2)]), None).collect()
    # stale fan-out: story 100's update still re-emits the moved c1
    out = eng.process_batch(None, _mkdf(spark, [("100", "100", '{"s":"b"}', 2)])).collect()
    assert [(r["key"], r["fk"]) for r in out] == [("c1", "100")]


# -- transformWithStateInPandas twin (streaming/tws_join.py) ----------------
# e2e runs need a protobuf runtime for Spark's TWS state protocol: the real
# google.protobuf, or the vendored miniproto shim (vendor/state_message_shim)
# that engine.get_spark + sitecustomize activate in every worker flavor.
# The skip below only fires if NEITHER is usable.

from kafka_denormalization_spark.streaming.tws_join import (  # noqa: E402
    UpsertJoinProcessor,
    tws_available,
)

_tws_e2e = pytest.mark.skipif(
    not tws_available(),
    reason="no protobuf runtime (neither google.protobuf nor the miniproto shim)",
)

_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def _run_tws_stream(spark, src, how, ttl_ms=None):
    from kafka_denormalization_spark.streaming.tws_join import upsert_join_tws

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", _ROCKSDB)
    try:
        name = "tws_" + uuid.uuid4().hex[:8]
        stream = (
            spark.readStream.schema(UPDATE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            upsert_join_tws(stream, how=how, ttl_ms=ttl_ms)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(src, "..", "ckpt_" + name))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return [r.asDict() for r in spark.sql(f"SELECT * FROM {name}").collect()]
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


@_tws_e2e
def test_tws_inner_emits_nothing_without_right(spark, tmpdir):
    src = _write_batches(spark, tmpdir, [UPDATES_B1])
    assert _run_tws_stream(spark, src, "inner") == []


@_tws_e2e
def test_tws_right_arrival_fans_out(spark, tmpdir):
    src = _write_batches(spark, tmpdir, [UPDATES_B1, UPDATES_B2])
    out = _run_tws_stream(spark, src, "inner")
    emitted = {(r["key"], json.loads(r["right_value"])["title"]) for r in out}
    assert emitted == {("c1", "story hundred"), ("c2", "story hundred")}


@_tws_e2e
def test_tws_three_batch_changelog_matches_continuous(spark, tmpdir):
    """The MapState twin must be emission-equivalent to the
    applyInPandasWithState implementation on the full 3-batch fixture."""
    src = _write_batches(spark, tmpdir, [UPDATES_B1, UPDATES_B2, UPDATES_B3])
    tws = _run_tws_stream(spark, src, "inner")
    ref = _run_stream(spark, src, "inner")
    canon = lambda rows: sorted(
        (r["key"], r["fk"], r["left_value"], r["right_value"]) for r in rows
    )
    assert canon(tws) == canon(ref)


@_tws_e2e
def test_tws_left_outer_and_right_outer(spark, tmpdir):
    src = _write_batches(spark, tmpdir, [UPDATES_B1, UPDATES_B2])
    lo = _run_tws_stream(spark, src, "left_outer")
    assert {r["key"] for r in lo if r["right_value"] is None} == {"c1", "c2", "c3"}
    ro = _run_tws_stream(spark, src, "right_outer")
    lonely = [r for r in ro if r["key"] is None]
    assert len(lonely) == 1
    assert json.loads(lonely[0]["right_value"])["title"] == "lonely"


@_tws_e2e
def test_tws_tombstones_delete_and_retract(spark, tmpdir):
    """Left tombstone -> retraction + index removal; later right update
    must no longer fan out to the deleted left."""
    b1 = [
        (1, "left", "c1", "100", '{"id": "c1"}'),
        (2, "left", "c2", "100", '{"id": "c2"}'),
        (3, "right", "100", "100", '{"title": "t1"}'),
    ]
    b2 = [(4, "left", "c1", "100", None)]
    b3 = [(5, "right", "100", "100", '{"title": "t2"}')]
    src = _write_batches(spark, tmpdir, [b1, b2, b3])
    out = _run_tws_stream(spark, src, "inner")
    retractions = [r for r in out if r["left_value"] is None and r["right_value"] is None]
    assert [(r["key"], r["fk"]) for r in retractions] == [("c1", "100")]
    t2_keys = {
        r["key"] for r in out
        if r["right_value"] is not None and json.loads(r["right_value"])["title"] == "t2"
    }
    assert t2_keys == {"c2"}


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def clear(self):
        self._v = None


class _FakeMapState:
    def __init__(self):
        self._m = {}

    def containsKey(self, k):
        return k in self._m

    def getValue(self, k):
        return self._m[k]

    def updateValue(self, k, v):
        self._m[k] = v

    def removeKey(self, k):
        self._m.pop(k, None)

    def iterator(self):
        return iter(self._m.items())


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeValueState())

    def getMapState(self, name, kschema, vschema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeMapState())


def _tws_play(proc, handle, rows_chunks):
    import pandas as pd

    cols = ["seq", "side", "key", "fk", "payload"]
    chunks = [pd.DataFrame(c, columns=cols) for c in rows_chunks]
    out = list(proc.handleInputRows(("100",), iter(chunks), None))
    return (
        [tuple(r) for r in pd.concat(out, ignore_index=True).itertuples(index=False)]
        if out
        else []
    )


def test_tws_processor_semantics_with_fake_state():
    """The MapState-backed processor reproduces JoinTransformer semantics:
    no emit before the right arrives, fan-out on right arrival, per-key
    updates touching ONE map entry (no array repack)."""
    proc = UpsertJoinProcessor("inner")
    handle = _FakeHandle()
    proc.init(handle)
    # batch 1: two lefts, no right -> inner emits nothing
    assert _tws_play(proc, handle, [[
        (1, "left", "c1", "100", '{"t":"a"}'),
        (2, "left", "c2", "100", '{"t":"b"}'),
    ]]) == []
    # batch 2: right arrives -> fan-out to both lefts
    out = _tws_play(proc, handle, [[(3, "right", "100", "100", '{"s":"x"}')]])
    assert out == [
        ("c1", "100", '{"t":"a"}', '{"s":"x"}'),
        ("c2", "100", '{"t":"b"}', '{"s":"x"}'),
    ]
    # state check: map has exactly one entry per left key
    assert sorted(handle.states["lefts"]._m) == [("c1",), ("c2",)]
    # batch 3: one left edited -> single re-emit, not a fan-out
    out = _tws_play(proc, handle, [[(4, "left", "c1", "100", '{"t":"a2"}')]])
    assert out == [("c1", "100", '{"t":"a2"}', '{"s":"x"}')]


def test_tws_processor_sorts_across_chunks():
    """Same cross-chunk regression as the applyInPandasWithState joiner."""
    proc = UpsertJoinProcessor("inner")
    handle = _FakeHandle()
    proc.init(handle)
    out = _tws_play(proc, handle, [
        [(10, "left", "c1", "100", '{"v":"new"}'),
         (11, "right", "100", "100", '{"s":"new"}')],
        [(5, "left", "c1", "100", '{"v":"old"}'),
         (6, "right", "100", "100", '{"s":"old"}')],
    ])
    assert out == [("c1", "100", '{"v":"new"}', '{"s":"new"}')]
    assert handle.states["right"].get() == ('{"s":"new"}',)


def test_tws_processor_tombstones():
    proc = UpsertJoinProcessor("inner")
    handle = _FakeHandle()
    proc.init(handle)
    _tws_play(proc, handle, [[
        (1, "left", "c1", "100", '{"t":"a"}'),
        (2, "right", "100", "100", '{"s":"x"}'),
    ]])
    # left tombstone -> retraction + removal from the map
    out = _tws_play(proc, handle, [[(3, "left", "c1", "100", None)]])
    assert out == [("c1", "100", None, None)]
    assert handle.states["lefts"]._m == {}
    # right tombstone with a re-added left -> inner retraction for it
    _tws_play(proc, handle, [[(4, "left", "c2", "100", '{"t":"b"}')]])
    out = _tws_play(proc, handle, [[(5, "right", "100", "100", None)]])
    assert out == [("c2", "100", None, None)]


def test_tws_unavailable_raises_clearly(spark):
    if tws_available():
        pytest.skip("protobuf present; gate inactive")
    from kafka_denormalization_spark.streaming.tws_join import upsert_join_tws

    df = spark.createDataFrame([], UPDATE_SCHEMA)
    with pytest.raises(RuntimeError, match="protobuf"):
        upsert_join_tws(df)


def test_incremental_left_tombstone_key_only(spark, tmpdir):
    """A left tombstone carries only the KEY (Kafka delete convention) —
    the engine resolves its FK through the key index, removes the state
    row, emits a retraction, and later right updates no longer fan out."""
    eng = IncrementalDenormalize(spark, os.path.join(tmpdir, "ts1"), how="inner")
    eng.process_batch(
        _mkdf(spark, [("c1", "100", '{"t":"a"}', 1), ("c2", "100", '{"t":"b"}', 2)]),
        _mkdf(spark, [("100", "100", '{"s":"x"}', 1)]),
    ).collect()
    # tombstone: fk unknown (None) — resolved via the key index
    out = eng.process_batch(_mkdf(spark, [("c1", None, None, 3)]), None).collect()
    assert [(r["key"], r["fk"], r["left_value"], r["right_value"]) for r in out] == [
        ("c1", "100", None, None)
    ]
    out2 = eng.process_batch(None, _mkdf(spark, [("100", "100", '{"s":"y"}', 2)])).collect()
    assert [(r["key"], r["fk"]) for r in out2] == [("c2", "100")]


def test_incremental_left_tombstone_unindexed_noop(spark, tmpdir):
    eng = IncrementalDenormalize(spark, os.path.join(tmpdir, "ts2"), how="inner")
    out = eng.process_batch(_mkdf(spark, [("ghost", None, None, 1)]), None).collect()
    assert out == []


def test_incremental_right_tombstone_inner_retracts_lefts(spark, tmpdir):
    eng = IncrementalDenormalize(spark, os.path.join(tmpdir, "ts3"), how="inner")
    eng.process_batch(
        _mkdf(spark, [("c1", "100", '{"t":"a"}', 1), ("c2", "100", '{"t":"b"}', 2)]),
        _mkdf(spark, [("100", "100", '{"s":"x"}', 1)]),
    ).collect()
    out = eng.process_batch(None, _mkdf(spark, [("100", "100", None, 2)])).collect()
    got = sorted((r["key"], r["fk"], r["left_value"], r["right_value"]) for r in out)
    assert got == [("c1", "100", None, None), ("c2", "100", None, None)]
    # a later left update on that FK finds no right -> no emission (inner)
    out2 = eng.process_batch(_mkdf(spark, [("c3", "100", '{"t":"c"}', 3)]), None).collect()
    assert out2 == []


def test_incremental_right_tombstone_never_existed_noop(spark, tmpdir):
    eng = IncrementalDenormalize(spark, os.path.join(tmpdir, "ts4"), how="inner")
    eng.process_batch(_mkdf(spark, [("c1", "100", '{"t":"a"}', 1)]), None).collect()
    out = eng.process_batch(None, _mkdf(spark, [("100", "100", None, 1)])).collect()
    assert out == []


def test_incremental_right_tombstone_left_outer_reemits_null(spark, tmpdir):
    eng = IncrementalDenormalize(spark, os.path.join(tmpdir, "ts5"), how="left_outer")
    eng.process_batch(
        _mkdf(spark, [("c1", "100", '{"t":"a"}', 1)]),
        _mkdf(spark, [("100", "100", '{"s":"x"}', 1)]),
    ).collect()
    out = eng.process_batch(None, _mkdf(spark, [("100", "100", None, 2)])).collect()
    assert [(r["key"], r["fk"], r["left_value"], r["right_value"]) for r in out] == [
        ("c1", "100", '{"t":"a"}', None)
    ]


def test_incremental_tombstones_require_key_index(spark, tmpdir):
    with pytest.raises(ValueError, match="retract_fk_changes"):
        IncrementalDenormalize(
            spark, os.path.join(tmpdir, "ts6"),
            retract_fk_changes=False, tombstones=True,
        )


@pytest.mark.parametrize("old", ["left", "right", "key_index"])
def test_incremental_refuses_three_table_layout(spark, tmpdir, old):
    """State written in the old left/right/key_index layout would read as
    empty under the one-table layout and re-emit from scratch — refuse it."""
    state = os.path.join(tmpdir, "st_old_" + old)
    os.makedirs(os.path.join(state, old, "bucket=0"))
    with pytest.raises(ValueError, match="three-table layout"):
        IncrementalDenormalize(spark, state)


def _state_files(state_dir):
    """{path relative to the state table: bytes} for every file in it."""
    root = os.path.join(state_dir, "state")
    snap = {}
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as fh:
                snap[os.path.relpath(path, root)] = fh.read()
    return snap


def _bucket_files(state_dir):
    """{bucket id: {file: bytes}} of the state table's bucket directories."""
    out = {}
    for rel, data in _state_files(state_dir).items():
        top = rel.split(os.sep)[0]
        if top.startswith("bucket="):
            out.setdefault(int(top.split("=")[1]), {})[rel] = data
    return out


_LOAD_LEFTS = [(f"c{i}", str(100 + i % 20), f'{{"t":{i}}}', 1) for i in range(200)]
_LOAD_RIGHTS = [(str(100 + j), str(100 + j), f'{{"s":{j}}}', 1) for j in range(20)]


def test_incremental_rewrites_only_touched_buckets(spark, tmpdir):
    """A right update on one FK rewrites only that FK's bucket: every other
    bucket directory keeps its file names and bytes."""
    state = os.path.join(tmpdir, "st_prune")
    eng = IncrementalDenormalize(spark, state, how="inner", n_buckets=32)
    eng.process_batch(_mkdf(spark, _LOAD_LEFTS), _mkdf(spark, _LOAD_RIGHTS)).collect()
    before = _bucket_files(state)
    assert len(before) > 16  # key-index rows spread the load over most buckets
    out = eng.process_batch(None, _mkdf(spark, [("105", "105", '{"s":"new"}', 2)])).collect()
    assert sorted(r["key"] for r in out) == sorted(k for k, fk, _, _ in _LOAD_LEFTS if fk == "105")
    hot = spark.range(1).select(F.pmod(F.xxhash64(F.lit("105")), F.lit(32))).first()[0]
    after = _bucket_files(state)
    assert set(after) == set(before)
    assert after[hot] != before[hot]
    assert {b for b in before if after[b] != before[b]} == {hot}


def test_incremental_empty_batch_changes_nothing(spark, tmpdir):
    """Both sides None: nothing is emitted and no state file changes."""
    state = os.path.join(tmpdir, "st_empty")
    eng = IncrementalDenormalize(spark, state, how="full_outer", n_buckets=32)
    eng.process_batch(_mkdf(spark, _LOAD_LEFTS), _mkdf(spark, _LOAD_RIGHTS)).collect()
    before = _state_files(state)
    assert eng.process_batch(None, None).collect() == []
    assert _state_files(state) == before


def test_idempotent_foreach_batch_skips_replayed_epoch(spark, tmp_path):
    """Replaying an epoch id (restart-after-sink-write crash window) must
    not re-run the sink body; new epochs still run."""
    from kafka_denormalization_spark.streaming.sinks import idempotent_foreach_batch

    calls = []
    body = idempotent_foreach_batch(
        spark, str(tmp_path / "commits"), lambda df, eid: calls.append(eid)
    )
    df = spark.range(3)
    body(df, 0)
    body(df, 0)  # replay of epoch 0: must be skipped
    body(df, 1)
    body(df, 1)
    body(df, 2)
    assert calls == [0, 1, 2]


def test_idempotent_foreach_batch_end_to_end(spark, tmp_path):
    """Driven through a real streaming query: output parquet rows appear
    exactly once even though the body appends blindly."""
    import os as _os

    from kafka_denormalization_spark.streaming.sinks import idempotent_foreach_batch

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    spark.range(5).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)

    def append(df, eid):
        df.write.mode("append").parquet(out)

    body = idempotent_foreach_batch(spark, str(tmp_path / "commits"), append)
    q = (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # simulate the crash-window replay of the last epoch
    body(spark.read.parquet(src), 0)
    assert spark.read.parquet(out).count() == 5


def test_tws_ttl_expires_left_state(spark, tmpdir):
    """TTL e2e through the real TWS path (timeMode=ProcessingTime): a left
    indexed longer ago than ttl_ms must NOT fan out when its right finally
    arrives; a generous TTL on the same flow must. The 2 s wall gap is 4x
    the short TTL, so expiry is deterministic."""
    import time as _time

    from kafka_denormalization_spark.streaming.tws_join import (
        tws_available,
        upsert_join_tws,
    )

    if not tws_available():
        pytest.skip("no protobuf runtime")

    def run(ttl_ms, tag):
        src = os.path.join(tmpdir, f"ttl_src_{tag}")
        spark.createDataFrame(
            [(1, "left", "c1", "100", '{"t":"a"}')], UPDATE_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(src)
        prev = spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
        )
        # ProcessingTime time mode: no-data micro-batches would keep the
        # query busy forever and processAllAvailable() would never return
        # (same guard as test_continuous_ttl_evicts_state)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", _ROCKSDB)
        try:
            name = f"ttl_{tag}_" + uuid.uuid4().hex[:6]
            stream = (
                spark.readStream.schema(UPDATE_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = (
                upsert_join_tws(stream, how="inner", ttl_ms=ttl_ms)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("update")
                .option(
                    "checkpointLocation", os.path.join(tmpdir, f"ttl_ckpt_{tag}")
                )
                .start()
            )
            q.processAllAvailable()  # batch 1: index the left
            _time.sleep(2.0)         # wall gap: 4x the short TTL
            spark.createDataFrame(
                [(2, "right", "100", "100", '{"s":"x"}')], UPDATE_SCHEMA
            ).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()  # batch 2: right arrives
            q.stop()
            return [r.asDict() for r in spark.sql(f"SELECT * FROM {name}").collect()]
        finally:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
            spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")

    # short TTL: the left expired before the right arrived -> no join
    assert run(500, "short") == []
    # generous TTL: normal fan-out
    out = run(600_000, "long")
    assert {(r["key"], r["fk"]) for r in out} == {("c1", "100")}


def test_ingest_dedup_across_batches(spark, tmp_path):
    """Cross-batch exact dedup with durable digest state: first
    occurrence wins across batches, min-id wins within a batch, and a
    fresh instance over the same state dir keeps the memory (restart
    survival)."""
    from kafka_denormalization_spark.streaming.ingest_dedup import IngestDedup

    dd = IngestDedup(spark, str(tmp_path / "state"), "doc_id", "text")
    b1 = spark.createDataFrame(
        [(5, "alpha"), (2, "alpha"), (3, "beta")], "doc_id long, text string"
    )
    out1 = sorted(r["doc_id"] for r in dd.process_batch(b1).collect())
    assert out1 == [2, 3]  # within-batch: min id keeps 'alpha'

    b2 = spark.createDataFrame(
        [(7, "alpha"), (8, "gamma"), (9, "beta")], "doc_id long, text string"
    )
    out2 = sorted(r["doc_id"] for r in dd.process_batch(b2).collect())
    assert out2 == [8]  # alpha/beta already seen

    # restart: a NEW instance over the same state dir still remembers
    dd2 = IngestDedup(spark, str(tmp_path / "state"), "doc_id", "text")
    b3 = spark.createDataFrame(
        [(10, "gamma"), (11, "delta")], "doc_id long, text string"
    )
    out3 = sorted(r["doc_id"] for r in dd2.process_batch(b3).collect())
    assert out3 == [11]


def test_ingest_dedup_streaming_e2e(spark, tmp_path):
    """Real Structured Streaming run: file source, one file per trigger,
    foreachBatch(IngestDedup) — cross-batch duplicates never reach the
    sink."""
    from kafka_denormalization_spark.streaming.ingest_dedup import IngestDedup

    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, "one"), (2, "two")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [(3, "two"), (4, "three")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src + "/f2")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    dd = IngestDedup(spark, str(tmp_path / "state"), "doc_id", "text")
    got: list[tuple[int, str]] = []

    def sink(df, epoch_id):
        got.extend((r["doc_id"], r["text"]) for r in df.collect())

    q = (
        stream.writeStream.foreachBatch(dd.foreach_batch(sink))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(got) in (
        [(1, "one"), (2, "two"), (4, "three")],          # f1 before f2
        [(1, "one"), (3, "two"), (4, "three")],          # f2 first
    )


def test_ingest_near_dedup_across_batches(spark, tmp_path):
    """Streaming near-dedup: a batch-2 doc that near-duplicates a
    batch-1 survivor is dropped (LSH candidates vs accumulated state +
    exact Jaccard verify); unrelated docs pass; within-batch near-dups
    keep the min id; restart keeps the memory."""
    from kafka_denormalization_spark.streaming.ingest_dedup import IngestNearDedup

    base = " ".join(f"tok{i}" for i in range(30))
    near = " ".join(f"tok{i}" for i in range(28)) + " zz yy"   # high Jaccard
    other = " ".join(f"w{i}" for i in range(30))

    dd = IngestNearDedup(spark, str(tmp_path / "st"), "doc_id", "text", threshold=0.5)
    b1 = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string"
    )
    out1 = sorted(r["doc_id"] for r in dd.process_batch(b1).collect())
    assert out1 == [1, 2]

    b2 = spark.createDataFrame(
        [(3, near), (4, "totally different words entirely here now friend")],
        "doc_id long, text string",
    )
    out2 = sorted(r["doc_id"] for r in dd.process_batch(b2).collect())
    assert out2 == [4]  # 3 near-dups batch-1's doc 1

    # within-batch: two near-identical new docs -> min id survives;
    # restart via a fresh instance still remembers docs 1/2/4
    dd2 = IngestNearDedup(spark, str(tmp_path / "st"), "doc_id", "text", threshold=0.5)
    b3 = spark.createDataFrame(
        [(5, other + " extra"), (6, other + " bonus"), (7, "fresh unique content beyond compare truly")],
        "doc_id long, text string",
    )
    out3 = sorted(r["doc_id"] for r in dd2.process_batch(b3).collect())
    # 5 and 6 near-dup batch-1's doc 2 (and each other): both dropped
    # against state; 7 unique
    assert out3 == [7]


def test_ingest_dedup_compaction_preserves_decisions(spark, tmp_path):
    """compact() rewrites state to one file per partition; dedup
    decisions (and the near-dedup index) are unchanged afterwards."""
    from kafka_denormalization_spark.streaming.ingest_dedup import (
        IngestDedup,
        IngestNearDedup,
    )

    dd = IngestDedup(spark, str(tmp_path / "s1"), "doc_id", "text")
    for i, batch in enumerate([[(1, "a"), (2, "b")], [(3, "c")], [(4, "d")]]):
        dd.process_batch(
            spark.createDataFrame(batch, "doc_id long, text string")
        ).collect()
    import glob

    files_before = len(glob.glob(str(tmp_path / "s1" / "seen_digests" / "**" / "*.parquet"), recursive=True))
    stats = dd.compact()
    files_after = len(glob.glob(str(tmp_path / "s1" / "seen_digests" / "**" / "*.parquet"), recursive=True))
    assert stats["seen_digests"] == 4 and files_after < files_before
    out = dd.process_batch(
        spark.createDataFrame([(9, "a"), (10, "new")], "doc_id long, text string")
    ).collect()
    assert sorted(r["doc_id"] for r in out) == [10]

    base = " ".join(f"tok{i}" for i in range(30))
    nd = IngestNearDedup(spark, str(tmp_path / "s2"), "doc_id", "text", threshold=0.5)
    nd.process_batch(
        spark.createDataFrame([(1, base)], "doc_id long, text string")
    ).collect()
    nd.compact()
    near = " ".join(f"tok{i}" for i in range(28)) + " zz yy"
    out2 = nd.process_batch(
        spark.createDataFrame([(2, near), (3, "unrelated words here")], "doc_id long, text string")
    ).collect()
    assert sorted(r["doc_id"] for r in out2) == [3]


def test_ingest_span_dedup_across_batches(spark, tmp_path):
    """Streaming span dedup: a span already emitted by an earlier batch
    is stripped from later docs (docs REBUILT, not dropped); fully-novel
    docs pass untouched; restart keeps the span memory."""
    from kafka_denormalization_spark.streaming.ingest_dedup import IngestSpanDedup

    boiler = "a b c d"                     # the recurring 4-token span
    dd = IngestSpanDedup(spark, str(tmp_path / "st"), "doc_id", "text", chunk_tokens=4)
    b1 = spark.createDataFrame(
        [(1, f"{boiler} e f g h")], "doc_id long, text string"
    )
    out1 = {r["doc_id"]: r for r in dd.process_batch(b1).collect()}
    assert out1[1]["text_dedup"] == "a b c d e f g h" and out1[1]["n_dropped"] == 0

    b2 = spark.createDataFrame(
        [(2, f"{boiler} x y z w"), (3, "p q r s")], "doc_id long, text string"
    )
    out2 = {r["doc_id"]: r for r in dd.process_batch(b2).collect()}
    assert out2[2]["text_dedup"] == "x y z w" and out2[2]["n_dropped"] == 1
    assert out2[3]["text_dedup"] == "p q r s" and out2[3]["n_dropped"] == 0

    # restart via a fresh instance: state remembers all emitted spans
    dd2 = IngestSpanDedup(spark, str(tmp_path / "st"), "doc_id", "text", chunk_tokens=4)
    b3 = spark.createDataFrame(
        [(4, f"p q r s {boiler}")], "doc_id long, text string"
    )
    out3 = {r["doc_id"]: r for r in dd2.process_batch(b3).collect()}
    assert out3[4]["text_dedup"] == "" and out3[4]["n_dropped"] == 2


def test_ingest_substr_dedup_union_parity_and_restart(spark, tmp_path):
    """Streaming rolling-window substring dedup: (a) the streamed union
    over ordered batches equals exact_substr_dedup over the
    concatenated corpus (the twin's documented contract); (b) a
    chunk-misaligned duplicate run arriving in a LATER batch is
    stripped (the fidelity IngestSpanDedup lacks); (c) restart via a
    fresh instance keeps the window memory; (d) short docs pass
    intact."""
    from kafka_denormalization_spark.operators.chunking import (
        exact_substr_dedup,
    )
    from kafka_denormalization_spark.streaming.ingest_dedup import (
        IngestSubstrDedup,
    )

    run = " ".join(f"r{i}" for i in range(20))
    batches = [
        [(1, "u1 u2 " + run + " u3 u4 u5 u6 u7 u8"), (2, "x y")],
        [(3, "v1 v2 v3 v4 v5 " + run + " v6 v7 v8")],
        [(4, "w1 w2 w3 w4 w5 w6 w7 w8 fresh stuff here now")],
    ]
    dd = IngestSubstrDedup(
        spark, str(tmp_path / "st"), "doc_id", "text", window_tokens=8
    )
    streamed = {}
    for i, rows in enumerate(batches):
        if i == 2:  # restart before the last batch: state must persist
            dd = IngestSubstrDedup(
                spark, str(tmp_path / "st"), "doc_id", "text",
                window_tokens=8,
            )
        for r in dd.process_batch(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect():
            streamed[r["doc_id"]] = (
                r["text_dedup"], r["n_tokens"], r["n_kept"]
            )

    union = spark.createDataFrame(
        [r for rows in batches for r in rows], "doc_id long, text string"
    )
    batch = {
        r["doc_id"]: (r["text_dedup"], r["n_tokens"], r["n_kept"])
        for r in exact_substr_dedup(
            union, "doc_id", "text", window_tokens=8
        ).collect()
    }
    assert streamed == batch
    # the non-chunk-aligned duplicate actually got stripped mid-stream
    assert "r7 r8 r9 r10 r11 r12" not in streamed[3][0]
    assert streamed[3][2] < streamed[3][1]
    assert streamed[2] == ("x y", 2, 2)  # short doc intact
    # state compaction keeps the memory
    dd.compact()
    again = dd.process_batch(
        spark.createDataFrame(
            [(9, "u1 u2 " + run + " u3 u4 u5 u6 u7 u8")],
            "doc_id long, text string",
        )
    ).collect()[0]
    assert again["text_dedup"] == "" and again["n_kept"] == 0


def test_ingest_dedup_replayed_epoch_emits_once(spark, tmp_path):
    """The documented exactly-once story, proven: IngestDedup's state
    appends are set-idempotent (a replay cannot flip decisions), and the
    idempotent_foreach_batch wrapper stops the replayed epoch from
    re-EMITTING its survivors downstream."""
    from kafka_denormalization_spark.streaming.ingest_dedup import IngestDedup
    from kafka_denormalization_spark.streaming.sinks import idempotent_foreach_batch

    dd = IngestDedup(spark, str(tmp_path / "state"), "doc_id", "text")
    emitted: list[int] = []

    def sink(df, epoch_id):
        emitted.extend(r["doc_id"] for r in df.collect())

    fn = idempotent_foreach_batch(
        spark, str(tmp_path / "commits"), dd.foreach_batch(sink)
    )
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    fn(b1, 0)
    fn(b1, 0)  # replayed epoch: same batch, same epoch id
    assert sorted(emitted) == [1, 2]  # emitted once, not twice

    # state was written by the FIRST run; a replay without the marker
    # (worst case: crash after state append, before commit) still cannot
    # corrupt decisions — digests are a set, survivors recompute empty
    # against state but the marker path above is the emit-dedup guard.
    b2 = spark.createDataFrame([(3, "a"), (4, "c")], "doc_id long, text string")
    fn(b2, 1)
    assert sorted(emitted) == [1, 2, 4]


def test_ingest_near_dedup_streaming_e2e(spark, tmp_path):
    """Real Structured Streaming run for the NEAR-dedup twin: file
    source, one file per trigger — a later file's near-duplicate of an
    earlier file's doc never reaches the sink."""
    from kafka_denormalization_spark.streaming.ingest_dedup import IngestNearDedup

    base = " ".join(f"tok{i}" for i in range(30))
    near = " ".join(f"tok{i}" for i in range(28)) + " zz yy"
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, base), (2, "first unrelated words entirely here")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [(3, near), (4, "second unrelated content beyond compare")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(src + "/f2")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    dd = IngestNearDedup(spark, str(tmp_path / "state"), "doc_id", "text", threshold=0.5)
    got: list[int] = []

    def sink(df, epoch_id):
        got.extend(r["doc_id"] for r in df.collect())

    q = (
        stream.writeStream.foreachBatch(dd.foreach_batch(sink))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    survivors = sorted(got)
    # whichever file ran first, exactly one of {1, 3} survives and both
    # unrelated docs do
    assert 2 in survivors and 4 in survivors and len(survivors) == 3
    assert (1 in survivors) ^ (3 in survivors)


def test_ingest_sig_dedup_video_matches_batch_with_restart(spark, tmp_path):
    """IngestSigDedup (streaming/ingest_multimodal.py) over FAKV video
    blobs: streamed survivors across two batches (with a RESTART in
    between) == the batch retention (video_fp_dedup) over the union —
    same fingerprint, same Hamming ball, durable signature state."""
    from kafka_denormalization_spark.functions.multimodal import (
        fake_video_pixels,
        make_video_blob,
        video_fingerprint,
        video_fp_dedup,
    )
    from kafka_denormalization_spark.streaming.ingest_multimodal import (
        IngestSigDedup,
    )

    def blob(seed, gain=1):
        return bytearray(make_video_blob(fake_video_pixels(seed, gain)))

    batches = [
        # batch 1: three distinct clips (seeds 1, 2, 3)
        [(10, blob(1)), (20, blob(2)), (30, blob(3))],
        # batch 2: 40 re-grades seed 1 (cross-batch dup), 50/51 are a
        # within-batch re-grade family (min id 50 survives), 60 is new
        [(40, blob(1, gain=3)), (50, blob(4)), (51, blob(4, gain=2)),
         (60, blob(5))],
    ]
    schema = "id long, blob binary"
    state = str(tmp_path / "sig_state")
    dd = IngestSigDedup(
        spark, state, "id",
        fingerprint=lambda df: video_fingerprint(df, "id"),
    )
    out1 = sorted(
        r["id"]
        for r in dd.process_batch(
            spark.createDataFrame(batches[0], schema)
        ).collect()
    )
    assert out1 == [10, 20, 30]
    # restart: fresh instance, same state dir
    dd2 = IngestSigDedup(
        spark, state, "id",
        fingerprint=lambda df: video_fingerprint(df, "id"),
    )
    out2 = sorted(
        r["id"]
        for r in dd2.process_batch(
            spark.createDataFrame(batches[1], schema)
        ).collect()
    )
    assert out2 == [50, 60]

    # batch reference over the union
    union = spark.createDataFrame([b for bs in batches for b in bs], schema)
    ref = sorted(r["id"] for r in video_fp_dedup(union, "id").collect())
    assert sorted(out1 + out2) == ref

    # compaction preserves decisions
    dd2.compact()
    out3 = dd2.process_batch(
        spark.createDataFrame([(70, blob(2, gain=2)), (80, blob(6))], schema)
    ).collect()
    assert sorted(r["id"] for r in out3) == [80]


def test_ingest_sig_dedup_audio_and_presigned(spark, tmp_path):
    """The same class serves audio fingerprints, and accepts
    pre-computed (id, b0..b3) signature batches (fingerprint=None)."""
    from kafka_denormalization_spark.functions.multimodal import (
        audio_fingerprint,
        fake_audio_samples,
        make_audio_blob,
    )
    from kafka_denormalization_spark.streaming.ingest_multimodal import (
        IngestSigDedup,
    )

    def blob(seed, gain=1):
        return bytearray(make_audio_blob(fake_audio_samples(seed, gain)))

    dd = IngestSigDedup(
        spark, str(tmp_path / "a"), "id",
        fingerprint=lambda df: audio_fingerprint(df, "id"),
    )
    b1 = spark.createDataFrame(
        [(1, blob(7)), (2, blob(8))], "id long, blob binary"
    )
    assert sorted(r["id"] for r in dd.process_batch(b1).collect()) == [1, 2]
    b2 = spark.createDataFrame(
        [(3, blob(7, gain=2))], "id long, blob binary"
    )
    assert dd.process_batch(b2).count() == 0  # re-level of batch-1's 1

    # pre-signed path: signatures straight in, no decode
    sigs = audio_fingerprint(b1, "id")
    dd2 = IngestSigDedup(spark, str(tmp_path / "b"), "id")
    assert dd2.process_batch(sigs).count() == 2
    again = audio_fingerprint(
        spark.createDataFrame([(9, blob(8, gain=3))], "id long, blob binary"),
        "id",
    )
    assert dd2.process_batch(again).count() == 0


def test_ingest_sig_dedup_streaming_e2e(spark, tmp_path):
    """Real Structured Streaming run for the multimodal signature-dedup
    twin: parquet file source of FAKV blobs, one file per trigger — a
    later file's brightness re-grade of an earlier file's clip never
    reaches the sink."""
    from kafka_denormalization_spark.functions.multimodal import (
        fake_video_pixels,
        make_video_blob,
        video_fingerprint,
    )
    from kafka_denormalization_spark.streaming.ingest_multimodal import (
        IngestSigDedup,
    )

    def blob(seed, gain=1):
        return bytearray(make_video_blob(fake_video_pixels(seed, gain)))

    src = str(tmp_path / "vsrc")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, blob(11)), (2, blob(12))], "id long, blob binary"
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [(3, blob(11, gain=3)), (4, blob(13))], "id long, blob binary"
    ).coalesce(1).write.parquet(src + "/f2")

    stream = (
        spark.readStream.schema("id long, blob binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    dd = IngestSigDedup(
        spark, str(tmp_path / "vstate"), "id",
        fingerprint=lambda df: video_fingerprint(df, "id"),
    )
    got: list[int] = []

    def sink(df, epoch_id):
        got.extend(r["id"] for r in df.collect())

    q = (
        stream.writeStream.foreachBatch(dd.foreach_batch(sink))
        .option("checkpointLocation", str(tmp_path / "vckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    survivors = sorted(got)
    # file order is not guaranteed: exactly one of the seed-11 clips
    # survives; both unrelated clips do
    assert 2 in survivors and 4 in survivors and len(survivors) == 3
    assert (1 in survivors) ^ (3 in survivors)


def test_ingest_conv_curation_streaming_e2e(spark, tmp_path):
    """Real Structured Streaming run for the conversation-curation
    twin: a JSON-lines file source of nested conversations, one file
    per trigger — the reworded canned response never yields a pair,
    and the frozen response-side gate drops the eval-answer leak."""
    import json as _json

    from kafka_denormalization_spark.functions.conversations import (
        freeze_eval_grams,
    )
    from kafka_denormalization_spark.streaming.ingest_conversations import (
        IngestConvCuration,
    )

    canned = (
        "i am sorry but i cannot help with that particular request "
        "please consult the documentation for details today"
    )
    reworded = " ".join(canned.split()[:18]) + " friend okay"
    answer = "the capital of france is paris not london"
    evals = spark.createDataFrame(
        [(9, answer)], "eval_id long, answer string"
    )
    frozen = str(tmp_path / "cfrozen")
    freeze_eval_grams(evals, frozen, text_col="answer", n=8)

    def conv(cid, *turns):
        return {"conv_id": cid,
                "turns": [{"role": r, "content": c} for r, c in turns]}

    src = str(tmp_path / "csrc")
    os.makedirs(src)
    files = [
        [conv(1, ("user", "please explain rainbows in detail now"),
                 ("assistant", canned))],
        [conv(2, ("user", "novel gardening question entirely unrelated"),
                 ("assistant", reworded)),
         conv(3, ("user", "what is the capital city of france"),
                 ("assistant", "well " + answer + " as everyone knows")),
         conv(4, ("user", "how do i tune my spark shuffle partitions"),
                 ("assistant", "watch the spill metrics and adjust the"
                               " partition count upward slowly"))],
    ]
    for i, rows in enumerate(files):
        with open(f"{src}/f{i}.jsonl", "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")

    schema = (
        "conv_id long, "
        "turns array<struct<role: string, content: string>>"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(src + "/f*.jsonl")
    )
    cur = IngestConvCuration(
        spark, str(tmp_path / "cstate"), frozen_grams_path=frozen
    )
    got: list[tuple] = []

    def sink(df, epoch_id):
        got.extend((r["conv_id"], r["instruction"]) for r in df.collect())

    q = (
        stream.writeStream.foreachBatch(cur.foreach_batch(sink))
        .option("checkpointLocation", str(tmp_path / "cckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    convs = sorted(c for c, _ in got)
    # conv 3 dies to the frozen response gate in every file order;
    # exactly one of the canned/reworded pair (convs 1/2) survives;
    # conv 4 always ships
    assert 4 in convs and 3 not in convs and len(convs) == 2
    assert (1 in convs) ^ (2 in convs)


def test_ingest_scene_keyframes_matches_batch_with_restart(spark, tmp_path):
    """IngestSceneKeyframes (VERDICT r10 #5): streamed scenes across two
    batches == batch video_scene_cuts over the union (stateless 1->N),
    and streamed SURVIVING keyframes (with a restart between batches)
    == the batch retention video_keyframe_dedup over the union — same
    khash banding, same Hamming ball, durable shared signature state."""
    from kafka_denormalization_spark.functions.multimodal import (
        fake_video_pixels,
        make_video_blob,
        video_keyframe_dedup,
        video_scene_cuts,
    )
    from kafka_denormalization_spark.streaming.ingest_multimodal import (
        IngestSceneKeyframes,
    )

    def blob(seed, gain=1):
        return bytearray(make_video_blob(fake_video_pixels(seed, gain)))

    batches = [
        # batch 1: distinct clips
        [(10, blob(1)), (20, blob(2))],
        # batch 2: 30 re-grades seed 1 (its keyframes are gain-invariant
        # duplicates of 10's — cross-batch drop), 40 is new
        [(30, blob(1, gain=3)), (40, blob(3))],
    ]
    schema = "id long, blob binary"
    state = str(tmp_path / "kf_state")

    def rows(df, cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    sk = IngestSceneKeyframes(spark, state, "id")
    b1 = spark.createDataFrame(batches[0], schema)
    scenes1, kf1 = sk.process_batch(b1)
    # restart: fresh instance, same state dir
    sk2 = IngestSceneKeyframes(spark, state, "id")
    b2 = spark.createDataFrame(batches[1], schema)
    scenes2, kf2 = sk2.process_batch(b2)

    scene_cols = ["id", "scene_idx", "start_frame", "n_frames", "energy_first"]
    union = spark.createDataFrame([b for bs in batches for b in bs], schema)
    assert rows(scenes1, scene_cols) + rows(scenes2, scene_cols) == rows(
        video_scene_cuts(union, "id"), scene_cols
    ), "streamed scenes != batch scene cuts over the union"

    kf_cols = ["id", "scene_idx", "frame_idx", "khash"]
    streamed = rows(kf1, kf_cols) + rows(kf2, kf_cols)
    ref = rows(video_keyframe_dedup(union, "id"), kf_cols)
    assert sorted(streamed) == ref, (
        "streamed surviving keyframes != batch video_keyframe_dedup"
    )
    # the cross-batch duplicate family actually dropped something
    assert not any(r[0] == 30 for r in streamed)

    # compaction preserves decisions: a re-grade of seed 3 still drops
    sk2.compact()
    _, kf3 = sk2.process_batch(
        spark.createDataFrame([(50, blob(3, gain=2))], schema)
    )
    assert kf3.count() == 0


def test_ingest_scene_keyframes_streaming_e2e(spark, tmp_path):
    """Real Structured Streaming run for IngestSceneKeyframes: file
    source, one file per trigger, two sinks via the foreach_batch
    adapter — every clip's scenes reach the scene sink (stateless 1->N)
    while a later file's gain-re-graded clip contributes NO surviving
    keyframes (its keyframe hashes are gain-invariant duplicates of an
    earlier file's, dropped against the durable signature state)."""
    from kafka_denormalization_spark.functions.multimodal import (
        fake_video_pixels,
        make_video_blob,
    )
    from kafka_denormalization_spark.streaming.ingest_multimodal import (
        IngestSceneKeyframes,
    )

    def blob(seed, gain=1):
        return bytearray(make_video_blob(fake_video_pixels(seed, gain)))

    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, blob(1)), (2, blob(2))], "id long, blob binary"
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [(3, blob(1, gain=3)), (4, blob(5))], "id long, blob binary"
    ).coalesce(1).write.parquet(src + "/f2")

    stream = (
        spark.readStream.schema("id long, blob binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    sk = IngestSceneKeyframes(spark, str(tmp_path / "state"), "id")
    scene_ids: list[int] = []
    kf_ids: list[int] = []

    q = (
        stream.writeStream.foreachBatch(
            sk.foreach_batch(
                lambda df, e: scene_ids.extend(r["id"] for r in df.collect()),
                lambda df, e: kf_ids.extend(r["id"] for r in df.collect()),
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # scenes are stateless: every clip contributes scene rows
    assert set(scene_ids) == {1, 2, 3, 4}
    # keyframes are stateful: whichever file ran first wins the seed-1
    # family; the other seed-1 clip contributes nothing
    surv = set(kf_ids)
    assert (1 in surv) ^ (3 in surv)
    assert 2 in surv and 4 in surv


def test_ingest_resize_dedup_matches_batch_with_restart(spark, tmp_path):
    """IngestResizeDedup (VERDICT r11 #6): streamed resize -> dHash
    near-dedup survivors across two batches (with a restart between
    them) == the batch chain resize_images -> image_phash_dedup over
    the union, and every surviving row ships the exact thumbnail bytes
    the batch resize produces."""
    from kafka_denormalization_spark.functions.multimodal import (
        image_phash_dedup,
        make_image_blob,
        resize_images,
    )
    from kafka_denormalization_spark.streaming.ingest_multimodal import (
        IngestResizeDedup,
    )

    w, h = 36, 32

    def px(seed, flip=False):
        a, b = 7 + seed % 101, 13 + seed % 103
        g = bytearray(
            ((seed * 31 + i * a + j * b) % 256)
            for i in range(h)
            for j in range(w)
        )
        if flip:
            g[0] = (g[0] + 128) % 256
        return bytes(g)

    def blob(seed, flip=False):
        return bytearray(make_image_blob(w, h, px(seed, flip)))

    batches = [
        # batch 1: two distinct images + a within-batch near-dup of 1
        [(1, blob(1)), (2, blob(2)), (3, blob(1, flip=True))],
        # batch 2: 10 near-dups batch-1's seed-1 (cross-batch drop),
        # 11 is new
        [(10, blob(1, flip=True)), (11, blob(5))],
    ]
    schema = "id long, blob binary"
    state = str(tmp_path / "resize_state")

    rd = IngestResizeDedup(spark, state)
    out1 = rd.process_batch(spark.createDataFrame(batches[0], schema))
    rows1 = {r["id"]: bytes(r["blob"]) for r in out1.collect()}
    # restart: fresh instance, same state dir
    rd2 = IngestResizeDedup(spark, state)
    out2 = rd2.process_batch(spark.createDataFrame(batches[1], schema))
    rows2 = {r["id"]: bytes(r["blob"]) for r in out2.collect()}

    union = spark.createDataFrame(
        [p for b in batches for p in b], schema
    )
    resized_union = resize_images(union, "id", "blob", 9, 8)
    batch_surv = {
        r["id"] for r in image_phash_dedup(
            resized_union, "id", "blob", hamming_max=3
        ).collect()
    }
    streamed = rows1 | rows2
    assert set(streamed) == batch_surv
    # thumbnails are byte-identical to the batch resize
    batch_thumbs = {
        r["id"]: bytes(r["blob"]) for r in resized_union.collect()
    }
    for i, b in streamed.items():
        assert b == batch_thumbs[i]
    # survivors carry the resized geometry, and state never saw blobs
    assert all(r["width"] == 9 and r["height"] == 8
               for r in out2.collect())


def test_ingest_resize_dedup_streaming_e2e(spark, tmp_path):
    """Real Structured Streaming run for IngestResizeDedup: file
    source, one file per trigger, foreachBatch — the later-arriving
    near-dup never reaches the sink, survivors arrive as resized
    thumbnails."""
    from kafka_denormalization_spark.functions.multimodal import (
        make_image_blob,
    )
    from kafka_denormalization_spark.streaming.ingest_multimodal import (
        IngestResizeDedup,
    )

    w, h = 36, 32

    def blob(seed, flip=False):
        px = bytearray(
            ((seed * 31 + i * 7 + j * 13) % 256)
            for i in range(h)
            for j in range(w)
        )
        if flip:
            px[0] = (px[0] + 128) % 256
        return bytearray(make_image_blob(w, h, bytes(px)))

    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, blob(1)), (2, blob(2))], "id long, blob binary"
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        # 10 near-dups seed 1 (dropped whichever file lands first —
        # min-id retention within f1+f2 ordering is monotone), 11 new
        [(10, blob(1, flip=True)), (11, blob(5))], "id long, blob binary"
    ).coalesce(1).write.parquet(src + "/f2")

    stream = (
        spark.readStream.schema("id long, blob binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    rd = IngestResizeDedup(spark, str(tmp_path / "state"))
    got: dict[int, tuple[int, int, int]] = {}

    def sink(df, epoch_id):
        for r in df.collect():
            got[r["id"]] = (r["width"], r["height"], len(bytes(r["blob"])))

    q = (
        stream.writeStream.foreachBatch(rd.foreach_batch(sink))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(got) == [1, 2, 11], got
    # every survivor is a 9x8 FAKB thumbnail (12-byte header + 72 px)
    assert set(got.values()) == {(9, 8, 84)}


def _mixed_batches():
    """A load batch, then one batch with an FK move (c1 101 -> 105), a
    key-only left tombstone (c2) and a right tombstone (story 102), then a
    right update that fans out (story 103)."""
    return [
        (_LOAD_LEFTS, _LOAD_RIGHTS),
        (
            [("c1", "105", '{"t":"moved"}', 2), ("c2", None, None, 2)],
            [("102", "102", None, 2)],
        ),
        (None, [("103", "103", '{"s":"new"}', 3)]),
    ]


def _replay(spark, root, how, batches):
    """(rows, executed plan) of each batch's changelog; rows are sorted
    tuples, collected before the next batch runs. Each side of a batch is
    read from a parquet file, as a file source hands it to ``foreachBatch``,
    so the planner knows its size (a frame over an RDD of local rows has
    none, so the planner never broadcasts it)."""
    eng = IncrementalDenormalize(spark, os.path.join(root, "state"), how=how)

    def side(rows, name):
        if not rows:
            return None
        path = os.path.join(root, name)
        _mkdf(spark, rows).write.parquet(path)
        return spark.read.parquet(path)

    out = []
    for i, (lefts, rights) in enumerate(batches):
        df = eng.process_batch(side(lefts, f"left{i}"), side(rights, f"right{i}"))
        plan = df._jdf.queryExecution().executedPlan().toString()
        out.append((sorted(map(tuple, df.collect()), key=repr), plan))
    return out


def test_incremental_small_batch_emit_plan_has_no_shuffle_join(spark, tmpdir):
    """The pinned pre-merge views are read back from parquet, so the
    planner sizes them by their files: a small batch's emit broadcasts
    them against the state scan — no sort-merge join shuffling the state,
    no runtime bloom filter built from it."""
    _, (rows, plan) = _replay(spark, os.path.join(tmpdir, "plan"), "inner", _mixed_batches()[:2])
    for node in ("bloom_filter_agg", "might_contain", "SortMergeJoin"):
        assert node not in plan, node
    dead = [(k, "102", None, None) for k, fk, _, _ in _LOAD_LEFTS if fk == "102"]
    assert rows == sorted(
        dead + [("c1", "101", None, None), ("c1", "105", '{"t":"moved"}', '{"s":5}')],
        key=repr,
    )


@pytest.mark.parametrize("how", ["inner", "full_outer"])
def test_incremental_shuffle_join_fallback_emits_the_same(spark, tmpdir, how):
    """With broadcasts off (the plan a large backfill batch gets) every
    batch emits exactly what the default plan emits."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    want = _replay(spark, os.path.join(tmpdir, "bc"), how, _mixed_batches())
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        got = _replay(spark, os.path.join(tmpdir, "smj"), how, _mixed_batches())
    finally:
        spark.conf.set(key, old)
    assert "SortMergeJoin" in got[1][1]
    assert [rows for rows, _ in got] == [rows for rows, _ in want]
    assert all(rows for rows, _ in want[1:])

"""checkpoint.py contracts: persist ownership, reliable-dir stability and
the session memo.

ADVICE r10 #2 repro: persist_if_uncached's skip path (an identical
canonicalized plan is already cached) must not let the SECOND caller's
cleanup evict the FIRST caller's live cache — that was silently
recomputing session-memo subtrees. unpersist_if_owned is the only
sanctioned release path for frames obtained from persist_if_uncached.
"""

from __future__ import annotations

from kafka_denormalization_spark.checkpoint import (
    persist_if_uncached,
    unpersist_if_owned,
)


def _cached(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk or lvl.useOffHeap


def test_skip_path_borrows_does_not_own(spark):
    owner = persist_if_uncached(
        spark.range(64).selectExpr("id", "id * 3 AS v")
    )
    owner.count()
    assert owner._sg_persist_owned is True

    # a DIFFERENT DataFrame object with an identical canonicalized plan
    borrower = persist_if_uncached(
        spark.range(64).selectExpr("id", "id * 3 AS v")
    )
    assert borrower._sg_persist_owned is False, (
        "skip path fired (plan already cached) but claimed ownership"
    )

    # the borrower's cleanup must NOT evict the owner's cache
    unpersist_if_owned(borrower)
    assert _cached(owner), "borrower cleanup evicted the owner's cache"

    # the owner's cleanup does release it
    unpersist_if_owned(owner)
    assert not _cached(owner)


def test_same_object_twice_keeps_ownership(spark):
    df = spark.range(32).selectExpr("id", "id + 7 AS w")
    a = persist_if_uncached(df)
    assert a._sg_persist_owned is True
    # persist() returns self, so the second pass sees the SAME object
    # already cached — it must not demote the owner to borrower
    b = persist_if_uncached(a)
    assert b._sg_persist_owned is True
    unpersist_if_owned(b)
    assert not _cached(a)


def test_unmarked_frames_are_treated_as_owned(spark):
    df = spark.range(16).persist()
    df.count()
    assert _cached(df)
    unpersist_if_owned(df)
    assert not _cached(df)


def test_truncate_lineage_idempotent_on_marked_frames(spark):
    """VERDICT r11 #2: re-truncating a frame truncate_lineage already
    cut must return it UNCHANGED (same object) when the request is
    satisfied — a localCheckpoint request over any existing truncation.
    The marker makes the session-memo pattern composable: memoized
    pre-truncated frames keep object identity through operators that
    defensively truncate their inputs."""
    from kafka_denormalization_spark.checkpoint import truncate_lineage

    df = spark.range(128).selectExpr("id", "id * 2 AS v")
    t1 = truncate_lineage(df)
    assert t1 is not df
    assert t1._sg_lineage_truncated is None
    t2 = truncate_lineage(t1)
    assert t2 is t1, "re-truncation of a marked frame minted a copy"
    # derived frames carry no marker and truncate normally
    d = truncate_lineage(t1.selectExpr("id"))
    assert d is not t1


def test_truncate_lineage_reliable_upgrade_still_truncates(spark, tmp_path):
    """A RELIABLE request over a local-truncated frame must still
    checkpoint (upgrading executor-loss tolerance), and a repeat of the
    SAME reliable request must then short-circuit."""
    from kafka_denormalization_spark.checkpoint import truncate_lineage

    sc = spark.sparkContext
    sc._sg_ckpt_state = None
    d = str(tmp_path / "reliable")
    t_local = truncate_lineage(spark.range(64))
    t_rel = truncate_lineage(t_local, d)
    assert t_rel is not t_local
    assert t_rel._sg_lineage_truncated == d
    assert truncate_lineage(t_rel, d) is t_rel
    # a reliable frame satisfies a localCheckpoint (None) request too
    assert truncate_lineage(t_rel) is t_rel
    sc._sg_ckpt_state = None


def test_alternating_checkpoint_dirs_do_not_regrow_paths(spark, tmp_path):
    """ADVICE r11 #4: a session alternating between two checkpoint dirs
    must call setCheckpointDir at most once per DISTINCT dir — the
    last-pair-only state re-minted a fresh UUID subdirectory on every
    flip (the unbounded-path-growth mode the r10 fix targeted)."""
    from kafka_denormalization_spark.checkpoint import truncate_lineage

    sc = spark.sparkContext
    sc._sg_ckpt_state = None
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    truncate_lineage(spark.range(8), a)
    truncate_lineage(spark.range(8), b)
    resolved_after_first_cycle = sc.getCheckpointDir()
    # flips back and forth: the context dir must stay byte-stable
    for d in (a, b, a, b, a):
        truncate_lineage(spark.range(8), d)
        assert sc.getCheckpointDir() == resolved_after_first_cycle, (
            "alternating checkpoint dirs re-minted a UUID subdirectory"
        )
    sc._sg_ckpt_state = None


def test_truncate_lineage_session_memoizes_identical_plans(spark):
    """truncate_lineage_session: two semantically identical plans share
    ONE truncated frame per session; a different plan gets its own."""
    from kafka_denormalization_spark.checkpoint import (
        truncate_lineage_session,
    )

    t1 = truncate_lineage_session(
        spark.range(256).selectExpr("id", "id % 5 AS g")
    )
    t2 = truncate_lineage_session(
        spark.range(256).selectExpr("id", "id % 5 AS g")
    )
    assert t1 is t2, "identical plans did not share the session memo"
    t3 = truncate_lineage_session(
        spark.range(256).selectExpr("id", "id % 7 AS g")
    )
    assert t3 is not t1


def _fake_session(app_id: str):
    from types import SimpleNamespace

    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _counts(family: str) -> dict[str, int]:
    from kafka_denormalization_spark.checkpoint import session_memo_counts

    return session_memo_counts().get(family, {"hits": 0, "misses": 0})


def test_session_memo_none_is_a_hit_and_families_stay_apart(spark):
    """A stored None is a hit (resolve_auto_bucket_cap caches "no split"
    as None), and two families whose remaining key fields coincide get
    separate entries."""
    from kafka_denormalization_spark.checkpoint import session_memo

    calls = []

    def build_none():
        calls.append(1)
        return None

    key = ("test_none", "/same/dir")
    assert session_memo(spark, key, build_none) is None
    assert session_memo(spark, key, build_none) is None
    assert len(calls) == 1, "a stored None was rebuilt"
    assert _counts("test_none") == {"hits": 1, "misses": 1}

    a = session_memo(spark, ("test_fam_a", "/same/dir"), object)
    b = session_memo(spark, ("test_fam_b", "/same/dir"), object)
    assert a is not b
    assert session_memo(spark, ("test_fam_a", "/same/dir"), object) is a


def test_session_memo_new_application_drops_previous_entries():
    """A new applicationId evicts the previous application's entries:
    returning to the old application rebuilds."""
    from kafka_denormalization_spark.checkpoint import session_memo

    old, new = _fake_session("test-app-old"), _fake_session("test-app-new")
    first = session_memo(old, ("test_evict", 1), object)
    assert session_memo(old, ("test_evict", 1), object) is first
    assert session_memo(new, ("test_evict", 1), object) is not first
    assert session_memo(old, ("test_evict", 1), object) is not first
    assert _counts("test_evict") == {"hits": 1, "misses": 3}


def test_session_memo_concurrent_misses_build_once(spark):
    """Stress: many more threads than cores, a tiny switch interval, and
    calls that mix same-key and distinct-key lookups. Every key's build
    runs exactly once and every caller of a key gets the identical
    object."""
    import os
    import sys
    import threading
    import time

    from kafka_denormalization_spark.checkpoint import session_memo

    n_threads = 4 * (os.cpu_count() or 4)
    n_keys, rounds = 5, 20
    keys = [("test_stress", i) for i in range(n_keys)]
    builds = {k: 0 for k in keys}
    seen: dict[tuple, list] = {k: [] for k in keys}
    lock = threading.Lock()
    start = threading.Barrier(n_threads)
    errors: list[BaseException] = []

    def build_for(key):
        def build():
            with lock:
                builds[key] += 1
            time.sleep(0.02)  # widen the window for a racing second build
            return object()

        return build

    def worker(i: int) -> None:
        try:
            start.wait(timeout=30)
            for r in range(rounds):
                key = keys[(i + r) % n_keys]
                value = session_memo(spark, key, build_for(key))
                with lock:
                    seen[key].append(value)
        except BaseException as exc:  # noqa: BLE001 - reported below
            errors.append(exc)

    before = _counts("test_stress")
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=worker, args=(i,), daemon=True)
            for i in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive(), "a memo caller hung"
    finally:
        sys.setswitchinterval(old_interval)

    assert not errors, errors
    assert builds == {k: 1 for k in keys}, builds
    for key, values in seen.items():
        assert values and all(v is values[0] for v in values), key
    after = _counts("test_stress")
    calls = n_threads * rounds
    assert after["misses"] - before["misses"] == n_keys
    assert after["hits"] - before["hits"] == calls - n_keys


def test_session_memo_distinct_keys_build_in_parallel(spark):
    """Two keys' builds overlap in time (preference_pair_dedup's two side
    builds run on two driver threads): each build waits at a shared
    barrier that only opens when both are inside their builds at once."""
    import threading

    from kafka_denormalization_spark.checkpoint import session_memo

    both_building = threading.Barrier(2, timeout=30)

    def build():
        both_building.wait()
        return object()

    out: dict[int, object] = {}

    def worker(i: int) -> None:
        out[i] = session_memo(spark, ("test_parallel", i), build)

    threads = [threading.Thread(target=worker, args=(i,), daemon=True) for i in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive(), "a build hung"
    assert not both_building.broken, "distinct keys were built one at a time"
    assert out[0] is not out[1]

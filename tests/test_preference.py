"""Preference-pair / RLHF data operators (functions/preference.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_denormalization_spark.functions import preference as P


def _sft(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id long, turn_idx long, instruction string, response string",
    )


def test_preference_pairs_assembly(spark):
    pairs = _sft(
        spark,
        [
            # group A: three candidates; longest wins, shortest loses
            (1, 0, "explain joins", "short"),
            (2, 0, "explain joins", "a medium length answer"),
            (3, 0, "explain joins", "the longest most detailed answer here"),
            # group B: single candidate -> no pair
            (4, 0, "what is spark", "an engine"),
            # group C: two identical responses -> no pair (not distinct)
            (5, 0, "define dedup", "same text"),
            (6, 0, "define dedup", "same text"),
        ],
    )
    out = {r["instruction"]: r for r in P.preference_pairs(pairs).collect()}
    assert set(out) == {"explain joins"}
    r = out["explain joins"]
    assert r["chosen"] == "the longest most detailed answer here"
    assert r["rejected"] == "short"
    assert r["n_candidates"] == 3
    assert r["chosen_conv"] == 3 and r["rejected_conv"] == 1
    assert r["pair_id"] == 3 * P.PAIR_ID_STRIDE + 0


def test_preference_pairs_deterministic_tiebreak(spark):
    # equal lengths: md5 of the response text breaks the tie, then
    # (conv, turn) — assembly must not depend on partitioning
    rows = [
        (1, 0, "q", "aaaa"),
        (2, 0, "q", "bbbb"),
    ]
    a = P.preference_pairs(_sft(spark, rows)).collect()[0]
    b = P.preference_pairs(_sft(spark, list(reversed(rows))).repartition(7)).collect()[0]
    assert (a["chosen"], a["rejected"]) == (b["chosen"], b["rejected"])
    import hashlib

    md5 = {t: hashlib.md5(t.encode()).hexdigest() for t in ("aaaa", "bbbb")}
    want_chosen = max(("aaaa", "bbbb"), key=lambda t: md5[t])
    assert a["chosen"] == want_chosen


def test_preference_pair_dedup_both_sides_rule(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    alt = "completely different response about database join strategies here"
    rej = "a brief unhelpful reply that dodges the question entirely"
    pairs = _sft(
        spark,
        [
            # pair 1 (original): chosen=base-long, rejected=rej
            (1, 0, "instr one", base + " extra tail words"),
            (2, 0, "instr one", rej),
            # pair 2: BOTH sides near-dup pair 1 -> dominated (dropped)
            (10, 0, "instr two", base + " extra tail words padded"),
            (11, 0, "instr two", rej + " sadly"),
            # pair 3: chosen near-dups pair 1 but rejected differs -> kept
            (20, 0, "instr three", base + " extra tail words also"),
            (21, 0, "instr three", alt),
        ],
    )
    prefs = P.preference_pairs(pairs)
    assert prefs.count() == 3
    kept = {r["instruction"] for r in P.preference_pair_dedup(prefs).collect()}
    assert kept == {"instr one", "instr three"}


def test_preference_length_bias_exact(spark):
    pairs = _sft(
        spark,
        [
            (1, 0, "q1", "chosen longer text"),   # 18 chars
            (2, 0, "q1", "short"),                # 5
            (3, 0, "q2", "abc"),                  # 3
            (4, 0, "q2", "zz"),                   # 2
        ],
    )
    prefs = P.preference_pairs(pairs)
    groups = prefs.select("pair_id", F.lit("en").alias("src"))
    r = P.preference_length_bias(prefs, groups, "src").collect()[0]
    assert r["n_pairs"] == 2
    assert r["chosen_chars"] == 18 + 3
    assert r["rejected_chars"] == 5 + 2
    assert r["len_ratio"] == round(21 / 7, 9)
    assert r["frac_chosen_longer"] == 1.0


def test_preference_pair_dedup_session_memo_matches_direct(spark, tmp_path):
    """VERDICT r11 #2: session_memo=True must produce the identical
    survivor set as the direct path — the memo changes WHERE the
    signature build runs (once per session), never what it computes —
    and repeat calls must reuse the memoized side builds.

    The fixture goes through parquet: a createDataFrame LocalRelation
    does NOT canonicalize to a stable semanticHash across builds (each
    carries fresh attribute ids), so the plan-hash-keyed memos only hit
    for scan-rooted plans — which is what every registry query feeds
    them (table() parquet reads)."""
    from kafka_denormalization_spark.functions.preference import (
        preference_pair_dedup,
    )
    from kafka_denormalization_spark.checkpoint import session_memo_counts

    base = "the quick brown fox jumps over the lazy dog again and again"
    alt = "completely different response about database join strategies"
    rej = "a brief unhelpful reply that dodges the question entirely"
    rows = [
        (1, base + " extra tail words", rej),
        (2, alt, "another terse reply that refuses to engage at all"),
        (10, base + " extra tail words padded", rej + " sadly"),
        (11, base + " extra tail words also", alt + " with numbers"),
    ]
    path = str(tmp_path / "prefs.parquet")
    spark.createDataFrame(
        rows, "pair_id long, chosen string, rejected string"
    ).write.parquet(path)

    def prefs():
        return spark.read.parquet(path)

    direct = sorted(
        r["pair_id"] for r in preference_pair_dedup(prefs()).collect()
    )
    memo1 = sorted(
        r["pair_id"]
        for r in preference_pair_dedup(prefs(), session_memo=True).collect()
    )
    assert memo1 == direct
    before = session_memo_counts()["lsh_pairs"]
    memo2 = sorted(
        r["pair_id"]
        for r in preference_pair_dedup(prefs(), session_memo=True).collect()
    )
    assert memo2 == direct
    after = session_memo_counts()["lsh_pairs"]
    assert after["misses"] == before["misses"], (
        "a repeat call minted new side-pair memo entries instead of "
        "hitting the session memo"
    )
    assert after["hits"] == before["hits"] + 2, "both sides must hit"

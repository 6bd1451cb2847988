"""Preference-pair / RLHF data operators — north-star extension.

The one LLM-data family with zero representation before r09 (VERDICT
r08 next-round #6): reward-model and DPO training consumes
(instruction, chosen, rejected) PREFERENCE PAIRS, and their curation
needs are pair-shaped:

- **pair assembly**: given an SFT corpus where the same instruction
  appears with multiple candidate responses (multi-sample generation,
  cross-source collection), assemble one preference pair per
  instruction group — chosen/rejected picked by a deterministic
  scoring rule. The default score here is response LENGTH (with a
  content-hash tiebreak): deliberately the NAIVE reward, because the
  bias audit below exists to interrogate exactly that choice.
- **pair-level near-dedup**: two preference pairs teach the reward
  model the same comparison when BOTH sides are near-duplicates
  (chosen_A ~ chosen_B and rejected_A ~ rejected_B). Deduping either
  side alone is wrong — a shared chosen with a different rejected is a
  genuinely new comparison.
- **length/format-bias audit**: the known reward-hacking signal
  (Singhal et al. 2023, "A Long Way to Go"): if chosen responses are
  systematically longer than rejected ones, the reward model learns
  length, not quality. Reported per group (source/language) as exact
  char sums + one-division ratios.

All composition: digest/groupBy assembly, the MinHash-LSH pair
machinery from functions/similarity.py for the near-dup sides, and
exact integer aggregation for the audit. No Python UDFs; every
operator has a bitwise DuckDB oracle (queries.py pref_*).

Scale notes (100 TB of conversations):
- assembly is ONE hash aggregation keyed on the instruction text
  (map-side combined; a hot canned instruction collapses to one group
  row) — response text rides through max_by/min_by pairs, never a
  window over the corpus;
- pair near-dedup runs the banded-LSH scale path on the ASSEMBLED
  pair table (bounded by distinct multi-response instructions, far
  below corpus size), candidates verified with exact Jaccard;
- the bias audit is a partial-aggregated groupBy of long sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# turn_idx is bounded by document length / turn-chunk size, far below
# this (the conv_turn_near_dedup uid convention — queries.py)
PAIR_ID_STRIDE = 4096


def preference_pairs(pairs: DataFrame) -> DataFrame:
    """Assemble preference pairs from SFT (instruction, response) pairs
    (functions/conversations.py instruction_response_pairs output):
    every instruction text carried by >= 2 DISTINCT responses yields one
    preference pair — chosen = the best response, rejected = the worst,
    under the total order (length(response), md5(response), conv_id,
    turn_idx). Length is the deliberate naive reward (see module
    docstring); the md5/conv/turn legs make the order total, so the
    assembly is deterministic on any partitioning and the DuckDB oracle
    (arg_max/arg_min over the same struct) lands on identical rows.

    One aggregation pass: max_by/min_by over a comparable struct with
    map-side partial aggregation — no window, no self-join.

    Output: (pair_id, instruction, n_candidates, chosen_conv,
    chosen_turn, chosen, rejected_conv, rejected_turn, rejected).
    ``pair_id`` = chosen_conv * 4096 + chosen_turn — unique because a
    (conv, turn) user slot belongs to exactly one instruction group.
    """
    ordk = F.struct(
        F.length("response").alias("l"),
        F.md5(F.col("response")).alias("m"),
        F.col("conv_id").alias("c"),
        F.col("turn_idx").alias("t"),
    )
    row = F.struct(
        F.col("conv_id").alias("c"),
        F.col("turn_idx").alias("t"),
        F.col("response").alias("r"),
    )
    grouped = pairs.groupBy("instruction").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.max_by(row, ordk).alias("_best"),
        F.min_by(row, ordk).alias("_worst"),
    )
    return (
        grouped.filter(F.col("_best.r") != F.col("_worst.r"))
        .select(
            (F.col("_best.c") * PAIR_ID_STRIDE + F.col("_best.t")).alias(
                "pair_id"
            ),
            "instruction",
            "n_candidates",
            F.col("_best.c").alias("chosen_conv"),
            F.col("_best.t").alias("chosen_turn"),
            F.col("_best.r").alias("chosen"),
            F.col("_worst.c").alias("rejected_conv"),
            F.col("_worst.t").alias("rejected_turn"),
            F.col("_worst.r").alias("rejected"),
        )
    )


def preference_pair_dedup(
    prefs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 32,
    checkpoint_dir: str | None = None,
    session_memo: bool = False,
) -> DataFrame:
    """Pair-level near-dedup over assembled preference pairs: pair B is
    dominated by pair A (id_a < id_b) iff chosen_A ~ chosen_B AND
    rejected_A ~ rejected_B at 3-gram Jaccard >= ``threshold`` — the
    both-sides rule (one near-dup side alone is a new comparison, kept).
    Smaller pair_id survives, the repo-wide retention convention.

    Two banded-LSH + exact-verify passes (functions/similarity.py
    minhash_lsh_pairs — the 100-TB scale path) over the chosen and
    rejected columns, joined on the (id_a, id_b) pair key; at 64x32
    LSH params recall at the 0.5 threshold is ~1 (the minhash_lsh_dedup
    adjudication), so the brute-force oracle matches exactly.

    Definition edge: a side with fewer than 3 tokens carries no 3-gram
    shingles and is near-dup of NOTHING (Jaccard 0 by the repo-wide
    empty-set convention) — two pairs sharing an identical sub-3-token
    rejected side are both kept. Engine and oracle agree.

    Output: the surviving preference-pair rows, unchanged schema.

    The assembled pair table is eagerly lineage-truncated first: it is
    referenced THREE times (each side's LSH pass + the final anti-join),
    and without the cut each reference replays the full assembly
    aggregation — 3 corpus passes at scale — while the embedded plan
    text grows into the corpus_pipeline_v4 plan-tree class (measured
    1470 exchange strings in the executed plan -> 23 after the cut).
    ``checkpoint_dir`` selects the reliable (executor-loss-tolerant)
    variant — see checkpoint.py.

    ``session_memo`` (VERDICT r11 #2): route every heavy stage through
    the session memos — truncation via
    checkpoint.truncate_lineage_session and both sides' signature/
    bucket/verify builds via similarity.minhash_lsh_pairs_session — so
    repeat calls over a semantically identical pair table (bench reps,
    multiple family consumers in one session) pay only the final
    join + anti-join instead of re-deriving MinHash signatures for both
    sides every time (the r11 bench's 4.1-4.6 s warm floor). The memoed
    side-pair tables are session-owned: nothing is unpersisted here.
    """
    from kafka_denormalization_spark.checkpoint import (
        truncate_lineage,
        truncate_lineage_session,
        unpersist_if_owned,
    )
    from kafka_denormalization_spark.functions.similarity import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_session,
    )

    truncate = truncate_lineage_session if session_memo else truncate_lineage
    prefs = truncate(prefs, checkpoint_dir)

    def side_pairs(col: str) -> DataFrame:
        if session_memo:
            # memoized: eagerly-materialized, session-owned pair table;
            # its (tiny) verify plan is already cache-backed, and the
            # truncated projection below is itself memoized, so the
            # composed plan stays flat across calls without a fresh
            # checkpoint per invocation
            pairs = minhash_lsh_pairs_session(
                prefs.select("pair_id", col),
                "pair_id",
                col,
                n=3,
                num_hashes=num_hashes,
                bands=bands,
                threshold=threshold,
            )
            return truncate_lineage_session(
                pairs.select("id_a", "id_b"), checkpoint_dir
            )
        pairs = minhash_lsh_pairs(
            prefs.select("pair_id", col),
            "pair_id",
            col,
            n=3,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            eager_cleanup=True,
        )
        # the side pair table is tiny (near-dup density bounded) and
        # already materialized by eager_cleanup: swap its persisted
        # multi-join verify plan for a LogicalRDD leaf and release the
        # cache — keeps the composed plan text flat (1470 exchange
        # strings -> 23) and pins no storage beyond this call
        out = truncate_lineage(
            pairs.select("id_a", "id_b"), checkpoint_dir
        )
        unpersist_if_owned(pairs)
        return out

    # The two side builds are INDEPENDENT eager pipelines (each runs its
    # own signature/probe/verify jobs over a different column of the
    # same truncated pair table); submit them from two driver threads so
    # the second side's jobs back-fill executors idling in the first
    # side's stage tails (guide §2.6 — actions are only sequential
    # because driver code calls them sequentially). Spark's scheduler
    # handles concurrent jobs natively; the session memos they touch are
    # keyed disjointly (different column name).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        chosen_f = pool.submit(side_pairs, "chosen")
        rejected_f = pool.submit(side_pairs, "rejected")
        both = chosen_f.result().join(rejected_f.result(), ["id_a", "id_b"])
    dominated = both.select(F.col("id_b").alias("pair_id")).dropDuplicates()
    return prefs.join(dominated, ["pair_id"], "left_anti")


def preference_length_bias(
    prefs: DataFrame, groups: DataFrame, group_col: str
) -> DataFrame:
    """Length-bias audit per group (the reward-hacking signal): exact
    char sums for both sides, the chosen/rejected length ratio, and the
    fraction of pairs whose chosen side is strictly longer. ``groups``
    maps pair_id -> ``group_col`` (e.g. the source/language of the
    chosen conversation); one partial-aggregated groupBy.

    Determinism: sums/counts are exact longs; each reported ratio is
    one IEEE division of exact integers, rounded to the 9-decimal grid
    (the repo-wide float-oracle convention). ``len_ratio`` is NULL when
    a group's rejected sides are all empty (ADVICE r09: Spark yields
    NULL for integer-sum/0 while DuckDB yields IEEE Infinity — the
    guard pins one semantics on both engines).

    Output: (group_col, n_pairs, chosen_chars, rejected_chars,
    len_ratio, frac_chosen_longer)."""
    j = prefs.join(groups, ["pair_id"])
    rej_chars = F.sum(F.length("rejected")).cast("double")
    return j.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.length("chosen")).cast("long").alias("chosen_chars"),
        F.sum(F.length("rejected")).cast("long").alias("rejected_chars"),
        F.when(
            rej_chars > 0,
            F.round(F.sum(F.length("chosen")).cast("double") / rej_chars, 9),
        ).alias("len_ratio"),
        F.round(
            F.sum(
                F.when(F.length("chosen") > F.length("rejected"), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)).cast("double"),
            9,
        ).alias("frac_chosen_longer"),
    )

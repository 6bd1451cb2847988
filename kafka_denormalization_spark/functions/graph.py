"""Distributed connected components — the transitive-closure step a
near-duplicate pipeline needs between "similar pairs" and "keep one doc
per group" (greedy pairwise retention under-merges: a~b, b~c with a!~c
splits one group in two; components don't).

Hash-min label propagation: every node's label converges to the MINIMUM
node id reachable from it (components are identified by their smallest
member). Each round is one join + one aggregation — pure DataFrame ops,
state bounded by (node, label) pairs.

Scale notes (100 TB):
- rounds needed = graph diameter. Near-dup graphs are dense clumps with
  tiny diameters (2-4 rounds typical); the `max_iter` guard catches
  pathological chains.
- each round shuffles (node, label) pairs keyed by node — same partitioning
  every round, so AQE/exchange reuse keeps it one stable shuffle key.
- lineage is truncated every round (eager localCheckpoint): without it the
  plan doubles per iteration and the job dies on planning long before it
  dies on data.
- convergence is detected by the sum of labels (strictly decreasing until
  fixpoint) — one scalar aggregate per round, no row-level comparison join.
  The scalar is an aggregate METADATA read, not a data collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_denormalization_spark.checkpoint import (
    plan_key,
    session_memo,
    truncate_lineage,
)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Return (node, component) for every node appearing in ``edges``;
    ``component`` is the smallest node id in the node's connected
    component. Node ids must be orderable (long/string both work; the sum
    convergence check hashes labels, so strings are fine).

    ``checkpoint_dir``: route the per-round lineage truncation through a
    RELIABLE checkpoint instead of localCheckpoint — the executor-loss-
    tolerant variant a long cluster run wants (see checkpoint.py);
    results are identical through both paths."""
    sym = truncate_lineage(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .dropDuplicates(),
        checkpoint_dir,
    )

    # The convergence fingerprint rides the truncation job itself
    # (r13, guide §1.2): ``observe()`` metrics are collected as a side
    # effect of the eager localCheckpoint's materialization, so each
    # round is ONE job (cut + fingerprint) instead of two (cut, then a
    # 1-row aggregate over the cut frame). xxhash64(node, label)
    # summed: equal multisets always give equal sums, so a converged
    # state is always detected; a hash-sum collision across DIFFERENT
    # label states could stop one round early (p ~ 2^-64 per round) —
    # accepted, unchanged from the two-job formulation. The reliable-
    # checkpoint and Spark Connect paths keep the separate aggregate
    # (observation delivery is only relied on for the local
    # withAction("checkpoint") path this repo's sessions use).
    _fp_expr = F.sum(
        F.xxhash64(F.col("node"), F.col("label")).cast("decimal(38,0)")
    ).alias("s")
    use_observe = checkpoint_dir is None and hasattr(edges, "_jdf")

    def _cut_with_fp(lab: DataFrame) -> tuple[DataFrame, object]:
        if use_observe:
            from pyspark.sql import Observation

            obs = Observation()
            cut = truncate_lineage(lab.observe(obs, _fp_expr), checkpoint_dir)
            return cut, obs.get["s"]
        cut = truncate_lineage(lab, checkpoint_dir)
        return cut, cut.select(_fp_expr).first()["s"]

    labels, fp = _cut_with_fp(
        sym.select(F.col("u").alias("node"))
        .dropDuplicates()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_iter):
        # every node tells its neighbors its label; each node keeps the
        # min of its own label and everything it heard
        msgs = sym.join(labels, sym["v"] == labels["node"]).select(
            F.col("u").alias("node"), F.col("label")
        )
        new_labels, new_fp = _cut_with_fp(
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        labels = new_labels
        if new_fp == fp:
            break
        fp = new_fp
    return labels.select("node", F.col("label").alias("component"))


def connected_components_session(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Session-memoized :func:`connected_components`: repeated calls
    with a semantically identical ``edges`` plan and the same (src,
    dst, max_iter) return the SAME truncated labels frame without
    re-running the label-propagation rounds (each round is an eager
    lineage cut + a 1-row fingerprint collect — ~1.3-1.7 s of pure
    job overhead per CALL at any scale; r12 measured 6+ registry
    queries re-deriving components of the one shared near-dup pair
    graph per bench run).

    Keying follows ``minhash_lsh_pairs_session``: the edges plan's
    checkpoint.plan_key through checkpoint.session_memo, with a plain
    un-memoized call as the Spark Connect fallback. The memoized frame
    is lineage-truncated (LogicalRDD over session-held blocks) —
    callers must treat it as read-only shared state, exactly like the
    pair-table memo."""

    def build() -> DataFrame:
        return connected_components(
            edges, src, dst, max_iter=max_iter, checkpoint_dir=checkpoint_dir
        )

    sem = plan_key(edges)
    if sem is None:  # pragma: no cover - Spark Connect fallback
        return build()
    return session_memo(
        edges.sparkSession, ("cc", sem, src, dst, max_iter, checkpoint_dir), build
    )


def pagerank(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    damping_pct: int = 85,
    n_iter: int = 5,
    checkpoint_dir: str | None = None,
    truncate_every: int = 2,
) -> DataFrame:
    """Fixed-iteration PageRank by power method — graph authority
    scoring, the crawl-curation primitive (seed ranking / domain
    authority in web-corpus pipelines runs exactly this shape over the
    link graph; the demo graph here is co-purchase, the testdata's one
    real graph). ``edges`` is a DIRECTED edge list; undirected graphs
    pass both orientations. Every node must have out-degree >= 1 (true
    by construction for a symmetrized list; callers with true dangling
    nodes add self-loops first, or the dangling mass leaks).

    Fixed-point determinism: ranks live as INTEGER nano-units
    (R = rank * 10^9) and every step is exact integer arithmetic —
    ``R0 = 10^9 DIV N``, per-edge contribution ``R DIV deg``, update
    ``R' = (100 - d)*10^7 DIV N + d * sum(contrib) DIV 100`` with the
    damping an integer PERCENT. No float exists anywhere in the
    iteration, so any engine reproduces every bit (double rounding of
    quotients near decimal-tie points diverges across engines — the
    float formulation measurably did at the 9th decimal). Floor
    divisions leak < 1 nano-unit per term per round: a ~1e-9 relative
    mass loss, irrelevant to ranking and identical everywhere. The
    damping is an integer percent for the same reason.

    Fixed ``n_iter``: the power iteration converges geometrically at
    rate damping^k; 5 rounds puts the residual under half the initial
    spread, 10 under a quarter — pick per use. A convergence-tested
    variant would re-introduce a float threshold; the training-data
    consumers (seed ranking, authority-weighted sampling) want a
    reproducible ordering, not the fixpoint.

    Scale notes (100 TB): each round is ONE shuffle of (dst, contrib)
    keyed by node — the same key every round, so exchange reuse keeps
    the partitioning stable; the ranks frame is |V|-sized, never
    edge-sized; lineage is truncated every ``truncate_every`` rounds
    (eager localCheckpoint, the connected_components precedent) so plan
    depth stays bounded. Per-round truncation is correct but pays one
    eager job per round; ranks has exactly ONE consumer per round (the
    next round's join), so chaining a couple of rounds lazily between
    cuts is recompute-free and halves the job count (r11: warm min
    7.5 s at 5 rounds was ~1 s/truncation job, not data). Values are
    bit-identical for any ``truncate_every`` — the cut only bounds plan
    depth. The final round is never cut (the caller's materialization
    executes the lazy tail).

    Per-round join shape (r13, guide §2.4/§3.3): the edge⋈degree join
    is ITERATION-INVARIANT, so it is hoisted into the build-time cut —
    one (src, dst, deg) table (+8 bytes/edge of checkpoint storage)
    replaces one sort-merge join + degree re-aggregation in EVERY
    round; each round's identical edge-side exchange over the cut scan
    is reused across rounds (AQE stage reuse), so per round only the
    |V|-sized ranks frame and the partially-aggregated contribution
    rows move. The ranks INIT frame is left lazy: it has exactly one
    consumer (round 1's join), so an eager cut was one pure-overhead
    job per call (r13; values identical).
    The node census is a 1-row aggregate broadcast (allow-listed BNLJ
    shape), never a driver collect. Sums fit a long: total graph mass
    is ~10^9 nano-units by construction, damping * sum < 10^11.

    Output: (node, rank_nano, pagerank_r) — the exact integer rank and
    its 9-decimal double rendering.
    """
    if not 0 < damping_pct < 100:
        raise ValueError(f"damping_pct must be in (0, 100), got {damping_pct}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if truncate_every < 1:
        raise ValueError(f"truncate_every must be >= 1, got {truncate_every}")
    d = int(damping_pct)
    e = truncate_lineage(
        edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")),
        checkpoint_dir,
    )
    deg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg"))
    # iteration-invariant (src, dst, deg) table: one cut table
    # (+8 bytes/edge of checkpoint storage) replaces a sort-merge join
    # + degree re-aggregation in EVERY round; each round's identical
    # edge-side exchange over this scan is computed once and reused
    # across rounds (AQE stage reuse on the canonicalized plan)
    e_deg = truncate_lineage(e.join(deg, "_s"), checkpoint_dir)
    nodes = e_deg.select(F.col("_s").alias("node")).distinct()
    n1 = nodes.agg(F.count(F.lit(1)).alias("_n"))
    # lazy by design: ranks0 has exactly one consumer (round 1's join),
    # so an eager cut here was one pure-overhead job per call
    ranks = nodes.crossJoin(F.broadcast(n1)).select(
        "node", F.expr("CAST(1000000000 AS BIGINT) DIV _n").alias("rn")
    )
    for i in range(n_iter):
        contrib = (
            e_deg.join(ranks, e_deg["_s"] == ranks["node"])
            .select(
                F.col("_d").alias("node"),
                F.expr("rn DIV _deg").alias("_c"),
            )
        )
        ranks = (
            contrib.groupBy("node")
            .agg(F.sum("_c").alias("_sc"))
            .crossJoin(F.broadcast(n1))
            .select(
                "node",
                F.expr(
                    f"CAST({(100 - d) * 10_000_000} AS BIGINT) DIV _n"
                    f" + ({d} * _sc) DIV 100"
                ).alias("rn"),
            )
        )
        if (i + 1) % truncate_every == 0 and i != n_iter - 1:
            ranks = truncate_lineage(ranks, checkpoint_dir)
    return ranks.select(
        "node",
        F.col("rn").cast("long").alias("rank_nano"),
        F.round(F.col("rn").cast("double") / F.lit(1.0e9), 9).alias("pagerank_r"),
    )

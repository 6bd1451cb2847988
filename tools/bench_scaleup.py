"""Synthetic scale-up rows for docs/SCALE_NOTES.md: replicate the sf0.1
documents/embeddings tables xN (id-shifted, same value distribution) and
time an operator warm through the noop sink — the harness behind the
"documents x N" tables in SCALE_NOTES (rounds 4-5, previously ad hoc).

Usage: python tools/bench_scaleup.py [op ...]   (default: the round-5 ops)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from kafka_denormalization_spark.engine import get_spark

SF_DIR = "/root/testdata/sf0.1"
SCALES = (1, 8, 32)
ID_SHIFT = 10_000_000


def replicate(df, id_col: str, n: int, salt_text: bool = False):
    """xN with shifted ids. ``salt_text`` prefixes every TOKEN with a
    per-replica tag (disjoint vocabulary across replicas) — required for
    PAIR-EMITTING ops (containment/jaccard/LSH pairs), where same-text
    replicas are all mutual perfect duplicates and the TRUE result size
    grows quadratically in N; salting keeps workload shape (same gram
    counts per doc) while the result scales linearly like real data."""
    if n == 1:
        return df
    parts = []
    for i in range(n):
        p = df.withColumn(id_col, F.col(id_col) + F.lit(i * ID_SHIFT))
        if salt_text and i > 0:
            p = p.withColumn(
                "text", F.regexp_replace(F.col("text"), r"(\S+)", f"r{i}_$1")
            )
        parts.append(p)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _bm25_batch(docs):
    from kafka_denormalization_spark.functions.text import bm25_batch
    from kafka_denormalization_spark.queries import BM25_BATCH_QUERIES

    spark = docs.sparkSession
    qdf = spark.createDataFrame(BM25_BATCH_QUERIES, "query_id int, term string")
    return bm25_batch(docs, "doc_id", "text", qdf, k=10)


def _dsir_sample(docs):
    from kafka_denormalization_spark.operators.sampling import dsir_resample
    from kafka_denormalization_spark.queries import DSIR_BUCKETS, DSIR_SALT

    return dsir_resample(
        docs, "doc_id", "text", F.col("lang") == "en", k=200,
        num_buckets=DSIR_BUCKETS, salt=DSIR_SALT,
    )


def _span_dedup(docs):
    from kafka_denormalization_spark.operators.chunking import span_dedup

    return span_dedup(docs, "doc_id", "text", chunk_tokens=16)


def _kmeans(emb):
    from kafka_denormalization_spark.operators.clustering import kmeans_assign

    return kmeans_assign(emb, "vec_id", "embedding", k=8, iters=3)


def _lm_perplexity(docs):
    from kafka_denormalization_spark.functions.text import lm_score

    return lm_score(docs, "doc_id", "text", F.col("lang") == "en")


def _bpe(docs):
    from kafka_denormalization_spark.functions.text import bpe_merges

    return bpe_merges(docs, "text", num_merges=3)


def _zscore(events):
    from kafka_denormalization_spark.operators.window import rolling_zscore

    return rolling_zscore(
        events, "user_id", ["ts", "event_id"], "value", window_rows=8
    ).select("event_id", "user_id", "z_r")


def _containment(docs):
    from kafka_denormalization_spark.functions.similarity import containment_pairs

    return containment_pairs(docs, "doc_id", "text", n=4, threshold=0.8)


def _shard_plan(docs):
    from kafka_denormalization_spark.operators.sharding import shard_plan

    # n_shards scales with the corpus (real builds hold shard SIZE
    # roughly constant), keeping the per-shard window bounded
    n = docs.sparkSession.conf.get("bench.scaleup.n_rep", "1")
    return shard_plan(docs, "doc_id", n_shards=64 * int(n)).select(
        "doc_id", "shard_id", "pos"
    )


def _bpe_tokens(docs):
    from kafka_denormalization_spark.functions.text import bpe_token_counts

    return bpe_token_counts(docs, "text", num_merges=3)


def _image_phash(docs):
    """Deterministic image blobs per doc (numpy-vectorized grid), then
    the full dHash -> band-LSH -> verify -> retention chain. Group count
    scales with N (constant group SIZE, the same convention as
    shard_plan's n_shards) so the near-dup workload shape is constant
    and the result linear — fixed groups would make replicas pure
    mega-cliques (that skew case is tools/bench_lsh_skew.py's job)."""
    import pandas as pd

    from kafka_denormalization_spark.functions.multimodal import (
        image_phash_dedup,
        make_image_blob,
    )

    spark = docs.sparkSession
    groups = 37 * int(spark.conf.get("bench.scaleup.n_rep", "1"))

    def encode(batches):
        import numpy as np

        ii, jj = np.meshgrid(
            np.arange(32), np.arange(36), indexing="ij"
        )
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                s = d % groups
                # per-group GRADIENTS (queries._phash_pixels formula):
                # offset-only group differences are dHash-invariant and
                # merge every group into one mega-clique
                grid = (s * 31 + (7 + s % 101) * ii + (13 + s % 103) * jj) % 256
                px = bytearray(grid.astype("uint8").tobytes())
                if d % 5 == 0:
                    px[0] = (px[0] + 128) % 256
                rows.append((d, make_image_blob(36, 32, bytes(px))))
            yield pd.DataFrame(rows, columns=["id", "blob"])

    blobs = docs.select("doc_id").mapInPandas(encode, "id long, blob binary")
    return image_phash_dedup(blobs, "id", "blob")


def _bpe_doc_tokens(docs):
    from kafka_denormalization_spark.functions.text import bpe_encode_docs

    return bpe_encode_docs(docs, "doc_id", "text", num_merges=3)


def _scaleup_url(replica_in_host: bool = True):
    """Synthetic url column for the domain/url family: the registered
    domain carries the REPLICA index so domain count scales with N
    (constant per-domain width — fixed domains would grow hot keys
    N-fold instead of growing the key space like a real crawl)."""
    rep = F.expr(f"doc_id DIV {ID_SHIFT}")
    sfx = (
        F.when(F.col("doc_id") % 5 == 0, F.lit("com"))
        .when(F.col("doc_id") % 5 == 1, F.lit("org"))
        .when(F.col("doc_id") % 5 == 2, F.lit("co.uk"))
        .when(F.col("doc_id") % 5 == 3, F.lit("com.au"))
        .otherwise(F.lit("io"))
    )
    host_mid = (
        F.concat(F.col("source"), F.lit("-"), rep.cast("string"))
        if replica_in_host
        else F.col("source")
    )
    return F.concat(
        F.lit("https://www."), host_mid, F.lit("."), sfx,
        F.lit("/p/"), (F.col("doc_id") % 2000).cast("string"),
    )


def _domain_profile(docs):
    from kafka_denormalization_spark.functions.domains import domain_profile

    return domain_profile(docs.withColumn("url", _scaleup_url()), "url")


def _url_dedup(docs):
    from kafka_denormalization_spark.functions.domains import url_dedup

    return url_dedup(
        docs.withColumn("url", _scaleup_url()), "url", "doc_id"
    ).select("doc_id", "url_norm")


def _gopher_repetition(docs):
    from kafka_denormalization_spark.functions.text import repetition_profile

    return repetition_profile(docs, "doc_id", "text")


def _shard_plan_bytes(docs):
    from kafka_denormalization_spark.operators.sharding import shard_plan_bytes

    n = docs.sparkSession.conf.get("bench.scaleup.n_rep", "1")
    return shard_plan_bytes(
        docs, "doc_id", "n_chars", n_shards=64 * int(n)
    ).select("doc_id", "shard_id", "pos")


def _line_dedup(docs):
    """3-token synthetic lines (queries._docs_with_lines shape). Runs
    SALTED: with unsalted replicas every line crosses the min_docs
    threshold at x8 and the whole corpus degenerates to boilerplate —
    salting keeps the removed fraction constant per replica (each
    site's own footer), so the result scales linearly like a crawl."""
    from kafka_denormalization_spark.functions.text import line_dedup, tokens
    from kafka_denormalization_spark.queries import LINE_MIN_DOCS, LINE_SEG

    with_lines = docs.withColumn("_w", tokens(F.col("text"))).withColumn(
        "lines",
        F.expr(
            f"transform(sequence(0, CAST((size(_w)-1) DIV {LINE_SEG} AS INT)),"
            f" i -> array_join(slice(_w, i*{LINE_SEG}+1, {LINE_SEG}), ' '))"
        ),
    )
    return line_dedup(with_lines, "doc_id", "lines", min_docs=LINE_MIN_DOCS)


def _ccnet_buckets(docs):
    from kafka_denormalization_spark.functions.text import (
        lm_perplexity_buckets,
        lm_score,
    )

    return lm_perplexity_buckets(
        lm_score(docs, "doc_id", "text", F.col("lang") == "en")
    )


def _nb_quality(docs):
    from kafka_denormalization_spark.functions.text import nb_quality_score
    from kafka_denormalization_spark.queries import NB_SEED_SOURCES

    return nb_quality_score(
        docs, "doc_id", "text", F.col("source").isin(NB_SEED_SOURCES)
    )


def _corpus_diff(docs):
    """Next-crawl mutations as in queries.q_corpus_diff (drop %7,
    revise %5, add %11 id-shifted) — diff size scales linearly."""
    from kafka_denormalization_spark.operators.diff import corpus_diff

    base = docs.select("doc_id", "text")
    survivors = base.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(" rev2")))
        .otherwise(F.col("text")).alias("text"),
    )
    added = base.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 500_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" addendum")).alias("text"),
    )
    return corpus_diff(base, survivors.unionByName(added), "doc_id", "text")


def _icp_packing(docs):
    """Embeddings replicated with the SAME id shift as documents so the
    1:1 vec_id=doc_id testdata mapping survives replication; k fixed
    (kmeans_clusters convention)."""
    from kafka_denormalization_spark.operators.chunking import pack_chunks
    from kafka_denormalization_spark.operators.clustering import kmeans_assign
    from kafka_denormalization_spark.functions.text import token_count

    spark = docs.sparkSession
    n = int(spark.conf.get("bench.scaleup.n_rep", "1"))
    emb = replicate(
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet"), "vec_id", n
    )
    asg = kmeans_assign(emb, "vec_id", "embedding", k=8, iters=3).select(
        F.col("vec_id").alias("doc_id"), "cluster_id"
    )
    joined = docs.join(asg, "doc_id").select(
        "doc_id", "cluster_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return pack_chunks(
        joined, "cluster_id", ["doc_id"], token_col="n_tokens", budget=256
    )


def _curriculum_shards(docs):
    from kafka_denormalization_spark.functions.text import lm_score
    from kafka_denormalization_spark.operators.sharding import (
        curriculum_shards,
    )

    n = docs.sparkSession.conf.get("bench.scaleup.n_rep", "1")
    scored = lm_score(docs, "doc_id", "text", F.col("lang") == "en")
    return curriculum_shards(
        scored.select("doc_id", "nll_r"), "doc_id", "nll_r",
        n_shards=64 * int(n),
    ).select("doc_id", "band", "shard_id", "pos")


def _shard_manifest(docs):
    from kafka_denormalization_spark.operators.sharding import (
        shard_manifest,
        shard_plan,
    )

    n = docs.sparkSession.conf.get("bench.scaleup.n_rep", "1")
    plan = shard_plan(docs, "doc_id", n_shards=64 * int(n))
    return shard_manifest(plan, "doc_id", "n_chars")


def _token_fertility(docs):
    from kafka_denormalization_spark.functions.text import bpe_encode_docs

    counted = bpe_encode_docs(docs, "doc_id", "text", num_merges=3)
    joined = counted.join(
        docs.select("doc_id", "lang", F.length("text").alias("_chars")),
        "doc_id",
    )
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_chars").cast("long").alias("n_chars"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
    )


def _prototype_prune(emb):
    """Fixed k=8 (the kmeans_clusters scale-row convention) so the row
    isolates the PRUNE's marginal cost over the shared Lloyd base.
    NB: exact Lloyd's with corpus-proportional k (the constant-cluster-
    size deployment) is O(N·k) by construction — measured 18.9x time at
    32x data with k=8n; at real scale the assignment step goes through
    an ANN-assisted / hierarchical assigner, the same escalation the
    IVF family documents."""
    from kafka_denormalization_spark.operators.clustering import (
        prototype_prune,
    )

    return prototype_prune(
        emb, "vec_id", "embedding", k=8, iters=3, keep_frac=0.5
    )


# each op: name -> (table, id_col, builder, salt_text)
def _quality_signals(docs):
    from kafka_denormalization_spark.functions.text import quality_signals

    return quality_signals(docs, "doc_id", "text")


def _ngram_diversity(docs):
    from kafka_denormalization_spark.functions.text import ngram_diversity

    return ngram_diversity(docs, "lang", "text", "doc_id", max_n=3)


def _source_overlap(docs):
    from kafka_denormalization_spark.functions.similarity import source_overlap

    return source_overlap(docs, "source", "doc_id", "text", n=3)


def _unimax(docs):
    from kafka_denormalization_spark.operators.sampling import unimax_plan

    return unimax_plan(docs, "lang", "n_chars", 1.6, 2)


def _lm_burstiness(docs):
    from kafka_denormalization_spark.functions.text import lm_burstiness

    return lm_burstiness(docs, "doc_id", "text", F.col("lang") == "en")


def _unimax_shards(docs):
    from kafka_denormalization_spark.operators.sampling import unimax_sample
    from kafka_denormalization_spark.operators.sharding import shard_plan

    mixed = unimax_sample(docs, "lang", "n_chars", "doc_id", 1.6, 2)
    keyed = mixed.withColumn(
        "_ekey",
        F.concat_ws("#", F.col("doc_id").cast("string"),
                    F.col("epoch").cast("string")),
    )
    # shard count scales with the corpus (constant shard size)
    n = docs.sparkSession.conf.get("bench.scaleup.n_rep", "1")
    return shard_plan(keyed, "_ekey", n_shards=8 * int(n)).select(
        "doc_id", "epoch", "shard_id", "pos"
    )


def _doremi(docs):
    from kafka_denormalization_spark.functions.text import lm_score
    from kafka_denormalization_spark.operators.sampling import doremi_weights

    scored = lm_score(docs, "doc_id", "text", F.col("lang") == "en")
    per_doc = scored.join(docs.select("doc_id", "source", "n_chars"), "doc_id")
    return doremi_weights(per_doc, "source", "n_chars", "nll_r", eta=1.0)


def _zipf_fit(docs):
    from kafka_denormalization_spark.functions.text import zipf_fit

    return zipf_fit(docs, "text", min_count=2)


def _lsh_pairs_local(docs):
    from kafka_denormalization_spark.functions.similarity import (
        minhash_lsh_pairs,
    )

    return minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=64, bands=32, threshold=0.5
    )


def _cross_source_dups(docs):
    # the q_cross_source_dups composition over a locally-built pair table
    # (the registered query rides the session memo keyed by sf_dir)
    pairs = _lsh_pairs_local(docs)
    src = docs.select("doc_id", "source")
    j = (
        pairs.join(
            src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("_sa")),
            "id_a",
        )
        .join(
            src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("_sb")),
            "id_b",
        )
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
            "id_a",
            "id_b",
        )
    )
    np_ = j.groupBy("source_a", "source_b").agg(F.count(F.lit(1)).alias("n_pairs"))
    nd = (
        j.select("source_a", "source_b", F.col("id_a").alias("_d"))
        .union(j.select("source_a", "source_b", F.col("id_b").alias("_d")))
        .groupBy("source_a", "source_b")
        .agg(F.count_distinct(F.col("_d")).alias("n_docs"))
    )
    return np_.join(nd, ["source_a", "source_b"])


def _dedup_mixture_shift(docs):
    from kafka_denormalization_spark.functions.graph import connected_components

    pairs = _lsh_pairs_local(docs)
    cc = connected_components(pairs, src="id_a", dst="id_b")
    labeled = docs.select("doc_id", "source").join(
        cc.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    )
    kept = F.when(
        F.col("component").isNull() | (F.col("component") == F.col("doc_id")),
        F.lit(1),
    ).otherwise(F.lit(0))
    return labeled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_before"), F.sum(kept).alias("n_after")
    )



def _contamination_scrub(docs):
    from kafka_denormalization_spark.functions.text import contamination_scrub
    from kafka_denormalization_spark.queries import CONTAMINATION_PATTERNS

    return contamination_scrub(docs, "doc_id", "text", CONTAMINATION_PATTERNS)



def _source_divergence(docs):
    from kafka_denormalization_spark.functions.text import source_divergence

    return source_divergence(docs, "source", "text")


def _collocations(docs):
    from kafka_denormalization_spark.functions.text import collocations

    return collocations(docs, "text", min_count=5, top_k=50)


def _pagerank_xor(docs):
    # bounded-degree synthetic graph over doc ids (each node XOR-linked
    # to 4 neighbors — symmetric by construction on an xor-closed id
    # set): |E| grows linearly with replicas, the pagerank plan shape
    # (per-round node-keyed shuffle) is what's measured
    from kafka_denormalization_spark.functions.graph import pagerank

    ids = docs.select(F.col("doc_id").alias("s"))
    e = None
    for k in (1, 2, 4, 8):
        p = ids.select("s", F.col("s").bitwiseXOR(F.lit(k)).alias("d"))
        e = p if e is None else e.unionByName(p)
    return pagerank(e, "s", "d", n_iter=5)


def _k_anonymity(docs):
    from kafka_denormalization_spark.operators.privacy import k_anonymity_audit

    d = docs.withColumn("len_bucket", F.expr("n_chars DIV 500"))
    return k_anonymity_audit(d, ["source", "len_bucket"], "lang", k=5, l=2)


def _pareto_front(events):
    from kafka_denormalization_spark.operators.skyline import pareto_front

    return pareto_front(events, "value", "user_id").select(
        "event_id", "value", "user_id"
    )


def _z_order(events):
    from kafka_denormalization_spark.operators.sharding import z_order_plan

    ev = events.withColumn("ts_us", F.col("event_id") * 1000 + F.col("user_id"))
    return z_order_plan(
        ev, "event_id", "user_id", "ts_us", rows_per_shard=1000
    ).select("event_id", "z", "shard_id", "pos")


def _semantic_contamination(emb):
    from kafka_denormalization_spark.functions.similarity import (
        semantic_contamination,
    )

    ev = emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 10_000_000))
    return semantic_contamination(emb, ev, threshold=0.4)


def _mahalanobis(emb):
    from kafka_denormalization_spark.functions.similarity import (
        mahalanobis_outliers,
    )

    return mahalanobis_outliers(emb, k=20)


def _embedding_cov(emb):
    from kafka_denormalization_spark.functions.similarity import (
        embedding_covariance,
    )

    return embedding_covariance(emb)


def _embedding_pca(emb):
    from kafka_denormalization_spark.functions.similarity import embedding_pca

    return embedding_pca(emb, n_iter=8)


def _audio_dedup(docs):
    import pandas as pd

    from kafka_denormalization_spark.functions.multimodal import (
        audio_fp_dedup,
        fake_audio_samples,
        make_audio_blob,
    )

    def encode(batches):
        for pdf in batches:
            rows = [
                (
                    int(d),
                    make_audio_blob(
                        fake_audio_samples(int(d) % 97, 1 + int(d) % 3)
                    ),
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(rows, columns=["id", "blob"])

    blobs = docs.select("doc_id").mapInPandas(encode, "id long, blob binary")
    return audio_fp_dedup(blobs, "id", hamming_max=3)


def _video_dedup(docs):
    import pandas as pd

    from kafka_denormalization_spark.functions.multimodal import (
        fake_video_pixels,
        make_video_blob,
        video_fp_dedup,
    )

    def encode(batches):
        for pdf in batches:
            rows = [
                (
                    int(d),
                    make_video_blob(
                        fake_video_pixels(int(d) % 89, 1 + int(d) % 3)
                    ),
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(rows, columns=["id", "blob"])

    blobs = docs.select("doc_id").mapInPandas(encode, "id long, blob binary")
    return video_fp_dedup(blobs, "id", hamming_max=3)


def _image_resize(docs):
    import pandas as pd

    from kafka_denormalization_spark.functions.multimodal import (
        make_image_blob,
        resize_images,
    )
    from kafka_denormalization_spark.queries import (
        PHASH_H,
        PHASH_W,
        _phash_pixels,
    )

    def encode(batches):
        for pdf in batches:
            rows = [
                (int(d), make_image_blob(PHASH_W, PHASH_H, _phash_pixels(int(d))))
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(rows, columns=["id", "blob"])

    blobs = docs.select("doc_id").mapInPandas(encode, "id long, blob binary")
    return resize_images(blobs, out_w=9, out_h=8)


def _video_keyframe_dedup(docs):
    import pandas as pd

    from kafka_denormalization_spark.functions.multimodal import (
        fake_video_pixels,
        make_video_blob,
        video_keyframe_dedup,
    )

    def encode(batches):
        for pdf in batches:
            rows = [
                (
                    int(d),
                    make_video_blob(
                        fake_video_pixels(int(d) % 89, 1 + int(d) % 3)
                    ),
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(rows, columns=["id", "blob"])

    blobs = docs.select("doc_id").mapInPandas(encode, "id long, blob binary")
    return video_keyframe_dedup(blobs, "id")


def _video_scenes(docs):
    import pandas as pd

    from kafka_denormalization_spark.functions.multimodal import (
        fake_video_pixels,
        make_video_blob,
        video_scene_cuts,
    )

    def encode(batches):
        for pdf in batches:
            rows = [
                (
                    int(d),
                    make_video_blob(
                        fake_video_pixels(int(d) % 89, 1 + int(d) % 3)
                    ),
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(rows, columns=["id", "blob"])

    blobs = docs.select("doc_id").mapInPandas(encode, "id long, blob binary")
    return video_scene_cuts(blobs, "id")


def _audio_segments(docs):
    import pandas as pd

    from kafka_denormalization_spark.functions.multimodal import (
        AUDIO_FRAME_LEN,
        audio_segments,
        fake_audio_samples,
        make_audio_blob,
    )

    def encode(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                samples = fake_audio_samples(d % 97, 1 + d % 3)
                if d % 3 == 0:
                    lo, hi = 20 * AUDIO_FRAME_LEN, 30 * AUDIO_FRAME_LEN
                    samples[lo:hi] = [0] * (hi - lo)
                rows.append((d, make_audio_blob(samples)))
            yield pd.DataFrame(rows, columns=["id", "blob"])

    blobs = docs.select("doc_id").mapInPandas(encode, "id long, blob binary")
    return audio_segments(blobs, "id")


def _embedding_debias(emb):
    from kafka_denormalization_spark.functions.similarity import (
        embedding_debias,
    )

    return embedding_debias(emb, n_iter=8)


def _substring_dedup(docs):
    from kafka_denormalization_spark.operators.chunking import (
        exact_substr_dedup,
    )

    return exact_substr_dedup(docs, "doc_id", "text", window_tokens=16)


def _paired_dedup(docs):
    """The q_paired_dedup fixture with image-group count scaling with N
    (constant group size, the image_phash_dedup convention); captions
    are salted so cross-replica caption cliques don't go quadratic —
    the within-replica organic near-dup mass scales linearly."""
    import pandas as pd

    from kafka_denormalization_spark.functions.multimodal import (
        make_image_blob,
        paired_near_dup_audit,
    )
    from kafka_denormalization_spark.queries import (
        PHASH_H,
        PHASH_W,
        _paired_pixels,
    )

    spark = docs.sparkSession
    # the query's convention: 37 groups per 500 docs (constant ~13-doc
    # group size). The base slice is sf0.1 = 5000 docs, so x1 = 370
    # groups — a first cut at 37 * n_rep kept 135-doc groups and the
    # pair output (and its Jaccard fill) carried a 10x constant,
    # reading as 14.5x at x32 when the operator itself scales linearly
    groups = 370 * int(spark.conf.get("bench.scaleup.n_rep", "1"))
    seeded = docs.select(
        "doc_id",
        "text",
        (
            F.conv(
                F.substring(F.md5(F.substring("text", 1, 64)), 1, 8), 16, 10
            ).cast("long")
            % groups
        ).alias("_s"),
    )

    def encode(batches):
        for pdf in batches:
            rows = [
                (
                    int(d),
                    make_image_blob(
                        PHASH_W, PHASH_H,
                        _paired_pixels(int(s), int(d) % 5 == 0),
                    ),
                    t,
                )
                for d, s, t in zip(pdf["doc_id"], pdf["_s"], pdf["text"])
            ]
            yield pd.DataFrame(rows, columns=["id", "blob", "caption"])

    paired = seeded.mapInPandas(encode, "id long, blob binary, caption string")
    return paired_near_dup_audit(
        paired, "id", "blob", "caption",
        threshold=0.5, num_hashes=64, bands=32,
    )


def _multimodal_to_shards(docs):
    """The COMPOSED lane, un-memoized (the q_multimodal_to_shards chain
    with the _paired_dedup scale fixture): audit -> both-class
    connected components -> survivors -> resize thumbs + caption chars
    -> hash shard layout. Measures the full composition cost per
    corpus, the multimodal corpus_to_shards analog."""
    from kafka_denormalization_spark.checkpoint import (
        persist_if_uncached,
        truncate_lineage,
    )
    from kafka_denormalization_spark.functions.graph import (
        connected_components,
    )
    from kafka_denormalization_spark.functions.multimodal import (
        make_image_blob,
        paired_near_dup_audit,
        resize_images,
    )
    from kafka_denormalization_spark.operators.sharding import shard_plan
    from kafka_denormalization_spark.queries import (
        PHASH_H,
        PHASH_W,
        _paired_pixels,
        _thumb_stats,
    )

    spark = docs.sparkSession
    groups = 370 * int(spark.conf.get("bench.scaleup.n_rep", "1"))
    seeded = docs.select(
        "doc_id",
        "text",
        (
            F.conv(
                F.substring(F.md5(F.substring("text", 1, 64)), 1, 8), 16, 10
            ).cast("long")
            % groups
        ).alias("_s"),
    )

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            rows = [
                (
                    int(d),
                    make_image_blob(
                        PHASH_W, PHASH_H,
                        _paired_pixels(int(s), int(d) % 5 == 0),
                    ),
                    t,
                )
                for d, s, t in zip(pdf["doc_id"], pdf["_s"], pdf["text"])
            ]
            yield pd.DataFrame(rows, columns=["id", "blob", "caption"])

    paired = persist_if_uncached(
        seeded.mapInPandas(encode, "id long, blob binary, caption string")
    )
    audit = paired_near_dup_audit(
        paired, "id", "blob", "caption",
        threshold=0.5, num_hashes=64, bands=32,
    )
    both = audit.filter(F.col("dup_class") == "both").select("id_a", "id_b")
    comps = connected_components(both, src="id_a", dst="id_b")
    sizes = comps.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_merged")
    )
    dominated = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("id")
    )
    surv = truncate_lineage(
        docs.select(F.col("doc_id").alias("id"))
        .join(dominated, "id", "left_anti")
        .join(sizes.withColumnRenamed("component", "id"), "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_merged"), F.lit(1)).cast("long").alias(
                "n_merged"
            ),
        )
    )
    thumbs = _thumb_stats(
        resize_images(paired, "id", "blob", out_w=9, out_h=8)
    ).select(F.col("doc_id").alias("id"), "px_sum", "px_weighted")
    caps = paired.select(
        "id", F.length("caption").cast("long").alias("caption_chars")
    )
    plan = shard_plan(surv.join(thumbs, "id").join(caps, "id"), "id", 4)
    # paired stays cached through materialization (4 consumers: audit
    # blobs + captions, resize, caption chars); the harness's
    # clearCache() releases it after each measurement
    return plan.select(
        "id", "n_merged", "px_sum", "px_weighted", "caption_chars",
        "shard_id", "pos",
    )


def _conv_turns_from(docs):
    from kafka_denormalization_spark.operators.chunking import (
        chunk_documents,
    )

    chunks = chunk_documents(docs, "doc_id", "text", chunk_tokens=12)
    return chunks.select(
        F.col("doc_id").alias("conv_id"),
        F.col("chunk_id").cast("long").alias("turn_idx"),
        F.when(F.col("chunk_id") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.col("chunk_text").alias("content"),
    )


def _conv_turn_dedup(docs):
    from kafka_denormalization_spark.functions.conversations import (
        turn_dedup,
    )

    return turn_dedup(_conv_turns_from(docs))


def _conv_pair_contamination(docs):
    """Eval side pinned to the base slice (benchmarks don't grow with
    the corpus — the semantic_contamination convention); only the
    instruction-side gram explode scales."""
    from kafka_denormalization_spark.functions.conversations import (
        instruction_response_pairs,
        pair_ngram_contamination,
    )
    from kafka_denormalization_spark.functions.text import tokens as _toks

    spark = docs.sparkSession
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    t = _toks(F.col("text"))
    prompts = base.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("eval_id"),
        F.when(F.size(t) >= 8, F.concat_ws(" ", F.slice(t, 1, 8))).alias(
            "prompt"
        ),
    ).filter(F.col("prompt").isNotNull())
    pairs = instruction_response_pairs(_conv_turns_from(docs))
    return pair_ngram_contamination(pairs, prompts, "eval_id", "prompt", n=8)


def _conv_near_dedup(docs):
    """Transcript reassembly + LSH pair generation; text is SALTED by
    the harness (pair-emitting op): same-text replicas would be mutual
    perfect duplicates with quadratic true-result growth."""
    from kafka_denormalization_spark.functions.similarity import (
        minhash_lsh_pairs,
    )

    turns = _conv_turns_from(docs)
    transcripts = turns.groupBy("conv_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("turn_idx").alias("t"),
                            F.col("content").alias("c"),
                        )
                    )
                ),
                lambda st: st.getField("c"),
            ),
        ).alias("transcript")
    )
    return minhash_lsh_pairs(
        transcripts, "conv_id", "transcript", n=3, num_hashes=64,
        bands=32, threshold=0.5, eager_cleanup=True,
    )


def _conv_response_contamination(docs):
    """Response-side twin of _conv_pair_contamination: eval answers
    pinned to the base slice, response gram explode scales."""
    from kafka_denormalization_spark.functions.conversations import (
        instruction_response_pairs,
        pair_ngram_contamination,
    )
    from kafka_denormalization_spark.functions.text import tokens as _toks

    spark = docs.sparkSession
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    t = _toks(F.col("text"))
    answers = base.filter(F.col("doc_id") % 20 == 5).select(
        F.col("doc_id").alias("eval_id"),
        F.when(
            F.size(t) >= 8,
            F.concat_ws(" ", F.slice(t, F.size(t) - F.lit(7), F.lit(8))),
        ).alias("answer"),
    ).filter(F.col("answer").isNotNull())
    pairs = instruction_response_pairs(_conv_turns_from(docs))
    return pair_ngram_contamination(
        pairs, answers, "eval_id", "answer", n=8, side="response"
    )


def _pref_assembled(docs):
    from kafka_denormalization_spark.functions.conversations import (
        instruction_response_pairs,
    )
    from kafka_denormalization_spark.functions.preference import (
        preference_pairs,
    )

    sft = instruction_response_pairs(_conv_turns_from(docs))
    clones = sft.select(
        (F.col("conv_id") + F.lit(2_000_000_000)).alias("conv_id"),
        "turn_idx",
        F.concat(F.col("instruction"), F.lit(" (alt)")).alias("instruction"),
        "response",
    )
    return preference_pairs(sft.unionByName(clones))


def _pref_pair_dedup(docs):
    """Direct (un-memoized) operator call — the scale row measures the
    full per-corpus signature build, not the session-memo warm path the
    registry query rides (queries.py q_pref_pair_dedup
    session_memo=True); the memo's warm floor is pinned separately in
    SCALE_NOTES' r12 section."""
    from kafka_denormalization_spark.functions.preference import (
        preference_pair_dedup,
    )

    return preference_pair_dedup(_pref_assembled(docs))


def _conv_turn_near_dedup(docs):
    """Turn-level near-dedup pairs (queries.py q_conv_turn_near_dedup's
    operator chain, un-memoized — see _pref_pair_dedup); text is SALTED
    by the harness (pair-emitting op): same-text replicas would be
    mutual perfect duplicates with quadratic true-result growth."""
    from kafka_denormalization_spark.functions.similarity import (
        minhash_lsh_pairs,
    )

    turns = _conv_turns_from(docs)
    keyed = turns.select(
        (F.col("conv_id") * 4096 + F.col("turn_idx")).alias("uid"),
        "content",
    )
    return minhash_lsh_pairs(
        keyed, "uid", "content", n=3, num_hashes=64, bands=32,
        threshold=0.5, eager_cleanup=True,
    )


def _fuzzy_contamination(docs):
    """Eval side pinned to the base slice (the contamination-family
    convention); only the document side scales."""
    from kafka_denormalization_spark.functions.similarity import (
        fuzzy_contamination,
    )
    from kafka_denormalization_spark.functions.text import tokens as _toks

    spark = docs.sparkSession
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    t = _toks(F.col("text"))
    evals = base.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("eval_id"),
        F.when(
            F.size(t) >= 5,
            F.concat_ws(" ", F.slice(t, 1, F.size(t) - F.lit(2))),
        ).alias("prompt"),
    ).filter(F.col("prompt").isNotNull())
    return fuzzy_contamination(
        docs, "doc_id", "text", evals, "eval_id", "prompt",
        threshold=0.8, eager_cleanup=True,
    )


OPS = {
    "bm25_batch": ("documents", "doc_id", _bm25_batch, False),
    "dsir_sample": ("documents", "doc_id", _dsir_sample, False),
    "span_dedup": ("documents", "doc_id", _span_dedup, False),
    "kmeans_clusters": ("embeddings", "vec_id", _kmeans, False),
    "lm_perplexity": ("documents", "doc_id", _lm_perplexity, False),
    "containment_dedup": ("documents", "doc_id", _containment, True),
    "bpe_merges": ("documents", "doc_id", _bpe, False),
    "bpe_token_counts": ("documents", "doc_id", _bpe_tokens, False),
    "shard_plan": ("documents", "doc_id", _shard_plan, False),
    "image_phash_dedup": ("documents", "doc_id", _image_phash, False),
    "bpe_doc_tokens": ("documents", "doc_id", _bpe_doc_tokens, False),
    "domain_profile": ("documents", "doc_id", _domain_profile, False),
    "url_dedup": ("documents", "doc_id", _url_dedup, False),
    "gopher_repetition": ("documents", "doc_id", _gopher_repetition, False),
    "shard_plan_bytes": ("documents", "doc_id", _shard_plan_bytes, False),
    "line_dedup": ("documents", "doc_id", _line_dedup, True),
    "ccnet_buckets": ("documents", "doc_id", _ccnet_buckets, False),
    "nb_quality": ("documents", "doc_id", _nb_quality, False),
    "shard_manifest": ("documents", "doc_id", _shard_manifest, False),
    "corpus_diff": ("documents", "doc_id", _corpus_diff, False),
    "token_fertility": ("documents", "doc_id", _token_fertility, False),
    "prototype_prune": ("embeddings", "vec_id", _prototype_prune, False),
    "icp_packing": ("documents", "doc_id", _icp_packing, False),
    "curriculum_shards": ("documents", "doc_id", _curriculum_shards, False),
    "quality_signals": ("documents", "doc_id", _quality_signals, False),
    # salt text: distinct-gram mass should grow with N like real data
    # (unsalted replicas keep the distinct set constant)
    "ngram_diversity": ("documents", "doc_id", _ngram_diversity, True),
    "source_overlap": ("documents", "doc_id", _source_overlap, True),
    "unimax_mixture": ("documents", "doc_id", _unimax, False),
    "doremi_weights": ("documents", "doc_id", _doremi, False),
    "lm_burstiness": ("documents", "doc_id", _lm_burstiness, False),
    "unimax_shards": ("documents", "doc_id", _unimax_shards, False),
    # shift user_id (not event_id): scale-up should add USERS — shifting
    # only event ids would deepen every user's window N-fold instead of
    # growing the key space like real data
    "rolling_zscore": ("events", "user_id", _zscore, False),
    # salted: vocab / pair mass must grow with N like real data
    "zipf_fit": ("documents", "doc_id", _zipf_fit, True),
    "cross_source_dups": ("documents", "doc_id", _cross_source_dups, True),
    "k_anonymity": ("documents", "doc_id", _k_anonymity, False),
    # skyline over (value, user_id): shifting user ids grows the
    # maximize-dim domain like real data
    "pareto_front": ("events", "user_id", _pareto_front, False),
    # shift user_id: scale-up adds USERS (one layout dim grows, shard
    # count grows with the corpus at fixed rows_per_shard)
    "z_order_layout": ("events", "user_id", _z_order, False),
    # eval side pinned to the base slice (benchmarks don't grow with the
    # corpus); only the broadcast-scanned corpus side scales
    "semantic_contamination": ("embeddings", "vec_id", _semantic_contamination, False),
    "mahalanobis_outliers": ("embeddings", "vec_id", _mahalanobis, False),
    "embedding_covariance": ("embeddings", "vec_id", _embedding_cov, False),
    "embedding_pca": ("embeddings", "vec_id", _embedding_pca, False),
    # replication multiplies dup-FAMILY size (id%97 seeds survive the
    # id shift) — the realistic "more copies at scale" shape; pair
    # volume grows with family width under the banded join
    "audio_dedup": ("documents", "doc_id", _audio_dedup, False),
    # same convention: id%89 seed families survive the shift, family
    # width grows with N under the banded Hamming join
    "video_dedup": ("documents", "doc_id", _video_dedup, False),
    # linear decode/encode fan-out — the scale question is Arrow batch
    # throughput (thumbnails are 72 bytes/row out)
    "image_resize": ("documents", "doc_id", _image_resize, False),
    # keyframe keep-min: id%89 seed families survive the shift; the
    # exact-collapse absorbs the width growth before the banded join
    "video_keyframe_dedup": ("documents", "doc_id", _video_keyframe_dedup, False),
    # linear decode fan-outs: the scale question is Arrow batch
    # throughput, not pair volume
    "video_scenes": ("documents", "doc_id", _video_scenes, False),
    "audio_segments": ("documents", "doc_id", _audio_segments, False),
    "embedding_debias": ("embeddings", "vec_id", _embedding_debias, False),
    "dedup_mixture_shift": ("documents", "doc_id", _dedup_mixture_shift, True),
    "contamination_scrub": ("documents", "doc_id", _contamination_scrub, False),
    # salted: distinct (source, token) pairs must grow with N
    "source_divergence": ("documents", "doc_id", _source_divergence, True),
    # salted: disjoint replica vocab -> distinct bigrams grow with N
    "collocations": ("documents", "doc_id", _collocations, True),
    "pagerank": ("documents", "doc_id", _pagerank_xor, False),
    # unsalted: "more copies at scale" is the realistic shape — the
    # first-occurrence groupBy absorbs hot digests map-side
    "substring_dedup": ("documents", "doc_id", _substring_dedup, False),
    # salted captions (see builder): organic pair mass scales linearly
    "paired_dedup": ("documents", "doc_id", _paired_dedup, True),
    # salted captions (same fixture); the full composed lane
    "multimodal_to_shards": (
        "documents", "doc_id", _multimodal_to_shards, True,
    ),
    "conv_turn_dedup": ("documents", "doc_id", _conv_turn_dedup, False),
    # salted: pair-emitting over transcripts (see _conv_near_dedup)
    "conv_near_dedup": ("documents", "doc_id", _conv_near_dedup, True),
    "conv_response_contamination": (
        "documents", "doc_id", _conv_response_contamination, False,
    ),
    "pref_pairs": ("documents", "doc_id", _pref_assembled, False),
    # salted: the both-sides near-dup join is pair-emitting
    "pref_pair_dedup": ("documents", "doc_id", _pref_pair_dedup, True),
    # salted: pair-emitting over turn content (see _conv_turn_near_dedup)
    "conv_turn_near_dedup": (
        "documents", "doc_id", _conv_turn_near_dedup, True,
    ),
    # salted: unsalted replicas of the eval-slice docs would all match
    # the pinned eval set, inflating the flag density N-fold
    "fuzzy_contamination": ("documents", "doc_id", _fuzzy_contamination, True),
    "conv_pair_contamination": (
        "documents", "doc_id", _conv_pair_contamination, False,
    ),
}


def main() -> int:
    names = sys.argv[1:] or list(OPS)
    spark = get_spark("bench-scaleup")
    results: dict[str, dict[int, float]] = {n: {} for n in names}
    for n_rep in SCALES:
        for name in names:
            table, id_col, builder, salt_text = OPS[name]
            base = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
            spark.conf.set("bench.scaleup.n_rep", str(n_rep))
            reps = replicate(base, id_col, n_rep, salt_text).persist()
            reps.count()
            materialize(builder(reps))          # warm-up (JIT, code cache)
            spark.catalog.clearCache()          # drop op-internal persists
            reps.persist(); reps.count()
            t0 = time.perf_counter()
            materialize(builder(reps))
            dt = time.perf_counter() - t0
            results[name][n_rep] = dt
            print(f"{name:20s} x{n_rep:<3d} {dt:7.2f}s", flush=True)
            spark.catalog.clearCache()
    print("\n| operator | x1 | x8 | x32 | 32x/1x |")
    print("|---|---|---|---|---|")
    for name in names:
        r = results[name]
        print(
            f"| {name} | {r[1]:.2f} s | {r[8]:.2f} s | {r[32]:.2f} s "
            f"| {r[32] / r[1]:.1f}x |"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

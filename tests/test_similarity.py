"""Similarity / near-dup operators (functions/similarity.py)."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from kafka_denormalization_spark.engine import table
from kafka_denormalization_spark.functions import similarity as S

SF_DIR = "/root/testdata/sf0.001"


def test_jaccard_and_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d e", "a b c d x")], "id long, t1 string, t2 string")
    row = df.select(
        S.jaccard(S.shingle_set("t1", 3), S.shingle_set("t2", 3)).alias("j")
    ).first()
    # shingles t1: {abc,bcd,cde}, t2: {abc,bcd,cdx} -> 2/4
    assert abs(row["j"] - 0.5) < 1e-12


def test_minhash_lsh_matches_bruteforce(spark):
    docs = table(spark, SF_DIR, "documents")
    lsh = {
        (r["id_a"], r["id_b"])
        for r in S.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    brute = {
        (r["id_a"], r["id_b"])
        for r in S.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert lsh == brute
    assert len(brute) > 0  # the fixture does contain near-dups


def test_minhash_identical_docs_same_signature(spark):
    df = spark.createDataFrame(
        [(1, "x y z w v u"), (2, "x y z w v u")], "doc_id long, text string"
    )
    sigs = df.select(
        S.minhash_signature(S.shingle_set("text"), 16).alias("sig")
    ).collect()
    assert sigs[0]["sig"] == sigs[1]["sig"]


def test_simhash_properties(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely unrelated words about database query optimization"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["sh"] for r in df.select("doc_id", S.simhash("text").alias("sh")).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]
    pairs = S.simhash_dup_pairs(df, "doc_id", "text", max_hamming=3).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    assert pairs[0]["hamming"] == 0


def test_cosine_matches_python(spark):
    random.seed(7)
    a = [random.random() for _ in range(8)]
    b = [random.random() for _ in range(8)]
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    got = df.select(S.cosine(F.col("a"), F.col("b")).alias("c")).first()["c"]
    dot = sum(x * y for x, y in zip(a, b))
    want = dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))
    assert abs(got - want) < 1e-12


def test_cosine_topk_shape_and_selfexclusion(spark):
    emb = table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    out = S.cosine_topk(emb, queries, k=4).collect()
    assert len(out) == 12
    for r in out:
        assert r["query_id"] != r["neighbor_id"]
        assert 1 <= r["rank"] <= 4
        assert -1.0 <= r["sim"] <= 1.0


def test_lsh_ann_multiprobe_recall(spark):
    """Near-orthogonal random vectors are hyperplane-LSH's worst case;
    multi-probe must still reach usable recall (measured ~0.88 at
    4 planes / probe 2, ~0.52 at probe 1) and recall must grow with probe."""
    emb = table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk(emb, queries, k=3).collect()
    }

    def recall(probe):
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in S.lsh_ann_topk(emb, queries, k=3, num_planes=4, probe=probe).collect()
        }
        return len(brute & approx) / len(brute)

    r1, r2 = recall(1), recall(2)
    assert r2 >= 0.7, f"multi-probe recall too low: {r2}"
    assert r2 >= r1, "recall must not shrink with wider probing"


def test_lsh_ann_finds_exact_duplicate(spark):
    """A duplicated vector shares the signature deterministically — the
    exact dup must always be the rank-1 neighbor even at probe 0."""
    emb = table(spark, SF_DIR, "embeddings").limit(50).cache()
    dup = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(dup)
    queries = corpus.filter(F.col("vec_id") == 100000)
    out = S.lsh_ann_topk(corpus, queries, k=1, num_planes=4, probe=0).collect()
    assert len(out) == 1
    assert out[0]["neighbor_id"] == 0
    assert abs(out[0]["sim"] - 1.0) < 1e-9


def test_ivf_recall_scales_with_probe(spark):
    emb = table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk(emb, queries, k=3).collect()
    }

    def recall(pc):
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in S.ivf_topk(emb, queries, k=3, num_planes=4, probe_cells=pc).collect()
        }
        return len(brute & approx) / len(brute)

    r4, r8 = recall(4), recall(8)
    assert r8 >= 0.7, f"IVF recall too low at 8/16 cells: {r8}"
    assert r8 >= r4


def test_ivf_exhaustive_probe_equals_bruteforce(spark):
    emb = table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    brute = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in S.cosine_topk(emb, queries, k=3).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in S.ivf_topk(emb, queries, k=3, num_planes=4, probe_cells=16).collect()
    }
    assert full == brute


def test_cosine_dup_pairs_exhaustive_probe_is_exact(spark):
    emb = table(spark, SF_DIR, "embeddings")
    lsh = {
        (r["id_a"], r["id_b"])
        for r in S.cosine_dup_pairs(emb, threshold=0.3, num_planes=4, probe=4).collect()
    }
    a, b = emb.alias("a"), emb.alias("b")
    brute = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            S.cosine(F.col("a.embedding"), F.col("b.embedding")).alias("c"),
        )
        .filter(F.col("c") >= 0.3)
        .collect()
    }
    assert lsh == brute


def test_word_gram_rows_unigrams(spark):
    """n=1 must yield every token (regression: IndexError on empty leads)."""
    from kafka_denormalization_spark.functions.similarity import word_gram_rows

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "solo"), (3, "x y")], "doc_id long, text string"
    )
    rows = sorted(
        (r["_id"], r["_g"])
        for r in word_gram_rows(docs, "doc_id", "text", n=1).collect()
    )
    assert rows == [(1, "a"), (1, "b"), (1, "c"), (2, "solo"), (3, "x"), (3, "y")]


def test_minhash_signature_unigram_pipeline(spark):
    from kafka_denormalization_spark.functions.similarity import (
        minhash_signature_table,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "zz")], "doc_id long, text string"
    )
    sigs = minhash_signature_table(docs, "doc_id", "text", n=1, num_hashes=8)
    got = {r["_id"]: [r[f"_h{i}"] for i in range(8)] for r in sigs.collect()}
    assert got[1] == got[2]  # identical unigram sets -> identical signatures
    assert got[1] != got[3]


def test_embedding_centroid_matches_numpy(spark):
    """Centroid query vs numpy mean (within the 2^-36 quantization)."""
    import numpy as np

    from kafka_denormalization_spark.queries import q_embedding_centroid

    out = q_embedding_centroid(spark, "/root/testdata/sf0.001")
    got = {(r["label"], r["pos"]): (r["centroid"], r["n"]) for r in out.collect()}

    import pyarrow.parquet as pq

    t = pq.read_table("/root/testdata/sf0.001/embeddings.parquet").to_pandas()
    for label, grp in t.groupby("label"):
        mat = np.stack(grp["embedding"].to_numpy())
        mean = mat.astype(np.float64).mean(axis=0)
        for pos in range(mat.shape[1]):
            c, n = got[(label, pos)]
            assert n == len(grp)
            assert abs(c - mean[pos]) < 2 ** -36 + 1e-9


def test_gram_novelty_exact_fractions(spark):
    from kafka_denormalization_spark.functions.similarity import gram_novelty

    # doc 1 and 2 share the prefix "a b c d" (grams: "a b c", "b c d");
    # doc 3 is entirely unique; doc 4 is too short for any 3-gram
    df = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d x"),
            (3, "p q r s"),
            (4, "t u"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gram_novelty(df, "doc_id", "text").collect()}
    assert set(out) == {1, 2, 3}  # doc 4 has no grams
    # doc 1 grams: "a b c","b c d","c d e" -> shared, shared, unique
    assert out[1]["n_grams"] == 3
    assert abs(out[1]["novel_frac"] - 1 / 3) < 1e-12
    assert abs(out[2]["novel_frac"] - 1 / 3) < 1e-12
    assert out[3]["novel_frac"] == 1.0


def test_quantize_embeddings_roundtrip_and_zero_vector(spark):
    from kafka_denormalization_spark.functions.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [
            (1, [0.5, -1.0, 0.25, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [2.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in quantize_embeddings(df, "vec_id", "embedding").collect()}
    # max-abs element maps to +/-qmax; dequant error bounded by amax/127/2
    assert out[1]["qvec"] == [64, -127, 32, 0]
    for orig, q in zip([0.5, -1.0, 0.25, 0.0], out[1]["qvec"]):
        assert abs(orig - q / out[1]["scale"]) <= 1.0 / 127 / 2 + 1e-12
    assert out[2]["qvec"] == [0, 0, 0, 0]
    assert out[2]["scale"] == 0.0
    assert out[3]["qvec"] == [127]


def test_quantized_topk_recall_and_edge_cases(spark):
    """Int8-quantized cosine top-k (quantized_cosine_topk): high recall vs
    exact float cosine on random vectors, and zero vectors never rank."""
    import random

    from kafka_denormalization_spark.functions.similarity import (
        cosine_topk,
        quantized_cosine_topk,
    )

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(60)
    ] + [(60, [0.0] * 16)]  # zero vector: qsim 0 against everything
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter("vec_id < 8")

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    quant = {
        (r["query_id"], r["neighbor_id"])
        for r in quantized_cosine_topk(emb, queries, k=5).collect()
    }
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.85, recall  # int8 on dim-16 randoms: near-exact ranks

    # the zero vector scores 0 against everything -> it can only appear
    # after all positive-sim neighbors; with 60 candidates it never makes
    # top-5 unless a query has <5 positive sims (impossible here)
    assert all(n != 60 for _, n in quant)

    # zero-vector QUERY: all sims are exactly 0, ranks fill by id tiebreak
    zq = quantized_cosine_topk(emb, emb.filter("vec_id = 60"), k=3).collect()
    assert [r["neighbor_id"] for r in sorted(zq, key=lambda r: r["rank"])] == [0, 1, 2]
    assert all(r["qsim"] == 0.0 for r in zq)


def test_incremental_near_dedup_semantics(spark):
    """Constructed batch-vs-corpus cases: a near-copy of a base doc drops,
    a within-batch near-pair keeps only the min id, unrelated and
    too-short (gram-less) docs always survive."""
    from kafka_denormalization_spark.functions.similarity import (
        incremental_near_dedup,
    )

    base_text = "the quick brown fox jumps over the lazy dog again and again"
    rows_base = [(100, base_text), (101, "completely different corpus text here entirely")]
    rows_new = [
        (1, base_text + " today"),              # near-dup of base 100 -> drop
        (2, "unrelated fresh content that matches nothing in the corpus"),
        (3, "some brand new sentence shared by two batch documents exactly"),
        (4, "some brand new sentence shared by two batch documents exactly ok"),  # near-dup of 3 -> drop (greater id)
        (5, "tiny"),                            # no 3-grams -> no candidates -> keep
    ]
    base = spark.createDataFrame(rows_base, "doc_id long, text string")
    new = spark.createDataFrame(rows_new, "doc_id long, text string")
    kept = sorted(
        r["doc_id"]
        for r in incremental_near_dedup(new, base, "doc_id", "text", threshold=0.5).collect()
    )
    assert kept == [2, 3, 5]


def test_kmeans_separates_obvious_clusters(spark):
    """Two well-separated blobs end in two clusters regardless of seed
    labels; assignments are deterministic across invocations."""
    from kafka_denormalization_spark.operators.clustering import kmeans_assign

    blob_a = [[0.0, 0.0, 0.1], [0.1, 0.0, 0.0], [0.0, 0.1, 0.1], [0.1, 0.1, 0.0]]
    blob_b = [[5.0, 5.0, 5.1], [5.1, 5.0, 5.0], [5.0, 5.1, 5.1], [5.1, 5.1, 5.0]]
    # interleave ids so the two min-id seeds straddle the blobs (min-id
    # seeding is deliberately dumb; Lloyd can't merge a bad same-blob
    # seed pair in 3 rounds and isn't expected to)
    rows = [(2 * i, v) for i, v in enumerate(blob_a)] + [
        (2 * i + 1, v) for i, v in enumerate(blob_b)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_assign(df, "vec_id", "embedding", k=2, iters=3, persist=False)
    got = {r["vec_id"]: r["cluster_id"] for r in out.collect()}
    again = {r["vec_id"]: r["cluster_id"] for r in out.collect()}
    assert got == again and len(got) == 8
    a_labels = {got[i] for i in got if i % 2 == 0}
    b_labels = {got[i] for i in got if i % 2 == 1}
    assert len(a_labels) == 1 and len(b_labels) == 1 and a_labels != b_labels
    # distances are tight within the blob scale
    dists = {r["vec_id"]: r["dist_r"] for r in out.collect()}
    assert all(d < 0.1 for d in dists.values())


def test_kmeans_centroid_sum_no_overflow(spark):
    """1500 members x component 1e5 puts the 2^36 fixed-point sum at
    ~1.0e19 — past int64 max. The decimal(38,0) accumulator must carry
    it (ANSI mode would raise on a long overflow), and the centroid
    update must still converge both blobs."""
    from kafka_denormalization_spark.operators.clustering import kmeans_assign

    rows = [(i, [1.0e5 + (i % 3) * 10.0, 0.0]) for i in range(1500)] + [
        (10_000 + i, [-1.0e5, 5.0]) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_assign(df, "vec_id", "embedding", k=2, iters=3, persist=False)
    got = {r["vec_id"]: r["cluster_id"] for r in out.collect()}
    assert len(got) == 1510
    assert len({got[i] for i in range(1500)}) == 1
    assert got[0] != got[10_000]


def test_containment_pairs_catch_subset_dup(spark):
    """A short doc fully contained in a long doc is found even though
    the pair's Jaccard is tiny; prefix filtering introduces no false
    negatives at the threshold; containment is exact |A∩B|/|A|."""
    from kafka_denormalization_spark.functions.similarity import containment_pairs

    body = " ".join(f"w{i}" for i in range(40))          # 38 grams
    excerpt = " ".join(f"w{i}" for i in range(10, 18))   # 6 grams, all in body
    rows = [
        (1, body),
        (2, excerpt + " zz yy xx"),   # 8 grams, 6 shared -> C=0.75
        (3, "completely different tokens here now ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, "doc_id", "text", n=3, threshold=0.5, persist=False).collect()
    }
    assert (2, 1) in out and abs(out[(2, 1)] - 6 / 9) < 1e-12
    # reverse direction: 6/38 < 0.5 -> absent; unrelated doc absent
    assert (1, 2) not in out
    assert not any(3 in pair for pair in out)


def test_semantic_dedup_drops_within_cluster_near_identicals(spark):
    """A near-identical pair inside one blob loses its higher id; the
    cross-blob pair (similar direction, different cluster) both survive
    when clustered apart."""
    from kafka_denormalization_spark.operators.clustering import semantic_dedup

    blob_a = [[1.0, 0.0, 0.0], [1.0, 0.001, 0.0], [0.8, 0.6, 0.0]]
    blob_b = [[0.0, 5.0, 5.0], [0.0, 5.0, 5.001], [0.0, 4.0, 5.5]]
    rows = [(2 * i, v) for i, v in enumerate(blob_a)] + [
        (2 * i + 1, v) for i, v in enumerate(blob_b)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"] for r in semantic_dedup(df, "vec_id", "embedding", k=2, iters=3, threshold=0.99).collect()}
    # within blob a: ids 0,2 are cos≈1 -> 2 dropped; 4 is off-angle enough
    assert 0 in out and 2 not in out
    # within blob b: ids 1,3 near-identical -> 3 dropped
    assert 1 in out and 3 not in out
    assert 4 in out and 5 in out


def test_containment_clusters_chain_collapses(spark):
    """Chained containment (excerpt ⊂ article ⊂ anthology) lands in ONE
    cluster even though excerpt↔anthology alone also qualifies and
    sibling excerpts share nothing pairwise — the transitive closure the
    per-pair view can't express."""
    from kafka_denormalization_spark.functions.graph import connected_components
    from kafka_denormalization_spark.functions.similarity import containment_pairs

    words = [f"w{i}" for i in range(60)]
    anthology = " ".join(words)
    article = " ".join(words[:30])
    excerpt = " ".join(words[:12])
    other = " ".join(f"z{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, anthology), (2, article), (3, excerpt), (4, other)],
        "doc_id long, text string",
    )
    pairs = containment_pairs(df, "doc_id", "text", n=4, threshold=0.8)
    out = {
        r["node"]: r["component"]
        for r in connected_components(pairs, src="id_a", dst="id_b").collect()
    }
    assert out == {1: 1, 2: 1, 3: 1}  # one cluster, min-id label; 4 absent


def test_minhash_hot_bucket_guard_recall(spark):
    """A skew-salted corpus (40 near-identical boilerplate docs forming
    one hot bucket per band + organic near-dup pairs) under max_bucket:
    the guard splits the hot buckets, the exact verify keeps precision
    perfect, and recall stays high because split pairs still collide in
    other bands. Also: guard off == brute force (baseline sanity)."""
    docs = table(spark, SF_DIR, "documents").limit(60)
    boiler = " ".join(f"nav{i} footer{i} copyright" for i in range(20))
    extra = [(10_000 + i, boiler + f" tail{i % 3}") for i in range(40)]
    salted = docs.select("doc_id", "text").unionByName(
        spark.createDataFrame(extra, "doc_id long, text string")
    )
    brute = {
        (r["id_a"], r["id_b"])
        for r in S.ngram_jaccard_pairs(
            salted, "doc_id", "text", threshold=0.5
        ).collect()
    }
    unguarded = {
        (r["id_a"], r["id_b"])
        for r in S.minhash_lsh_pairs(
            salted, "doc_id", "text", threshold=0.5, persist=False
        ).collect()
    }
    guarded = {
        (r["id_a"], r["id_b"])
        for r in S.minhash_lsh_pairs(
            salted, "doc_id", "text", threshold=0.5, persist=False,
            max_bucket=8,
        ).collect()
    }
    assert unguarded == brute
    assert guarded <= brute          # exact verify: no false positives
    assert len(guarded) / len(brute) >= 0.9, (len(guarded), len(brute))


def test_minhash_hot_bucket_guard_rejects_bad_cap():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_bucket"):
        S.minhash_band_buckets(None, 32, 16, max_bucket=1)
    with _pytest.raises(ValueError, match="max_bucket"):
        S.minhash_band_buckets(None, 32, 16, max_bucket="always")


def test_resolve_auto_bucket_cap_policy(spark):
    """The auto-cap formula: clamp(p99.9 width, FLOOR, CEIL).
    - benign widths (max <= floor): None — guard join skipped entirely;
    - degenerate giant bucket: the quantile lands on the giant itself,
      but the CEIL clamps it — the catastrophe always splits;
    - long-tail with one hot outlier: cap = floor, outlier splits."""
    benign = spark.createDataFrame(
        [(i, i, 3) for i in range(50)], "_band long, _h long, _w long"
    )
    assert S.resolve_auto_bucket_cap(benign, 16) is None

    giant = spark.createDataFrame(
        [(0, 0, 500_000), (0, 1, 2), (1, 2, 1)],
        "_band long, _h long, _w long",
    )
    assert S.resolve_auto_bucket_cap(giant, 16) == S.AUTO_BUCKET_CEIL

    tail = spark.createDataFrame(
        [(0, i, 2) for i in range(2000)] + [(0, 9999, 50_000)],
        "_band long, _h long, _w long",
    )
    assert S.resolve_auto_bucket_cap(tail, 16) == S.AUTO_BUCKET_FLOOR


def test_minhash_auto_guard_benign_equals_unguarded(spark):
    """Default max_bucket='auto' on a corpus with no hot bucket is
    output-identical to the unguarded path (the guard join is skipped,
    not just inert)."""
    docs = table(spark, SF_DIR, "documents").limit(80)
    auto = {
        (r["id_a"], r["id_b"], round(r["jaccard_sim"], 9))
        for r in S.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5, persist=False
        ).collect()
    }
    off = {
        (r["id_a"], r["id_b"], round(r["jaccard_sim"], 9))
        for r in S.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5, persist=False,
            max_bucket=None,
        ).collect()
    }
    assert auto == off


def test_minhash_auto_guard_engages_and_matches_manual_cap(
    spark, monkeypatch
):
    """With the floor/ceil shrunk to fixture scale, the auto guard on
    the skew-salted corpus derives the clamped cap and produces exactly
    the manual-cap pair set (same split, same band-seeded draws)."""
    monkeypatch.setattr(S, "AUTO_BUCKET_FLOOR", 4)
    monkeypatch.setattr(S, "AUTO_BUCKET_CEIL", 8)
    docs = table(spark, SF_DIR, "documents").limit(60)
    boiler = " ".join(f"nav{i} footer{i} copyright" for i in range(20))
    extra = [(10_000 + i, boiler + f" tail{i % 3}") for i in range(40)]
    salted = docs.select("doc_id", "text").unionByName(
        spark.createDataFrame(extra, "doc_id long, text string")
    )
    auto = {
        (r["id_a"], r["id_b"])
        for r in S.minhash_lsh_pairs(
            salted, "doc_id", "text", threshold=0.5, persist=False,
            max_bucket="auto",
        ).collect()
    }
    manual = {
        (r["id_a"], r["id_b"])
        for r in S.minhash_lsh_pairs(
            salted, "doc_id", "text", threshold=0.5, persist=False,
            max_bucket=8,
        ).collect()
    }
    assert auto == manual
    unguarded = {
        (r["id_a"], r["id_b"])
        for r in S.minhash_lsh_pairs(
            salted, "doc_id", "text", threshold=0.5, persist=False,
            max_bucket=None,
        ).collect()
    }
    assert auto <= unguarded  # exact verify: still no false positives


# ---------------------------------------------------------------------------
# prototype_prune (Sorscher et al. data pruning)
# ---------------------------------------------------------------------------


def test_prototype_prune_policies(spark):
    from pyspark.sql import functions as F

    from kafka_denormalization_spark.operators.clustering import (
        kmeans_assign,
        prototype_prune,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    asg = {r["vec_id"]: r for r in kmeans_assign(emb, "vec_id", "embedding", k=4, iters=2).collect()}
    kept_hard = {
        r["vec_id"]: r
        for r in prototype_prune(
            emb, "vec_id", "embedding", k=4, iters=2, keep_frac=0.5
        ).collect()
    }
    # per-cluster quota: ceil(0.5 * n) kept, ranks dense from 1
    from collections import Counter
    import math
    sizes = Counter(r["cluster_id"] for r in asg.values())
    kept_sizes = Counter(r["cluster_id"] for r in kept_hard.values())
    for cid, n in sizes.items():
        assert kept_sizes[cid] == math.ceil(0.5 * n)
    # keep='hard': every kept distance >= every pruned distance in-cluster
    for cid in sizes:
        kept_d = [r["dist_r"] for r in kept_hard.values() if r["cluster_id"] == cid]
        pruned_d = [
            r["dist_r"] for v, r in asg.items()
            if r["cluster_id"] == cid and v not in kept_hard
        ]
        if kept_d and pruned_d:
            assert min(kept_d) >= max(pruned_d)
    # keep='easy' is the complement policy: closest retained
    kept_easy = {
        r["vec_id"]: r
        for r in prototype_prune(
            emb, "vec_id", "embedding", k=4, iters=2, keep_frac=0.25,
            keep="easy",
        ).collect()
    }
    for cid in sizes:
        easy_d = [r["dist_r"] for r in kept_easy.values() if r["cluster_id"] == cid]
        rest_d = [
            r["dist_r"] for v, r in asg.items()
            if r["cluster_id"] == cid and v not in kept_easy
        ]
        if easy_d and rest_d:
            assert max(easy_d) <= min(rest_d)


# ---------------------------------------------------------------------------
# source_overlap
# ---------------------------------------------------------------------------


def test_source_overlap_exact_jaccard(spark):
    """A/B share one trigram of two each (J = 1/3); C overlaps nothing
    and must be ABSENT (witnessed-pairs-only design)."""
    from kafka_denormalization_spark.functions.similarity import source_overlap

    df = spark.createDataFrame(
        [
            (1, "A", "w1 w2 w3 w4"),
            (2, "B", "w2 w3 w4 w5"),
            (3, "C", "x y z"),
        ],
        "doc_id long, source string, text string",
    )
    rows = source_overlap(df, "source", "doc_id", "text", n=3).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["src_a"], r["src_b"]) == ("A", "B")
    assert r["n_grams_a"] == 2 and r["n_grams_b"] == 2 and r["n_common"] == 1
    assert r["jaccard_r"] == round(1 / 3, 9)


def test_source_overlap_dedups_gram_multiplicity(spark):
    """Set semantics: repeated grams within a source count once."""
    from kafka_denormalization_spark.functions.similarity import source_overlap

    df = spark.createDataFrame(
        [
            (1, "A", "p q r"),
            (2, "A", "p q r"),  # duplicate doc, same gram set
            (3, "B", "p q r"),
        ],
        "doc_id long, source string, text string",
    )
    rows = source_overlap(df, "source", "doc_id", "text", n=3).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_grams_a"] == 1 and r["n_grams_b"] == 1 and r["n_common"] == 1
    assert r["jaccard_r"] == 1.0


def test_source_overlap_max_df_drops_universal_grams(spark):
    """Stop-gram guard: a gram present in every source is excluded from
    BOTH intersections and set sizes; pair structure over the remaining
    grams is unchanged."""
    from kafka_denormalization_spark.functions.similarity import source_overlap

    df = spark.createDataFrame(
        [
            (1, "A", "u1 u2 u3 w1 w2 w3 w4"),
            (2, "B", "u1 u2 u3 w2 w3 w4 w5"),
            (3, "C", "u1 u2 u3"),
        ],
        "doc_id long, source string, text string",
    )
    # uncapped: 'u1 u2 u3' is in all three sources -> C appears in pairs
    full = {
        (r["src_a"], r["src_b"]): r
        for r in source_overlap(df, "source", "doc_id", "text", n=3).collect()
    }
    assert set(full) == {("A", "B"), ("A", "C"), ("B", "C")}
    # capped at df<=2: the universal trigram drops; C has no grams left
    capped = {
        (r["src_a"], r["src_b"]): r
        for r in source_overlap(
            df, "source", "doc_id", "text", n=3, max_df=2
        ).collect()
    }
    assert set(capped) == {("A", "B")}
    r = capped[("A", "B")]
    # A keeps {u2 u3 w1, u3 w1 w2, w1 w2 w3, w2 w3 w4}; B keeps its 4
    # non-universal trigrams; shared: 'w2 w3 w4'
    assert r["n_grams_a"] == 4 and r["n_grams_b"] == 4
    assert r["n_common"] == 1
    assert r["jaccard_r"] == round(1 / 7, 9)

    import pytest

    with pytest.raises(ValueError):
        source_overlap(df, "source", "doc_id", "text", n=3, max_df=1)


def test_cross_source_dups_invariants(spark):
    """Pair mass is conserved: per-source-pair counts sum to the LSH pair
    table; source pairs are canonicalized; touched-doc counts are bounded
    by 2x pairs."""
    from kafka_denormalization_spark.queries import (
        q_cross_source_dups,
        _lsh_pairs_shared,
    )

    out = q_cross_source_dups(spark, SF_DIR).collect()
    n_pairs_total = _lsh_pairs_shared(spark, SF_DIR).count()
    assert sum(r["n_pairs"] for r in out) == n_pairs_total
    for r in out:
        assert r["source_a"] <= r["source_b"]
        assert 2 <= r["n_docs"] <= 2 * r["n_pairs"]


def test_dedup_mixture_shift_telescopes(spark):
    """Before/after counts telescope into the corpus total and the
    cluster-dedup survivor count; removed = before - after per source."""
    from kafka_denormalization_spark.engine import table
    from kafka_denormalization_spark.queries import (
        q_cluster_dedup_docs,
        q_dedup_mixture_shift,
    )

    out = q_dedup_mixture_shift(spark, SF_DIR).collect()
    total = table(spark, SF_DIR, "documents").count()
    survivors = q_cluster_dedup_docs(spark, SF_DIR).count()
    assert sum(r["n_before"] for r in out) == total
    assert sum(r["n_after"] for r in out) == survivors
    for r in out:
        assert r["n_removed"] == r["n_before"] - r["n_after"]
        assert 0 <= r["n_after"] <= r["n_before"]


def test_dedup_weights_mass_per_cluster_is_one(spark):
    """Soft dedup: each near-dup family carries exactly one document of
    expected mass (sum of weights per cluster == 1), singletons weigh 1.0,
    and every input doc survives with a weight."""
    from kafka_denormalization_spark.engine import table
    from kafka_denormalization_spark.queries import q_dedup_weights

    out = q_dedup_weights(spark, SF_DIR).collect()
    assert len(out) == table(spark, SF_DIR, "documents").count()
    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append(r)
    multi = 0
    for rows in by_cluster.values():
        assert abs(sum(r["weight_r"] for r in rows) - 1.0) < 1e-6
        for r in rows:
            assert r["cluster_size"] == len(rows)
        if len(rows) == 1:
            assert rows[0]["weight_r"] == 1.0
        else:
            multi += 1
    assert multi >= 1  # fixture actually exercises the non-singleton path


def test_semantic_contamination_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    corpus = rng.normal(size=(40, 8)).astype("float32")
    evalv = rng.normal(size=(5, 8)).astype("float32")
    # plant a true leak: corpus vector 0 == eval vector 0
    corpus[0] = evalv[0]
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(corpus)],
        "vec_id long, embedding array<float>",
    )
    edf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(evalv)],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["vec_id"]: r
        for r in S.semantic_contamination(cdf, edf, threshold=0.9).collect()
    }
    assert len(out) == 40
    c64 = corpus.astype("float64")
    e64 = evalv.astype("float64")
    sims = (c64 @ e64.T) / (
        np.linalg.norm(c64, axis=1)[:, None] * np.linalg.norm(e64, axis=1)[None, :]
    )
    for i in range(40):
        assert abs(out[i]["max_sim"] - sims[i].max()) < 1e-6
        assert out[i]["n_hits"] == int((sims[i] >= 0.9).sum())
    assert out[0]["contaminated"] and out[0]["max_sim"] > 0.999999
    # zero-norm corpus vector degrades to sim 0, not a crash
    zdf = spark.createDataFrame(
        [(99, [0.0] * 8)], "vec_id long, embedding array<float>"
    )
    z = S.semantic_contamination(zdf, edf, threshold=0.5).collect()[0]
    assert z["max_sim"] == 0.0 and not z["contaminated"]


def test_semantic_contamination_empty_eval_raises(spark):
    """ADVICE r07 #3 regression: an empty eval set used to make the
    crossJoin+groupBy silently return zero rows, dropping the whole
    corpus from the audit despite the one-row-per-corpus-vector
    contract. Now a clear ValueError at build time."""
    import pytest

    cdf = spark.createDataFrame(
        [(0, [1.0] * 8)], "vec_id long, embedding array<float>"
    )
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="eval_set is empty"):
        S.semantic_contamination(cdf, empty)


def test_mahalanobis_outliers_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    base = rng.normal(size=(60, 64)).astype("float32")
    base[7] += 40.0  # the planted outlier
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(base)],
        "vec_id long, embedding array<float>",
    )
    out = S.mahalanobis_outliers(df, k=10).collect()
    assert out[0]["vec_id"] == 7  # planted outlier ranks first
    # replicate the exact floor-scaled moment arithmetic
    v = base.astype("float64")
    s1, s2 = 2.0**36, 2.0**24
    mu = np.floor(v * s1).sum(axis=0) / (len(v) * s1)
    ex2 = np.floor(v * v * s2).sum(axis=0) / (len(v) * s2)
    var = ex2 - mu * mu
    d = np.where(var > 0, (v - mu) ** 2 / var, 0.0).sum(axis=1)
    expect = sorted(
        ((round(dist, 9), i) for i, dist in enumerate(d)),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    got = [(r["m_dist"], r["vec_id"]) for r in out]
    for (ed, ei), (gd, gi) in zip(expect, got):
        assert ei == gi
        assert abs(ed - gd) < 1e-6
    # constant dimension (zero variance) contributes 0, not inf/NaN
    cdf = spark.createDataFrame(
        [(i, [1.5] + [float(x) for x in rng.normal(size=63)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    res = S.mahalanobis_outliers(cdf, k=5).collect()
    assert all(math.isfinite(r["m_dist"]) for r in res)


def test_embedding_covariance_matches_numpy_exactly(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.normal(size=(50, 64)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(base)],
        "vec_id long, embedding array<float>",
    )
    got = np.zeros((64, 64))
    for r in S.embedding_covariance(df).collect():
        got[r["i"], r["j"]] = r["cov_r"]
    v = base.astype("float64")
    n, s1, s2 = len(v), 2.0**36, 2.0**24
    mu = np.floor(v * s1).sum(0) / (n * s1)
    e2 = np.floor(v[:, :, None] * v[:, None, :] * s2).reshape(n, -1).sum(
        0
    ).reshape(64, 64) / (n * s2)
    expect = np.round(e2 - np.outer(mu, mu), 9)
    assert np.abs(got - expect).max() == 0.0  # bit-exact by construction
    # symmetric up to the 1e-9 grid (floor(vi*vj*s) == floor(vj*vi*s))
    assert np.abs(got - got.T).max() == 0.0


def test_embedding_pca_finds_planted_direction(spark):
    import numpy as np

    rng = np.random.default_rng(13)
    direction = np.zeros(64)
    direction[3] = 1.0
    # spiked covariance: big variance along e_3, small isotropic noise
    base = (
        rng.normal(size=(80, 1)) * direction[None, :] * 5.0
        + rng.normal(size=(80, 64)) * 0.05
    ).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(base)],
        "vec_id long, embedding array<float>",
    )
    out = S.embedding_pca(df, n_iter=8).collect()
    x = np.zeros(64)
    for r in out:
        x[r["pos"]] = r["pc1"]
    # unit-norm on the 9-grid, dominated by the planted axis
    assert abs(np.linalg.norm(x) - 1.0) < 1e-6
    assert abs(abs(x[3]) - 1.0) < 1e-3
    # eigval ~ the planted variance (5^2 * E[g^2] around 25)
    ev = out[0]["eigval"]
    assert 10.0 < ev < 60.0
    # determinism: a reshuffled input yields the identical component
    out2 = S.embedding_pca(df.repartition(7), n_iter=8).collect()
    assert sorted((r["pos"], r["pc1"]) for r in out) == sorted(
        (r["pos"], r["pc1"]) for r in out2
    )


def test_embedding_debias_strips_common_direction(spark):
    import numpy as np

    rng = np.random.default_rng(23)
    direction = np.zeros(64)
    direction[5] = 1.0
    # every vector shares a large common component along e_5
    base = (
        direction[None, :] * (4.0 + rng.normal(size=(60, 1)))
        + rng.normal(size=(60, 64)) * 0.05
    ).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(base)],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in S.embedding_debias(df, n_iter=8).collect()}
    assert len(out) == 60
    v = base.astype("float64")
    centered = v - v.mean(axis=0)  # approximate check only
    for i in range(60):
        # the centered projection should carry ~the full e_5 deviation
        assert abs(abs(out[i]["proj_r"]) - abs(centered[i, 5])) < 0.1
        # and the residual is just the small noise (norm ~ 0.05*8)
        assert out[i]["resid_norm_r"] < 1.5
    # determinism across partitionings
    out2 = {
        r["vec_id"]: r
        for r in S.embedding_debias(df.repartition(9), n_iter=8).collect()
    }
    assert all(
        out[i]["proj_r"] == out2[i]["proj_r"]
        and out[i]["resid_norm_r"] == out2[i]["resid_norm_r"]
        for i in out
    )


def test_embedding_family_shares_one_covariance_build(spark, tmp_path):
    """embedding_covariance, embedding_pca and embedding_debias over one
    corpus share the session-memoized means and covariance cuts: the
    three queries together miss the truncation memo exactly twice (one
    means cut, one covariance cut), and a repeat pass misses nothing."""
    import shutil

    from kafka_denormalization_spark.checkpoint import session_memo_counts
    from kafka_denormalization_spark.queries import QUERIES

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_DIR, sf)

    def truncate_misses() -> int:
        return session_memo_counts().get("truncate", {"misses": 0})["misses"]

    for expected in (2, 0):
        before = truncate_misses()
        for name in ("embedding_covariance", "embedding_pca", "embedding_debias"):
            QUERIES[name](spark, sf).count()
        assert truncate_misses() - before == expected


def test_curation_heads_miss_once_per_family_key(spark, tmp_path):
    """The families behind the four benchmarked curation heads build
    once per key per session: the first pass over a fresh corpus copy
    misses exactly once per family key (auto_cap has two keys: the
    caption LSH buckets and the image dHash buckets), and a second pass
    misses nothing."""
    import shutil

    from kafka_denormalization_spark.checkpoint import session_memo_counts
    from kafka_denormalization_spark.queries import QUERIES

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_DIR, sf)
    heads = [
        "minhash_lsh_dedup",
        "corpus_pipeline_v4",
        "paired_dedup",
        "fuzzy_contamination",
    ]

    def misses() -> dict[str, int]:
        return {f: c["misses"] for f, c in session_memo_counts().items()}

    def run_pass() -> dict[str, int]:
        before = misses()
        for name in heads:
            QUERIES[name](spark, sf).count()
        return {
            f: n - before.get(f, 0)
            for f, n in misses().items()
            if n != before.get(f, 0)
        }

    assert run_pass() == {
        "schema": 1,
        "lsh_pairs": 1,
        "auto_cap": 2,
        "fuzzy": 1,
        "v4_stages": 1,
        "paired_frame": 1,
        "paired_audit": 1,
    }
    assert run_pass() == {}


def test_warm_benchmark_pass_builds_launch_no_jobs(spark, tmp_path, monkeypatch):
    """A second pass of the benchmarked batch queries (perfbench's
    ``Batch.queries``: the four curation heads and the five FK
    denormalizations) over one corpus builds every frame from session
    memos: the builds launch no Spark job (no schema inference, no eager
    probe or cut). Jobs are read through the status tracker's job
    group."""
    import os
    import shutil

    from kafka_denormalization_spark.queries import QUERIES

    monkeypatch.syspath_prepend(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
    )
    from workloads import Batch

    sf = str(tmp_path / "sf")
    shutil.copytree(os.path.join(os.path.dirname(SF_DIR), "sf0.01"), sf)
    sc = spark.sparkContext

    def build_jobs(group: str) -> dict[str, int]:
        jobs = {}
        for name in Batch.queries:
            sc.setJobGroup(f"{group}-{name}", name)
            try:
                df = QUERIES[name](spark, sf)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(f"{group}-{name}"))
            df.count()
        return jobs

    assert sum(build_jobs("cold").values()) > 0
    assert build_jobs("warm") == {name: 0 for name in Batch.queries}


def test_pca_driver_model_matches_sql_formulation(spark):
    """The r12 driver-side power iteration (_pca_power_model) must be
    BIT-IDENTICAL to the prior in-Spark DECIMAL-fold formulation it
    replaced (the DuckDB oracle unrolls that formulation as CTEs, so
    this pins the oracle contract too): per round, yr =
    round(cast(sum(DECIMAL(12,9) c * DECIMAL(12,9) x) as double), 9),
    nrm = sqrt(cast(sum(DECIMAL(15,9) yr^2) as double)), x' =
    round(yr/nrm, 9)."""
    import random

    rng = random.Random(41)
    # ADVICE r12 #4: run the parity check at the PRODUCTION parameters
    # (dim=64, n_iter=8) — the Decimal(repr(x)) replay of Spark's
    # double->DECIMAL(12,9) cast is environment-dependent (JVM
    # Double.toString shortest-repr), so the guard must exercise the
    # deployed JVM at the width the registry queries use
    dim, n_iter = 64, 8
    emb = spark.createDataFrame(
        [
            (i, [rng.uniform(-2, 2) for _ in range(dim)])
            for i in range(50)
        ],
        "vec_id long, embedding array<float>",
    )
    cov = S.embedding_covariance(emb, dim=dim)
    # reference: the pre-r12 in-Spark iteration, run verbatim
    import math as _math

    from pyspark.sql import functions as F

    x0 = round(1.0 / _math.sqrt(dim), 9)
    v = cov.select(F.col("i").alias("pos")).distinct().select(
        "pos", F.lit(x0).cast("double").alias("x")
    )
    norm = None
    for _ in range(n_iter):
        y = (
            cov.join(v.select(F.col("pos").alias("j"), "x"), "j")
            .groupBy("i")
            .agg(
                F.sum(
                    F.col("cov_r").cast("decimal(12,9)")
                    * F.col("x").cast("decimal(12,9)")
                ).alias("_yd")
            )
            .select(
                F.col("i").alias("pos"),
                F.round(F.col("_yd").cast("double"), 9).alias("yr"),
            )
        )
        norm = y.agg(
            F.sqrt(
                F.sum(
                    F.col("yr").cast("decimal(15,9)")
                    * F.col("yr").cast("decimal(15,9)")
                ).cast("double")
            ).alias("_nrm")
        )
        v = y.crossJoin(F.broadcast(norm)).select(
            "pos", F.round(F.col("yr") / F.col("_nrm"), 9).alias("x")
        ).localCheckpoint()
    ref = {
        r["pos"]: (r["x"], r["_nrm"])
        for r in v.crossJoin(F.broadcast(norm)).collect()
    }
    x, nrm = S._pca_power_model(cov.collect(), dim, n_iter)
    assert set(x) == set(ref)
    for p in ref:
        assert x[p] == ref[p][0], (p, x[p], ref[p][0])
        assert S._round9_half_up(nrm) == S._round9_half_up(ref[p][1])
    # and the public wrapper agrees with itself across partitionings
    a = sorted(
        (r["pos"], r["pc1"], r["eigval"])
        for r in S.embedding_pca(emb, dim=dim, n_iter=n_iter).collect()
    )
    b = sorted(
        (r["pos"], r["pc1"], r["eigval"])
        for r in S.embedding_pca(
            emb.repartition(5), dim=dim, n_iter=n_iter
        ).collect()
    )
    assert a == b
    assert [p for p, _x, _e in a] == sorted(ref)
    assert all(_x == ref[p][0] for p, _x, _e in a)


# ---------------------------------------------------------------------------
# fuzzy_contamination (near-match eval decontamination)
# ---------------------------------------------------------------------------


def test_fuzzy_contamination_flags_near_match(spark):
    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "watches from the old wooden fence nearby every morning")
    docs = spark.createDataFrame(
        [
            (1, base),                                  # near-match of eval 100
            (2, "совершенно other content about database join strategies"
                " and shuffle partitioning at scale today"),
            (3, base + " appended"),
        ],
        "doc_id long, text string",
    )
    # eval = base minus its last two tokens (the planted-fixture shape)
    evals = spark.createDataFrame(
        [(100, " ".join(base.split()[:-2]))], "eval_id long, prompt string"
    )
    out = {
        r["doc_id"]: r
        for r in S.fuzzy_contamination(
            docs, "doc_id", "text", evals, "eval_id", "prompt", threshold=0.8
        ).collect()
    }
    assert 1 in out and out[1]["eval_id"] == 100
    assert out[1]["jaccard_r"] > 0.8 and out[1]["n_eval_matches"] == 1
    assert 2 not in out            # unrelated text untouched
    assert 3 in out                # reworded-tail variant still caught


def test_fuzzy_contamination_id_namespacing(spark):
    """A document and an eval row sharing the same id value must not
    cross-talk through the shared verify gram table."""
    docs = spark.createDataFrame(
        [(7, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(7, "alpha beta gamma delta epsilon zeta eta theta iota")],
        "eval_id long, prompt string",
    )
    rows = S.fuzzy_contamination(
        docs, "doc_id", "text", evals, "eval_id", "prompt", threshold=0.8
    ).collect()
    assert len(rows) == 1
    assert rows[0]["doc_id"] == 7 and rows[0]["eval_id"] == 7
    assert 0.8 <= rows[0]["jaccard_r"] < 1.0   # near, not identical


def test_fuzzy_contamination_rejects_empty_eval_set(spark):
    import pytest as _pytest

    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    empty = spark.createDataFrame([], "eval_id long, prompt string")
    with _pytest.raises(ValueError, match="eval set is empty"):
        S.fuzzy_contamination(docs, "doc_id", "text", empty)


def test_fuzzy_contamination_rejects_all_null_eval_ids(spark):
    """ADVICE r10 #3: a non-empty eval set whose ids are all NULL must
    raise the descriptive contract error, not an opaque TypeError from
    int(None)."""
    import pytest as _pytest

    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    nulls = spark.createDataFrame(
        [(None, "w x y z q")], "eval_id long, prompt string"
    )
    with _pytest.raises(ValueError, match="NULL"):
        S.fuzzy_contamination(docs, "doc_id", "text", nulls)


def test_auto_cap_probe_result_memoized(spark):
    """VERDICT r10 #3: the eager auto-cap probe stays eager but its
    scalar RESULT is memoized per (session, canonicalized bucket plan)
    — a second resolve over a semantically identical widths frame must
    return the same cap from the memo without re-running the probe."""
    from kafka_denormalization_spark.checkpoint import session_memo_counts
    from kafka_denormalization_spark.functions.similarity import (
        resolve_auto_bucket_cap,
    )

    def widths():
        return (
            spark.range(300)
            .selectExpr("id % 7 AS _band", "id % 11 AS _h")
            .groupBy("_band", "_h")
            .agg(F.count(F.lit(1)).alias("_w"))
        )

    cap1 = resolve_auto_bucket_cap(widths(), 32, what="memo-test")
    before = session_memo_counts()["auto_cap"]
    cap2 = resolve_auto_bucket_cap(widths(), 32, what="memo-test")
    after = session_memo_counts()["auto_cap"]
    assert cap2 == cap1
    assert after["misses"] == before["misses"], "repeat call re-probed"
    assert after["hits"] == before["hits"] + 1, "repeat call missed the memo"


def test_paired_audit_memoized_per_session(spark):
    from kafka_denormalization_spark.queries import q_paired_dedup

    sf = "/root/testdata/sf0.001"
    assert q_paired_dedup(spark, sf) is q_paired_dedup(spark, sf)


def test_ivf_centroids_partition_invariant(spark):
    """r11 determinism fix: the floor-scaled exact-integer centroid is
    BIT-identical under any partitioning — the float avg() it replaced
    moved in the low-order bits with shuffle order, so IVF probe
    rankings could differ between runs near centroid-similarity ties."""
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def cents(df):
        return {
            r["cell"]: tuple(r["centroid"])
            for r in S.ivf_centroids(df, "embedding", 4, 64).collect()
        }

    a = cents(emb.repartition(1))
    b = cents(emb.repartition(13, "vec_id"))
    assert a == b, "centroids changed under repartitioning"


def test_minhash_lsh_pairs_session_identity_and_equivalence(spark, tmp_path):
    """VERDICT r11 #2: the session-memoized pair builder returns the
    SAME materialized pair-table object for semantically identical
    (docs plan, config) calls, and its rows equal the un-memoized
    operator's. Parquet-rooted fixture: LocalRelation plans don't
    canonicalize to stable semanticHashes, scan plans do (the
    test_preference session-memo note)."""
    from kafka_denormalization_spark.functions.similarity import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_session,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "a completely unrelated sentence about database joins"),
    ]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        path
    )

    def docs():
        return spark.read.parquet(path)

    p1 = minhash_lsh_pairs_session(
        docs(), "doc_id", "text", num_hashes=64, bands=32, threshold=0.5
    )
    p2 = minhash_lsh_pairs_session(
        docs(), "doc_id", "text", num_hashes=64, bands=32, threshold=0.5
    )
    assert p1 is p2, "identical plan+config did not hit the session memo"
    # a different config misses
    p3 = minhash_lsh_pairs_session(
        docs(), "doc_id", "text", num_hashes=32, bands=16, threshold=0.5
    )
    assert p3 is not p1
    ref = minhash_lsh_pairs(
        docs(), "doc_id", "text", num_hashes=64, bands=32, threshold=0.5,
        persist=False,
    )
    assert sorted(map(tuple, p1.collect())) == sorted(
        map(tuple, ref.collect())
    )

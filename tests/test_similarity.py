"""Similarity-search operator tests."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from jaccard_mapreduce_spark.operators import similarity as S


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),   # close to 1
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 1
        (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 1
        (5, [0.0, 0.0, 0.0, 0.0]),   # zero vector -> guarded score 0.0
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    return df.selectExpr("vec_id", "transform(embedding, x -> CAST(x AS FLOAT)) AS embedding")


def test_cosine_pairs_values(spark, emb):
    got = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in S.cosine_pairs(emb).collect()
    }
    assert got[(1, 2)] == pytest.approx(0.9 / math.sqrt(0.9**2 + 0.1**2))
    assert got[(1, 3)] == pytest.approx(0.0)
    assert got[(1, 4)] == pytest.approx(-1.0)
    assert got[(1, 5)] == 0.0  # zero-vector guard
    assert got[(5, 1)] == 0.0


def test_cosine_topk_ranks(spark, emb):
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in S.cosine_topk(emb, k=2).collect()
    }
    assert got[(1, 1)] == 2  # nearest to 1 is 2
    assert got[(2, 1)] == 1
    # every query gets exactly k rows (n-1 >= k here)
    assert len(got) == 5 * 2


def test_lsh_topk_subset_of_exact(spark, emb):
    # LSH results are a subset of the brute-force pair set with identical
    # scores (recall loss only, no score distortion)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in S.cosine_pairs(emb).collect()
    }
    # 2 planes -> coarse buckets so the tiny fixture yields candidates
    approx = S.ann_lsh_topk(emb, k=4, n_planes=2, dim=4).collect()
    assert len(approx) > 0
    for r in approx:
        assert exact[(r["query_id"], r["neighbor_id"])] == r["score"]


def test_fold_kernels_bit_equal_relational_cosine(spark, emb, monkeypatch):
    """The shared fold core's guards on the fixture's zero and opposite
    vectors: every all-pairs kernel, split into 2-row blocks so
    cross-block groups form, must bit-equal the relational form —
    zero-norm pairs +0.0, the opposite pair exactly -1.0."""
    monkeypatch.setattr(S, "ALLPAIRS_BLOCK_ROWS", 2)
    monkeypatch.setattr(S, "EXACT_KERNEL_MIN_PAIRS", 0)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    pairs = S.cosine_pairs(emb)
    want_topk = rows(S._topk(pairs, 3))
    assert rows(S.cosine_topk(emb, k=3)) == want_topk
    assert rows(
        S.exact_slice_topk(emb, F.lit(True), 3)
    ) == want_topk
    want_dups = rows(
        pairs.where("query_id < neighbor_id AND score >= -1.0").select(
            F.col("query_id").alias("vec_a"),
            F.col("neighbor_id").alias("vec_b"),
            "score",
        )
    )
    got_dups = rows(S.embedding_duplicates(emb, min_cosine=-1.0))
    assert got_dups == want_dups
    scores = {(a, b): s for a, b, s in got_dups}
    assert scores[(1, 4)] == -1.0
    assert all(
        math.copysign(1.0, s) == 1.0 and s == 0.0
        for (a, b), s in scores.items()
        if 5 in (a, b)
    )


def test_embedding_duplicates(spark, emb):
    got = {(r["vec_a"], r["vec_b"]) for r in S.embedding_duplicates(emb, 0.9).collect()}
    assert got == {(1, 2)}


def test_ivf_topk_structure_and_recall(spark):
    # 20 vectors in two tight clusters around e1 and e2 -> IVF with 2+
    # cells must recover in-cluster neighbors (they share a cell)
    rows = []
    for i in range(10):
        rows.append((i, [10.0, float(i) * 0.01, 0.0, 0.0]))
    for i in range(10, 20):
        rows.append((i, [0.0, 10.0, float(i) * 0.01, 0.0]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS FLOAT)) AS embedding"
    )
    got = S.ann_ivf_topk(emb, k=3, n_cells=4, n_probe=2).collect()
    by_query: dict[int, list] = {}
    for r in got:
        by_query.setdefault(r["query_id"], []).append(r)
    for q, neigh in by_query.items():
        ranks = sorted(r["rank"] for r in neigh)
        assert ranks == list(range(1, len(ranks) + 1))
        ordered = sorted(neigh, key=lambda r: r["rank"])
        scores = [r["score"] for r in ordered]
        assert scores == sorted(scores, reverse=True)
        # in-cluster neighbors score ~1; top hit must be same-cluster
        same_cluster = (q < 10) == (ordered[0]["neighbor_id"] < 10)
        assert same_cluster
        assert ordered[0]["score"] > 0.99


def test_cosine_topk_fast_refuses_oversized_index(spark):
    from jaccard_mapreduce_spark.operators.similarity import cosine_topk_fast

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="ann_lsh_topk"):
        cosine_topk_fast(emb, k=3, max_index_rows=10)


def test_quantize_embeddings_roundtrip(spark):
    from jaccard_mapreduce_spark.operators.similarity import quantize_embeddings

    rows = [
        (1, [0.0, 0.5, 1.0]),
        (2, [-2.0, 0.0, 2.0]),
        (3, [7.0, 7.0, 7.0]),   # constant vector -> scale 0
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert got[1]["qvec"] == [-128, 0, 127]
    assert got[2]["qvec"] == [-128, 0, 127]
    assert got[3]["qvec"] == [-128, -128, -128] and got[3]["scale"] == 0.0
    # dequantized reconstruction error bounded by scale/2
    for vec_id, orig in rows:
        r = got[vec_id]
        for q, x in zip(r["qvec"], orig):
            approx = (q + 128) * r["scale"] + r["zero_point"]
            assert abs(approx - x) <= r["scale"] / 2 + 1e-12


def test_kmeans_int8_properties(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = S.kmeans_int8(emb, k=4, iters=2, dim=64).collect()
    n = emb.count()
    assert len(out) == n  # exactly one assignment per vector
    assert {r["cluster"] for r in out} <= set(range(4))
    assert all(r["dist"] >= 0 for r in out)
    # deterministic: a second run is identical (no float/sampling state)
    again = S.kmeans_int8(emb, k=4, iters=2, dim=64).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_kmeans_int8_assignment_is_argmin(spark):
    # final dist really is the minimum over the final codebook: rebuild
    # the codebook by one more assign-with-all-dists pass and compare
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a1 = S.kmeans_int8(emb, k=4, iters=1, dim=64)
    a2 = S.kmeans_int8(emb, k=4, iters=1, dim=64)
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))
    # iters=0 assigns against the seed codebook = the 4 smallest ids'
    # own codes, so those vectors sit at distance 0 in their own cluster
    a0 = {r["vec_id"]: r for r in S.kmeans_int8(emb, k=4, iters=0, dim=64).collect()}
    seeds = sorted(a0)[:4]
    for i, vid in enumerate(seeds):
        assert a0[vid]["cluster"] == i and a0[vid]["dist"] == 0


def test_semantic_dedup_matches_bruteforce_within_cluster(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = {r["vec_id"]: r for r in S.semantic_dedup(emb, k=4, min_cosine=0.3, dim=64).collect()}
    assert len(got) == emb.count()
    # recompute with the exact kernel: vec is dropped iff a smaller-id
    # same-cluster vec has cosine >= tau
    clusters = {v: r["cluster"] for v, r in got.items()}
    pairs = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in S.cosine_pairs(emb).collect()
    }
    for vid, r in got.items():
        dup = any(
            b < vid and clusters[b] == clusters[vid] and pairs[(vid, b)] >= 0.3
            for b in clusters
        )
        assert r["keep"] == (not dup), vid


def test_ann_recall_audit_consistency(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = S.ann_recall_audit(emb, k=5).collect()
    # every sample_mod-th query id is audited (default 10), each against
    # the FULL index
    n = emb.where("vec_id % 10 = 0").count()
    assert len(rows) == n
    for r in rows:
        # hits can never exceed either side; exact side always fills k
        # (n-1 >= k here)
        assert r["n_exact"] == 5
        assert 0 <= r["n_hits"] <= min(r["n_exact"], r["n_approx"])
        assert r["n_approx"] <= 5
    # with the full signature as one bucket, recall is partial but the
    # audit must find at least SOME agreement on a clustered corpus
    assert sum(r["n_hits"] for r in rows) > 0


def test_ivf_recall_audit_consistency(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = S.ivf_recall_audit(emb, k=5).collect()
    assert len(rows) == emb.where("vec_id % 10 = 0").count()
    for r in rows:
        assert r["n_exact"] == 5
        assert 0 <= r["n_hits"] <= min(r["n_exact"], r["n_approx"])
    # multi-cell probing keeps IVF recall well above the sign-LSH tier
    # on this corpus (measured 10x at sf0.01); at minimum it finds hits
    assert sum(r["n_hits"] for r in rows) > 0

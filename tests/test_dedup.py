"""Dedup operator semantics on corpora with known duplicates."""

from __future__ import annotations

import pytest

from jaccard_mapreduce_spark.operators import dedup as D
from jaccard_mapreduce_spark.operators.jaccard import doc_tokens


@pytest.fixture(scope="module")
def corpus(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, base),
        (2, base.upper() + "!!!"),          # exact dup after normalization
        (3, base.replace("river", "creek")),  # near dup (1 token changed)
        (4, "completely different content about spark query engines and shuffles"),
        (5, base),                           # exact dup of 1 and 2
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(spark, corpus):
    got = {r["doc_id"]: r for r in D.exact_duplicates(corpus).collect()}
    assert got[1]["keeper"] == 1 and not got[1]["is_dup"]
    assert got[2]["keeper"] == 1 and got[2]["is_dup"]
    assert got[5]["keeper"] == 1 and got[5]["is_dup"]
    assert got[3]["keeper"] == 3 and not got[3]["is_dup"]
    assert got[4]["keeper"] == 4 and not got[4]["is_dup"]


def test_ngram_duplicates(spark, corpus):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["similarity"]
        for r in D.ngram_duplicates(corpus, n=3, threshold=0.5).collect()
    }
    # exact dups share all shingles
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 5)] == 1.0
    assert pairs[(2, 5)] == 1.0
    # near dup shares most shingles but not all
    assert 0.5 <= pairs[(1, 3)] < 1.0
    # unrelated docs below threshold
    assert (1, 4) not in pairs


def test_minhash_identical_sets_identical_sigs(spark, corpus):
    tokens = doc_tokens(corpus)
    sigs = {r["doc_id"]: r["sig"] for r in D.minhash_signatures(tokens, k=16).collect()}
    assert sigs[1] == sigs[2] == sigs[5]
    assert sigs[1] != sigs[4]
    # signature values are bounded by the prime
    assert all(0 <= v < D.MINHASH_PRIME for v in sigs[1])


def test_minhash_lsh_dedup_finds_dups(spark, corpus):
    got = {
        (r["doc_a"], r["doc_b"]): r["similarity"]
        for r in D.minhash_lsh_dedup(corpus, threshold=0.7).collect()
    }
    # identical docs are guaranteed candidates (identical sigs -> same buckets)
    assert got[(1, 2)] == 1.0
    assert got[(1, 5)] == 1.0
    assert got[(2, 5)] == 1.0
    assert (1, 4) not in got


def test_simhash_properties(spark, corpus):
    tokens = doc_tokens(corpus)
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash(tokens).collect()}
    assert sh[1] == sh[2] == sh[5]  # identical token sets
    assert 0 <= sh[1] < (1 << D.SIMHASH_BITS)
    ham_13 = bin(sh[1] ^ sh[3]).count("1")
    ham_14 = bin(sh[1] ^ sh[4]).count("1")
    assert ham_13 < ham_14  # near dup closer than unrelated doc


def test_simhash_duplicates_blocking_is_exact(spark, corpus):
    tokens = doc_tokens(corpus)
    # blocking join result == brute force on the collected fingerprints
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.simhash_duplicates(tokens, max_distance=10).collect()
    }
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash(tokens).collect()}
    ids = sorted(sh)
    want = {
        (a, b): bin(sh[a] ^ sh[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sh[a] ^ sh[b]).count("1") <= 10
    }
    assert got == want
    assert got[(1, 2)] == 0


def test_lsh_shuffle_fallback_matches_broadcast(spark, corpus):
    """Above the broadcast gate the plan changes (shuffle joins) but the
    result set must not."""
    want = sorted(
        map(tuple, D.minhash_lsh_dedup(corpus, threshold=0.5).collect())
    )
    got = sorted(
        map(
            tuple,
            D.minhash_lsh_dedup(
                corpus, threshold=0.5, broadcast_max_docs=0
            ).collect(),
        )
    )
    assert got == want and len(want) > 0


def test_simhash_shuffle_fallback_matches_broadcast(spark, corpus):
    tokens = doc_tokens(corpus)
    want = sorted(
        map(tuple, D.simhash_duplicates(tokens, max_distance=8).collect())
    )
    got = sorted(
        map(
            tuple,
            D.simhash_duplicates(
                tokens, max_distance=8, broadcast_max_docs=0
            ).collect(),
        )
    )
    assert got == want and len(want) > 0


def test_lsh_mega_bucket_cap_bounds_skew(spark):
    """One degenerate bucket shared by every doc: the cap must drop it
    (bounding the C(B,2) pair blowup) while leaving small buckets alone."""
    n = 60
    rows = [(i, "identical stop word text shared by every single document") for i in range(n)]
    rows += [(1000, "one unusual document"), (1001, "one unusual document")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    tokens = doc_tokens(df)

    uncapped = D.minhash_lsh_candidates(tokens).count()
    assert uncapped >= n * (n - 1) // 2  # degenerate blowup present

    capped = D.minhash_lsh_candidates(tokens, max_bucket_size=10)
    got = {tuple(r) for r in capped.collect()}
    # the mega-bucket's quadratic pair set is gone...
    assert len(got) < uncapped
    # ...but the small bucket's pair survives
    assert (1000, 1001) in got


def test_lsh_packed_pair_dedup_matches_unpacked(spark, corpus):
    from jaccard_mapreduce_spark.operators.jaccard import doc_tokens as _dt

    tokens = _dt(corpus)
    want = sorted(
        map(tuple, D.minhash_lsh_candidates(tokens, ids_fit_31_bits=False).collect())
    )
    got = sorted(
        map(tuple, D.minhash_lsh_candidates(tokens, ids_fit_31_bits=True).collect())
    )
    assert got == want and len(want) > 0


def test_lsh_dedup_big_ids_use_fallback(spark):
    """doc_ids >= 2^31 must take the two-column dedup path and still
    produce correct pairs."""
    base = 1 << 40
    rows = [
        (base + 1, "alpha beta gamma delta epsilon zeta"),
        (base + 2, "alpha beta gamma delta epsilon zeta"),
        (base + 3, "totally different words entirely here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["similarity"]
        for r in D.minhash_lsh_dedup(df, threshold=0.9).collect()
    }
    assert got == {(base + 1, base + 2): 1.0}


def test_set_verify_branch_matches_join_scores(spark):
    """Above the bitmask cap (2,048 x 1.3 tokens) the MinHash verify gate
    builds ``collect_set`` token arrays scored with ``array_intersect``;
    both verify consumers must score exactly like the token join."""
    from jaccard_mapreduce_spark.operators.jaccard import jaccard_pairs

    # 200 docs x 20 private tokens = 4,000 distinct tokens, plus 10
    # planted near-dups with one token of twenty replaced (J = 19/21)
    rows = [
        (i, " ".join(f"w{i}a{j}" for j in range(20))) for i in range(200)
    ]
    rows += [
        (1000 + i, " ".join(f"w{i}a{j}" for j in range(19)) + f" x{i}")
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    join = {
        (r["doc_a"], r["doc_b"]): r["similarity"]
        for r in jaccard_pairs(df, strategy="join").collect()
    }
    lsh = D.minhash_lsh_dedup(df, threshold=0.5)
    plan = lsh._jdf.queryExecution().optimizedPlan().toString()
    assert "array_intersect" in plan  # the set branch, not the bitmask
    got = {(r["doc_a"], r["doc_b"]): r["similarity"] for r in lsh.collect()}
    audit = {
        (r["doc_a"], r["doc_b"]): r["exact_sim"]
        for r in D.minhash_error_audit(df).collect()
    }
    assert got
    assert got == {p: join[p] for p in got}
    assert audit == {p: join.get(p, 0.0) for p in audit}


def test_dedup_representatives_picks_heaviest_then_lowest_id(spark):
    from jaccard_mapreduce_spark.operators.dedup import dedup_representatives

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5)], ["doc_id", "n_chars"]
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], ["doc_id", "cluster_id"]
    )
    got = {r["doc_id"]: r for r in dedup_representatives(docs, clusters).collect()}
    # cluster 1: docs 2 and 3 tie on n_chars=30 -> doc 2 wins (lower id)
    assert got[1]["rep_doc_id"] == 2 and not got[1]["is_kept"]
    assert got[2]["rep_doc_id"] == 2 and got[2]["is_kept"]
    assert got[3]["rep_doc_id"] == 2 and not got[3]["is_kept"]
    # singleton cluster keeps itself
    assert got[4]["rep_doc_id"] == 4 and got[4]["is_kept"]


def _cluster_map(df):
    return {r["doc_id"]: r["cluster_id"] for r in df.collect()}


def test_dedup_clusters_chain_and_clique_union_find_path(spark):
    """A long chain (worst case for star contraction — every hop is a
    bridging remnant edge) plus a clique (best case — empty remnant) plus
    singletons, resolved through the driver-side union-find."""
    from jaccard_mapreduce_spark.operators.dedup import dedup_clusters

    chain = [(i, i + 1) for i in range(10, 20)]  # component min = 10
    clique = [(a, b) for a in range(30, 34) for b in range(a + 1, 34)]
    pairs = spark.createDataFrame(chain + clique, ["doc_a", "doc_b"])
    docs = spark.createDataFrame(
        [(i,) for i in list(range(10, 21)) + list(range(30, 34)) + [99]],
        ["doc_id"],
    )
    got = _cluster_map(dedup_clusters(docs, pairs))
    assert all(got[i] == 10 for i in range(10, 21))
    assert all(got[i] == 30 for i in range(30, 34))
    assert got[99] == 99  # no-edge singleton


def test_dedup_clusters_distributed_fallback_matches_union_find(spark):
    """local_finish_max_edges=0 forces the above-gate distributed
    min-label loop; both resolution paths must agree exactly."""
    from jaccard_mapreduce_spark.operators.dedup import dedup_clusters

    chain = [(i, i + 1) for i in range(10, 18)]
    cross = [(5, 17), (2, 5)]  # bridges pulling the chain down to min 2
    pairs = spark.createDataFrame(chain + cross, ["doc_a", "doc_b"])
    docs = spark.createDataFrame(
        [(i,) for i in [2, 5] + list(range(10, 19)) + [50]], ["doc_id"]
    )
    local = _cluster_map(dedup_clusters(docs, pairs))
    dist = _cluster_map(dedup_clusters(docs, pairs, local_finish_max_edges=0))
    assert local == dist
    assert all(local[i] == 2 for i in [2, 5] + list(range(10, 19)))
    assert local[50] == 50


def test_dedup_clusters_empty_pairs(spark):
    from jaccard_mapreduce_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame([(1,), (2,)], ["doc_id"])
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    got = _cluster_map(dedup_clusters(docs, pairs))
    assert got == {1: 1, 2: 2}


def test_pagerank_centrality_properties(spark):
    from jaccard_mapreduce_spark.operators.dedup import pagerank_centrality

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = {r["doc_id"]: r["rank"] for r in pagerank_centrality(docs, iters=2).collect()}
    n = docs.count()
    assert len(out) == n  # one rank per document, isolated docs included
    # every rank carries at least the damped base mass and never exceeds
    # total mass; base = (15 * scale) div 100
    assert all(150_000 <= v <= n * 1_000_000 for v in out.values())
    # deterministic across runs (integer arithmetic, no float state)
    again = {r["doc_id"]: r["rank"] for r in pagerank_centrality(docs, iters=2).collect()}
    assert out == again


def test_pagerank_hub_outranks_leaves(spark):
    from jaccard_mapreduce_spark.operators.dedup import pagerank_centrality

    # a template farm: doc 1 near-dups 2,3,4 (star) while 5 is isolated;
    # texts constructed so exact Jaccard(1, x) >= 0.7 only for the spokes
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base + " one"),
        (2, base + " two"),
        (3, base + " three"),
        (4, base + " four"),
        (5, "completely different words nothing shared here at all"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["rank"] for r in pagerank_centrality(docs, threshold=0.5, iters=2).collect()}
    assert got[5] == 150_000  # isolated: damped base only
    assert got[1] > got[5]
    # spokes also connect to each other via the shared base vocabulary,
    # but every connected doc must strictly outrank the isolated one
    for d in (2, 3, 4):
        assert got[d] > got[5]


def test_containment_catches_near_superset_jaccard_misses(spark):
    from jaccard_mapreduce_spark.operators.dedup import containment_pairs

    # doc 1 fully contained in the much larger doc 2: Jaccard = 5/20
    # (far below any dedup threshold) but containment(1 in 2) = 1.0
    small = "alpha beta gamma delta epsilon"
    big = small + " " + " ".join(f"word{i}" for i in range(15))
    docs = spark.createDataFrame(
        [(1, small), (2, big), (3, "entirely unrelated text corpus")],
        ["doc_id", "text"],
    )
    rows = containment_pairs(docs, min_containment=0.9).collect()
    got = {(r["doc_a"], r["doc_b"]): r for r in rows}
    assert (1, 2) in got
    r = got[(1, 2)]
    assert r["cont_a"] == 1.0 and r["intersection"] == 5 and r["size_b"] == 20
    assert not any(3 in p for p in got)


def test_boilerplate_span_stats_counts_shared_grams(spark):
    from jaccard_mapreduce_spark.operators.dedup import boilerplate_span_stats

    chrome = "home about contact privacy terms"   # shared 5-gram block
    docs = spark.createDataFrame(
        [
            (1, chrome + " unique one content here today"),
            (2, chrome + " something else entirely different text"),
            (3, "no shared navigation text in this document at all"),
            (4, "tiny"),                          # too short for a 5-gram
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in boilerplate_span_stats(docs, n=5).collect()}
    assert len(got) == 4
    # the chrome block's 5-gram appears in docs 1 and 2
    assert got[1]["n_shared_grams"] >= 1 and got[2]["n_shared_grams"] >= 1
    assert got[3]["n_shared_grams"] == 0
    assert got[4]["n_grams"] == 0 and got[4]["n_shared_grams"] == 0


def test_source_overlap_matrix_canonical_and_consistent(spark):
    from jaccard_mapreduce_spark.operators.dedup import (
        minhash_lsh_dedup,
        source_overlap_matrix,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    m = source_overlap_matrix(docs, threshold=0.7).collect()
    # canonical source pair, positive counts
    assert all(r["source_a"] <= r["source_b"] and r["n_pairs"] > 0 for r in m)
    # cell totals re-add to the pair relation's size
    assert sum(r["n_pairs"] for r in m) == minhash_lsh_dedup(docs, threshold=0.7).count()


def test_dedup_cluster_sizes_accounts_for_every_doc(spark):
    from jaccard_mapreduce_spark.operators.dedup import dedup_cluster_sizes

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    hist = dedup_cluster_sizes(docs, threshold=0.7).collect()
    # the histogram partitions the corpus: Σ n_docs = corpus size, and
    # each row's n_docs is internally consistent
    assert sum(r["n_docs"] for r in hist) == docs.count()
    for r in hist:
        assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]
        assert r["cluster_size"] >= 1 and r["n_clusters"] >= 1

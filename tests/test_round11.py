"""Round-11 hardening: the marker-precondition raise on the lexical
store's raw API, the stats face's id-drift check (``n_distinct_docs``),
the non-null group gate in the sketch-error contract, and the
probe-factor/oracle coupling made explicit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE


def _tiny_docs(spark):
    return spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta"), (3, "delta alpha")],
        "doc_id long, text string",
    )


def test_upsert_refuses_a_store_without_the_tf_marker(spark, tmp_path):
    """round-10 ADVICE: a pre-tfv2 store (postings/df present, no
    _n_tokens marker) must REFUSE the upsert before any postings bytes
    land — silently defaulting the marker to 0 appended tf-schema
    postings into an old-schema store and stamped a wrong marker."""
    from jaccard_mapreduce_spark.sources.lexical_store import (
        build_lexical_store,
        lexical_store_stats,
        upsert_lexical_store,
    )
    from jaccard_mapreduce_spark.sources._store import _fs_delete

    path = str(tmp_path / "store")
    docs = _tiny_docs(spark)
    build_lexical_store(docs.where(F.col("doc_id") <= 2), path)
    # simulate the pre-tfv2 generation: datasets present, Σtf marker gone
    _fs_delete(spark, f"{path}/_n_tokens")
    before = spark.read.parquet(f"{path}/postings").count()
    with pytest.raises(ValueError, match="_n_tokens"):
        upsert_lexical_store(spark, path, docs.where(F.col("doc_id") == 3))
    # the refusal happened BEFORE the append — no partial corruption
    assert spark.read.parquet(f"{path}/postings").count() == before
    with pytest.raises(ValueError, match="_n_tokens"):
        lexical_store_stats(spark, path)


def test_stats_expose_a_replayed_upsert_as_marker_drift(spark, tmp_path):
    """round-10 verdict item 6: the upsert id contract (batch ids
    disjoint from stored ids) was documented but unverifiable from the
    store itself. The stats face's n_distinct_docs makes a deliberate
    replay visible: the marker double-counts, the distinct postings
    ids don't."""
    from jaccard_mapreduce_spark.sources.lexical_store import (
        build_lexical_store,
        lexical_store_stats,
        upsert_lexical_store,
    )

    path = str(tmp_path / "store")
    docs = _tiny_docs(spark)
    build_lexical_store(docs.where(F.col("doc_id") <= 2), path)
    batch = docs.where(F.col("doc_id") == 3)
    upsert_lexical_store(spark, path, batch)
    healthy = lexical_store_stats(spark, path)
    assert healthy["n_distinct_docs"] == healthy["n_docs"] == 3
    # deliberate id-contract violation: replay the same batch
    upsert_lexical_store(spark, path, batch)
    drifted = lexical_store_stats(spark, path)
    assert drifted["n_docs"] == 4  # the marker double-counted
    assert drifted["n_distinct_docs"] == 3  # the postings did not
    assert drifted["n_distinct_docs"] < drifted["n_docs"]


def test_events_approx_gate_counts_non_null_values(spark):
    """round-10 ADVICE: the N>=10 gate must count the population the
    percentiles rank (non-null values). A group with 12 rows but only
    3 non-null values must take the min-based lower bound, not the p40
    branch the rank arithmetic only justifies from 6 non-null up."""
    from jaccard_mapreduce_spark.operators.relational import (
        events_approx_check,
    )

    rows = [("a", i, float(v)) for i, v in enumerate([1, 2, 3])]
    rows += [("a", 100 + i, None) for i in range(9)]
    # a healthy group: 12 non-null values
    rows += [("b", 200 + i, float(i)) for i in range(12)]
    events = spark.createDataFrame(
        rows, "event_type string, user_id long, value double"
    )
    out = {
        r["event_type"]: r
        for r in events_approx_check(events).collect()
    }
    # with only 3 non-null values the p40 bound may exceed the approx
    # median; the non-null gate keeps group "a" on the min branch and
    # both groups' envelopes hold
    assert out["a"]["p50_ok"] and out["a"]["p95_ok"]
    assert out["b"]["p50_ok"] and out["b"]["p95_ok"]


def test_probe_factor_matches_the_pinned_oracle_at_the_graded_fixture(
    spark,
):
    """round-10 ADVICE: the scale probes derive their replication
    factor from the live corpus while their oracles pin factor=10 —
    the coupling held only because the graded fixture has ~500 docs.
    Make it explicit: at the driver's sf0.01 fixture the shared
    formula must yield exactly the oracles' pinned default, for BOTH
    probe corpora (documents and embeddings)."""
    import inspect

    from jaccard_mapreduce_spark import oracles
    from jaccard_mapreduce_spark.operators.retrieval import probe_factor

    pinned = inspect.signature(
        oracles.lexical_scale_probe_sql
    ).parameters["factor"].default
    n_docs = (
        spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .select("doc_id")
        .distinct()
        .count()
    )
    n_emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").count()
    assert probe_factor(n_docs) == pinned
    assert probe_factor(n_emb) == pinned


def test_stream_bm25_serve_batching_is_invisible(spark):
    """The round-11 serving face's core claim: the union of per-batch
    BM25 results equals the one-shot store-served ranking whatever the
    batch boundaries were — scores included (exact integers)."""
    from tests.conftest import SF_SMALL
    from jaccard_mapreduce_spark.sources.lexical_store import (
        lexical_store_bm25_demo,
    )
    from jaccard_mapreduce_spark.streaming.retrieval_serve import (
        stream_bm25_serve,
    )

    one_shot = sorted(
        map(tuple, lexical_store_bm25_demo(spark, SF_SMALL).collect())
    )
    assert len(one_shot) > 0
    for n_files in (2, 5):
        streamed = sorted(
            map(
                tuple,
                stream_bm25_serve(
                    spark, SF_SMALL, n_input_files=n_files
                ).collect(),
            )
        )
        assert streamed == one_shot, f"n_input_files={n_files}"


def test_regraded_fixtures_exercise_both_branches(spark):
    """round-10 verdict item 8: the re-graded media_meta /
    stratified_sample contracts must be NON-trivial at the driver
    fixture — both branches of each new path populated, pinned here so
    a fixture regeneration can't silently re-trivialize the grades."""
    import __spark_entry__ as entry

    qs = entry.queries()
    meta = qs["media_meta"](spark, SF_ORACLE)
    n_null = meta.where(F.col("width").isNull()).count()
    n_ok = meta.where(F.col("width").isNotNull()).count()
    assert n_null > 0 and n_ok > 0, (n_null, n_ok)

    samp = qs["stratified_sample"](spark, SF_ORACLE)
    strata = {r["stratum"] for r in samp.select("stratum").distinct().collect()}
    assert "de" not in strata  # the 0.0 cutoff drops the stratum
    assert "es" in strata  # the unlisted stratum rides the default
    # the default is non-unit: some es docs must have been dropped
    n_es_all = (
        spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .where(F.col("lang") == "es")
        .count()
    )
    assert 0 < samp.where(F.col("stratum") == "es").count() < n_es_all


def test_phrase_search_semantics(spark):
    """Exact adjacency, occurrence-count scoring, duplicate-term
    phrases, and self-exclusion — the semantics no bag-of-tokens tier
    can express."""
    from jaccard_mapreduce_spark.operators.retrieval import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "big dog sleeps"),
            (2, "a big dog and a big dog again"),  # two occurrences
            (3, "dog big"),  # reversed: tokens match, sequence doesn't
            (4, "big cat dog"),  # gap: not adjacent
            (5, "the big big dog"),  # duplicate-term phrase target
        ],
        "doc_id long, text string",
    )
    phrases = spark.createDataFrame(
        [(100, "big dog"), (200, "big big dog")],
        "phrase_id long, phrase string",
    )
    out = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in phrase_search(docs, phrases).collect()
    }
    assert out[(100, 1)] == 1
    assert out[(100, 2)] == 2  # repeated phrase outranks single mention
    assert (100, 3) not in out  # order matters
    assert (100, 4) not in out  # adjacency matters
    assert out[(100, 5)] == 1  # "big [big dog]" contains one "big dog"
    # duplicate-term phrase: each offset votes independently
    assert out[(200, 5)] == 1
    assert (200, 1) not in out


def test_phrase_search_excludes_self_and_is_nonvacuous(spark):
    """The graded entry (leading bigrams of the query docs) must be
    non-vacuous at the tiny fixture and never match the phrase's own
    doc."""
    from tests.conftest import SF_SMALL
    import __spark_entry__ as entry

    res = entry.queries()["phrase_search"](spark, SF_SMALL)
    rows = res.collect()
    assert len(rows) > 0
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)


def test_store_phrase_serve_matches_one_plan(spark, tmp_path):
    """The store's third exact serve: positions merge additively, so
    build-then-upsert phrase results equal the one-plan phrase_search
    over the union — and compaction preserves the positions relation."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        leading_phrases,
        phrase_search,
    )
    from jaccard_mapreduce_spark.sources.lexical_store import (
        build_lexical_store,
        compact_lexical_store,
        search_lexical_store_phrase,
        upsert_lexical_store,
    )

    docs = spark.createDataFrame(
        [
            (1, "big dog sleeps big dog"),
            (2, "a big dog"),
            (3, "dog big cat"),
            (4, "big dog big dog big dog"),
            (100, "big dog reference query"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "store")
    build_lexical_store(docs.where(F.col("doc_id") < 3), path)
    upsert_lexical_store(spark, path, docs.where(F.col("doc_id") >= 3))
    phrases = leading_phrases(docs.where(F.col("doc_id") == 100))
    one_plan = sorted(map(tuple, phrase_search(docs, phrases).collect()))
    served = sorted(
        map(
            tuple,
            search_lexical_store_phrase(spark, path, phrases).collect(),
        )
    )
    assert served == one_plan and len(served) > 0
    # compaction is pure layout for positions too
    compact_lexical_store(spark, path)
    recompacted = sorted(
        map(
            tuple,
            search_lexical_store_phrase(spark, path, phrases).collect(),
        )
    )
    assert recompacted == one_plan


def test_ngram_contamination_catches_what_jaccard_dedup_cannot(spark):
    """The operator's reason to exist: a short benchmark prompt quoted
    verbatim inside a long document is invisible to n-gram Jaccard
    (tiny intersection/union ratio) but is full-strength containment."""
    from jaccard_mapreduce_spark.operators.dedup import (
        ngram_contamination,
        ngram_duplicates,
    )

    bench_text = "solve the riddle of the sphinx"
    long_doc = " ".join(
        f"filler{i} word{i} pad{i}" for i in range(40)
    ) + " " + bench_text + " " + " ".join(
        f"tail{i} more{i}" for i in range(40)
    )
    docs = spark.createDataFrame(
        [(1, long_doc), (2, "an unrelated document about nothing")],
        "doc_id long, text string",
    )
    benchmarks = spark.createDataFrame(
        [(100, bench_text)], "doc_id long, text string"
    )
    out = ngram_contamination(docs, benchmarks, n=3).collect()
    assert len(out) == 1
    row = out[0]
    assert (row["bench_id"], row["doc_id"]) == (100, 1)
    # the benchmark's 4 trigrams all appear verbatim in the long doc
    assert row["n_shared"] == row["n_bench_ngrams"] == 4
    # ...while Jaccard dedup at any sane threshold sees nothing
    corpus = docs.unionByName(benchmarks)
    assert (
        ngram_duplicates(corpus, n=3, threshold=0.1)
        .where((F.col("doc_a") == 1) | (F.col("doc_b") == 1))
        .count()
        == 0
    )


def test_upsert_refuses_a_store_without_positions(spark, tmp_path):
    """posv3 twin of the marker precondition: upserting a pre-posv3
    store (markers present, no positions dataset) must refuse before
    any bytes land — an append would otherwise CREATE a positions dir
    holding only the batch and every later phrase serve would silently
    miss the base corpus."""
    import shutil

    from jaccard_mapreduce_spark.sources.lexical_store import (
        build_lexical_store,
        upsert_lexical_store,
    )

    path = str(tmp_path / "store")
    docs = _tiny_docs(spark)
    build_lexical_store(docs.where(F.col("doc_id") <= 2), path)
    shutil.rmtree(f"{path}/positions")
    before = spark.read.parquet(f"{path}/postings").count()
    with pytest.raises(ValueError, match="positions"):
        upsert_lexical_store(spark, path, docs.where(F.col("doc_id") == 3))
    assert spark.read.parquet(f"{path}/postings").count() == before
    import os

    assert not os.path.exists(f"{path}/positions")

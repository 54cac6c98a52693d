"""Round-10 features: de-vacuated retrieval grades, the IVF compaction
contract face, the lexical store's ops symmetry (stats / compaction /
streaming ingest), and the retrieval scale probe."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given
from hypothesis import settings as hyp_settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_df_weights_rejects_a_ratio_that_rounds_to_zero(spark):
    """round-9 ADVICE: max_df_ratio < 0.005 rounds to 0% and would
    silently prune every token — it must raise instead."""
    from jaccard_mapreduce_spark.operators.retrieval import df_weights

    dfr = spark.createDataFrame([("a", 1)], "token string, df long")
    with pytest.raises(ValueError, match="rounds to 0%"):
        df_weights(dfr, 100, max_df_ratio=0.004)
    # 0.005 ties-to-even DOWN to 0% (Python round) — also rejected
    with pytest.raises(ValueError, match="rounds to 0%"):
        df_weights(dfr, 100, max_df_ratio=0.005)
    assert df_weights(dfr, 100, max_df_ratio=0.01).count() == 1


def test_graded_prune_ratio_is_two_sided_at_the_driver_fixture(spark):
    """The round-10 de-vacuation hinges on GRADED_MAX_DF_RATIO both
    RETIRING and KEEPING tokens at the graded fixtures (retire-only or
    keep-only would prove half the prune): pin that shape on the
    smallest fixture so a testdata regeneration that breaks it fails
    here, not as a silent vacuous driver grade."""
    from jaccard_mapreduce_spark.operators.jaccard import doc_tokens
    from jaccard_mapreduce_spark.operators.retrieval import (
        GRADED_MAX_DF_RATIO,
        df_weights,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    n = docs.count()
    dfr = (
        doc_tokens(docs)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    total = dfr.count()
    kept = df_weights(dfr, n, GRADED_MAX_DF_RATIO).count()
    assert 0 < kept < total, (total, kept)


def test_graded_retrieval_lexical_legs_are_populated(spark):
    """The round-9 verdict's top finding: five retrieval grades passed
    with an EMPTY lexical leg. The graded shapes now run at
    GRADED_MAX_DF_RATIO — assert the populated-leg invariants the
    driver hash now rests on, at the small fixture."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        GRADED_MAX_DF_RATIO,
        hybrid_search,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    fused = hybrid_search(
        docs, emb, max_df_ratio=GRADED_MAX_DF_RATIO
    ).collect()
    assert any(r.lex_rank is not None for r in fused), (
        "hybrid_search graded shape has a vacuous lexical leg"
    )


def test_lexical_store_search_demo_returns_rows(spark):
    from registry_fixtures import lexical_store_search_demo

    rows = lexical_store_search_demo(spark, SF_SMALL).collect()
    assert rows, "graded lexical store search returned no rows"
    assert all(r.score > 0 for r in rows)


def test_ivf_compact_is_invisible_to_search(spark):
    """Post-compaction IVF search must equal the upsert demo's search
    (same base slice, same fixed codebook, compaction pure layout)."""
    from registry_fixtures import (
        ivf_index_compact_demo,
        ivf_index_upsert_demo,
    )

    got = sorted(map(tuple, ivf_index_compact_demo(spark, SF_SMALL).collect()))
    want = sorted(map(tuple, ivf_index_upsert_demo(spark, SF_SMALL).collect()))
    assert got == want


def test_lexical_store_stats_match_direct_recomputation(spark, tmp_path):
    from jaccard_mapreduce_spark.operators.jaccard import doc_tokens
    from jaccard_mapreduce_spark.sources.lexical_store import (
        build_lexical_store,
        lexical_store_stats,
        upsert_lexical_store,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i} w{i % 3}") for i in range(8)],
        "doc_id long, text string",
    )
    base = str(tmp_path / "store")
    build_lexical_store(docs.where("doc_id < 5"), base)
    upsert_lexical_store(spark, base, docs.where("doc_id >= 5"))
    st = lexical_store_stats(spark, base)
    tok = doc_tokens(docs)
    assert st["n_docs"] == 8
    assert st["n_postings"] == tok.count()
    assert st["n_tokens"] == tok.select("token").distinct().count()
    assert st["max_df"] == 8  # alpha/beta are in every doc
    # file counts are the compaction trigger's input: the upsert
    # appended a second generation into postings
    assert st["postings_files"] >= 2
    assert st["df_files"] >= 1


def test_lexical_compact_preserves_search_and_reduces_files(spark, tmp_path):
    from jaccard_mapreduce_spark.sources.lexical_store import (
        build_lexical_store,
        compact_lexical_store,
        lexical_store_stats,
        search_lexical_store,
        upsert_lexical_store,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha w{i} w{i % 4} w{(i + 1) % 4}") for i in range(12)],
        "doc_id long, text string",
    )
    base = str(tmp_path / "store")
    build_lexical_store(docs.where("doc_id < 6"), base)
    upsert_lexical_store(spark, base, docs.where("doc_id >= 6"))
    q = docs.where("doc_id % 4 = 0")
    before = sorted(
        map(tuple, search_lexical_store(spark, base, q, max_df_ratio=1.0).collect())
    )
    files_before = lexical_store_stats(spark, base)["postings_files"]
    out = compact_lexical_store(spark, base, n_files=1)
    assert out["postings"][0] == files_before
    assert out["postings"][1] == 1
    after = sorted(
        map(tuple, search_lexical_store(spark, base, q, max_df_ratio=1.0).collect())
    )
    assert before == after


def test_stream_lexical_ingest_equals_fresh_build(spark, tmp_path):
    """Batch boundaries must be invisible: a store grown by streaming
    micro-batch upserts answers exactly like a one-shot build."""
    import os

    from jaccard_mapreduce_spark.sources.lexical_store import (
        build_lexical_store,
        search_lexical_store,
        upsert_lexical_store_stream,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i % 5} w{i % 7} common") for i in range(20)],
        "doc_id long, text string",
    )
    streamed = str(tmp_path / "streamed")
    build_lexical_store(docs.where("doc_id < 8"), streamed)
    in_dir = str(tmp_path / "in")
    docs.where("doc_id >= 8").repartition(3).write.parquet(in_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = upsert_lexical_store_stream(
        stream, streamed, str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination()

    fresh = str(tmp_path / "fresh")
    build_lexical_store(docs, fresh)
    probe = docs.where("doc_id % 4 = 0")
    got = sorted(
        map(tuple, search_lexical_store(spark, streamed, probe, max_df_ratio=1.0).collect())
    )
    want = sorted(
        map(tuple, search_lexical_store(spark, fresh, probe, max_df_ratio=1.0).collect())
    )
    assert got == want and got


def test_scale_probe_weights_are_replication_invariant(spark):
    """(N·f) div (df·f) == N div df exactly: each replica-0 query's
    scores in the probe must equal the unreplicated one-plan search."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        GRADED_MAX_DF_RATIO,
        lexical_scale_probe,
        lexical_topk,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    probe = lexical_scale_probe(docs, target_docs=200)  # floor factor 2
    base_queries = (
        probe.where("query_id < 1000000")
        .groupBy("query_id")
        .agg(F.max("score").alias("top_score"))
        .collect()
    )
    plain = (
        lexical_topk(
            docs,
            docs.where("doc_id % 100 = 0"),
            max_df_ratio=GRADED_MAX_DF_RATIO,
        )
        .groupBy("query_id")
        .agg(F.max("score").alias("top_score"))
        .collect()
    )
    assert {r.query_id: r.top_score for r in base_queries} == {
        r.query_id: r.top_score for r in plain
    }


def test_events_approx_stats_estimates_land_near_exact(spark):
    """The key was retired from the registry (its surface is graded via
    events_approx_check) — the FUNCTION stays public API and its
    estimates must keep landing inside the check's envelopes."""
    from jaccard_mapreduce_spark.operators.relational import (
        events_approx_stats,
    )
    from jaccard_mapreduce_spark.sources.tables import load_events

    events = load_events(spark, SF_SMALL)
    exact = {
        r.event_type: r
        for r in events.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("users"),
            F.expr("percentile(value, array(0.4, 0.6, 0.9, 0.99))").alias("p"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    for row in events_approx_stats(events).collect():
        e = exact[row.event_type]
        assert row.n_events == e.n
        assert abs(row.approx_users - e.users) <= max(1, 0.05 * e.users)
        assert e.p[0] <= row.approx_p50_value <= e.p[1]
        assert e.p[2] <= row.approx_p95_value <= e.p[3]


def test_hybrid_scale_probe_fuses_both_legs_at_factor(spark):
    """Fused ranking over the replicated corpora: every replica of a
    query doc queries both legs (shared 1e6 stride), and both legs
    contribute non-null ranks somewhere in the fused output."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        hybrid_scale_probe,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    out = hybrid_scale_probe(docs, emb, target_docs=1000).collect()  # 2x
    qids = {r.query_id for r in out}
    assert any(q >= 1_000_000 for q in qids), "replica queries missing"
    assert any(r.lex_rank is not None for r in out)
    assert any(r.vec_rank is not None for r in out)
    for q in qids:
        ranks = sorted(r.rank for r in out if r.query_id == q)
        assert ranks == list(range(1, len(ranks) + 1))


def test_bm25_tf_and_length_normalization(spark):
    """The two behaviors the set-semantics lexical tier cannot express:
    (a) a doc repeating the query term outranks a single mention;
    (b) between two docs with the same tf, the shorter wins."""
    from jaccard_mapreduce_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [
            (0, "rare common filler"),
            # doc 1: rare x3, short
            (1, "rare rare rare pad"),
            # doc 2: rare x1, short — lower tf than doc 1
            (2, "rare pad qqq"),
            # doc 3: rare x1, long — same tf as doc 2 but longer
            (3, "rare pad w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
            (4, "unrelated words only here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.neighbor_id: (r.score, r.rank)
        for r in bm25_topk(
            docs, docs.where("doc_id = 0"), max_df_ratio=1.0
        ).collect()
    }
    assert out[1][0] > out[2][0], "tf saturation missing"
    assert out[2][0] > out[3][0], "length normalization missing"
    assert 4 not in out, "no shared term, must not be a candidate"


def test_bm25_score_is_engine_exact_integer(spark):
    """Every score is a BIGINT built from div/mul/add of exact
    integers — spot-check one pair by hand-computing the formula."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        bm25_topk,
        doc_term_freqs,
    )

    docs = spark.createDataFrame(
        [(0, "x y"), (1, "x x z"), (2, "y z z z")],
        "doc_id long, text string",
    )
    tfr = {
        (r.doc_id, r.token): (r.tf, r.dl)
        for r in doc_term_freqs(docs).collect()
    }
    n, total = 3, sum(tf for tf, _ in tfr.values())
    a = total // n
    def sat(tf, dl):
        return (22000 * a * tf) // (10 * a * tf + 3 * a + 9 * dl)
    # query doc 0 ("x y") vs neighbor 1 ("x x z"): shared term x,
    # df(x)=2 -> w = 3 // 2 = 1, tf(x in 1) = 2, dl(1) = 3
    want = (3 // 2) * sat(*tfr[(1, "x")])
    got = {
        r.neighbor_id: r.score
        for r in bm25_topk(
            docs, docs.where("doc_id = 0"), k=5, max_df_ratio=1.0
        ).collect()
    }
    assert got[1] == want


def test_store_bm25_equals_one_plan(spark, tmp_path):
    """The tf-carrying store serves BM25 exactly: build-on-slice +
    upsert-the-rest probed under BM25 must equal the one-plan
    bm25_topk over the full corpus (tf/dl are per-doc facts; df and
    n_docs merge additively)."""
    from jaccard_mapreduce_spark.operators.retrieval import bm25_topk
    from jaccard_mapreduce_spark.sources.lexical_store import (
        build_lexical_store,
        search_lexical_store_bm25,
        upsert_lexical_store,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i % 5} w{i % 5} w{i % 7} common x{i}") for i in range(16)],
        "doc_id long, text string",
    )
    base = str(tmp_path / "store")
    build_lexical_store(docs.where("doc_id < 10"), base)
    upsert_lexical_store(spark, base, docs.where("doc_id >= 10"))
    q = docs.where("doc_id % 4 = 0")
    got = sorted(
        map(
            tuple,
            search_lexical_store_bm25(
                spark, base, q, max_df_ratio=1.0
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, bm25_topk(docs, q, max_df_ratio=1.0).collect())
    )
    assert got == want and got


def test_hybrid_bm25_fusion_uses_the_tf_leg(spark):
    """The BM25 leg must actually change the lexical evidence relative
    to the set-semantics leg when tf differs — and the fused relation
    keeps the per-query dense-rank contract."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        GRADED_MAX_DF_RATIO,
        hybrid_bm25_search,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    out = hybrid_bm25_search(
        docs, emb, max_df_ratio=GRADED_MAX_DF_RATIO
    ).collect()
    assert any(r.lex_rank is not None for r in out)
    assert any(r.vec_rank is not None for r in out)
    for q in {r.query_id for r in out}:
        ranks = sorted(r.rank for r in out if r.query_id == q)
        assert ranks == list(range(1, len(ranks) + 1))


def _py_bm25(docs, query_id, max_df_pct=100):
    """Independent pure-Python reimplementation of the integer BM25
    (duplicates counted, 1%-granularity prune, all // arithmetic)."""
    import re

    tok_re = re.compile(r"[^a-z0-9\s]")
    tfs = {}
    for d, t in docs:
        toks = [x for x in tok_re.sub(" ", t.lower()).split() if x]
        row = {}
        for x in toks:
            row[x] = row.get(x, 0) + 1
        tfs[d] = (row, len(toks))
    n = len(docs)
    total = sum(dl for _, dl in tfs.values())
    a = total // n
    df = {}
    for row, _ in tfs.values():
        for t in row:
            df[t] = df.get(t, 0) + 1
    w = {
        t: n // c for t, c in df.items() if c * 100 <= max_df_pct * n
    }
    q = set(tfs[query_id][0])
    out = {}
    for d, (row, dl) in tfs.items():
        if d == query_id:
            continue
        score = 0
        for t in q & set(row):
            if t not in w:
                continue
            tf = row[t]
            score += w[t] * (
                (22000 * a * tf) // (10 * a * tf + 3 * a + 9 * dl)
            )
        if score or (q & set(row) & set(w)):
            out[d] = score
    return out


@pytest.mark.usefixtures("spark")
@hyp_settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
        min_size=1,
        max_size=10,
    ).map(" ".join),
    min_size=2,
    max_size=7,
))
def test_bm25_matches_python_reference(spark, texts):
    """Adversarial random corpora (tiny shared vocabulary => heavy tf
    duplication and df collisions) against a from-scratch Python
    reimplementation of the integer BM25."""
    from jaccard_mapreduce_spark.operators.retrieval import bm25_topk

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    want = _py_bm25(docs, 0, max_df_pct=100)
    got = {
        r.neighbor_id: r.score
        for r in bm25_topk(
            df, df.where("doc_id = 0"), k=50, max_df_ratio=1.0
        ).collect()
    }
    assert got == want


def test_bm25_plan_shape(spark):
    """The BM25 plan must keep the lexical tier's scale skeleton:
    broadcast query side, partial aggregation before the exchange, and
    the two-phase WindowGroupLimit top-k prune."""
    from jaccard_mapreduce_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    df = bm25_topk(docs, docs.where("doc_id % 100 = 0"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert plan.count("WindowGroupLimit") >= 2
    assert "partial_sum" in plan or "HashAggregate" in plan


def test_approx_check_envelopes_hold_on_tiny_groups(spark):
    """Round-10 review finding: interpolated exact bounds tighter than
    the group extremes can fall inside percentile_approx's returned
    order statistic on small groups. The envelopes must be TRUE for
    every group size, down to 1-row and 2-row groups with extreme
    spread."""
    from jaccard_mapreduce_spark.operators.relational import (
        events_approx_check,
    )

    rows = []
    # 2-row group with extreme spread (the old p40/p99 bounds both fail
    # on this shape), a 1-row group, and a mid-size group
    rows += [(1, "tiny", 1.0), (2, "tiny", 100.0)]
    rows += [(3, "one", 42.0)]
    rows += [(i + 10, "mid", float(i)) for i in range(10)]
    events = spark.createDataFrame(
        rows, "user_id long, event_type string, value double"
    )
    out = events_approx_check(events).collect()
    assert len(out) == 3
    for r in out:
        assert r.hll_ok and r.p50_ok and r.p95_ok, r

"""Round-9 additions: the stored-index searches' auto gate, the LSH
kernel's hot-bucket skew fixture, and the IVF cell kernel's block-grid
decomposition (round-8 ADVICE, medium)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, SF_SMALL


def _rank_rows(df):
    return sorted(
        (r.query_id, r.neighbor_id, r["rank"])
        for r in df.select("query_id", "neighbor_id", "rank").collect()
    )


def test_index_search_auto_matches_exact(spark, tmp_path):
    """The stored-index searches' auto gate: default rerank on both
    families must reproduce the explicit exact tier over the same
    index (auto resolves to exact at this scale)."""
    from jaccard_mapreduce_spark.sources.vector_index import (
        build_ivf_index,
        build_lsh_index,
        search_ivf_index,
        search_lsh_index,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    ivf = str(tmp_path / "ivf")
    lsh = str(tmp_path / "lsh")
    build_ivf_index(emb, ivf)
    build_lsh_index(emb, lsh)
    assert _rank_rows(search_ivf_index(spark, ivf, emb, k=5)) == _rank_rows(
        search_ivf_index(spark, ivf, emb, k=5, rerank="exact")
    )
    assert _rank_rows(search_lsh_index(spark, lsh, emb, k=5)) == _rank_rows(
        search_lsh_index(spark, lsh, emb, k=5, rerank="exact")
    )


def test_skew_fixture_provably_crosses_block_threshold(spark):
    """The graded lsh_dist_skew entry's execution must actually
    decompose: at the graded sf0.01 scale, 1-plane tables concentrate
    ~n/2 vectors per bucket, far past the fixture's block_rows=64 —
    and the decomposed result must equal the undecomposed one, scores
    included, at the same deliberately-degenerate params."""
    from jaccard_mapreduce_spark.operators.similarity import (
        _lsh_signature_expr,
        ann_lsh_topk,
        lsh_tables,
        vectors,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    tables = lsh_tables(64, 1, 2)
    sig_array = ", ".join(_lsh_signature_expr("vec", p) for p in tables)
    sigv = vectors(emb).select(
        F.posexplode(F.expr(f"array({sig_array})")).alias("tbl", "bucket")
    )
    hottest = (
        sigv.groupBy("tbl", "bucket").count().agg(F.max("count")).first()[0]
    )
    assert hottest > 64, (
        f"fixture no longer crosses the block threshold (max bucket "
        f"{hottest} <= 64) — the graded entry would not exercise the "
        "decomposed path"
    )
    skew = ann_lsh_topk(emb, k=10, n_planes=1, n_tables=2, block_rows=64)
    whole = ann_lsh_topk(emb, k=10, n_planes=1, n_tables=2)
    assert sorted(map(tuple, skew.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_cell_kernel_block_grid_is_invisible(spark):
    """The IVF cell scorer now rides the bipartite block grid: forcing
    a tiny block size on a hot cell must not change WHAT is scored —
    same pairs, same scores as the undecomposed kernel (round-8
    ADVICE: a mistuned codebook concentrating one cell previously
    scored it in a single unbounded task)."""
    from jaccard_mapreduce_spark.operators.similarity import (
        _score_cell_local,
    )

    rows = [
        (i, [float(i % 5) + 1.0, float(i % 3)], None, 0, 1 if i < 9 else 2)
        for i in range(12)
    ]
    assigned = spark.createDataFrame(
        [
            (vid, vec, float(vec[0] * vec[0] + vec[1] * vec[1]), cell, crank)
            for vid, vec, _n, cell, crank in rows
        ],
        "vec_id long, vec array<double>, norm2 double, cell_id int, crank int",
    )
    base = sorted(
        map(tuple, _score_cell_local(assigned, "bigint").collect())
    )
    blocked = sorted(
        map(tuple, _score_cell_local(assigned, "bigint", block_rows=4).collect())
    )
    assert base == blocked
    # every (query-occurrence, crank-1 resident) ordered pair except
    # self-pairs, each exactly once
    residents = {vid for vid, _v, _n, _c, crank in rows if crank == 1}
    expected = {
        (q, i) for q, *_ in rows for i in residents if q != i
    }
    assert {(r[0], r[1]) for r in base} == expected


def test_bipartite_one_sided_hot_bucket_has_no_phantom_groups(spark):
    """A bucket hot on the q side with ZERO i rows (the semi-join-
    pruned shape) used to compute nblk_other = ceil(0/block) = 0 and
    F.sequence(0, -1) = [0, -1] — descending, duplicating the hot
    side into phantom groups. The clamp keeps the explode single-
    element; output stays empty and correct."""
    from jaccard_mapreduce_spark.operators.similarity import (
        _score_bipartite_local,
    )

    q_rows = [
        (i, [1.0, float(i)], 1.0 + i * i, None, 0, 7, "q") for i in range(10)
    ]
    i_rows = [(100, [1.0, 1.0], 2.0, None, 0, 8, "i")]
    sv = spark.createDataFrame(
        q_rows + i_rows,
        "vec_id long, vec array<double>, norm2 double, sigs array<bigint>, "
        "tbl int, bucket long, role string",
    )
    out = _score_bipartite_local(sv, "bigint", block_rows=4).collect()
    # bucket 7 has no i rows -> nothing scored there; bucket 8 has no
    # q rows -> nothing there either
    assert out == []


def test_incremental_join_frontier_emit_once_multi_batch(
    spark, tmp_path, monkeypatch, corpus_txt
):
    """The round-9 join frontier replaced the (pair, token) DISTINCT
    with an emit-once join condition (both-new pairs via the a < b
    direction, new×old via their only new side). Force the JOIN path by
    shrinking the bitmask gate, drive 3 micro-batches, and require
    byte-equality with the batch pipeline — any double- or missed
    emission changes an intersection count."""
    from jaccard_mapreduce_spark.operators import jaccard as jaccard_mod
    from jaccard_mapreduce_spark.operators.jaccard import (
        doc_tokens,
        jaccard_pairs,
    )
    from jaccard_mapreduce_spark.sources.corpus import read_corpus_text
    from jaccard_mapreduce_spark.streaming import incremental as inc_mod
    from pyspark.sql import functions as F

    # the cap is read by the all-pairs gate in operators/jaccard.py
    monkeypatch.setattr(jaccard_mod, "_BITMASK_MAX_VOCAB", 0)

    corpus = read_corpus_text(spark, corpus_txt)
    in_dir = str(tmp_path / "in")
    parts = corpus.withColumn(
        "part", (F.crc32(F.col("doc_id").cast("binary")) % 3).cast("int")
    )
    for i in range(3):
        parts.where(F.col("part") == i).drop("part").write.mode(
            "append" if i else "overwrite"
        ).parquet(in_dir)
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    inc = inc_mod.IncrementalJaccard(
        spark, str(tmp_path / "state"), str(tmp_path / "scores")
    )
    # the patched gate must route to the join frontier: no popcount
    tokens = doc_tokens(corpus)
    frontier = inc._score_new(tokens, tokens)
    plan = frontier._jdf.queryExecution().optimizedPlan().toString()
    assert "bit_count" not in plan
    q = inc.attach(stream)
    q.processAllAvailable()
    q.stop()
    got = (
        spark.read.parquet(str(tmp_path / "scores"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max(
                F.struct(
                    "batch_id", "intersection", "size_a", "size_b",
                    "similarity",
                )
            ).alias("s")
        )
        .select(
            "doc_a", "doc_b", "s.intersection", "s.size_a", "s.size_b",
            "s.similarity",
        )
    )
    want = jaccard_pairs(corpus, strategy="join")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_retrain_gate_reset_and_equivalence(spark, tmp_path):
    """retrain_ivf_index honors the staleness threshold, resets the
    counter via the fresh generation (no _staleness file), and the
    retrained index equals a fresh build over the same corpus."""
    from jaccard_mapreduce_spark.sources.vector_index import (
        build_ivf_index,
        index_staleness,
        retrain_ivf_index,
        search_ivf_index,
        upsert_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    idx = str(tmp_path / "idx")
    fresh = str(tmp_path / "fresh")
    build_ivf_index(emb.where("vec_id % 4 != 0"), idx)
    n_up = upsert_ivf_index(spark, idx, emb.where("vec_id % 4 = 0"))
    assert index_staleness(idx, spark) == n_up > 0
    # below the threshold: nothing happens, counter intact
    assert retrain_ivf_index(spark, idx, min_staleness=n_up + 1) is False
    assert index_staleness(idx, spark) == n_up
    # at the threshold: retrain runs and the counter resets
    assert retrain_ivf_index(spark, idx, min_staleness=n_up) is True
    assert index_staleness(idx, spark) == 0
    build_ivf_index(emb, fresh)
    got = sorted(
        map(tuple, search_ivf_index(spark, idx, emb, k=5).collect())
    )
    want = sorted(
        map(tuple, search_ivf_index(spark, fresh, emb, k=5).collect())
    )
    assert got == want


def test_retune_derives_width_and_equals_fresh_build(spark, tmp_path):
    """retune_lsh_index with no explicit width sizes the rebuild from
    lsh_params_for over the stored corpus, returns that width, and the
    retuned index answers exactly like one built right initially."""
    from jaccard_mapreduce_spark.operators.similarity import lsh_params_for
    from jaccard_mapreduce_spark.sources.vector_index import (
        build_lsh_index,
        retune_lsh_index,
        search_lsh_index,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    idx = str(tmp_path / "idx")
    fresh = str(tmp_path / "fresh")
    build_lsh_index(emb, idx, n_planes=1, n_tables=2)
    got_planes = retune_lsh_index(spark, idx)
    want_planes = lsh_params_for(emb.count())
    assert got_planes == want_planes
    build_lsh_index(emb, fresh, n_planes=want_planes)
    got = sorted(
        map(tuple, search_lsh_index(spark, idx, emb, k=5).collect())
    )
    want = sorted(
        map(tuple, search_lsh_index(spark, fresh, emb, k=5).collect())
    )
    assert got == want

def test_index_stats_faces_track_lifecycle(spark, tmp_path):
    """The stats snapshots report the REAL store state across the
    lifecycle: IVF staleness follows upsert/retrain, occupancy sums to
    the vector count, and the file counts move when compaction rewrites
    the datasets (the numbers the maintenance triggers read)."""
    from jaccard_mapreduce_spark.sources.vector_index import (
        build_ivf_index,
        build_lsh_index,
        compact_lsh_index,
        ivf_index_stats,
        lsh_index_stats,
        retrain_ivf_index,
        upsert_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    n = emb.count()
    ivf = str(tmp_path / "ivf")
    build_ivf_index(emb.where("vec_id % 4 != 0"), ivf, n_cells=8)
    st = ivf_index_stats(spark, ivf)
    assert st["staleness"] == 0 and st["n_cells"] == 8
    n_up = upsert_ivf_index(spark, ivf, emb.where("vec_id % 4 = 0"))
    st = ivf_index_stats(spark, ivf)
    assert st["staleness"] == n_up > 0
    assert st["n_vectors"] == n
    assert 0 < st["n_occupied_cells"] <= 8
    assert st["max_cell_vectors"] >= (n + 7) // 8  # pigeonhole
    assert st["centroids_files"] >= 1 and st["cells_files"] >= 1
    assert retrain_ivf_index(spark, ivf, min_staleness=1) is True
    assert ivf_index_stats(spark, ivf)["staleness"] == 0

    lsh = str(tmp_path / "lsh")
    build_lsh_index(emb, lsh, n_planes=3, n_tables=2)
    st = lsh_index_stats(spark, lsh)
    assert st["n_tables"] == 2 and st["n_planes"] == 3
    assert st["n_vectors"] == n
    # 2 tables × ≤2^3 buckets, and every vector signs into each table
    assert 2 <= st["n_bucket_groups"] <= 16
    assert st["max_bucket_vectors"] >= (n + 7) // 8
    before = st["signatures_files"]
    compact_lsh_index(spark, lsh, n_files=1)
    st2 = lsh_index_stats(spark, lsh)
    assert st2["signatures_files"] <= before
    assert st2["signatures_files"] == 1
    # the snapshot is read-only: occupancy unchanged by compaction
    assert (st2["n_bucket_groups"], st2["max_bucket_vectors"]) == (
        st["n_bucket_groups"], st["max_bucket_vectors"]
    )

def test_lexical_leg_prunes_hot_tokens_and_weights_by_rarity(spark):
    """A token in every document (df past max_df_ratio) must never
    reach the fan-out join — it carries ~zero weight and is the
    hot-token hazard — while surviving tokens score n_docs div df."""
    from jaccard_mapreduce_spark.operators.retrieval import lexical_topk

    docs = spark.createDataFrame(
        [
            (0, "apple common"),
            (1, "apple common"),
            (2, "banana common"),
            (3, "cherry common"),
        ],
        "doc_id long, text string",
    )
    got = lexical_topk(
        docs, docs.where("doc_id = 0"), k=3, max_df_ratio=0.5
    ).collect()
    # only doc 1 shares a surviving token ('apple', df=2 -> w = 4 div 2);
    # docs 2 and 3 share ONLY the pruned 'common' and must be absent
    assert [(r.query_id, r.neighbor_id, r.score, r.rank) for r in got] == [
        (0, 1, 2, 1)
    ]
    plan = lexical_topk(
        docs, docs.where("doc_id = 0"), k=3
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # query tokens ride broadcast


def test_hybrid_fusion_math_and_one_leg_rows(spark):
    """RRF terms are 1/(60+rank) summed lexical-then-vector; a
    neighbor found by one leg only carries a null for the other leg's
    rank and still fuses."""
    from jaccard_mapreduce_spark.operators.retrieval import hybrid_search

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    out = hybrid_search(docs, emb, k=10, query_mod=100).collect()
    assert out, "no fused rows at sf0.001"
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
        want = (1.0 / (60 + r.lex_rank) if r.lex_rank is not None else 0.0) + (
            1.0 / (60 + r.vec_rank) if r.vec_rank is not None else 0.0
        )
        assert r.rrf_score == want  # exact: same integer operands
        assert r.query_id % 100 == 0 and r.neighbor_id != r.query_id
    for rows in by_q.values():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        # fused order is (rrf desc, neighbor asc)
        key = [(-r.rrf_score, r.neighbor_id) for r in rows]
        assert key == sorted(key)
    # the triage signal exists: at least one row per corpus found by a
    # single leg (the legs disagree somewhere at leg_k=20 depth)
    assert any(r.lex_rank is None or r.vec_rank is None for r in out)

def test_stream_hybrid_serve_is_multi_batch_and_cache_clean(spark):
    """The streaming serve must actually decompose the query set across
    micro-batches (≥2 non-empty appends — a single-batch run would
    grade trivially) and must not leak per-batch cache entries (the
    24/7-stream hazard dedup_incremental_stream documents)."""
    from jaccard_mapreduce_spark.streaming.retrieval_serve import (
        stream_hybrid_serve,
    )

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    out = stream_hybrid_serve(spark, SF_SMALL, query_mod=20, n_input_files=3)
    rows = out.collect()
    assert rows
    # parquet appends carry task-file provenance: >1 distinct source
    # file per run proves >1 micro-batch wrote (3 input files, 1 per
    # trigger)
    n_files = (
        out.select(F.input_file_name().alias("f")).distinct().count()
    )
    assert n_files >= 2, "stream collapsed into a single micro-batch"
    after = jsc.getPersistentRDDs().size()
    # the lexical index and every batch pin are released; the shared
    # session LSH store holds no persisted RDDs (it is parquet-backed)
    assert after <= before, f"leaked cache entries: {before} -> {after}"

def test_stream_hybrid_serve_matches_one_shot_on_mismatched_ids(
    spark, tmp_path
):
    """Batching must stay invisible even when the doc and embedding id
    spaces only partially overlap: a text-only query keeps its lexical
    results, an embedding-only query keeps its vector results, in BOTH
    the one-shot and the streamed serve (an inner-join stream input
    would silently drop the text-only queries)."""
    import random

    from jaccard_mapreduce_spark.sources.vector_index import (
        hybrid_index_search_demo,
    )
    from jaccard_mapreduce_spark.streaming.retrieval_serve import (
        stream_hybrid_serve,
    )

    sf = str(tmp_path / "sf")
    rng = random.Random(7)
    # vocabulary wide enough that no token crosses the 50% df prune
    # (a 6-word vocab put EVERY token in >70% of docs and emptied the
    # lexical leg entirely)
    words = [f"w{i}" for i in range(60)]
    docs = [
        (i, " ".join(rng.choice(words) for _ in range(8)))
        for i in range(0, 30)  # doc ids 0..29
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{sf}/documents.parquet"
    )
    embs = [
        (i, [float(rng.randint(-5, 5)) for _ in range(64)], 0)
        for i in range(10, 40)  # vec ids 10..39: 10 text-only, 10 vec-only
    ]
    spark.createDataFrame(
        embs, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf}/embeddings.parquet")

    # query_mod=10 -> query ids {0,10,20} (docs) ∪ {10,20,30} (embs):
    # 0 is text-only, 30 is embedding-only, 10/20 have both
    got = sorted(
        map(
            tuple,
            stream_hybrid_serve(
                spark, sf, query_mod=10, n_input_files=2
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            hybrid_index_search_demo(spark, sf, query_mod=10).collect(),
        )
    )
    assert got == want
    qids = {r[0] for r in got}
    assert 0 in qids and 30 in qids, "one-leg-only queries were dropped"

def test_lexical_store_upsert_is_exact_and_retires_hot_tokens(
    spark, tmp_path
):
    """Build-then-upsert must equal a fresh build over the union
    (additive df/n_docs merge — exact, no staleness), and a token
    pushed over the df threshold BY the upsert must stop matching:
    weights derive from stored stats at probe time, so yesterday's
    discriminative token retires when it becomes a stop word."""
    from jaccard_mapreduce_spark.sources.lexical_store import (
        build_lexical_store,
        search_lexical_store,
        upsert_lexical_store,
    )

    docs = spark.createDataFrame(
        [
            (0, "rare common"),
            (1, "rare common"),
            (2, "other common"),
            (3, "word common"),
            # the upsert batch floods 'rare' past 50% df
            (4, "rare thing"),
            (5, "rare thing2"),
            (6, "rare thing3"),
            (7, "rare thing4"),
        ],
        "doc_id long, text string",
    )
    base, fresh = str(tmp_path / "base"), str(tmp_path / "fresh")
    build_lexical_store(docs.where("doc_id < 4"), base)
    n = upsert_lexical_store(spark, base, docs.where("doc_id >= 4"))
    assert n == 4
    build_lexical_store(docs, fresh)
    q = docs.where("doc_id = 0")
    got = sorted(map(tuple, search_lexical_store(spark, base, q).collect()))
    want = sorted(map(tuple, search_lexical_store(spark, fresh, q).collect()))
    assert got == want
    # 'rare' now sits in 5/8 docs (> 50% — PRUNED), 'common' in 4/8
    # (exactly 50% — kept, weight 8 div 4 = 2): doc 0 still matches
    # docs 1-3 through 'common' but docs 4-7, which share only the
    # retired 'rare', must be absent
    assert got == [(0, 1, 2, 1), (0, 2, 2, 2), (0, 3, 2, 3)]
    # before the upsert the stats cut the other way: 'rare' was 2/4
    # (kept, weight 4 div 2 = 2) and 'common' 4/4 (pruned), so doc 1
    # was the ONLY match — same probe, different stored stats
    pre = str(tmp_path / "pre")
    build_lexical_store(docs.where("doc_id < 4"), pre)
    pre_rows = sorted(
        map(tuple, search_lexical_store(spark, pre, q).collect())
    )
    assert pre_rows == [(0, 1, 2, 1)]

"""Streaming hybrid-retrieval serving: a query stream probed against
two PREPARED indexes — the pinned lexical inverted index and the
persisted LSH vector store — with per-batch RRF fusion appended to a
result log.

The serving claim this face grades: per-query retrieval is
batch-decomposable. A query's fused top-k depends only on the corpus
and that query — never on which micro-batch delivered it — so the
union of all batches' outputs must equal the one-shot batch
``hybrid_index_search`` over the same query set, hash-exact. (Contrast
``stream_incremental_jaccard``, where batches MUTATE shared state and
ordering is the hard part; here the state is read-only and the grade
pins arrival-order independence.)

Cache discipline for a 24/7 stream: the two index relations are pinned
ONCE (bounded, corpus-sized); each micro-batch pins only its own rows
and unpersists them after the append (``search_lsh_index`` is told the
batch is already pinned via ``queries_pinned=True`` so it does not add
a second, never-released cache entry per batch — the
``dedup_incremental_stream`` lesson)."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jaccard_mapreduce_spark.operators._cache import pin
from jaccard_mapreduce_spark.operators.retrieval import (
    bm25_probe,
    lexical_index,
    lexical_probe,
    rrf_fuse,
)


def hybrid_serve_stream(
    stream: DataFrame,
    lex_index: DataFrame,
    lsh_index_path: str,
    out_path: str,
    checkpoint: str,
    k: int = 10,
    leg_k: int = 20,
):
    """Wire a ``(doc_id, text, embedding)`` query stream through both
    prepared indexes; each micro-batch appends its fused top-``k`` to
    ``out_path``. Returns the unstarted ``DataStreamWriter`` (the
    ``upsert_ivf_index_stream`` convention). Exactly-once is NOT
    claimed: a replayed batch re-appends its (identical) rows —
    downstream dedup by ``(query_id, rank)`` is the recipe if the sink
    must be a set."""
    from jaccard_mapreduce_spark.sources.vector_index import (
        search_lsh_index,
    )

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        b = pin(batch_df)
        try:
            # null-guarded legs: a query row may carry text without an
            # embedding (or vice versa — the stream input is a full
            # outer join of the two id spaces), and each leg must see
            # exactly the rows the one-shot shape would
            lex = lexical_probe(
                lex_index,
                b.where(F.col("text").isNotNull()).select("doc_id", "text"),
                k=leg_k,
            )
            # the gate sizes its estimate from the batch count, so
            # micro-batches may take a different plan form than the
            # one-shot shape; every form scores bit-identically
            vec = search_lsh_index(
                b.sparkSession,
                lsh_index_path,
                b.where(F.col("embedding").isNotNull()).select(
                    F.col("doc_id").alias("vec_id"), "embedding"
                ),
                k=leg_k,
                queries_pinned=True,
            )
            rrf_fuse(lex, vec, k=k).write.mode("append").parquet(out_path)
        finally:
            b.unpersist()

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def bm25_serve_stream(
    stream: DataFrame,
    bm25_index: DataFrame,
    avg_dl: int,
    out_path: str,
    checkpoint: str,
    k: int = 10,
):
    """Wire a ``(doc_id, text)`` query stream against a prepared
    weighted tf index — ``(token, doc_id, tf, dl, w)``, the persisted
    lexical store's postings joined with its derived weights — scoring
    each micro-batch under the integer BM25 and appending its
    top-``k`` to ``out_path``. The round-10 verdict's symmetry gap:
    ``hybrid_serve_stream`` served only the set-semantics lexical leg;
    the tf-aware ranking was batch-only. Same serving claim as every
    serve face: the score depends only on the corpus statistics and
    the query, so the union over batches hash-matches the one-shot
    batch result whatever the batch boundaries were. Returns the
    unstarted writer; exactly-once NOT claimed (replayed batches
    re-append identical rows — the family's documented recipe)."""

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        b = pin(batch_df)
        try:
            bm25_probe(
                bm25_index,
                b.select("doc_id", "text"),
                avg_dl,
                k=k,
            ).write.mode("append").parquet(out_path)
        finally:
            b.unpersist()

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def stream_bm25_serve(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    query_mod: int = 100,
    n_input_files: int = 4,
    max_df_ratio: float | None = None,
) -> DataFrame:
    """Contract query for the streaming BM25 serve (round 11): the
    deterministic query batch split across ``n_input_files`` files,
    streamed one file per trigger through :func:`bm25_serve_stream`
    against the shared build-then-upsert lexical store, returning the
    union of all appended results. TWO invisibility claims compose in
    the graded hash: the store's additive-merge exactness (tf, dl, df,
    n_docs after build-then-upsert equal a fresh full build's — the
    ``lexical_store_bm25`` claim) and batch-decomposability (per-query
    scoring never sees batch boundaries), so the log must hash-match
    the ONE-PLAN full-corpus ``bm25_topk`` oracle. The store's
    statistics are read ONCE (markers + df) and the weighted index is
    pinned once — each micro-batch pays only its own probe, the 24/7
    cache discipline of the hybrid serve."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        GRADED_MAX_DF_RATIO,
        df_weights,
    )
    from jaccard_mapreduce_spark.sources._store import _read_live
    from jaccard_mapreduce_spark.sources.lexical_store import (
        _ensure_lex_store,
        _require_marker,
    )
    from jaccard_mapreduce_spark.sources.vector_index import _scratch_dir

    if max_df_ratio is None:
        max_df_ratio = GRADED_MAX_DF_RATIO
    base, docs = _ensure_lex_store(spark, sf_dir)
    n_docs = _require_marker(spark, base, "_n_docs")
    total = _require_marker(spark, base, "_n_tokens")
    w = df_weights(
        spark.read.parquet(f"{base}/df"), n_docs, max_df_ratio
    )
    bm25_idx = pin(
        _read_live(spark, base, "postings").join(
            F.broadcast(w.select("token", "w")), "token"
        )
    )
    scratch = _scratch_dir(spark, suffix="_bm25_serve")
    shutil.rmtree(scratch, ignore_errors=True)
    in_dir = os.path.join(scratch, "in")
    out_dir = os.path.join(scratch, "out")
    queries = docs.where(F.col("doc_id") % query_mod == 0).select(
        "doc_id", "text"
    )
    queries.repartition(n_input_files).write.parquet(in_dir)
    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = bm25_serve_stream(
        stream,
        bm25_idx,
        total // max(n_docs, 1),
        out_dir,
        os.path.join(scratch, "ckpt"),
        k=k,
    ).start()
    q.awaitTermination()
    try:
        out = spark.read.parquet(out_dir)
        # the family's vacuity guard: an empty served log must fail
        # loudly, not hash-match an equally-empty oracle
        assert out.limit(1).count() > 0, (
            "vacuous BM25 serve: no query doc matched a surviving token"
        )
        return out
    finally:
        bm25_idx.unpersist()


def phrase_serve_stream(
    stream: DataFrame,
    positions: DataFrame,
    out_path: str,
    checkpoint: str,
    k: int = 10,
):
    """Wire a ``(phrase_id, phrase)`` query stream against a prepared
    positional-postings relation (the persisted store's ``positions``
    dataset, pinned by the caller), appending each micro-batch's
    ranked phrase results to ``out_path`` — the third serving symmetry
    (set-semantics → BM25 → phrase). Same claims, same recipe:
    per-phrase scoring is batch-decomposable, exactly-once is NOT
    claimed."""
    from jaccard_mapreduce_spark.operators.retrieval import phrase_probe

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        b = pin(batch_df)
        try:
            phrase_probe(
                positions,
                b.select("phrase_id", "phrase"),
                k=k,
            ).write.mode("append").parquet(out_path)
        finally:
            b.unpersist()

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def stream_phrase_serve(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    query_mod: int = 100,
    n_terms: int = 2,
    n_input_files: int = 4,
) -> DataFrame:
    """Contract query for the streaming phrase serve (round 11): the
    deterministic phrase batch (each query doc's leading bigram) split
    across ``n_input_files`` files, streamed one file per trigger
    against the shared build-then-upsert store's positions, returning
    the union of appended results. The graded hash composes the
    store's additive-merge exactness (positions are per-document
    facts) with batch-decomposability against the one-plan full-corpus
    ``phrase_search`` oracle."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        leading_phrases,
    )
    from jaccard_mapreduce_spark.sources._store import _read_live
    from jaccard_mapreduce_spark.sources.lexical_store import (
        _ensure_lex_store,
    )
    from jaccard_mapreduce_spark.sources.vector_index import _scratch_dir

    base, docs = _ensure_lex_store(spark, sf_dir)
    positions = pin(_read_live(spark, base, "positions"))
    scratch = _scratch_dir(spark, suffix="_phrase_serve")
    shutil.rmtree(scratch, ignore_errors=True)
    in_dir = os.path.join(scratch, "in")
    out_dir = os.path.join(scratch, "out")
    leading_phrases(
        docs.where(F.col("doc_id") % query_mod == 0), n_terms=n_terms
    ).repartition(n_input_files).write.parquet(in_dir)
    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = phrase_serve_stream(
        stream,
        positions,
        out_dir,
        os.path.join(scratch, "ckpt"),
        k=k,
    ).start()
    q.awaitTermination()
    try:
        out = spark.read.parquet(out_dir)
        # the family's vacuity guard
        assert out.limit(1).count() > 0, (
            "vacuous phrase serve: no query bigram recurs in the corpus"
        )
        return out
    finally:
        positions.unpersist()


def proximity_serve_stream(
    stream: DataFrame,
    positions: DataFrame,
    out_path: str,
    checkpoint: str,
    slop: int = 2,
    k: int = 10,
    n_terms: int = 2,
):
    """Wire a ``(phrase_id, phrase)`` query stream against a prepared
    positional-postings relation under the ordered PROXIMITY scoring
    (round 12 — the fourth serving symmetry: set → BM25 → phrase →
    sloppy phrase), appending each micro-batch's ranked results to
    ``out_path``. Same claims as the phrase serve — per-phrase scoring
    is batch-decomposable, exactly-once is NOT claimed — but a
    different cache recipe, because the proximity chain scans its
    positional relation ``n_terms`` times where the phrase vote scans
    once: each micro-batch pins the Σ-df-bounded VOCABULARY CARVE of
    ``positions`` (query-shaped) and unpersists it after the append,
    so a 24/7 stream holds bounded cache regardless of store size.
    ``positions`` itself may be a raw parquet read (a store too large
    to cache — one scan per batch builds the carve) or a relation the
    caller pinned once (the carve then reads the cache)."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        proximity_carve,
        proximity_probe,
    )

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        b = pin(batch_df)
        carve = pin(
            proximity_carve(
                positions, b.select("phrase_id", "phrase"), n_terms
            )
        )
        try:
            proximity_probe(
                carve,
                b.select("phrase_id", "phrase"),
                slop=slop,
                k=k,
                n_terms=n_terms,
            ).write.mode("append").parquet(out_path)
        finally:
            carve.unpersist()
            b.unpersist()

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def stream_proximity_serve(
    spark: SparkSession,
    sf_dir: str,
    slop: int = 2,
    k: int = 10,
    query_mod: int = 100,
    n_terms: int = 3,
    n_input_files: int = 4,
) -> DataFrame:
    """Contract query for the streaming proximity serve (round 12):
    the deterministic trigram batch split across ``n_input_files``
    files, streamed one file per trigger against the shared
    build-then-upsert store's positions, returning the union of
    appended results. The graded hash composes the store's
    additive-merge exactness (positions are per-document facts) with
    batch-decomposability against the one-plan full-corpus
    ``proximity_search`` oracle — the same oracle as the one-plan and
    store-served faces, so all four proximity faces pin one
    arithmetic."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        leading_phrases,
    )
    from jaccard_mapreduce_spark.sources._store import _read_live
    from jaccard_mapreduce_spark.sources.lexical_store import (
        _ensure_lex_store,
    )
    from jaccard_mapreduce_spark.sources.vector_index import _scratch_dir

    base, docs = _ensure_lex_store(spark, sf_dir)
    positions = pin(_read_live(spark, base, "positions"))
    scratch = _scratch_dir(spark, suffix="_prox_serve")
    shutil.rmtree(scratch, ignore_errors=True)
    in_dir = os.path.join(scratch, "in")
    out_dir = os.path.join(scratch, "out")
    leading_phrases(
        docs.where(F.col("doc_id") % query_mod == 0), n_terms=n_terms
    ).repartition(n_input_files).write.parquet(in_dir)
    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = proximity_serve_stream(
        stream,
        positions,
        out_dir,
        os.path.join(scratch, "ckpt"),
        slop=slop,
        k=k,
        n_terms=n_terms,
    ).start()
    q.awaitTermination()
    try:
        out = spark.read.parquet(out_dir)
        # the family's vacuity guard
        assert out.limit(1).count() > 0, (
            "vacuous proximity serve: no query trigram matches within "
            "the window anywhere in the corpus"
        )
        return out
    finally:
        positions.unpersist()


def stream_hybrid_serve(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    leg_k: int = 20,
    query_mod: int = 100,
    n_input_files: int = 4,
    max_df_ratio: float | None = None,
) -> DataFrame:
    """Contract query: split the deterministic query batch
    (``doc_id % query_mod == 0``, joined with its embeddings) across
    ``n_input_files`` files, stream them one file per trigger through
    :func:`hybrid_serve_stream` against the shared session LSH store,
    and return the union of all appended results. Must hash-match the
    one-shot ``hybrid_index_search`` oracle — per-query serving is
    arrival-order independent, so HOW the queries were batched is
    invisible in the result.

    Graded at ``GRADED_MAX_DF_RATIO`` since round 10 (the round-9 grade
    served an EMPTY lexical leg at the driver fixture — see
    ``hybrid_index_search_demo``); the returned log is asserted to
    carry at least one non-null ``lex_rank`` so the grade cannot
    silently re-vacuate."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        GRADED_MAX_DF_RATIO,
    )
    from jaccard_mapreduce_spark.sources.vector_index import (
        _ensure_lsh_index,
        _scratch_dir,
    )

    if max_df_ratio is None:
        max_df_ratio = GRADED_MAX_DF_RATIO
    lsh_base, emb = _ensure_lsh_index(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lex_idx = pin(lexical_index(docs, max_df_ratio=max_df_ratio))
    base = _scratch_dir(spark, suffix="_hybrid_serve")
    shutil.rmtree(base, ignore_errors=True)
    in_dir = os.path.join(base, "in")
    out_dir = os.path.join(base, "out")

    # FULL outer join of the two id spaces: a doc with no embedding
    # still streams (lexical leg only), an embedding with no doc text
    # still streams (vector leg only) — exactly the rows the one-shot
    # hybrid_index_search sees, whatever the id overlap. An inner join
    # here would silently drop text-only queries from the stream while
    # the one-shot oracle kept their lexical results.
    queries = docs.where(F.col("doc_id") % query_mod == 0).select(
        "doc_id", "text"
    ).join(
        emb.where(F.col("vec_id") % query_mod == 0).select(
            F.col("vec_id").alias("doc_id"), "embedding"
        ),
        "doc_id",
        "full_outer",
    )
    queries.repartition(n_input_files).write.parquet(in_dir)
    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = hybrid_serve_stream(
        stream,
        lex_idx,
        lsh_base,
        out_dir,
        os.path.join(base, "ckpt"),
        k=k,
        leg_k=leg_k,
    ).start()
    q.awaitTermination()
    try:
        out = spark.read.parquet(out_dir)
        # cheap (the log is O(queries * k) rows, already on disk):
        # a vacuous lexical leg must fail loudly, not hash-match an
        # equally-vacuous oracle (round-9 verdict regression guard)
        assert (
            out.where(F.col("lex_rank").isNotNull()).limit(1).count() > 0
        ), "vacuous lexical leg: no served row carries a lex_rank"
        return out
    finally:
        lex_idx.unpersist()

"""Persisted lexical inverted index — the fourth index family, with
EXACT incremental maintenance.

The vector stores are maintained approximately or conditionally: IVF's
codebook goes stale and needs a retrain trigger, MinHash banding is
retuned from occupancy, LSH is rebuilt because its width derives from
corpus size. The lexical index is different in kind: its only
data-dependent statistics — per-token document frequency and the corpus
document count — are ADDITIVE, so an upsert merges exact integer
increments and the store after ``build(base); upsert(rest)`` is
indistinguishable from ``build(base ∪ rest)``, bit-for-bit, with no
staleness counter and no retune. The graded contract pins exactly that.

Layout (four datasets under one directory, the vector-store shape):

  ``<path>/postings``   (token, doc_id, tf, dl) — the inverted index
                        WITH term frequencies and the doc length
                        (round 10: one store serves both the
                        set-semantics probe, which ignores tf/dl, and
                        the integer-BM25 probe); appended by upserts.
                        HASH-CLUSTERED BY doc_id since round 12 (tag
                        docv4): every probe aggregates per
                        (query, doc) after the broadcast token join,
                        and doc clustering lets that partial
                        aggregation combine each pair COMPLETELY
                        map-side — the round-11 one-plan finding
                        applied to the serve paths. Measured at
                        sf0.1×10 (docs/SCALE.md round 12): the
                        token-clustered serve ran 45.9 s lexical /
                        11.8 s phrase, doc-clustered 6.4 / 5.8 s, and
                        the token layout's claimed query-sliced-read
                        advantage measured ZERO (small-batch probes
                        0.93 vs 0.95 s — hash clustering yields no
                        row-group pruning; the scan reads everything
                        either way), while doc clustering also
                        compresses 3.4× better (doc_id run-length
                        encodes). tf and dl are per-document facts, so
                        they stay exact under any batch split — the
                        additive-merge contract extends to the BM25
                        serve unchanged
  ``<path>/positions``  (doc_id, pos, token) — positional postings
                        (round 11: the phrase serve's dataset);
                        per-document facts like tf/dl, appended by
                        upserts, doc_id-clustered like the postings
  ``<path>/df``         (token, df) — exact per-token document
                        frequency; REWRITTEN by upserts via the
                        tmp-write + rename swap (KBs–MBs: it is one row
                        per distinct token, not per posting)
  ``<path>/_n_docs``    corpus document count marker (Hadoop-FS text,
                        works on hdfs:///s3a:// like the other stores)
  ``<path>/_n_tokens``  total token count marker (Σ tf) — additive like
                        n_docs; the BM25 serve derives its integer
                        mean-length scalar from it instead of scanning
                        the postings
  ``<path>/tombstones`` (doc_id) — docs DELETED but not yet physically
                        removed (round 12, merge-on-read: the
                        corpus-sized datasets are never rewritten on
                        delete; every serve anti-joins these away and
                        compaction folds them in). Absent on a store
                        that never deleted — zero read overhead
  ``<path>/_n_dead_tokens``  token occurrences belonging to tombstoned
                        docs still physically present — closes the
                        stats invariant ``n_positions == _n_tokens +
                        _n_dead_tokens``; zeroed by compaction

Weights are derived at PROBE time from the stored statistics
(``w = n_docs div df`` over tokens surviving the caller's
``max_df_ratio`` prune), never baked into the postings — so one store
serves any prune setting, and an upsert that pushes a token over the
df threshold silently retires it from future probes, which is the
correct retrieval semantics (yesterday's discriminative token can be
today's stop word).

Honesty contract shared with the other stores' mutation paths:
exactly-once is NOT claimed. The upsert STAGES the batch into tmp
subdirectories and mutates the live store only in a final
metadata-rename promote sequence (positions in, postings in, df swap,
markers) — a crash before the promote leaves the store untouched
(blind retry safe); a crash inside it leaves datasets ahead of the
markers, visible to the stats face's drift checks (retry only after
they pass — see :func:`upsert_lexical_store`). Per-batch idempotence
belongs upstream (the streaming faces' watermark dedup recipe)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jaccard_mapreduce_spark.operators.retrieval import (
    bm25_probe,
    lexical_probe,
)
from jaccard_mapreduce_spark.sources._store import (
    _compact_datasets,
    _count_parquet_files,
    _fs_delete,
    _fs_exists,
    _fs_read_text,
    _fs_write_text,
    _parquet_footer_rows,
    _pending_deletes,
    _promote_staged_files,
    _read_live,
    _stage_tombstones,
    _swap,
    _tombstone_rows,
)


def _require_marker(spark: SparkSession, path: str, name: str) -> int:
    """Read an integer marker, REFUSING a store that lacks it. The
    markers are authoritative statistics (n_docs feeds the weights,
    Σ tf feeds the BM25 mean length); silently defaulting a missing one
    to 0 let a pre-tfv2 store be upserted with a wrong marker stamped
    and its stats face report n_token_occurrences=0 instead of failing
    (round-10 ADVICE). A store written by :func:`build_lexical_store`
    always carries both markers, so absence means the directory is not
    a current-schema lexical store — rebuild it, don't guess."""
    raw = _fs_read_text(spark, f"{path}/{name}")
    if raw is None:
        raise ValueError(
            f"{path} has no {name} marker: not a current-schema lexical "
            "store (pre-tfv2 generation, or a foreign directory) — "
            "rebuild with build_lexical_store instead of mutating it"
        )
    return int(raw.strip() or 0)


def build_lexical_store(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Materialize the store from scratch: tokenize ONCE into the
    positional postings (round 11 — the root dataset the phrase serve
    reads), then derive everything downstream from the WRITTEN bytes —
    tf/dl postings from the stored positions, df from the stored
    postings, Σtf marker from the positions count. One corpus tokenize
    per build, and the datasets can never disagree about what was
    tokenized (each is a pure aggregation of the one before it)."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        doc_token_positions,
    )
    from pyspark.sql import Window

    spark = docs.sparkSession
    # doc_id clustering (docv4 — see the module docstring's layout
    # note): the serve paths' per-(query, doc) aggregation combines
    # completely map-side only when a doc's rows share a partition
    doc_token_positions(docs, id_col=id_col, text_col=text_col).repartition(
        "doc_id"
    ).write.mode("overwrite").parquet(f"{path}/positions")
    pos = spark.read.parquet(f"{path}/positions")
    tok = (
        pos.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("dl", F.sum("tf").over(Window.partitionBy("doc_id")))
    )
    # the dl window's exchange already doc_id-clusters the tf relation
    # (the round-11 finding's "why BM25 never had the problem"), so the
    # postings write needs no further repartition
    tok.write.mode("overwrite").parquet(f"{path}/postings")
    stored = spark.read.parquet(f"{path}/postings")
    (
        stored.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/df")
    )
    n_docs = docs.select(id_col).distinct().count()
    _fs_write_text(spark, f"{path}/_n_docs", str(n_docs))
    # total token count (Σ tf = positions row count) — additive like
    # n_docs, stamped as a marker so the BM25 serve derives its
    # mean-length scalar from two KB reads instead of re-scanning the
    # corpus-sized postings
    _fs_write_text(spark, f"{path}/_n_tokens", str(pos.count()))


def upsert_lexical_store(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Append a document batch and merge its EXACT statistic
    increments: postings append, df = stored df ∪ batch df summed per
    token (staged, then published by the two-rename swap), marker +=
    batch count. Returns the number of appended documents. Because
    both statistics are additive integers, the post-upsert store is
    bit-identical to a fresh build over the union — the graded
    ``lexical_store_search`` claim, EXACT where IVF's upsert contract
    must hold the codebook fixed and LSH's leans on data-independent
    hashing.

    ID CONTRACT (the vector stores' note, mirrored): batch doc ids
    must be DISJOINT from the stored set — INCLUDING tombstoned ids
    (:func:`delete_from_lexical_store`): a re-inserted deleted id's
    new rows would be masked by its own tombstone, silently vanishing;
    re-insertion requires a compaction first (which clears the
    tombstones). Re-upserting a stored doc_id appends duplicate
    ``(token, doc_id)`` postings and double-counts its df and n_docs
    contributions, silently inflating scores — the additive merge is
    exact only over a true union. Enforcing this
    in-path would anti-join every batch against the full postings
    doc-id set (a corpus-sized scan per batch); dedup belongs upstream
    (the streaming faces' watermark recipe), same as replay dedup.

    CRASH/RETRY CONTRACT (round 12 — the round-11 ADVICE corruption
    path): the batch is STAGED into tmp subdirectories first; the live
    store mutates only in the final promote sequence (rename positions
    files in, rename postings files in, swap df, bump markers — all
    metadata operations), so a crash during the batch computation
    leaves the store untouched and a blind retry is safe. A crash
    INSIDE the promote sequence can still leave the datasets ahead of
    the markers; a retry there would double-append, so: retry ONLY
    after :func:`lexical_store_stats` shows no drift
    (``n_positions == n_token_occurrences`` and
    ``n_distinct_docs == n_docs``); on drift, rebuild the store —
    exactly-once is still NOT claimed, but the corrupting-retry window
    is now the rename loop, not the batch write."""
    from jaccard_mapreduce_spark.operators._cache import pin

    # Marker preconditions FIRST — before any postings bytes land. A
    # pre-tfv2 store (no Σtf marker) must refuse the upsert here, not
    # get tf-schema postings appended under a wrongly-zeroed marker
    # (round-10 ADVICE: the raw API corrupted quietly; only the demo
    # path was protected by the _LEX_STORE_SCHEMA tag).
    prev = _require_marker(spark, path, "_n_docs")
    prev_tok = _require_marker(spark, path, "_n_tokens")
    # Same precondition class for the posv3 positions dataset: a
    # pre-posv3 store (markers present, no positions) must refuse —
    # otherwise the append below CREATES a positions dir holding only
    # this batch, and every later phrase serve silently misses the
    # base corpus. Rebuild the store, don't mutate it.
    if not _fs_exists(spark, f"{path}/positions"):
        raise ValueError(
            f"{path} has no positions dataset: pre-posv3 lexical store "
            "— rebuild with build_lexical_store instead of upserting"
        )

    from jaccard_mapreduce_spark.operators.retrieval import (
        doc_token_positions,
    )
    from pyspark.sql import Window

    # STAGE everything first (round 12): the batch tokenize lands in
    # positions__batch_tmp, the tf/dl postings derive from those STAGED
    # bytes (the build path's written-bytes discipline — the datasets
    # can never disagree about what was tokenized), the merged df lands
    # in df__tmp. The live store is untouched until the promote
    # sequence at the end.
    pos_tmp = f"{path}/positions__batch_tmp"
    post_tmp = f"{path}/postings__batch_tmp"
    for tmp_dir in (pos_tmp, post_tmp):
        _fs_delete(spark, tmp_dir)
    doc_token_positions(docs, id_col=id_col, text_col=text_col).repartition(
        "doc_id"
    ).write.mode("overwrite").parquet(pos_tmp)
    staged_pos = spark.read.parquet(pos_tmp)
    tok_total = staged_pos.count()
    # pinned: the staged tf relation feeds the postings write AND the
    # df increment; released before returning (per-batch relation —
    # the streaming-face cache-hygiene rule). The dl window's exchange
    # doc_id-clusters it (docv4 layout), so no further repartition.
    tok = pin(
        staged_pos.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("dl", F.sum("tf").over(Window.partitionBy("doc_id")))
    )
    try:
        tok.write.mode("overwrite").parquet(post_tmp)
        merged = (
            spark.read.parquet(f"{path}/df")
            .unionByName(
                tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
            )
            .groupBy("token")
            .agg(F.sum("df").cast("long").alias("df"))
        )
        tmp = f"{path}/df__tmp"
        _fs_delete(spark, tmp)
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        n_new = docs.select(id_col).distinct().count()

        # PROMOTE: metadata-only renames from here on (the crash/retry
        # contract above) — positions, postings, df swap, markers
        _promote_staged_files(spark, pos_tmp, f"{path}/positions",
                              f"u{prev}-")
        _promote_staged_files(spark, post_tmp, f"{path}/postings",
                              f"u{prev}-")
        _swap(spark, f"{path}/df", tmp)
    finally:
        tok.unpersist()
    _fs_write_text(spark, f"{path}/_n_docs", str(prev + n_new))
    batch_tokens = int(tok_total or 0)
    _fs_write_text(spark, f"{path}/_n_tokens", str(prev_tok + batch_tokens))
    return n_new


def _dead_tokens_marker(spark: SparkSession, path: str) -> int:
    """The ``_n_dead_tokens`` marker — token occurrences belonging to
    tombstoned docs, still physically present until compaction. Absent
    marker + absent tombstones = a store that never deleted (0);
    tombstones WITHOUT the marker means a foreign mutation — refuse,
    the drift-check discipline."""
    raw = _fs_read_text(spark, f"{path}/_n_dead_tokens")
    if raw is None:
        if _fs_exists(spark, f"{path}/tombstones"):
            raise ValueError(
                f"{path} has tombstones but no _n_dead_tokens marker: "
                "not written by this engine's delete path — rebuild"
            )
        return 0
    return int(raw.strip() or 0)


def delete_from_lexical_store(
    spark: SparkSession,
    path: str,
    doc_ids: DataFrame,
    id_col: str = "doc_id",
) -> int:
    """Delete a document batch from the store — the mutation
    lifecycle's missing verb (build → upsert → compact → DELETE) —
    MERGE-ON-READ: the corpus-sized postings/positions are never
    rewritten (at 100 TB that write is the whole store); instead the
    batch lands in a ``tombstones`` dataset that every serve anti-joins
    away, while the SMALL exact statistics are corrected eagerly so
    the weights stay exact: df = stored df − the deleted docs' per-token
    contributions (tokens reaching 0 drop out — a token all of whose
    docs died retires completely), ``_n_docs`` −= deleted docs,
    ``_n_tokens`` −= their Σ tf, and a new ``_n_dead_tokens`` marker
    accumulates the physically-present-but-dead occurrence count so the
    stats face's positions invariant stays checkable
    (``n_positions == _n_tokens + _n_dead_tokens``). Physical removal
    is :func:`compact_lexical_store`'s job (it folds the tombstones in
    and clears them).

    Returns the number of documents actually deleted. UNLIKE upsert,
    delete is IDEMPOTENT: the batch is anti-joined against existing
    tombstones first (tombstones are a set, increments are not), so a
    replayed delete is a counted no-op — the one mutation that is safe
    to blindly retry after a full success. The per-token contribution
    scan broadcasts the delete batch against the postings (delete
    batches are human-scale; the docv4 doc_id clustering gives the scan
    row-group pruning on the join key). Ids absent from the postings
    (never stored, or already deleted) contribute nothing and are not
    tombstoned.

    CRASH CONTRACT (the upsert's honesty, one grade better): both new
    generations (tombstones, df) are fully staged before the promote
    sequence (swap tombstones, swap df, rewrite markers). A crash
    before the promote leaves the store untouched; a crash inside it
    leaves the tombstones ahead of the statistics — every serve still
    MASKS the deleted docs correctly (the anti-join needs only the
    tombstones), but scores may use the stale df until the drift is
    repaired, and the stats face shows it
    (``n_distinct_docs < n_docs`` marker). Repair = rebuild, as with
    upsert drift; exactly-once is still NOT claimed."""
    from jaccard_mapreduce_spark.operators._cache import pin

    prev = _require_marker(spark, path, "_n_docs")
    prev_tok = _require_marker(spark, path, "_n_tokens")
    prev_dead = _dead_tokens_marker(spark, path)
    if not _fs_exists(spark, f"{path}/positions"):
        raise ValueError(
            f"{path} has no positions dataset: pre-posv3 lexical store "
            "— rebuild with build_lexical_store instead of deleting"
        )

    batch, tomb = _pending_deletes(spark, path, doc_ids, id_col, "doc_id")
    df_tmp = f"{path}/df__tmp"
    # pinned: the deleted docs' postings slice feeds the totals, the
    # per-token df decrement, AND the tombstone ids; released before
    # the promote (per-batch relation — the cache-hygiene rule)
    # no broadcast hint on the batch (the ngram_contamination ADVICE
    # lesson): AQE broadcasts a human-scale delete batch on its own,
    # and a bulk delete degrades to a shuffle join instead of an
    # opaque executor OOM
    hit = pin(
        spark.read.parquet(f"{path}/postings").join(batch, "doc_id")
    )
    try:
        totals = hit.agg(
            F.count_distinct("doc_id").alias("nd"),
            F.coalesce(F.sum("tf"), F.lit(0)).cast("long").alias("nt"),
        ).first()
        n_del, tok_del = int(totals["nd"]), int(totals["nt"])
        if n_del == 0:
            return 0
        dec = hit.groupBy("token").agg(F.count(F.lit(1)).alias("dec"))
        new_df = (
            spark.read.parquet(f"{path}/df")
            .join(dec, "token", "left")
            .select(
                "token",
                (F.col("df") - F.coalesce(F.col("dec"), F.lit(0)))
                .cast("long")
                .alias("df"),
            )
            .where(F.col("df") > 0)
        )
        _fs_delete(spark, df_tmp)
        new_df.coalesce(1).write.mode("overwrite").parquet(df_tmp)
        tomb_tmp = _stage_tombstones(
            spark, path, tomb, hit.select("doc_id").distinct()
        )
    finally:
        hit.unpersist()

    # PROMOTE: tombstones first (masking is correct from this instant,
    # statistics follow), then df, then markers
    _swap(spark, f"{path}/tombstones", tomb_tmp)
    _swap(spark, f"{path}/df", df_tmp)
    _fs_write_text(spark, f"{path}/_n_docs", str(prev - n_del))
    _fs_write_text(spark, f"{path}/_n_tokens", str(prev_tok - tok_del))
    _fs_write_text(
        spark, f"{path}/_n_dead_tokens", str(prev_dead + tok_del)
    )
    return n_del


def search_lexical_store(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    max_df_ratio: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Probe the store with a query batch — ``(query_id, neighbor_id,
    score, rank)``, identical semantics to the one-plan
    :func:`~jaccard_mapreduce_spark.operators.retrieval.lexical_topk`
    over the stored corpus. The probe reads the stored statistics (df
    relation + document-count marker), derives the integer weights,
    prunes past ``max_df_ratio`` (integer-percent granularity — see
    ``df_weights``), and broadcasts the query token set against the
    postings — the corpus-side tokenize is never recomputed, which is
    what the store amortizes."""
    from jaccard_mapreduce_spark.operators.retrieval import df_weights

    n_docs = _require_marker(spark, path, "_n_docs")
    w = df_weights(
        spark.read.parquet(f"{path}/df"), n_docs, max_df_ratio
    )
    index = _read_live(spark, path, "postings").join(
        F.broadcast(w.select("token", "w")), "token"
    )
    return lexical_probe(
        index, queries, k=k, id_col=id_col, text_col=text_col
    )


def lexical_store_stats(spark: SparkSession, path: str) -> dict:
    """Ops snapshot of a persisted lexical store — the fourth family's
    entry in the stats triad (``ivf_index_stats`` / ``lsh_index_stats``
    / ``minhash_index_stats`` precedent): logical statistics
    (``n_docs`` from the marker, ``n_tokens`` = df relation rows,
    ``n_postings``, ``max_df``) plus the filesystem facts the
    compaction trigger trades on (``postings_files``, ``df_files`` —
    every upsert appends its own file set into postings, and the FILE
    COUNT, not the data volume, is what each probe's scan planning
    pays for at upsert-per-minute cadence).

    Round 11 (the round-10 verdict's drift-check ask):
    ``n_distinct_docs`` counts distinct doc_ids IN the postings, so the
    one store invariant that is otherwise unverifiable from the store
    itself — the upsert id contract (batch ids disjoint from stored
    ids; a replayed upsert silently double-counts df and n_docs) —
    becomes observable: a healthy store has
    ``n_distinct_docs == n_docs``; after a replay the marker exceeds
    the distinct count and the drift is visible from the stats face.
    The postings scan the snapshot already pays (``n_postings``) now
    also carries the distinct aggregate — one pass, two statistics."""
    dfr = spark.read.parquet(f"{path}/df")
    agg = dfr.agg(
        F.count(F.lit(1)).alias("n_tokens"), F.max("df").alias("max_df")
    ).first()
    # LIVE postings (tombstones masked): the marker agreements below
    # are stated over the logical store, so the aggregates must see
    # what a serve sees. On a store that never deleted this is the raw
    # dataset, plan-identical to before the delete path existed.
    pagg = (
        _read_live(spark, path, "postings")
        .agg(
            F.count(F.lit(1)).alias("n_postings"),
            F.count_distinct("doc_id").alias("n_distinct_docs"),
        )
        .first()
    )
    out = {
        "n_docs": _require_marker(spark, path, "_n_docs"),
        "n_token_occurrences": _require_marker(spark, path, "_n_tokens"),
        "n_tokens": int(agg["n_tokens"]),
        "n_postings": int(pagg["n_postings"]),
        "n_distinct_docs": int(pagg["n_distinct_docs"]),
        "max_df": int(agg["max_df"]) if agg["max_df"] is not None else 0,
        # round 11: the positions dataset's PHYSICAL row count — on a
        # healthy store it equals _n_tokens + _n_dead_tokens (one row
        # per token occurrence, live marker + tombstoned-but-present),
        # binding the third dataset into the same drift-check family as
        # n_distinct_docs vs the n_docs marker. Round 12 (ADVICE): read
        # from parquet FOOTERS, not a full scan — positions is the
        # store's largest dataset and the count is pure metadata
        "n_positions": _parquet_footer_rows(spark, f"{path}/positions"),
        # the delete path's observability: tombstoned doc count (what a
        # compaction will physically remove) and the dead-occurrence
        # marker closing the positions invariant above; both 0 on a
        # store that never deleted
        "n_tombstones": _tombstone_rows(spark, path),
        "n_dead_token_occurrences": _dead_tokens_marker(spark, path),
    }
    for name in ("postings", "df", "positions"):
        out[f"{name}_files"], _ = _count_parquet_files(
            spark, f"{path}/{name}"
        )
    return out


def compact_lexical_store(
    spark: SparkSession,
    path: str,
    n_files: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, tuple[int, int]]:
    """Rewrite the append-fragmented postings dataset into fewer,
    size-targeted files — same contract as ``compact_lsh_index``
    (row-identical relation, tmp-write + two-rename swap, single-writer
    maintenance window), with the rewrite hash-distributed by
    ``doc_id`` so compaction PRESERVES the build path's docv4
    clustering (a plain round-robin rewrite would silently scatter each
    doc's rows across every file and forfeit the serve paths' map-side
    combine — the round-12 layout finding). The df dataset is not
    rewritten: every upsert already replaces it whole via the swap, so
    it is one generation of coalesced files by construction. Returns
    per-dataset ``(files_before, files_after)``.

    Compaction is also the PHYSICAL-REMOVAL half of the merge-on-read
    delete contract (:func:`delete_from_lexical_store`): the store
    core's compactor folds the tombstones out of both rewrites and
    clears them, then the ``_n_dead_tokens`` marker is zeroed. Every
    crash point stays serving-correct: a tombstone masking a doc that
    no longer exists is a no-op anti-join — only the stats invariants
    drift (stale dead marker), and re-running compaction repairs
    exactly that."""
    out = _compact_datasets(
        spark,
        path,
        ("postings", "positions"),
        "a lexical store",
        n_files,
        target_file_bytes,
        cluster_by={"postings": "doc_id", "positions": "doc_id"},
    )
    # no dead rows are left: a marker exists iff the store ever deleted
    if _fs_read_text(spark, f"{path}/_n_dead_tokens") is not None:
        _fs_write_text(spark, f"{path}/_n_dead_tokens", "0")
    return out


def upsert_lexical_store_stream(stream: DataFrame, path: str, checkpoint: str):
    """Streaming face of the upsert path (the
    ``upsert_ivf_index_stream`` convention): each micro-batch of
    ``(doc_id, text)`` rows merges its exact statistic increments via
    :func:`upsert_lexical_store` — the store stays probe-able while it
    grows, and because the merge is additive-exact, the final store is
    bit-identical to a one-shot build whatever the batch boundaries
    were. Exactly-once is NOT claimed (a replayed batch re-appends and
    double-counts — the id contract above; watermark dedup belongs
    upstream). Returns the unstarted writer."""

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_lexical_store(batch_df.sparkSession, path, batch_df)

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def delete_from_lexical_store_stream(
    stream: DataFrame, path: str, checkpoint: str
):
    """Streaming face of the DELETE path (the
    ``upsert_lexical_store_stream`` symmetry): each micro-batch of
    ``(doc_id)`` rows tombstones its documents and merges the exact
    statistic decrements via :func:`delete_from_lexical_store` — the
    store stays probe-able while it shrinks. Because tombstones are a
    SET and the decrements are computed from rows not yet tombstoned,
    the final store is identical whatever the batch boundaries were —
    and, unlike the ingest stream, a REPLAYED batch is a counted no-op
    (delete's idempotence), so this is the one streaming mutation face
    where at-least-once delivery needs no upstream dedup at all.
    Returns the unstarted writer."""

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delete_from_lexical_store(batch_df.sparkSession, path, batch_df)

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def stream_lexical_delete_demo(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    base_mod: int = 4,
    query_mod: int = 100,
    del_mod: int = 10,
    del_rem: int = 3,
    n_input_files: int = 3,
) -> DataFrame:
    """Contract query for the streaming delete face: build on the base
    slice, upsert the rest (the full mutation prologue), then stream
    the delete batch split across ``n_input_files`` files (one
    micro-batch per trigger) and search the surviving query docs —
    must hash-match the SAME survivors-only oracle as the one-shot
    ``lexical_store_delete``: batch boundaries are invisible to the
    tombstone set and the additive decrements, so a delete arriving in
    n pieces equals the delete arriving whole."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        GRADED_MAX_DF_RATIO,
    )

    def _build(docs: DataFrame, base: str) -> None:
        import os

        build_lexical_store(docs.where(F.col("doc_id") % base_mod != 0), base)
        upsert_lexical_store(
            spark, base, docs.where(F.col("doc_id") % base_mod == 0)
        )
        victims = docs.where(F.col("doc_id") % del_mod == del_rem).select(
            "doc_id"
        )
        in_dir = os.path.join(base, "_del_stream_in")
        victims.repartition(n_input_files).write.parquet(in_dir)
        schema = spark.read.parquet(in_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = delete_from_lexical_store_stream(
            stream, base, os.path.join(base, "_del_stream_ckpt")
        ).start()
        q.awaitTermination()
        st = lexical_store_stats(spark, base)
        assert st["n_tombstones"] > 0, "vacuous streaming delete"
        assert st["n_distinct_docs"] == st["n_docs"], st
        assert st["n_positions"] == (
            st["n_token_occurrences"] + st["n_dead_token_occurrences"]
        ), st

    base, docs = _ensure_lex_store(
        spark,
        sf_dir,
        base_mod,
        suffix="_lex_del_stream",
        build=_build,
        tag_extra=f":sdel{del_mod}-{del_rem}x{n_input_files}",
    )
    res = search_lexical_store(
        spark,
        base,
        docs.where(
            (F.col("doc_id") % query_mod == 0)
            & (F.col("doc_id") % del_mod != del_rem)
        ),
        k=k,
        max_df_ratio=GRADED_MAX_DF_RATIO,
    )
    assert res.limit(1).count() > 0, (
        "vacuous stream-deleted store search: no surviving query doc "
        "matched a surviving token"
    )
    return res


# One schema version string for EVERY demo store gate: bumping it here
# rebuilds all three session stores together — a per-site copy of the
# tag is exactly how a warm session ends up probing a stale-schema
# store (the round-10 review's finding). docv4 = the round-12
# doc_id-clustered layout (row-identical to posv3 — every hash is
# layout-invariant — but serve timings are only comparable within one
# generation).
_LEX_STORE_SCHEMA = "docv4"


def _ensure_lex_store(
    spark: SparkSession,
    sf_dir: str,
    base_mod: int = 4,
    suffix: str = "_lex_store",
    build=None,
    tag_extra: str = "",
) -> tuple[str, DataFrame]:
    """Session-scoped build-once gate shared by ALL the lexical-store
    demos — the required datasets/markers and the postings schema
    version live HERE, once. The default ``build`` is the
    build-on-slice + upsert-the-rest shape the search and stats
    contract entries probe (its statistics equal a full-corpus build's,
    the additive-merge exactness claim); the compaction and streaming
    demos pass their own."""
    from jaccard_mapreduce_spark.sources.vector_index import _ensure_index

    def _default_build(docs: DataFrame, base: str) -> None:
        build_lexical_store(docs.where(F.col("doc_id") % base_mod != 0), base)
        n = upsert_lexical_store(
            spark, base, docs.where(F.col("doc_id") % base_mod == 0)
        )
        assert n > 0

    return _ensure_index(
        spark,
        sf_dir,
        suffix=suffix,
        required_dirs=["postings", "df", "positions"],
        build=build or _default_build,
        tag_extra=f"base_mod={base_mod}{tag_extra}:{_LEX_STORE_SCHEMA}",
        table="documents.parquet",
        required_files=("_n_docs", "_n_tokens"),
    )


def search_lexical_store_bm25(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    max_df_ratio: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Probe the store under the integer BM25 score — identical
    semantics to the one-plan :func:`~jaccard_mapreduce_spark.
    operators.retrieval.bm25_topk` over the stored corpus. The stored
    tf/dl columns are what make this serve-able without re-reading the
    corpus; the integer mean length A derives from ONE bounded
    aggregate over the postings (Σ tf) plus the document-count marker,
    and because tf, dl, df, and n_docs are all exact under the
    additive-merge contract, the BM25 serve after build-then-upsert is
    bit-identical to a fresh full build — the same invisibility claim
    the set-semantics search grades, extended to the tf statistics."""
    from jaccard_mapreduce_spark.operators.retrieval import df_weights

    n_docs = _require_marker(spark, path, "_n_docs")
    # Σ tf comes from the additively-maintained marker, not a scan of
    # the corpus-sized postings — the serve path reads two KB-sized
    # statistics (df + markers) and joins ONLY the query-matched
    # posting slices, the same amortization the set-semantics probe has
    total = _require_marker(spark, path, "_n_tokens")
    posts = _read_live(spark, path, "postings")
    w = df_weights(
        spark.read.parquet(f"{path}/df"), n_docs, max_df_ratio
    )
    index = posts.join(F.broadcast(w.select("token", "w")), "token")
    return bm25_probe(
        index,
        queries,
        total // max(n_docs, 1),
        k=k,
        id_col=id_col,
        text_col=text_col,
    )


def search_lexical_store_phrase(
    spark: SparkSession,
    path: str,
    phrases: DataFrame,
    k: int = 10,
    phrase_id_col: str = "phrase_id",
    phrase_col: str = "phrase",
    max_df_ratio: float | None = None,
    on_hot: str = "refuse",
) -> DataFrame:
    """Probe the store's positional postings with a phrase batch —
    identical semantics to the one-plan :func:`~jaccard_mapreduce_spark.
    operators.retrieval.phrase_search` over the stored corpus. The
    positions are per-document facts (the tf/dl argument verbatim), so
    the phrase serve after build-then-upsert is bit-identical to a
    fresh full build — the additive-merge invisibility claim's third
    scoring. The probe broadcasts the phrase-term relation against the
    stored positions; only phrase-term postings leave the scan.

    ``max_df_ratio`` arms the stop-phrase guard (round 12 — see
    :func:`~jaccard_mapreduce_spark.operators.retrieval.
    prune_hot_phrases`): on the store it costs TWO KB-SIZED READS (the
    df dataset + the n_docs marker — exact set-semantics statistics
    the store already maintains), so the 100 TB posture is enforceable
    for free on the serving path."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        phrase_probe,
        prune_hot_phrases,
    )

    if max_df_ratio is not None:
        phrases = prune_hot_phrases(
            spark.read.parquet(f"{path}/df"),
            _require_marker(spark, path, "_n_docs"),
            phrases,
            max_df_ratio,
            on_hot,
            phrase_id_col,
            phrase_col,
        )
    return phrase_probe(
        _read_live(spark, path, "positions"),
        phrases,
        k=k,
        phrase_id_col=phrase_id_col,
        phrase_col=phrase_col,
    )


def search_lexical_store_proximity(
    spark: SparkSession,
    path: str,
    phrases: DataFrame,
    slop: int = 2,
    k: int = 10,
    n_terms: int = 2,
    phrase_id_col: str = "phrase_id",
    phrase_col: str = "phrase",
    max_df_ratio: float | None = None,
    on_hot: str = "refuse",
) -> DataFrame:
    """Probe the store's positional postings with an ordered PROXIMITY
    batch (round 12 — the store's FOURTH scoring: set, tf, exact
    phrase, and now sloppy phrase from the same positions dataset) —
    identical semantics to the one-plan :func:`~jaccard_mapreduce_spark.
    operators.retrieval.proximity_search` over the stored corpus.
    Positions are per-document facts, so the serve after
    build-then-upsert is bit-identical to a fresh full build — the
    additive-merge invisibility claim extends to the window chain
    unchanged. ``max_df_ratio`` arms the stop-phrase guard from the
    stored statistics (two KB-sized reads), exactly as the phrase
    serve does — a sloppy phrase of only hot terms fans out the same
    way a verbatim one does."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        proximity_carve,
        proximity_probe,
        prune_hot_phrases,
    )

    if max_df_ratio is not None:
        phrases = prune_hot_phrases(
            spark.read.parquet(f"{path}/df"),
            _require_marker(spark, path, "_n_docs"),
            phrases,
            max_df_ratio,
            on_hot,
            phrase_id_col,
            phrase_col,
        )
    from jaccard_mapreduce_spark.operators._cache import pin

    # pinned: the chain probes the positions n_terms times, so pin the
    # VOCABULARY CARVE (Σ df rows — query-shaped), never the stored
    # dataset itself (corpus-shaped; a 100 TB store cannot be cached).
    # One parquet scan builds the carve; the chain then does n cache
    # reads. No re-clustering: the stored positions are already
    # doc_id-clustered on disk and the carve preserves that order.
    positions = pin(
        proximity_carve(
            _read_live(spark, path, "positions"),
            phrases,
            n_terms,
            phrase_id_col=phrase_id_col,
            phrase_col=phrase_col,
        )
    )
    return proximity_probe(
        positions,
        phrases,
        slop=slop,
        k=k,
        n_terms=n_terms,
        phrase_id_col=phrase_id_col,
        phrase_col=phrase_col,
    )


def search_lexical_store_prefix(
    spark: SparkSession,
    path: str,
    prefixes: DataFrame,
    k: int = 10,
    max_expansion: int = 1000,
    on_hot: str = "refuse",
    query_id_col: str = "query_id",
    prefix_col: str = "prefix",
) -> DataFrame:
    """Probe the store with a PREFIX batch (round 12 — the wildcard
    tier served: Lucene's ``pre*`` queries) — identical semantics to
    the one-plan :func:`~jaccard_mapreduce_spark.operators.retrieval.
    prefix_search` over the stored corpus. This is where the store
    earns the tier: the expansion vocabulary IS the df dataset (one
    row per distinct token, KB-sized read), so a prefix query never
    touches the corpus until the bounded expanded term set broadcasts
    against the postings. The df dataset is eagerly corrected by
    deletes (tokens whose last doc died are dropped), so an expansion
    can never resurrect a deleted-only term, and the postings read is
    tombstone-masked like every serve."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        expand_prefixes,
        prefix_probe,
    )

    exp = expand_prefixes(
        spark.read.parquet(f"{path}/df"),
        prefixes,
        max_expansion=max_expansion,
        on_hot=on_hot,
        query_id_col=query_id_col,
        prefix_col=prefix_col,
    )
    return prefix_probe(
        _read_live(spark, path, "postings").select("doc_id", "token"),
        exp,
        k=k,
    )


def lexical_store_prefix_demo(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    base_mod: int = 4,
    query_mod: int = 100,
    prefix_len: int = 4,
) -> DataFrame:
    """Contract query for the store-served prefix search: the shared
    build-then-upsert store probed with each query doc's leading
    4-character prefix must value-hash-match the one-plan
    ``prefix_search`` oracle over the FULL corpus — the df dataset
    (the expansion vocabulary) and the postings both merge additively,
    so the mutation path is invisible to the wildcard tier too."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        leading_prefixes,
    )

    base, docs = _ensure_lex_store(spark, sf_dir, base_mod)
    res = search_lexical_store_prefix(
        spark,
        base,
        leading_prefixes(
            docs.where(F.col("doc_id") % query_mod == 0), length=prefix_len
        ),
        k=k,
    )
    # the family's vacuity guard
    assert res.limit(1).count() > 0, (
        "vacuous store prefix search: no query prefix matched a "
        "vocabulary term"
    )
    return res


def lexical_store_proximity_demo(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    base_mod: int = 4,
    query_mod: int = 100,
    n_terms: int = 3,
    slop: int = 2,
) -> DataFrame:
    """Contract query for the store-served proximity search (round
    12): the shared build-then-upsert store probed with the query
    docs' leading trigrams at slop=2 must value-hash-match the
    one-plan ``proximity_search`` oracle over the FULL corpus with no
    build filter — the fourth scoring served from the same positions
    dataset, with the mutation path invisible to the window chain
    exactly as it is to adjacency."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        leading_phrases,
    )

    base, docs = _ensure_lex_store(spark, sf_dir, base_mod)
    res = search_lexical_store_proximity(
        spark,
        base,
        leading_phrases(
            docs.where(F.col("doc_id") % query_mod == 0), n_terms=n_terms
        ),
        slop=slop,
        k=k,
        n_terms=n_terms,
    )
    # the family's vacuity guard
    assert res.limit(1).count() > 0, (
        "vacuous store proximity search: no query trigram matches "
        "within the window anywhere in the corpus"
    )
    return res


def lexical_store_phrase_demo(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    base_mod: int = 4,
    query_mod: int = 100,
    n_terms: int = 2,
) -> DataFrame:
    """Contract query for the store-served phrase search (round 11):
    the shared build-then-upsert store probed with the query docs'
    leading bigrams must value-hash-match the one-plan
    ``phrase_search`` oracle over the FULL corpus with no build filter
    — positions are per-document facts, so the mutation path is
    invisible to the adjacency scoring exactly as it is to the set and
    tf scorings."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        leading_phrases,
    )

    base, docs = _ensure_lex_store(spark, sf_dir, base_mod)
    res = search_lexical_store_phrase(
        spark,
        base,
        leading_phrases(
            docs.where(F.col("doc_id") % query_mod == 0), n_terms=n_terms
        ),
        k=k,
    )
    # the family's vacuity guard
    assert res.limit(1).count() > 0, (
        "vacuous store phrase search: no query bigram recurs in the corpus"
    )
    return res


def delete_scale_probe_demo(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    query_mod: int = 100,
    target_docs: int = 5_000,
    del_mod: int = 10,
    del_rem: int = 3,
) -> DataFrame:
    """The DELETE path's ~10× scale probe (round 12 — the tombstone
    mask measured through the family's scale-probe discipline, not
    argued): build the store over the corpus replicated to
    ~``target_docs`` documents, DELETE the victims' replica set (the
    replication ``id_offset`` is a multiple of ``del_mod``, so the
    victim slice is REPLICA-CLOSED — every replica of a victim is a
    victim, and one modulo filter expresses the delete on both sides),
    then serve the surviving replicated query batch through the
    tombstone-masked postings at the graded prune. The probe pays the
    real factor× posting volume through the anti-join mask PLUS the
    eager df-correction's shrunken weights — the full merge-on-read
    read path at scale, hash-graded against the survivors-only
    replicated oracle."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        GRADED_MAX_DF_RATIO,
        probe_factor,
        replicate_documents,
    )

    def _build(docs: DataFrame, base: str) -> None:
        factor = probe_factor(
            docs.select("doc_id").distinct().count(), target_docs
        )
        rep = replicate_documents(docs, factor)
        build_lexical_store(rep, base)
        n = delete_from_lexical_store(
            spark,
            base,
            rep.where(F.col("doc_id") % del_mod == del_rem).select(
                "doc_id"
            ),
        )
        assert n > 0, "vacuous delete fixture: no replica in the slice"

    base, docs = _ensure_lex_store(
        spark,
        sf_dir,
        suffix="_lex_del_scale",
        build=_build,
        tag_extra=f":target={target_docs}:del{del_mod}-{del_rem}",
    )
    factor = probe_factor(
        docs.select("doc_id").distinct().count(), target_docs
    )
    queries = replicate_documents(docs, factor).where(
        (F.col("doc_id") % query_mod == 0)
        & (F.col("doc_id") % del_mod != del_rem)
    )
    res = search_lexical_store(
        spark, base, queries, k=k, max_df_ratio=GRADED_MAX_DF_RATIO
    )
    # the family's vacuity guard
    assert res.limit(1).count() > 0, (
        "vacuous delete scale probe: no surviving replicated query "
        "matched a surviving token"
    )
    return res


def phrase_store_scale_probe_demo(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    query_mod: int = 100,
    n_terms: int = 2,
    target_docs: int = 5_000,
) -> DataFrame:
    """The store-served phrase path's 10× scale probe (round 12 —
    round-11 verdict item 7: the one-plan phrase tier was measured at
    sf0.1×10, but ``search_lexical_store_phrase`` probes the STORE's
    positions relation, which that measurement never touched). Build
    the store over the corpus replicated to ~``target_docs`` documents
    (session-gated like every index demo), probe with the replicated
    leading-bigram batch. Positions are per-replica-doc facts —
    replica ``r`` of a doc carries the same token sequence under
    ``doc_id + r·10⁶`` — so every occurrence count and rank is exactly
    derivable from the replicated one-plan oracle (the
    ``bm25_scale_probe`` replication-invariance argument extended to
    the positions dataset), and the probe pays the real factor×
    posting volume through the store's scan/join/vote machinery."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        leading_phrases,
        probe_factor,
        replicate_documents,
    )

    def _build(docs: DataFrame, base: str) -> None:
        factor = probe_factor(
            docs.select("doc_id").distinct().count(), target_docs
        )
        build_lexical_store(replicate_documents(docs, factor), base)

    base, docs = _ensure_lex_store(
        spark,
        sf_dir,
        suffix="_lex_scale",
        build=_build,
        tag_extra=f":target={target_docs}",
    )
    factor = probe_factor(
        docs.select("doc_id").distinct().count(), target_docs
    )
    phrases = leading_phrases(
        replicate_documents(docs, factor).where(
            F.col("doc_id") % query_mod == 0
        ),
        n_terms=n_terms,
    )
    res = search_lexical_store_phrase(spark, base, phrases, k=k)
    # the family's vacuity guard
    assert res.limit(1).count() > 0, (
        "vacuous store phrase scale probe: no replicated query bigram "
        "recurs in the replicated corpus"
    )
    return res


def lexical_store_bm25_demo(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    base_mod: int = 4,
    query_mod: int = 100,
) -> DataFrame:
    """Contract query for the store-served BM25 (round 10): the shared
    build-then-upsert store probed under the tf-aware score must
    value-hash-match the one-plan ``bm25_topk`` oracle over the FULL
    corpus with no build filter — tf and dl are per-document facts and
    df/n_docs merge additively, so the mutation path is exactly
    invisible to BOTH scorings the store serves."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        GRADED_MAX_DF_RATIO,
    )

    base, docs = _ensure_lex_store(spark, sf_dir, base_mod)
    res = search_lexical_store_bm25(
        spark,
        base,
        docs.where(F.col("doc_id") % query_mod == 0),
        k=k,
        max_df_ratio=GRADED_MAX_DF_RATIO,
    )
    assert res.limit(1).count() > 0, (
        "vacuous BM25 store search: no query doc matched a surviving "
        "token"
    )
    return res


def lexical_store_search_demo(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    base_mod: int = 4,
    query_mod: int = 100,
) -> DataFrame:
    """Contract query for exact incremental maintenance: build the
    store on the ``doc_id % base_mod != 0`` slice, UPSERT the rest,
    then search the deterministic query batch. Must value-hash-match
    (scores INCLUDED — they are exact integers) the one-plan lexical
    oracle over the FULL corpus with no build filter: build-then-upsert
    ≡ build-over-union because df and n_docs merge additively.

    Graded at ``GRADED_MAX_DF_RATIO`` since round 10: the round-9 grade
    ran the 0.5 default, which at the driver fixture pruned the index
    to one token no query doc contained — 0 rows on BOTH sides, a
    vacuous hash match that never touched the weight arithmetic or the
    df merge. The result is asserted non-empty so that can't recur."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        GRADED_MAX_DF_RATIO,
    )

    base, docs = _ensure_lex_store(spark, sf_dir, base_mod)
    res = search_lexical_store(
        spark,
        base,
        docs.where(F.col("doc_id") % query_mod == 0),
        k=k,
        max_df_ratio=GRADED_MAX_DF_RATIO,
    )
    assert res.limit(1).count() > 0, (
        "vacuous lexical store search: no query doc matched a "
        "surviving token (round-9 verdict regression guard)"
    )
    return res


def _ensure_deleted_lex_store(
    spark: SparkSession,
    sf_dir: str,
    base_mod: int,
    del_mod: int,
    del_rem: int,
) -> tuple[str, DataFrame]:
    """Session-scoped store for the DELETE contract faces: build on
    the base slice, upsert the rest (the full mutation prologue), then
    delete the ``doc_id % del_mod == del_rem`` slice. The build also
    asserts the delete path's own invariants once per store build —
    idempotence (a replayed delete is a counted no-op) and the stats
    drift checks (live distinct == marker; physical positions ==
    live + dead markers) — so every graded serve over this store sits
    on a verified mutation history."""

    def _build(docs: DataFrame, base: str) -> None:
        build_lexical_store(docs.where(F.col("doc_id") % base_mod != 0), base)
        upsert_lexical_store(
            spark, base, docs.where(F.col("doc_id") % base_mod == 0)
        )
        victims = docs.where(F.col("doc_id") % del_mod == del_rem).select(
            "doc_id"
        )
        n = delete_from_lexical_store(spark, base, victims)
        assert n > 0, "vacuous delete fixture: no doc in the slice"
        # idempotence: tombstones are a set — the replayed batch
        # anti-joins to nothing and every statistic stays untouched
        assert delete_from_lexical_store(spark, base, victims) == 0
        st = lexical_store_stats(spark, base)
        assert st["n_distinct_docs"] == st["n_docs"], st
        assert st["n_positions"] == (
            st["n_token_occurrences"] + st["n_dead_token_occurrences"]
        ), st
        assert st["n_tombstones"] == n, st

    return _ensure_lex_store(
        spark,
        sf_dir,
        base_mod,
        suffix="_lex_store_del",
        build=_build,
        tag_extra=f":del{del_mod}-{del_rem}",
    )


def lexical_store_delete_demo(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    base_mod: int = 4,
    query_mod: int = 100,
    del_mod: int = 10,
    del_rem: int = 3,
) -> DataFrame:
    """Contract query for MERGE-ON-READ deletion (round 12 — the
    mutation lifecycle's missing verb): build-then-upsert-then-DELETE,
    probed with the surviving query docs, must value-hash-match the
    one-plan lexical oracle over the SURVIVING corpus only — scores
    included. The hash pins both halves of the delete at once: the
    tombstone masking (a deleted doc surfacing as a neighbor shifts a
    rank) and the eager statistics correction (a stale df or n_docs
    shifts the integer weights and the prune threshold — the weights
    recompute from n_docs // df on both sides)."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        GRADED_MAX_DF_RATIO,
    )

    base, docs = _ensure_deleted_lex_store(
        spark, sf_dir, base_mod, del_mod, del_rem
    )
    res = search_lexical_store(
        spark,
        base,
        docs.where(
            (F.col("doc_id") % query_mod == 0)
            & (F.col("doc_id") % del_mod != del_rem)
        ),
        k=k,
        max_df_ratio=GRADED_MAX_DF_RATIO,
    )
    assert res.limit(1).count() > 0, (
        "vacuous delete-store search: no surviving query doc matched a "
        "surviving token"
    )
    return res


def lexical_store_delete_bm25_demo(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    base_mod: int = 4,
    query_mod: int = 100,
    del_mod: int = 10,
    del_rem: int = 3,
) -> DataFrame:
    """Contract query for the delete contract's BM25 face: the same
    deleted store probed under the tf-aware score must match the
    one-plan BM25 oracle over the survivors. Beyond the set-semantics
    face this pins the MARKER corrections: the integer mean length
    ``A = _n_tokens // _n_docs`` derives from both decremented
    markers, so an uncorrected Σtf leaks into every saturation term
    and fails the hash even where the ranking happens to agree."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        GRADED_MAX_DF_RATIO,
    )

    base, docs = _ensure_deleted_lex_store(
        spark, sf_dir, base_mod, del_mod, del_rem
    )
    res = search_lexical_store_bm25(
        spark,
        base,
        docs.where(
            (F.col("doc_id") % query_mod == 0)
            & (F.col("doc_id") % del_mod != del_rem)
        ),
        k=k,
        max_df_ratio=GRADED_MAX_DF_RATIO,
    )
    assert res.limit(1).count() > 0, (
        "vacuous delete-store BM25 search: no surviving query doc "
        "matched a surviving token"
    )
    return res


def lexical_store_stats_demo(
    spark: SparkSession,
    sf_dir: str,
    base_mod: int = 4,
) -> DataFrame:
    """Contract query for the lexical store's ops snapshot (round 10 —
    the fourth family joins the stats triad): the SQL-derivable slice
    of :func:`lexical_store_stats` over the shared build-then-upsert
    demo store as one row — ``(n_docs, n_tokens, n_postings,
    max_df)``. The DuckDB oracle recomputes the same numbers from the
    full-corpus tokenize CTE with NO build filter, so the graded hash
    pins the additive-merge exactness of the STATISTICS themselves
    (the search face pins the derived ranking; this face pins the raw
    df/count state the weights derive from). File counts are
    filesystem facts with no SQL twin and stay out of the graded
    projection (the ``minhash_index_stats`` convention).

    Round 11 adds ``n_distinct_docs`` (distinct doc_ids IN the
    postings) to the graded row: on a healthy store it equals the
    ``n_docs`` marker (every fixture doc tokenizes non-empty), so the
    hash now pins the id-contract drift check — a replayed upsert
    double-counts the marker but not the distinct postings ids, and
    the disagreement becomes a failed grade instead of an invisible
    corruption (round-10 verdict item 6)."""
    base, _docs = _ensure_lex_store(spark, sf_dir, base_mod)
    st = lexical_store_stats(spark, base)
    return spark.createDataFrame(
        [
            (
                st["n_docs"],
                st["n_tokens"],
                st["n_postings"],
                st["max_df"],
                st["n_token_occurrences"],
                st["n_distinct_docs"],
                st["n_positions"],
            )
        ],
        "n_docs long, n_tokens long, n_postings long, max_df long,"
        " n_token_occurrences long, n_distinct_docs long,"
        " n_positions long",
    )


def lexical_store_compact_demo(
    spark: SparkSession,
    sf_dir: str,
    base_mod: int = 4,
    k: int = 10,
    query_mod: int = 100,
) -> DataFrame:
    """Contract query for postings compaction (round 10, completing
    the lexical lifecycle: build → search → upsert → stats → compact →
    stream-ingest): build on the base slice, upsert the rest (two file
    generations in postings), COMPACT through
    :func:`compact_lexical_store`, then search the deterministic query
    batch. Compaction is pure layout (row-identical, token clustering
    preserved), so the result must still hash-match the SAME one-plan
    full-corpus oracle as ``lexical_store_search`` — and the file
    count is asserted non-increasing so the rewrite provably ran."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        GRADED_MAX_DF_RATIO,
    )

    def _build(docs: DataFrame, base: str) -> None:
        build_lexical_store(docs.where(F.col("doc_id") % base_mod != 0), base)
        upsert_lexical_store(
            spark, base, docs.where(F.col("doc_id") % base_mod == 0)
        )
        stats = compact_lexical_store(spark, base)
        for name, (before, after) in stats.items():
            assert after <= before or before <= 1, (name, before, after)

    base, docs = _ensure_lex_store(
        spark, sf_dir, base_mod, suffix="_lex_compact", build=_build
    )
    res = search_lexical_store(
        spark,
        base,
        docs.where(F.col("doc_id") % query_mod == 0),
        k=k,
        max_df_ratio=GRADED_MAX_DF_RATIO,
    )
    # same vacuity guard as the search/bm25 demos (round-10 ADVICE):
    # this grades against the same populated-leg oracle, so an empty
    # result would hash-match an equally-empty oracle and prove nothing
    assert res.limit(1).count() > 0, (
        "vacuous compacted-store search: no query doc matched a "
        "surviving token (round-9 verdict regression guard)"
    )
    return res


def stream_lexical_ingest_demo(
    spark: SparkSession,
    sf_dir: str,
    base_mod: int = 4,
    k: int = 10,
    query_mod: int = 100,
    n_input_files: int = 3,
) -> DataFrame:
    """Contract query for the streaming-ingest face (round 10 — the
    ``upsert_ivf_index_stream`` symmetry): build the store on the base
    slice, stream the remaining documents through
    :func:`upsert_lexical_store_stream` split across ``n_input_files``
    files (one micro-batch per trigger; file partitioning keeps batch
    doc-ids disjoint — the upsert id contract), then search the
    deterministic query batch. Because every batch merges exact
    additive increments, the final store — and therefore the graded
    search — must hash-match the one-plan full-corpus oracle whatever
    the batch boundaries were: the streaming twin of the
    build-then-upsert invisibility claim."""
    from jaccard_mapreduce_spark.operators.retrieval import (
        GRADED_MAX_DF_RATIO,
    )

    def _build(docs: DataFrame, base: str) -> None:
        import os

        build_lexical_store(docs.where(F.col("doc_id") % base_mod != 0), base)
        in_dir = os.path.join(base, "_stream_in")
        newcomers = docs.where(F.col("doc_id") % base_mod == 0).select(
            "doc_id", "text"
        )
        newcomers.repartition(n_input_files).write.parquet(in_dir)
        schema = spark.read.parquet(in_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = upsert_lexical_store_stream(
            stream, base, os.path.join(base, "_stream_ckpt")
        ).start()
        q.awaitTermination()

    base, docs = _ensure_lex_store(
        spark,
        sf_dir,
        base_mod,
        suffix="_lex_stream",
        build=_build,
        tag_extra=f":files={n_input_files}",
    )
    res = search_lexical_store(
        spark,
        base,
        docs.where(F.col("doc_id") % query_mod == 0),
        k=k,
        max_df_ratio=GRADED_MAX_DF_RATIO,
    )
    # same vacuity guard as the search/bm25 demos (round-10 ADVICE)
    assert res.limit(1).count() > 0, (
        "vacuous stream-ingested-store search: no query doc matched a "
        "surviving token (round-9 verdict regression guard)"
    )
    return res

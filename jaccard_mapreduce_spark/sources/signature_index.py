"""Persisted MinHash signature store — incremental document dedup.

The dedup twin of the vector-index lifecycle
(:mod:`~jaccard_mapreduce_spark.sources.vector_index`): at 100 TB the
corpus you dedup AGAINST is not re-readable per batch — a new crawl
slice must be checked against the stored corpus using only its
signatures. This module materializes the MinHash state of a corpus as
two parquet datasets plus a params marker:

  ``<path>/signatures``  (doc_id, sig array<long>)       — k longs/doc
  ``<path>/buckets``     (doc_id, band, bucket) PARTITIONED BY band
  ``<path>/_params``     JSON {k, bands, seed}            — the contract

and answers "which new documents near-duplicate the store?" with
:func:`dedup_incremental` — candidate generation by band-bucket
equi-join against the stored buckets, similarity ESTIMATED from
signature position agreement (``est_matches / k``). The estimate —
not exact token Jaccard — is the deliberate scale semantics: exact
verification needs the stored documents' token sets, i.e. the corpus
itself; the signature store is k longs per document, and
``minhash_error_audit`` (operators/dedup.py) measures exactly what the
estimate costs on this corpus instead of assuming the Chernoff bound.

Plan shape in the operating regime (small batch, huge store): every
batch-derived relation broadcasts, and the stored datasets are only
ever scanned and filtered — the store is never shuffled. Candidate
stored-side signatures are fetched with a broadcast left-semi join
(scan-filter), so the per-batch cost is O(batch × collisions), not
O(store). MinHash params are seed-derived and data-independent, so
appends under the stored params equal a from-scratch union build —
the same invisibility claim :func:`~jaccard_mapreduce_spark.sources.
vector_index.upsert_lsh_index` grades for hyperplane LSH, graded here
by ``minhash_index_upsert``.

Reference has no index or incremental surface at all (its only
artifact is the final text file, DocumentSimilarityDriver.java:43-45);
this is LLM-pipeline engine extension in the lineage of
minhash_lsh_dedup (operators/dedup.py).
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jaccard_mapreduce_spark.operators.dedup import (
    DEFAULT_BROADCAST_MAX_DOCS,
    DEFAULT_NUM_HASHES,
    DEFAULT_SEED,
    lsh_buckets,
    minhash_signatures,
)
from jaccard_mapreduce_spark.operators.jaccard import doc_tokens
from jaccard_mapreduce_spark.sources._store import (
    _compact_datasets,
    _count_parquet_files,
    _fs_read_text,
    _fs_write_text,
    _read_live,
    _swap,
    _tombstone_delete,
    _tombstone_rows,
)


def build_minhash_index(
    documents: DataFrame,
    path: str,
    k: int = DEFAULT_NUM_HASHES,
    bands: int = 8,
    seed: int = DEFAULT_SEED,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Materialize the MinHash state of ``documents`` at ``path``.

    ONE tokenize+signature pass feeds both datasets (the buckets are a
    projection of the signatures, so the signature relation is pinned
    for the two writes). The bucket dataset is partitioned by ``band``:
    a band-bucket probe scans only matching band directories, the same
    planning-time pruning the IVF cells dataset gets from ``cell_id``.
    """
    from jaccard_mapreduce_spark.operators._cache import pin as _pin

    assert k % bands == 0, "num hashes must divide evenly into bands"
    sigs = _pin(
        minhash_signatures(doc_tokens(documents, id_col, text_col), k, seed)
    )
    try:
        sigs.write.mode("overwrite").parquet(f"{path}/signatures")
        (
            lsh_buckets(sigs, bands, k // bands)
            .write.mode("overwrite")
            .partitionBy("band")
            .parquet(f"{path}/buckets")
        )
    finally:
        sigs.unpersist()
    # the band count ALSO rides inside the buckets dataset (Spark's
    # file index skips underscore-prefixed files), so any swap that
    # renames the dataset moves its banding with it atomically —
    # _stored_params prefers this copy; see reband_minhash_index
    _fs_write_text(
        documents.sparkSession, f"{path}/buckets/_banding", str(bands)
    )
    _fs_write_text(
        documents.sparkSession,
        f"{path}/_params",
        json.dumps({"k": k, "bands": bands, "seed": seed}),
    )


def _stored_params(spark: SparkSession, path: str) -> dict:
    raw = _fs_read_text(spark, f"{path}/_params")
    if raw is None:
        raise ValueError(f"not a MinHash index (missing _params): {path}")
    p = json.loads(raw)
    # the authoritative band count lives INSIDE the buckets dataset
    # (written with it, renamed with it): a crash between a reband's
    # dataset swap and its _params update would otherwise leave stale
    # metadata that silently band-mismatches every later dedup into
    # reporting zero near-duplicates
    banding = _fs_read_text(spark, f"{path}/buckets/_banding")
    if banding is not None:
        p["bands"] = int(banding)
    return p


def upsert_minhash_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Append ``new_docs``' signatures and buckets under the STORED
    params. MinHash hash functions are seed-derived and
    data-independent — nothing retrains and no stored row changes — so
    build-base-then-upsert equals a from-scratch build over the union
    (the ``minhash_index_upsert`` graded contract). Returns the number
    of appended documents.

    ID CONTRACT addendum (merge-on-read deletes): batch ids must be
    disjoint from the stored set AND from tombstoned ids
    (:func:`delete_from_minhash_index`) — a re-inserted deleted id's
    new rows would be masked by its own tombstone; compact first."""
    from jaccard_mapreduce_spark.operators._cache import pin as _pin

    p = _stored_params(spark, path)
    sigs = _pin(
        minhash_signatures(
            doc_tokens(new_docs, id_col, text_col), p["k"], p["seed"]
        )
    )
    try:
        n_new = sigs.count()
        sigs.write.mode("append").parquet(f"{path}/signatures")
        (
            lsh_buckets(sigs, p["bands"], p["k"] // p["bands"])
            .write.mode("append")
            .partitionBy("band")
            .parquet(f"{path}/buckets")
        )
    finally:
        sigs.unpersist()
    return n_new


def delete_from_minhash_index(
    spark: SparkSession,
    path: str,
    doc_ids: DataFrame,
    id_col: str = "doc_id",
) -> int:
    """Delete a document batch from the signature store —
    MERGE-ON-READ through the store core's tombstone engine, the one
    the LSH and IVF indexes use (MinHash params are seed-derived, so
    there are no corpus statistics to correct): the
    batch lands in a tombstone set that every probe anti-joins away
    from both the buckets (candidate generation) and the signatures
    (estimate fetch). IDEMPOTENT (the batch anti-joins existing
    tombstones). Physical removal: :func:`compact_minhash_index`
    rewrites BOTH datasets and clears the tombstones;
    :func:`reband_minhash_index` folds them out of the rebuilt buckets
    but keeps the tombstones (the signatures dataset still carries the
    dead rows until a compaction). Ids absent from the store
    contribute nothing and are not tombstoned. Returns the number of
    documents actually deleted.

    ID CONTRACT addendum: re-upserting a tombstoned doc_id would have
    its new rows masked by its own tombstone — compact first."""
    return _tombstone_delete(
        spark, path, doc_ids, id_col, "signatures", "doc_id"
    )


def dedup_incremental(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_max_docs: int = DEFAULT_BROADCAST_MAX_DOCS,
) -> DataFrame:
    """Near-duplicates of ``new_docs`` in the stored corpus —
    ``(new_id, stored_id, est_matches, est_sim)`` for every stored
    document sharing >= 1 band bucket with a batch document and
    agreeing on at least ``ceil(threshold * k)`` signature positions.

    ``est_sim = est_matches / k`` is the MinHash estimate of Jaccard —
    a ratio of small integers, exact in both engines, so the graded
    hash covers the scores, not just the pair set. Pairs are directed
    (batch → store); a batch id that also exists in the store never
    pairs with itself (``new_id != stored_id``) — re-submitting a
    stored document should report its near-duplicates, not the
    tautology.

    Broadcasts are gated per relation against ``broadcast_max_docs``:
    batch-derived relations by the batch doc count, candidate-derived
    relations (the collision pairs and the semi-filtered store
    signatures) by the candidate count itself — on a dup-dense store
    the collisions of even a small batch can be store-scale, and a
    forced broadcast there would OOM the driver. While the gates hold,
    the stored buckets/signatures are only scanned (filtered by
    band-bucket match and a broadcast semi-join respectively) — the
    store never shuffles, which is the whole point at 10^9 stored
    docs. Past a gate the affected joins fall back to keyed
    shuffles.

    The plan pins two batch-scale relations for its internal reuse;
    the pins are keyed by analyzed plan, so a driver loop calling this
    per crawl batch accumulates cached batch state. One-shot callers
    can ignore that; per-batch loops should use
    :func:`dedup_incremental_stream`, which releases the pins after
    each micro-batch."""
    df, _pins = _dedup_incremental_plan(
        spark, path, new_docs, threshold, id_col, text_col,
        broadcast_max_docs,
    )
    return df


def _dedup_incremental_plan(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_max_docs: int = DEFAULT_BROADCAST_MAX_DOCS,
) -> tuple[DataFrame, list[DataFrame]]:
    """:func:`dedup_incremental` plus the list of pinned relations, so
    per-batch callers (the streaming face) can unpersist them — pins
    are keyed by analyzed plan and every micro-batch's plans are new,
    so a 24/7 stream would otherwise accumulate cached batch state."""
    from jaccard_mapreduce_spark.operators._cache import pin as _pin

    p = _stored_params(spark, path)
    k, bands = p["k"], p["bands"]
    min_matches = math.ceil(threshold * k)
    new_sigs = _pin(
        minhash_signatures(
            doc_tokens(new_docs, id_col, text_col), k, p["seed"]
        ).withColumnRenamed("doc_id", "new_id")
    )
    small_batch = new_sigs.count() <= broadcast_max_docs
    bc = F.broadcast if small_batch else (lambda df: df)
    new_buckets = lsh_buckets(
        new_sigs.withColumnRenamed("new_id", "doc_id"), bands, k // bands
    ).withColumnRenamed("doc_id", "new_id")
    # tombstone-masked (merge-on-read deletes): a dead doc must not
    # surface as a dedup partner
    stored_buckets = _read_live(spark, path, "buckets")
    # mixed id types (string batch ids against a long-id store, or the
    # reverse) would make the self-pair exclusion an ANSI cast throw —
    # same hazard the LSH index search guards; compare canonical
    # strings only in that case, direct inequality otherwise
    if (
        new_sigs.schema["new_id"].dataType
        == stored_buckets.schema["doc_id"].dataType
    ):
        not_self = F.col("a.new_id") != F.col("b.doc_id")
    else:
        not_self = F.col("a.new_id").cast("string") != F.col(
            "b.doc_id"
        ).cast("string")
    cand = _pin(
        bc(new_buckets)
        .alias("a")
        .join(
            stored_buckets.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & not_self,
        )
        .select(F.col("a.new_id"), F.col("b.doc_id").alias("stored_id"))
        .distinct()
    )
    # the candidate relation scales with COLLISIONS, not batch size —
    # on a dup-dense store a gate-passing batch can still hit store-
    # scale partner counts, and a forced broadcast of that would OOM
    # the driver. Gate the candidate-derived broadcasts on cand's OWN
    # size (the pin is about to be materialized for the joins anyway)
    small_cand = (
        small_batch and cand.count() <= broadcast_max_docs
    )
    bc_cand = F.broadcast if small_cand else (lambda df: df)
    # scan-filter the stored signatures down to candidate ids before
    # anything joins them: while the candidate id set broadcasts, the
    # store-scale relation is pruned without a shuffle; past the gate
    # this degrades to a keyed shuffle like every other join here
    hit_sigs = (
        _read_live(spark, path, "signatures")
        .join(
            bc_cand(cand.select("stored_id").distinct()),
            F.col("doc_id") == F.col("stored_id"),
            "left_semi",
        )
        .select(F.col("doc_id").alias("stored_id"), F.col("sig").alias("sb"))
    )
    est = F.aggregate(
        F.zip_with(
            F.col("sa"),
            F.col("sb"),
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # the fold is named once and est_sim derives from the named column
    # (inlining it twice re-evaluates the k-wide fold per projection —
    # the shared-metric-projection lesson from the Gopher gate)
    out = (
        cand.join(
            bc(new_sigs.select("new_id", F.col("sig").alias("sa"))), "new_id"
        )
        .join(bc_cand(hit_sigs), "stored_id")
        .select("new_id", "stored_id", est.alias("est_matches"))
        .where(F.col("est_matches") >= min_matches)
        .withColumn(
            "est_sim", F.col("est_matches").cast("double") / F.lit(float(k))
        )
    )
    return out, [new_sigs, cand]


def dedup_incremental_stream(
    stream: DataFrame,
    path: str,
    report_path: str,
    checkpoint: str,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming face of the crawl-ingest loop: each micro-batch of
    ``(doc_id, text)`` rows is first deduped AGAINST THE CURRENT STORE
    (the report appends to ``report_path`` with a ``batch_id`` column),
    then upserted into the store — so later batches see earlier ones,
    and a batch never matches itself through the store. Same honesty
    contract as :func:`~jaccard_mapreduce_spark.sources.vector_index.
    upsert_ivf_index_stream`: parquet appends are per-batch atomic at
    the file level, exactly-once is NOT claimed (a replayed batch
    re-appends; upstream watermark dedup is the recipe). Per-batch
    pinned relations are explicitly unpersisted — every batch's plans
    are new, so a 24/7 stream would otherwise grow the cache without
    bound."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        report, pins = _dedup_incremental_plan(
            spark, path, batch_df, threshold, id_col, text_col
        )
        try:
            (
                report.withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(report_path)
            )
            upsert_minhash_index(spark, path, batch_df, id_col, text_col)
        finally:
            for p in pins:
                p.unpersist()

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def bands_for(k: int = DEFAULT_NUM_HASHES, threshold: float = 0.7) -> int:
    """Derived band count for a ``k``-hash store at a similarity
    ``threshold`` — the signature-store twin of
    :func:`~jaccard_mapreduce_spark.operators.similarity.lsh_params_for`
    (the reband trigger becomes a formula, not a guess).

    Banding ``k`` hashes into ``b`` bands of ``r = k/b`` rows gives the
    classic S-curve with midpoint ``t_b ≈ (1/b)^(1/r)``: pairs above
    ``t_b`` mostly collide in some band, pairs below mostly don't.
    Pick the FEWEST bands (most selective banding, fewest candidate
    collisions — the quantity that scales with corpus size) whose
    midpoint still sits at or below the dedup threshold, so true pairs
    at the threshold stay likely candidates::

        k=32: b=2 → 0.96, b=4 → 0.84, b=8 → 0.59, b=16 → 0.25, b=32 → 0.03

    ``bands_for(32, 0.7) == 8`` — the shipped default is the derived
    point, not a magic number. A store built before its threshold was
    settled (or whose threshold changes) retunes in place via
    :func:`reband_minhash_index`; ``minhash_index_stats`` reports the
    measured occupancy that tells you what the current banding costs."""
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    divisors = [b for b in range(1, k + 1) if k % b == 0]
    for b in divisors:  # ascending b = descending selectivity
        if (1.0 / b) ** (b / k) <= threshold:
            return b
    return k


def reband_minhash_index(
    spark: SparkSession, path: str, new_bands: int
) -> None:
    """Retune the store's band count IN PLACE from the stored
    signatures — no corpus pass. Banding is a pure re-slicing of the
    k-hash signature (``lsh_params_for``'s occupancy math says when:
    more bands → higher recall and more collisions, fewer → the
    reverse), so the bucket dataset after rebanding is row-identical
    to a from-scratch build at ``new_bands`` (file layout differs: the
    rewrite packs one file per band). Retuning ``k`` itself
    DOES need the corpus (new hash functions must see the tokens) — a
    rebuild, not an index operation.

    Crash safety: the new band count is written INSIDE the tmp bucket
    dataset (``_banding``) before the swap, so the rename that
    publishes the new buckets publishes their banding with them —
    ``_stored_params`` prefers that copy, and a crash between the
    swap and the ``_params`` refresh can never leave stale metadata
    that band-mismatches every later dedup into silently reporting
    zero near-duplicates."""
    p = _stored_params(spark, path)
    if new_bands < 1 or p["k"] % new_bands != 0:
        raise ValueError(
            f"new_bands={new_bands} must be >= 1 and divide"
            f" k={p['k']} evenly"
        )
    # LIVE signatures only: a reband folds merge-on-read deletes out
    # of the rebuilt buckets (the tombstones stay — the signatures
    # dataset still carries the dead rows until a compaction)
    sigs = _read_live(spark, path, "signatures")
    tmp = f"{path}/buckets__rebanding"
    (
        lsh_buckets(sigs, new_bands, p["k"] // new_bands)
        # keyed by the partition column, or every scan task writes a
        # file into every band dir (tasks x bands files — the same
        # fan-out the compactor guards; measured 128 files for a
        # 450-doc store before this repartition)
        .repartition(new_bands, F.col("band"))
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(tmp)
    )
    _fs_write_text(spark, f"{tmp}/_banding", str(new_bands))
    _swap(spark, f"{path}/buckets", tmp)
    _fs_write_text(
        spark,
        f"{path}/_params",
        json.dumps({"k": p["k"], "bands": new_bands, "seed": p["seed"]}),
    )


def minhash_index_stats(spark: SparkSession, path: str) -> dict:
    """Operational snapshot of a signature store: the stored params
    plus document count, measured bucket occupancy, and per-dataset
    parquet file counts (the compaction trigger). One count job over
    the skinny signature relation plus one aggregate over the bucket
    relation; the file counts come from the filesystem.

    ``n_bucket_groups`` (distinct ``(band, bucket)`` cells) and
    ``max_bucket_docs`` (the hottest cell) are the occupancy numbers
    the banding trades on: candidate volume per dedup batch scales
    with cell sizes, so a growing ``max_bucket_docs`` is the measured
    signal to retune toward fewer bands (:func:`bands_for` /
    :func:`reband_minhash_index`) — the same measure-then-retune
    discipline as ``lsh_params_for``."""
    p = _stored_params(spark, path)
    out = dict(p)
    # LIVE relations (tombstones masked): occupancy is what probes pay
    out["n_docs"] = _read_live(spark, path, "signatures").count()
    out["n_tombstones"] = _tombstone_rows(spark, path)
    occ = (
        _read_live(spark, path, "buckets")
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.count(F.lit(1)).alias("groups"),
            F.max("c").alias("mx"),
        )
        .first()
    )
    out["n_bucket_groups"] = int(occ["groups"])
    out["max_bucket_docs"] = int(occ["mx"]) if occ["mx"] is not None else 0
    for name in ("signatures", "buckets"):
        out[f"{name}_files"], _ = _count_parquet_files(
            spark, f"{path}/{name}"
        )
    return out


def compact_minhash_index(
    spark: SparkSession,
    path: str,
    n_files: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, tuple[int, int]]:
    """Size-targeted compaction of the signature store's append-heavy
    datasets through the store core's compactor (row-identical
    rewrite, two-rename swap). Both datasets are rewritten, so this is
    the one maintenance op that folds the tombstones out completely
    and clears them (a reband folds only the buckets). The buckets
    dataset keeps its band partitioning: the rewrite hash-distributes
    the band column so compaction cannot multiply files across
    partition dirs."""
    # resolve the authoritative banding BEFORE the rewrite (the
    # compactor re-reads the dataset as parquet, which drops the
    # in-dataset _banding marker) and stamp it into the TMP dataset
    # before the swap, so the rename that publishes the compacted
    # buckets publishes their banding with them — the same
    # marker-rides-with-the-data ordering reband_minhash_index uses. A
    # post-swap re-stamp would leave a crash window in which the live
    # dataset has no authoritative marker and a stale _params could
    # silently band-mismatch every later dedup into zero results.
    p = _stored_params(spark, path)
    return _compact_datasets(
        spark,
        path,
        ("signatures", "buckets"),
        "a MinHash index",
        n_files,
        target_file_bytes,
        partition_by={"buckets": "band"},
        pre_swap={
            "buckets": lambda tmp: _fs_write_text(
                spark, f"{tmp}/_banding", str(p["bands"])
            )
        },
    )


def _ensure_doc_index(
    spark: SparkSession,
    sf_dir: str,
    suffix: str,
    build,
    tag_extra: str = "",
) -> tuple[str, DataFrame]:
    """Documents face of the shared demo build-once gate — the
    ``_params`` file is in the usable-index check because
    :func:`_stored_params` hard-fails without it (a tmp cleaner that
    removes only the small metadata file must trigger a rebuild, not a
    session-long graded-query failure)."""
    from jaccard_mapreduce_spark.sources.vector_index import _ensure_index

    return _ensure_index(
        spark,
        sf_dir,
        suffix=suffix,
        required_dirs=["signatures", "buckets"],
        build=build,
        tag_extra=tag_extra,
        table="documents.parquet",
        required_files=("_params",),
    )


def dedup_incremental_demo(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.7,
    base_mod: int = 5,
) -> DataFrame:
    """Contract query: index the ``doc_id % base_mod != 0`` slice of the
    corpus, then dedup the remaining documents (the "new crawl batch")
    against the store. The DuckDB oracle recomputes the same split with
    shared signature CTEs — the directed pair set AND the estimated
    similarities must hash-match."""

    def _build(docs: DataFrame, path: str) -> None:
        build_minhash_index(docs.where(F.col("doc_id") % base_mod != 0), path)

    base, docs = _ensure_doc_index(
        spark,
        sf_dir,
        suffix="_mh_incr",
        build=_build,
        tag_extra=f"base_mod={base_mod}",
    )
    return dedup_incremental(
        spark, base, docs.where(F.col("doc_id") % base_mod == 0), threshold
    )


def reband_minhash_index_demo(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.7,
    base_mod: int = 3,
    initial_bands: int = 4,
) -> DataFrame:
    """Contract query for the in-place band retune: build the store on
    the ``% base_mod != 0`` slice with a deliberately MIStuned banding
    (``initial_bands=4`` — S-curve midpoint 0.84, above the 0.7 dedup
    threshold, so threshold-grade pairs would be missed), reband it to
    the :func:`bands_for`-derived count (8 at k=32 / threshold 0.7),
    then dedup the remaining documents against the store.

    The DuckDB oracle is a FRESH build at the derived banding
    (``dedup_incremental_sql`` with ``bands=bands_for(...)``) — so the
    grade pins both halves of the reband claim: the rewrite is
    row-identical to a from-scratch build at the new banding, and the
    published ``_banding`` marker actually governs later dedups (a
    store silently still at 4 bands would generate a strictly sparser
    candidate set and hash-mismatch)."""

    new_bands = bands_for(DEFAULT_NUM_HASHES, threshold)
    assert new_bands != initial_bands, "demo must exercise a real retune"

    def _build(docs: DataFrame, path: str) -> None:
        build_minhash_index(
            docs.where(F.col("doc_id") % base_mod != 0),
            path,
            bands=initial_bands,
        )
        reband_minhash_index(spark, path, new_bands)

    base, docs = _ensure_doc_index(
        spark,
        sf_dir,
        suffix="_mh_reband",
        build=_build,
        tag_extra=f"base_mod={base_mod},bands={initial_bands}->{new_bands}",
    )
    return dedup_incremental(
        spark, base, docs.where(F.col("doc_id") % base_mod == 0), threshold
    )


def minhash_index_stats_demo(
    spark: SparkSession,
    sf_dir: str,
    base_mod: int = 6,
) -> DataFrame:
    """Contract query for the ops snapshot: build a store on the
    ``% base_mod != 0`` slice and return the SQL-derivable slice of
    :func:`minhash_index_stats` as one row — ``(k_hashes, bands,
    n_docs, n_bucket_groups, max_bucket_docs)``. The DuckDB oracle
    recomputes the same occupancy from the signature CTEs, so the
    graded hash pins that the stats face reads the store's REAL
    banding and bucket layout (the file counts are filesystem facts
    with no SQL twin and stay out of the graded projection)."""

    def _build(docs: DataFrame, path: str) -> None:
        build_minhash_index(docs.where(F.col("doc_id") % base_mod != 0), path)

    base, _docs = _ensure_doc_index(
        spark,
        sf_dir,
        suffix="_mh_stats",
        build=_build,
        tag_extra=f"base_mod={base_mod}",
    )
    st = minhash_index_stats(spark, base)
    return spark.createDataFrame(
        [
            (
                st["k"],
                st["bands"],
                st["n_docs"],
                st["n_bucket_groups"],
                st["max_bucket_docs"],
            )
        ],
        "k_hashes long, bands long, n_docs long,"
        " n_bucket_groups long, max_bucket_docs long",
    )


def minhash_index_upsert_demo(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.7,
    base_mod: int = 7,
    batch_mod: int = 10,
) -> DataFrame:
    """Contract query for append-invisibility: build the store on the
    ``% base_mod != 0`` slice, UPSERT the rest, then dedup a
    deterministic ``% batch_mod == 0`` probe batch against the store.
    The oracle computes the same probe against a one-shot store over
    the FULL corpus — equality proves the upsert equals a union build
    (data-independent hashing, the ``lsh_index_upsert`` claim for the
    MinHash tier)."""

    def _build(docs: DataFrame, path: str) -> None:
        build_minhash_index(docs.where(F.col("doc_id") % base_mod != 0), path)
        n = upsert_minhash_index(
            spark, path, docs.where(F.col("doc_id") % base_mod == 0)
        )
        assert n > 0

    base, docs = _ensure_doc_index(
        spark,
        sf_dir,
        suffix="_mh_upsert",
        build=_build,
        tag_extra=f"base_mod={base_mod}",
    )
    return dedup_incremental(
        spark, base, docs.where(F.col("doc_id") % batch_mod == 0), threshold
    )


def minhash_index_delete_demo(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.7,
    base_mod: int = 7,
    batch_mod: int = 10,
    del_mod: int = 9,
    del_rem: int = 2,
) -> DataFrame:
    """Contract query for MERGE-ON-READ deletion on the dedup store
    (round 12 — the delete lens's third index family):
    build-then-upsert-then-DELETE, probed with the surviving batch,
    must hash-match the one-shot oracle whose STORE side keeps only
    the survivors — a dead document surfacing as a dedup partner (from
    an unmasked bucket OR an unmasked signature fetch) adds a directed
    pair and fails the hash. The build asserts delete idempotence and
    the stats tombstone count once per store build."""

    def _build(docs: DataFrame, path: str) -> None:
        build_minhash_index(docs.where(F.col("doc_id") % base_mod != 0), path)
        upsert_minhash_index(
            spark, path, docs.where(F.col("doc_id") % base_mod == 0)
        )
        victims = docs.where(F.col("doc_id") % del_mod == del_rem).select(
            "doc_id"
        )
        n = delete_from_minhash_index(spark, path, victims)
        assert n > 0, "vacuous delete fixture: no doc in the slice"
        assert delete_from_minhash_index(spark, path, victims) == 0
        assert minhash_index_stats(spark, path)["n_tombstones"] == n

    base, docs = _ensure_doc_index(
        spark,
        sf_dir,
        suffix="_mh_del",
        build=_build,
        tag_extra=f"base_mod={base_mod}:del{del_mod}-{del_rem}",
    )
    res = dedup_incremental(
        spark,
        base,
        docs.where(
            (F.col("doc_id") % batch_mod == 0)
            & (F.col("doc_id") % del_mod != del_rem)
        ),
        threshold,
    )
    assert res.limit(1).count() > 0, (
        "vacuous deleted-store dedup: no surviving batch doc found a "
        "surviving near-duplicate"
    )
    return res

"""Registry fixtures: the driver-side scaffolding behind the stored-index,
streaming and layout keys of ``__spark_entry__.queries()``.

Every fixture takes ``(spark, sf_dir)`` (``phrase_guard_demo`` takes the
documents relation) and returns the relation its registry key grades
against the DuckDB oracle. Stored-index fixtures build their store once
per session through one gate (:func:`_store`); mutating fixtures share
one build shape (:func:`_mutated`: build on a base slice, upsert the
rest) and one delete prologue (:func:`_deleted`); streaming fixtures
split their input into files and drive a stream one file per trigger
(:func:`_file_stream`). Each fixture asserts that what it grades is not
vacuous: an empty relation would hash-match an equally empty oracle and
prove nothing.

This module runs on the driver only. It imports the library; the
library never imports it (tests/test_fixture_boundary.py checks both),
so the package shipped to workers does not carry it.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jaccard_mapreduce_spark.operators import retrieval as RT
from jaccard_mapreduce_spark.operators._cache import pin
from jaccard_mapreduce_spark.operators.dedup import planted_benchmarks
from jaccard_mapreduce_spark.operators.jaccard import doc_tokens
from jaccard_mapreduce_spark.sources import lexical_store as LS
from jaccard_mapreduce_spark.sources import signature_index as SI
from jaccard_mapreduce_spark.sources import vector_index as VI
from jaccard_mapreduce_spark.sources._store import _read_live
from jaccard_mapreduce_spark.sources.corpus import read_documents
from jaccard_mapreduce_spark.sources.tables import load_events
from jaccard_mapreduce_spark.sources.zorder import write_zordered_events
from jaccard_mapreduce_spark.streaming import decontam, upsert
from jaccard_mapreduce_spark.streaming import retrieval_serve as RS

# ---------------------------------------------------------------------------
# Scaffolding: one scratch root, one build-once gate, one delete prologue
# ---------------------------------------------------------------------------


def _scratch_dir(spark: SparkSession, name: str) -> str:
    """Directory of fixture ``name`` under this Spark application's one
    driver-local scratch root."""
    app = re.sub(r"[^a-zA-Z0-9]+", "_", spark.sparkContext.applicationId)
    root = os.path.join(tempfile.gettempdir(), f"fixtures_{app}".lower())
    return os.path.join(root, name)


def _fresh_dir(spark: SparkSession, name: str) -> str:
    """:func:`_scratch_dir`, emptied: fixtures that rewrite their
    scratch on every call start from nothing."""
    path = _scratch_dir(spark, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def _content_fingerprint(root: str) -> str:
    """Cheap identity of a fixture table: sorted (name, size, mtime_ns)
    of every file under ``root``. If the data under an indexed path is
    rewritten within a session the fingerprint changes and the store is
    rebuilt rather than serving stale rows (which would silently break
    the hash parity with the one-plan oracle)."""
    parts = []
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            st = os.stat(path)
            rel = os.path.relpath(path, root)
            parts.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
    return ";".join(sorted(parts))


class _Kind(NamedTuple):
    """A store family as the fixtures drive it."""

    table: str  # the fixture table the store is built from
    id_col: str
    required: tuple[str, ...]  # paths every usable store holds
    build: Callable | None
    upsert: Callable | None = None
    delete: Callable | None = None
    stats: Callable | None = None
    # the layout version: bumping it rebuilds every store of the kind
    version: str = ""


_KINDS = {
    "lsh": _Kind(
        "embeddings.parquet",
        "vec_id",
        ("planes", "vectors", "signatures"),
        VI.build_lsh_index,
        VI.upsert_lsh_index,
        VI.delete_from_lsh_index,
        VI.lsh_index_stats,
    ),
    "ivf": _Kind(
        "embeddings.parquet",
        "vec_id",
        ("centroids", "cells"),
        VI.build_ivf_index,
        VI.upsert_ivf_index,
        VI.delete_from_ivf_index,
        VI.ivf_index_stats,
    ),
    # _params is required because _stored_params hard-fails without it:
    # a tmp cleaner that removes only that small file must trigger a
    # rebuild, not a session-long failure
    "minhash": _Kind(
        "documents.parquet",
        "doc_id",
        ("signatures", "buckets", "_params"),
        SI.build_minhash_index,
        SI.upsert_minhash_index,
        SI.delete_from_minhash_index,
        SI.minhash_index_stats,
    ),
    # docv4 = the doc_id-clustered layout (row-identical to posv3, but
    # serve timings are only comparable within one generation)
    "lexical": _Kind(
        "documents.parquet",
        "doc_id",
        ("postings", "df", "positions", "_n_docs", "_n_tokens"),
        LS.build_lexical_store,
        LS.upsert_lexical_store,
        LS.delete_from_lexical_store,
        LS.lexical_store_stats,
        "docv4",
    ),
    "zorder": _Kind("events.parquet", "event_id", ("_SUCCESS",), None),
}


def _store(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    name: str | None = None,
    build: Callable[[DataFrame, str], None] | None = None,
) -> tuple[str, DataFrame]:
    """The one build-once gate: returns ``(store path, fixture table)``.

    The first call of a session for a given ``name`` runs
    ``build(table, path)``; later calls reuse the store on disk. The
    defaults are the plain build of ``kind`` under the name ``kind`` —
    the store several fixtures share. ``name`` identifies the build, so
    a build with other parameters carries them in its name.

    The marker records the fixture path, the build name, the kind's
    layout version and a content fingerprint of the table; any
    difference rebuilds from scratch. The marker alone does not prove a
    usable store — a tmp cleaner can remove the data and leave it — so
    every required path of the kind must exist too. The marker is read
    with plain ``os.path`` on purpose: the store is always a
    driver-local scratch directory, never a user path (the library's
    own entry points route their markers through Hadoop FS)."""
    k = _KINDS[kind]
    name = name or kind
    base = _scratch_dir(spark, name)
    marker = os.path.join(base, "_built_for")
    tag = "\n".join(
        (
            sf_dir.rstrip("/"),
            name,
            k.version,
            _content_fingerprint(os.path.join(sf_dir, k.table)),
        )
    )
    built = all(
        os.path.exists(os.path.join(base, p))
        for p in (*k.required, "_built_for")
    )
    if built:
        with open(marker) as fh:
            built = fh.read() == tag
    rel = spark.read.parquet(f"{sf_dir}/{k.table}")
    if not built:
        shutil.rmtree(base, ignore_errors=True)
        (build or k.build)(rel, base)
        with open(marker, "w") as fh:
            fh.write(tag)
    return base, rel


def _mutated(kind: str, base_mod: int, *steps) -> Callable[[DataFrame, str], None]:
    """A build: the store over the base slice (``id % base_mod != 0``),
    the rest upserted, then each ``step(spark, path, table)``. Because
    the gate runs it once, an upsert is never appended twice."""
    k = _KINDS[kind]

    def build(rel: DataFrame, path: str) -> None:
        spark = rel.sparkSession
        k.build(rel.where(F.col(k.id_col) % base_mod != 0), path)
        n = k.upsert(spark, path, rel.where(F.col(k.id_col) % base_mod == 0))
        assert n > 0, "vacuous upsert fixture: no row outside the base slice"
        for step in steps:
            step(spark, path, rel)

    return build


def _compacted(compact: Callable) -> Callable:
    """A build step: compact the store; no dataset may gain files."""

    def step(spark: SparkSession, path: str, _rel: DataFrame) -> None:
        for name, (before, after) in compact(spark, path).items():
            assert after <= before or before <= 1, (name, before, after)

    return step


def _check_lex_stats(st: dict) -> None:
    """The lexical store's drift checks: the live distinct documents
    equal the ``_n_docs`` marker, and the physical positions equal the
    live plus the dead token occurrences."""
    assert st["n_distinct_docs"] == st["n_docs"], st
    assert st["n_positions"] == (
        st["n_token_occurrences"] + st["n_dead_token_occurrences"]
    ), st


def _deleted(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    base_mod: int,
    del_mod: int,
    del_rem: int,
    query_mod: int,
) -> tuple[str, DataFrame]:
    """The delete prologue of the four mutable families: build on the
    base slice, upsert the rest, delete the ``id % del_mod == del_rem``
    slice, then check that a replayed delete is a counted no-op
    (tombstones are a set) and that the stats face counts exactly the
    tombstones written; the lexical store also passes its drift checks.
    These run once per store build, so every graded serve sits on a
    verified mutation history. Returns the store path and the surviving
    query batch (``id % query_mod == 0`` outside the deleted slice)."""
    k = _KINDS[kind]
    dead = F.col(k.id_col) % del_mod == del_rem

    def delete(spark: SparkSession, path: str, rel: DataFrame) -> None:
        victims = rel.where(dead).select(k.id_col)
        n = k.delete(spark, path, victims)
        assert n > 0, "vacuous delete fixture: no row in the slice"
        assert k.delete(spark, path, victims) == 0
        st = k.stats(spark, path)
        assert st["n_tombstones"] == n, st
        if kind == "lexical":
            _check_lex_stats(st)

    base, rel = _store(
        spark,
        sf_dir,
        kind,
        f"{kind}_b{base_mod}_del{del_mod}_{del_rem}",
        _mutated(kind, base_mod, delete),
    )
    return base, rel.where((F.col(k.id_col) % query_mod == 0) & ~dead)


def _nonempty(res: DataFrame, what: str) -> DataFrame:
    """The fixtures' vacuity guard (one limit-1 probe)."""
    assert res.limit(1).count() > 0, f"vacuous {what}"
    return res


def _stats_row(spark: SparkSession, st: dict, *cols: str) -> DataFrame:
    """One-row relation of the SQL-derivable stats ``cols``; file
    counts are filesystem facts with no SQL twin and stay out."""
    return spark.createDataFrame(
        [tuple(st[c] for c in cols)], ", ".join(f"{c} long" for c in cols)
    )


def _file_stream(rel: DataFrame, in_dir: str, n_files: int) -> DataFrame:
    """``rel`` written as ``n_files`` parquet files and streamed back
    one file per trigger: ``n_files`` genuine micro-batches."""
    rel.repartition(n_files).write.parquet(in_dir)
    spark = rel.sparkSession
    return (
        spark.readStream.schema(spark.read.parquet(in_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )


def _serve(
    spark: SparkSession,
    name: str,
    queries: DataFrame,
    n_files: int,
    wire: Callable[[DataFrame, str, str], object],
) -> DataFrame:
    """Stream ``queries`` one file per trigger through ``wire(stream,
    out_dir, checkpoint)`` — a library serve-stream writer — run it to
    completion and return the appended log."""
    scratch = _fresh_dir(spark, name)
    stream = _file_stream(queries, f"{scratch}/in", n_files)
    wire(stream, f"{scratch}/out", f"{scratch}/ckpt").start().awaitTermination()
    return spark.read.parquet(f"{scratch}/out")


# ---------------------------------------------------------------------------
# Vector stores (IVF + multi-table LSH)
# ---------------------------------------------------------------------------


def ivf_index_search_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the IVF index into session scratch, self-search it, return
    the top-k relation. Must value-hash-match the train-and-search
    ``ann_ivf_topk`` oracle — proving the persisted layout is
    semantically invisible. The index is reused across calls: the first
    call pays training + the partitioned write, every later call is
    search-only (measured at sf0.1: search-only settles at ~2.0 s vs
    3.9 s for the one-plan ``ann_ivf_topk``)."""
    base, emb = _store(spark, sf_dir, "ivf")
    return VI.search_ivf_index(spark, base, emb)


def ivf_index_sq8_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQ8 serving path: self-search the shared IVF index with
    ``rerank="sq8"`` — the rerank reads the STORED 1-byte codes, never
    the float vectors. Must value-hash-match the one-plan
    ``ann_sq8_topk`` oracle (same trained codebook, same pinned score
    expression), proving the quantized layout equals quantizing on the
    fly."""
    base, emb = _store(spark, sf_dir, "ivf")
    return VI.search_ivf_index(spark, base, emb, rerank="sq8")


def ivf_index_serve_demo(
    spark: SparkSession,
    sf_dir: str,
    query_mod: int = 10,
) -> DataFrame:
    """The IVF SERVING shape: a deterministic query batch
    (``vec_id % query_mod == 0``) against the full shared index. Must
    value-hash-match the one-plan oracle with the cell join's query
    side filtered to the batch (``ann_ivf_topk_sql`` with
    ``query_where`` — dropping other queries leaves each per-query
    top-k window unchanged). The batch assigns ``|batch| · n_cells``
    rows against the broadcast codebook; the corpus's assignment is
    read, not recomputed."""
    base, emb = _store(spark, sf_dir, "ivf")
    return VI.search_ivf_index(
        spark, base, emb.where(F.col("vec_id") % int(query_mod) == 0)
    )


def ivf_index_upsert_demo(
    spark: SparkSession,
    sf_dir: str,
    base_mod: int = 5,
) -> DataFrame:
    """Incremental maintenance: build on the base slice, upsert the
    newcomers under the stored codebook, self-search the union. Must
    value-hash-match the one-plan search over the union with the
    base-trained codebook (``ann_ivf_topk_sql`` with its training CTE
    filtered to the base slice) — build-then-upsert ≡ build-over-union
    when the codebook is held fixed: mutation changes WHERE vectors
    land, never the answer."""
    base, emb = _store(
        spark, sf_dir, "ivf", f"ivf_b{base_mod}", _mutated("ivf", base_mod)
    )
    return VI.search_ivf_index(spark, base, emb)


def ivf_index_compact_demo(
    spark: SparkSession,
    sf_dir: str,
    base_mod: int = 5,
) -> DataFrame:
    """Build on the base slice, upsert the newcomers (two file
    generations inside each touched ``cell_id`` dir), COMPACT the cells
    through :func:`compact_ivf_index`, self-search the union.
    Compaction is pure layout — row-identical, partition-dir-preserving
    — so the search must still hash-match the ``ivf_index_upsert``
    oracle (codebook trained on the base slice)."""
    base, emb = _store(
        spark,
        sf_dir,
        "ivf",
        f"ivf_b{base_mod}_compact",
        _mutated("ivf", base_mod, _compacted(VI.compact_ivf_index)),
    )
    return VI.search_ivf_index(spark, base, emb)


def ivf_index_retrain_demo(
    spark: SparkSession,
    sf_dir: str,
    base_mod: int = 5,
) -> DataFrame:
    """The retrain face: build on the base slice, upsert the newcomers
    (the codebook now trained on a subset — the drift
    :func:`index_staleness` counts), RETRAIN past a staleness
    threshold, self-search. Must value-hash-match the one-plan
    ``ann_ivf_topk`` oracle with NO training filter: a retrained index
    is indistinguishable from a fresh build over the full corpus."""

    def retrain(spark: SparkSession, path: str, _rel: DataFrame) -> None:
        assert VI.retrain_ivf_index(spark, path, min_staleness=1), (
            "staleness threshold not crossed — demo broken"
        )

    base, emb = _store(
        spark,
        sf_dir,
        "ivf",
        f"ivf_b{base_mod}_retrain",
        _mutated("ivf", base_mod, retrain),
    )
    return VI.search_ivf_index(spark, base, emb)


def ivf_index_delete_demo(
    spark: SparkSession,
    sf_dir: str,
    base_mod: int = 5,
    query_mod: int = 10,
    del_mod: int = 7,
    del_rem: int = 1,
) -> DataFrame:
    """MERGE-ON-READ deletion under a HELD-FIXED codebook: the delete
    prologue, then the surviving query batch searched under the exact
    rerank. The oracle trains its codebook on the base slice of the RAW
    corpus (deletes don't retrain — the upsert contract's mirror) but
    assigns and searches only the SURVIVORS, so a dead vector surfacing
    as a cell resident shifts a rank and fails the hash."""
    base, batch = _deleted(
        spark, sf_dir, "ivf", base_mod, del_mod, del_rem, query_mod
    )
    return _nonempty(
        VI.search_ivf_index(spark, base, batch),
        "deleted-index search: no surviving query found a surviving "
        "neighbor",
    )


def ivf_index_stats_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF ops snapshot: the SQL-derivable slice of
    :func:`ivf_index_stats` over the shared index as one row. The DuckDB
    oracle recomputes the occupancy from the integer-exact k-means
    assignment CTEs (``crank = 1``), so the hash pins that the stats
    face reads the store's REAL codebook and cell layout; the shared
    index is a fresh full build, so ``staleness`` is pinned to zero."""
    base, _emb = _store(spark, sf_dir, "ivf")
    return _stats_row(
        spark,
        VI.ivf_index_stats(spark, base),
        "n_cells",
        "n_vectors",
        "n_occupied_cells",
        "max_cell_vectors",
        "staleness",
    )


def lsh_index_search_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persist the LSH index into session scratch, self-search it,
    return the top-k relation. Must value-hash-match the one-plan
    ``ann_lsh_topk`` oracle (the stored plane relation round-trips the
    literal set exactly), proving the persisted signature layout is
    semantically invisible. The first call pays the n_tables×
    signature expansion and the three writes; later calls compute only
    query-side signatures.

    Measured at sf0.1 (2,000 vectors): build ~12 s, self-search-only
    ~7.0-7.9 s vs ~8.0-8.3 s for the one-plan ``ann_lsh_topk``. With
    query set == corpus the pair-distinct and rerank dominate either
    way; the serving shape (:func:`lsh_index_serve_demo`) is where the
    index amortizes."""
    base, emb = _store(spark, sf_dir, "lsh")
    return VI.search_lsh_index(spark, base, emb)


def lsh_index_serve_demo(
    spark: SparkSession,
    sf_dir: str,
    query_mod: int = 10,
) -> DataFrame:
    """The LSH SERVING shape: a deterministic query batch
    (``vec_id % query_mod == 0``) against the full shared index. Must
    value-hash-match the one-plan oracle with the candidate join's
    query side filtered to the batch (``ann_lsh_topk_sql`` with
    ``query_where``): the amortized path serves exactly the batch's rows
    of the full self-search, computing n_tables signatures per query
    vector while the corpus's expansion is read, not recomputed."""
    base, emb = _store(spark, sf_dir, "lsh")
    return VI.search_lsh_index(
        spark, base, emb.where(F.col("vec_id") % int(query_mod) == 0)
    )


def lsh_index_upsert_demo(
    spark: SparkSession,
    sf_dir: str,
    base_mod: int = 5,
) -> DataFrame:
    """Incremental LSH maintenance: build on the base slice, upsert the
    newcomers, self-search the union. Sign-bit hashing is
    data-independent, so the oracle is the one-plan ``ann_lsh_topk``
    SQL over the FULL corpus with no training filter — the stronger
    claim than IVF's: the mutation path is exactly invisible."""
    base, emb = _store(
        spark, sf_dir, "lsh", f"lsh_b{base_mod}", _mutated("lsh", base_mod)
    )
    return VI.search_lsh_index(spark, base, emb)


def lsh_index_compact_demo(
    spark: SparkSession,
    sf_dir: str,
    base_mod: int = 5,
) -> DataFrame:
    """Build on the base slice, upsert the newcomers (two file
    generations per dataset), COMPACT, self-search the union — must
    still hash-match the one-plan search over the full corpus
    (compaction is invisible)."""
    base, emb = _store(
        spark,
        sf_dir,
        "lsh",
        f"lsh_b{base_mod}_compact",
        _mutated("lsh", base_mod, _compacted(VI.compact_lsh_index)),
    )
    return VI.search_lsh_index(spark, base, emb)


def lsh_index_retune_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retune face: build the index at a deliberately MISTUNED width
    (1 plane × 2 tables — two half-corpus buckets per table), then
    :func:`retune_lsh_index` with no explicit width (the plane count
    comes from ``lsh_params_for`` over the stored corpus size) and
    self-search. At sf0.01 the derivation lands on the shipped default
    (4 planes × 16 tables), so the search must hash-match the canonical
    ``ann_lsh_topk`` oracle: an index retuned IN PLACE is
    indistinguishable from one built right."""

    def build(emb: DataFrame, path: str) -> None:
        VI.build_lsh_index(emb, path, n_planes=1, n_tables=2)
        VI.retune_lsh_index(emb.sparkSession, path)

    base, emb = _store(spark, sf_dir, "lsh", "lsh_retune", build)
    return VI.search_lsh_index(spark, base, emb)


def lsh_index_delete_demo(
    spark: SparkSession,
    sf_dir: str,
    base_mod: int = 5,
    query_mod: int = 10,
    del_mod: int = 7,
    del_rem: int = 1,
) -> DataFrame:
    """MERGE-ON-READ deletion on the vector side (sign-bit hashing keeps
    no corpus statistics, so the whole mutation is the tombstone set):
    the delete prologue, then the surviving query batch under the exact
    rerank must value-hash-match the one-plan LSH oracle over the
    SURVIVING vectors only — a dead vector surfacing as a candidate OR
    as a rerank neighbor shifts a rank."""
    base, batch = _deleted(
        spark, sf_dir, "lsh", base_mod, del_mod, del_rem, query_mod
    )
    return _nonempty(
        VI.search_lsh_index(spark, base, batch),
        "deleted-index search: no surviving query found a surviving "
        "neighbor",
    )


def lsh_index_stats_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH ops snapshot: the SQL-derivable slice of
    :func:`lsh_index_stats` over the shared index as one row. The oracle
    recomputes the occupancy from the signature CTEs over the same plane
    literals, so the hash pins that the face reads the store's REAL
    table geometry and bucket layout — the numbers
    :func:`retune_lsh_index`'s occupancy trigger trades on."""
    base, _emb = _store(spark, sf_dir, "lsh")
    return _stats_row(
        spark,
        VI.lsh_index_stats(spark, base),
        "n_tables",
        "n_planes",
        "n_vectors",
        "n_bucket_groups",
        "max_bucket_vectors",
    )


def hybrid_index_search_demo(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    leg_k: int = 20,
    query_mod: int = 100,
) -> DataFrame:
    """The hybrid-retrieval drop-in claim graded: fusion consumes only
    ``(query_id, neighbor_id, rank)``, so the lexical leg fuses with
    :func:`search_lsh_index` over the shared index and must hash-match
    an oracle whose vector leg is the LSH candidate generation — the
    fused scores pin the SERVED ranking, not a re-derivation of the
    exact one. Graded at ``GRADED_MAX_DF_RATIO`` so the lexical leg is
    populated (at the 0.5 prune it was empty at the graded sf0.01
    fixture and every ``lex_rank`` in the hash was null); the leg is
    asserted non-empty so no fixture or prune change can re-vacate the
    grade."""
    base, emb = _store(spark, sf_dir, "lsh")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lex = _nonempty(
        RT.lexical_topk(
            docs,
            docs.where(F.col("doc_id") % query_mod == 0),
            k=leg_k,
            max_df_ratio=RT.GRADED_MAX_DF_RATIO,
        ),
        "lexical leg: no query doc matched a surviving token",
    )
    vec = VI.search_lsh_index(
        spark, base, emb.where(F.col("vec_id") % query_mod == 0), k=leg_k
    )
    return RT.rrf_fuse(lex, vec, k=k)


def hybrid_recall_audit_demo(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    leg_k: int = 20,
    query_mod: int = 100,
) -> DataFrame:
    """The retrieval recall audit: per query-batch member, how many of
    the exact-cosine top-``k`` each relation recovers — the lexical leg,
    the LSH-SERVED vector leg (``vec_hits`` = the stored tier's measured
    recall@k) and the fusion. Integer counts, hash-graded against the
    search oracles' CTE chain. Graded at ``GRADED_MAX_DF_RATIO`` so
    ``lex_hits`` measures a populated lexical leg."""
    base, emb = _store(spark, sf_dir, "lsh")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vec = VI.search_lsh_index(
        spark, base, emb.where(F.col("vec_id") % query_mod == 0), k=leg_k
    )
    return RT.hybrid_recall_audit(
        docs, emb, vec, k=k, leg_k=leg_k, query_mod=query_mod,
        max_df_ratio=RT.GRADED_MAX_DF_RATIO,
    )


# ---------------------------------------------------------------------------
# MinHash signature store
# ---------------------------------------------------------------------------


def dedup_incremental_demo(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.7,
    base_mod: int = 5,
) -> DataFrame:
    """Index the ``doc_id % base_mod != 0`` slice, then dedup the
    remaining documents (the "new crawl batch") against the store. The
    DuckDB oracle recomputes the same split with shared signature CTEs —
    the directed pair set AND the estimated similarities must
    hash-match."""
    base, docs = _store(
        spark,
        sf_dir,
        "minhash",
        f"minhash_slice{base_mod}",
        lambda docs, path: SI.build_minhash_index(
            docs.where(F.col("doc_id") % base_mod != 0), path
        ),
    )
    return SI.dedup_incremental(
        spark, base, docs.where(F.col("doc_id") % base_mod == 0), threshold
    )


def reband_minhash_index_demo(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.7,
    base_mod: int = 3,
    initial_bands: int = 4,
) -> DataFrame:
    """The in-place band retune: build on the ``% base_mod != 0`` slice
    at a deliberately MIStuned banding (4 bands — S-curve midpoint 0.84,
    above the 0.7 threshold), reband to the :func:`bands_for`-derived
    count (8 at k=32 / threshold 0.7), then dedup the remaining
    documents. The oracle is a FRESH build at the derived banding, so
    the grade pins both halves of the claim: the rewrite is
    row-identical to a from-scratch build, and the published
    ``_banding`` marker governs later dedups (a store still at 4 bands
    generates a sparser candidate set and hash-mismatches)."""
    new_bands = SI.bands_for(SI.DEFAULT_NUM_HASHES, threshold)
    assert new_bands != initial_bands, "demo must exercise a real retune"

    def build(docs: DataFrame, path: str) -> None:
        SI.build_minhash_index(
            docs.where(F.col("doc_id") % base_mod != 0),
            path,
            bands=initial_bands,
        )
        SI.reband_minhash_index(docs.sparkSession, path, new_bands)

    base, docs = _store(
        spark,
        sf_dir,
        "minhash",
        f"minhash_slice{base_mod}_bands{initial_bands}to{new_bands}",
        build,
    )
    return SI.dedup_incremental(
        spark, base, docs.where(F.col("doc_id") % base_mod == 0), threshold
    )


def minhash_index_stats_demo(
    spark: SparkSession,
    sf_dir: str,
    base_mod: int = 6,
) -> DataFrame:
    """The ops snapshot: a store on the ``% base_mod != 0`` slice, and
    the SQL-derivable slice of :func:`minhash_index_stats` as one row.
    The oracle recomputes the occupancy from the signature CTEs, so the
    hash pins that the face reads the store's REAL banding and bucket
    layout."""
    base, _docs = _store(
        spark,
        sf_dir,
        "minhash",
        f"minhash_slice{base_mod}",
        lambda docs, path: SI.build_minhash_index(
            docs.where(F.col("doc_id") % base_mod != 0), path
        ),
    )
    st = SI.minhash_index_stats(spark, base)
    return _stats_row(
        spark,
        {**st, "k_hashes": st["k"]},
        "k_hashes",
        "bands",
        "n_docs",
        "n_bucket_groups",
        "max_bucket_docs",
    )


def minhash_index_upsert_demo(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.7,
    base_mod: int = 7,
    batch_mod: int = 10,
) -> DataFrame:
    """Append-invisibility: build on the ``% base_mod != 0`` slice,
    UPSERT the rest, dedup a ``% batch_mod == 0`` probe batch against
    the store. The oracle runs the same probe against a one-shot store
    over the FULL corpus — equality proves the upsert equals a union
    build (data-independent hashing)."""
    base, docs = _store(
        spark,
        sf_dir,
        "minhash",
        f"minhash_b{base_mod}",
        _mutated("minhash", base_mod),
    )
    return SI.dedup_incremental(
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
    """MERGE-ON-READ deletion on the dedup store: the delete prologue,
    then the surviving batch probed must hash-match the one-shot oracle
    whose STORE side keeps only the survivors — a dead document
    surfacing as a dedup partner (from an unmasked bucket OR an unmasked
    signature fetch) adds a directed pair and fails the hash."""
    base, batch = _deleted(
        spark, sf_dir, "minhash", base_mod, del_mod, del_rem, batch_mod
    )
    return _nonempty(
        SI.dedup_incremental(spark, base, batch, threshold),
        "deleted-store dedup: no surviving batch doc found a surviving "
        "near-duplicate",
    )


# ---------------------------------------------------------------------------
# Lexical store
# ---------------------------------------------------------------------------

# The store most lexical keys share: built on the doc_id % 4 != 0 slice
# with the rest upserted. df, n_docs, tf, dl and positions all merge
# additively, so every serve over it must equal a full build's.
_SHARED_LEXICAL = ("lexical", "lexical_b4", _mutated("lexical", 4))


def lexical_store_search_demo(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    query_mod: int = 100,
) -> DataFrame:
    """Exact incremental maintenance: the shared build-then-upsert
    store searched with the query batch must value-hash-match (scores
    INCLUDED — exact integers) the one-plan lexical oracle over the FULL
    corpus. Graded at ``GRADED_MAX_DF_RATIO``: at the 0.5 default the
    graded sf0.01 fixture pruned the index to one token no query doc
    contained, a vacuous match on both sides."""
    base, docs = _store(spark, sf_dir, *_SHARED_LEXICAL)
    return _nonempty(
        LS.search_lexical_store(
            spark,
            base,
            docs.where(F.col("doc_id") % query_mod == 0),
            k=k,
            max_df_ratio=RT.GRADED_MAX_DF_RATIO,
        ),
        "lexical store search: no query doc matched a surviving token",
    )


def lexical_store_bm25_demo(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    query_mod: int = 100,
) -> DataFrame:
    """The store-served BM25: the shared store probed under the
    tf-aware score must value-hash-match the one-plan ``bm25_topk``
    oracle over the FULL corpus — tf and dl are per-document facts and
    df/n_docs merge additively, so the mutation is invisible to both
    scorings."""
    base, docs = _store(spark, sf_dir, *_SHARED_LEXICAL)
    return _nonempty(
        LS.search_lexical_store_bm25(
            spark,
            base,
            docs.where(F.col("doc_id") % query_mod == 0),
            k=k,
            max_df_ratio=RT.GRADED_MAX_DF_RATIO,
        ),
        "BM25 store search: no query doc matched a surviving token",
    )


def lexical_store_phrase_demo(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    query_mod: int = 100,
    n_terms: int = 2,
) -> DataFrame:
    """The store-served phrase search: the shared store probed with the
    query docs' leading bigrams must value-hash-match the one-plan
    ``phrase_search`` oracle over the FULL corpus — positions are
    per-document facts, so the mutation is invisible to adjacency."""
    base, docs = _store(spark, sf_dir, *_SHARED_LEXICAL)
    return _nonempty(
        LS.search_lexical_store_phrase(
            spark,
            base,
            RT.leading_phrases(
                docs.where(F.col("doc_id") % query_mod == 0), n_terms=n_terms
            ),
            k=k,
        ),
        "store phrase search: no query bigram recurs in the corpus",
    )


def lexical_store_proximity_demo(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    query_mod: int = 100,
    n_terms: int = 3,
    slop: int = 2,
) -> DataFrame:
    """The store-served proximity search: the shared store probed with
    the query docs' leading trigrams at slop=2 must value-hash-match the
    one-plan ``proximity_search`` oracle over the FULL corpus — the
    fourth scoring served from the same positions dataset."""
    base, docs = _store(spark, sf_dir, *_SHARED_LEXICAL)
    return _nonempty(
        LS.search_lexical_store_proximity(
            spark,
            base,
            RT.leading_phrases(
                docs.where(F.col("doc_id") % query_mod == 0), n_terms=n_terms
            ),
            slop=slop,
            k=k,
            n_terms=n_terms,
        ),
        "store proximity search: no query trigram matches within the "
        "window anywhere in the corpus",
    )


def lexical_store_prefix_demo(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    query_mod: int = 100,
    prefix_len: int = 4,
) -> DataFrame:
    """The store-served prefix search: the shared store probed with each
    query doc's leading 4-character prefix must value-hash-match the
    one-plan ``prefix_search`` oracle over the FULL corpus — the df
    dataset (the expansion vocabulary) and the postings both merge
    additively."""
    base, docs = _store(spark, sf_dir, *_SHARED_LEXICAL)
    return _nonempty(
        LS.search_lexical_store_prefix(
            spark,
            base,
            RT.leading_prefixes(
                docs.where(F.col("doc_id") % query_mod == 0),
                length=prefix_len,
            ),
            k=k,
        ),
        "store prefix search: no query prefix matched a vocabulary term",
    )


def lexical_store_stats_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lexical store's ops snapshot: the SQL-derivable slice of
    :func:`lexical_store_stats` over the shared store as one row. The
    oracle recomputes the numbers from the full-corpus tokenize CTE, so
    the hash pins the additive-merge exactness of the raw statistics.
    ``n_distinct_docs`` equals the ``n_docs`` marker on a healthy store,
    so a replayed upsert (which double-counts the marker but not the
    distinct ids) fails the grade instead of corrupting silently."""
    base, _docs = _store(spark, sf_dir, *_SHARED_LEXICAL)
    return _stats_row(
        spark,
        LS.lexical_store_stats(spark, base),
        "n_docs",
        "n_tokens",
        "n_postings",
        "max_df",
        "n_token_occurrences",
        "n_distinct_docs",
        "n_positions",
    )


def lexical_store_compact_demo(
    spark: SparkSession,
    sf_dir: str,
    base_mod: int = 4,
    k: int = 10,
    query_mod: int = 100,
) -> DataFrame:
    """Postings compaction: build on the base slice, upsert the rest
    (two file generations in postings), COMPACT, search the query
    batch. Compaction is pure layout (row-identical, clustering
    preserved), so the result must hash-match the same full-corpus
    oracle as ``lexical_store_search``."""
    base, docs = _store(
        spark,
        sf_dir,
        "lexical",
        f"lexical_b{base_mod}_compact",
        _mutated("lexical", base_mod, _compacted(LS.compact_lexical_store)),
    )
    return _nonempty(
        LS.search_lexical_store(
            spark,
            base,
            docs.where(F.col("doc_id") % query_mod == 0),
            k=k,
            max_df_ratio=RT.GRADED_MAX_DF_RATIO,
        ),
        "compacted-store search: no query doc matched a surviving token",
    )


def stream_lexical_ingest_demo(
    spark: SparkSession,
    sf_dir: str,
    base_mod: int = 4,
    k: int = 10,
    query_mod: int = 100,
    n_input_files: int = 3,
) -> DataFrame:
    """Streaming ingest: build on the base slice, stream the remaining
    documents through :func:`upsert_lexical_store_stream` split across
    ``n_input_files`` files (file partitioning keeps batch doc ids
    disjoint — the upsert id contract), search the query batch. Every
    batch merges exact additive increments, so the search must
    hash-match the one-plan full-corpus oracle whatever the batch
    boundaries were."""

    def build(docs: DataFrame, path: str) -> None:
        LS.build_lexical_store(docs.where(F.col("doc_id") % base_mod != 0), path)
        newcomers = docs.where(F.col("doc_id") % base_mod == 0)
        stream = _file_stream(
            newcomers.select("doc_id", "text"),
            f"{path}/_stream_in",
            n_input_files,
        )
        LS.upsert_lexical_store_stream(
            stream, path, f"{path}/_stream_ckpt"
        ).start().awaitTermination()

    base, docs = _store(
        spark,
        sf_dir,
        "lexical",
        f"lexical_slice{base_mod}_stream{n_input_files}",
        build,
    )
    return _nonempty(
        LS.search_lexical_store(
            spark,
            base,
            docs.where(F.col("doc_id") % query_mod == 0),
            k=k,
            max_df_ratio=RT.GRADED_MAX_DF_RATIO,
        ),
        "stream-ingested-store search: no query doc matched a surviving "
        "token",
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
    """MERGE-ON-READ deletion: the delete prologue, then the surviving
    query docs must value-hash-match the one-plan lexical oracle over
    the SURVIVING corpus only, scores included. The hash pins both
    halves of the delete: the tombstone masking (a deleted doc surfacing
    as a neighbor shifts a rank) and the eager statistics correction (a
    stale df or n_docs shifts the integer weights and the prune
    threshold)."""
    base, batch = _deleted(
        spark, sf_dir, "lexical", base_mod, del_mod, del_rem, query_mod
    )
    return _nonempty(
        LS.search_lexical_store(
            spark, base, batch, k=k, max_df_ratio=RT.GRADED_MAX_DF_RATIO
        ),
        "delete-store search: no surviving query doc matched a surviving "
        "token",
    )


def lexical_store_delete_bm25_demo(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    base_mod: int = 4,
    query_mod: int = 100,
    del_mod: int = 10,
    del_rem: int = 3,
) -> DataFrame:
    """The delete contract's BM25 face: the same deleted store under the
    tf-aware score must match the one-plan BM25 oracle over the
    survivors. This pins the MARKER corrections: the integer mean length
    ``A = _n_tokens // _n_docs`` derives from both decremented markers,
    so an uncorrected Σtf leaks into every saturation term."""
    base, batch = _deleted(
        spark, sf_dir, "lexical", base_mod, del_mod, del_rem, query_mod
    )
    return _nonempty(
        LS.search_lexical_store_bm25(
            spark, base, batch, k=k, max_df_ratio=RT.GRADED_MAX_DF_RATIO
        ),
        "delete-store BM25 search: no surviving query doc matched a "
        "surviving token",
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
    """The streaming delete face: build on the base slice, upsert the
    rest, stream the delete batch split across ``n_input_files`` files,
    search the surviving query docs — must hash-match the SAME
    survivors-only oracle as ``lexical_store_delete``: tombstones are a
    set and the decrements are computed from not-yet-tombstoned rows, so
    a delete arriving in n pieces equals the delete arriving whole."""

    def stream_delete(spark: SparkSession, path: str, docs: DataFrame) -> None:
        victims = docs.where(F.col("doc_id") % del_mod == del_rem)
        stream = _file_stream(
            victims.select("doc_id"), f"{path}/_del_stream_in", n_input_files
        )
        LS.delete_from_lexical_store_stream(
            stream, path, f"{path}/_del_stream_ckpt"
        ).start().awaitTermination()
        st = LS.lexical_store_stats(spark, path)
        assert st["n_tombstones"] > 0, "vacuous streaming delete"
        _check_lex_stats(st)

    base, docs = _store(
        spark,
        sf_dir,
        "lexical",
        f"lexical_b{base_mod}_sdel{del_mod}_{del_rem}x{n_input_files}",
        _mutated("lexical", base_mod, stream_delete),
    )
    return _nonempty(
        LS.search_lexical_store(
            spark,
            base,
            docs.where(
                (F.col("doc_id") % query_mod == 0)
                & (F.col("doc_id") % del_mod != del_rem)
            ),
            k=k,
            max_df_ratio=RT.GRADED_MAX_DF_RATIO,
        ),
        "stream-deleted store search: no surviving query doc matched a "
        "surviving token",
    )


def _replicated(docs: DataFrame, target_docs: int) -> DataFrame:
    """The corpus replicated to ~``target_docs`` documents (the scale
    probes' factor, replica ``r`` under ``doc_id + r·10⁶``)."""
    n = docs.select("doc_id").distinct().count()
    return RT.replicate_documents(docs, RT.probe_factor(n, target_docs))


def phrase_store_scale_probe_demo(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    query_mod: int = 100,
    n_terms: int = 2,
    target_docs: int = 5_000,
) -> DataFrame:
    """The store-served phrase path at ~10×: the store is built over the
    corpus replicated to ~``target_docs`` documents and probed with the
    replicated leading-bigram batch. Positions are per-replica-doc
    facts, so every count and rank is exactly the replicated one-plan
    oracle's, and the probe pays the real factor× posting volume
    through the store's scan/join/vote machinery."""
    base, docs = _store(
        spark,
        sf_dir,
        "lexical",
        f"lexical_x{target_docs}",
        lambda docs, path: LS.build_lexical_store(
            _replicated(docs, target_docs), path
        ),
    )
    phrases = RT.leading_phrases(
        _replicated(docs, target_docs).where(F.col("doc_id") % query_mod == 0),
        n_terms=n_terms,
    )
    return _nonempty(
        LS.search_lexical_store_phrase(spark, base, phrases, k=k),
        "store phrase scale probe: no replicated query bigram recurs in "
        "the replicated corpus",
    )


def delete_scale_probe_demo(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    query_mod: int = 100,
    target_docs: int = 5_000,
    del_mod: int = 10,
    del_rem: int = 3,
) -> DataFrame:
    """The DELETE path at ~10×: build the store over the replicated
    corpus, DELETE the victims' replica set (the replication id offset
    is a multiple of ``del_mod``, so the victim slice is replica-closed
    and one modulo filter expresses the delete on both sides), then
    serve the surviving replicated query batch through the
    tombstone-masked postings — the full merge-on-read read path at
    scale, hash-graded against the survivors-only replicated oracle."""
    dead = F.col("doc_id") % del_mod == del_rem

    def build(docs: DataFrame, path: str) -> None:
        rep = _replicated(docs, target_docs)
        LS.build_lexical_store(rep, path)
        n = LS.delete_from_lexical_store(
            docs.sparkSession, path, rep.where(dead).select("doc_id")
        )
        assert n > 0, "vacuous delete fixture: no replica in the slice"

    base, docs = _store(
        spark,
        sf_dir,
        "lexical",
        f"lexical_x{target_docs}_del{del_mod}_{del_rem}",
        build,
    )
    queries = _replicated(docs, target_docs).where(
        (F.col("doc_id") % query_mod == 0) & ~dead
    )
    return _nonempty(
        LS.search_lexical_store(
            spark, base, queries, k=k, max_df_ratio=RT.GRADED_MAX_DF_RATIO
        ),
        "delete scale probe: no surviving replicated query matched a "
        "surviving token",
    )


def phrase_guard_demo(
    docs: DataFrame,
    k: int = 10,
    query_mod: int = 100,
    n_terms: int = 2,
    max_df_ratio: float = RT.GRADED_MAX_DF_RATIO,
) -> DataFrame:
    """The stop-phrase guard: one-plan :func:`phrase_search` over the
    leading-bigram batch with ``on_hot="drop"`` at the graded prune
    ratio. At the graded sf0.01 fixture the batch SPLITS — 1 of 5
    phrases has both terms above the 78% ratio (dropped), 4 survive — so
    the hash exercises both branches, and both are asserted
    non-vacuous."""
    phrases = RT.leading_phrases(
        docs.where(F.col("doc_id") % query_mod == 0), n_terms=n_terms
    )
    # assert the split AT THE GUARD (result absence can also mean "no
    # matches", so it cannot prove the dropped branch): set-semantics
    # df over the corpus, exactly what the in-path guard derives
    n_in = phrases.count()
    dfr = doc_tokens(docs).groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    survivors = RT.prune_hot_phrases(
        dfr, docs.select("doc_id").distinct().count(), phrases,
        max_df_ratio, on_hot="drop",
    ).count()
    assert 0 < survivors < n_in, (
        f"vacuous guard demo: {survivors} of {n_in} phrases survive the "
        f"{max_df_ratio} guard — the graded fixture must exercise BOTH "
        "the dropped and the surviving branch"
    )
    return RT.phrase_search(
        docs, phrases, k=k, max_df_ratio=max_df_ratio, on_hot="drop"
    )


# ---------------------------------------------------------------------------
# Streaming serves: each query set split into files, one file per trigger,
# and the appended log graded against the one-shot oracle (per-query
# serving is arrival-order independent). Every served index is pinned
# once and released after the run.
# ---------------------------------------------------------------------------


def stream_bm25_serve(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    query_mod: int = 100,
    n_input_files: int = 4,
    max_df_ratio: float = RT.GRADED_MAX_DF_RATIO,
) -> DataFrame:
    """The streaming BM25 serve through :func:`bm25_serve_stream`
    against the shared lexical store. Two invisibility claims compose in
    the hash: the store's additive-merge exactness and per-query
    batch-decomposability, so the log must hash-match the one-plan
    full-corpus ``bm25_topk`` oracle. The store's statistics are read
    once (markers + df) and the weighted index pinned once."""
    base, docs = _store(spark, sf_dir, *_SHARED_LEXICAL)
    n_docs = LS._require_marker(spark, base, "_n_docs")
    total = LS._require_marker(spark, base, "_n_tokens")
    w = RT.df_weights(spark.read.parquet(f"{base}/df"), n_docs, max_df_ratio)
    index = pin(
        _read_live(spark, base, "postings").join(
            F.broadcast(w.select("token", "w")), "token"
        )
    )
    queries = docs.where(F.col("doc_id") % query_mod == 0)
    try:
        out = _serve(
            spark,
            "bm25_serve",
            queries.select("doc_id", "text"),
            n_input_files,
            lambda stream, out_dir, ckpt: RS.bm25_serve_stream(
                stream, index, total // max(n_docs, 1), out_dir, ckpt, k=k
            ),
        )
    finally:
        index.unpersist()
    return _nonempty(out, "BM25 serve: no query doc matched a surviving token")


def stream_phrase_serve(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    query_mod: int = 100,
    n_terms: int = 2,
    n_input_files: int = 4,
) -> DataFrame:
    """The streaming phrase serve: each query doc's leading bigram
    against the shared store's pinned positions; the log must hash-match
    the one-plan full-corpus ``phrase_search`` oracle."""
    base, docs = _store(spark, sf_dir, *_SHARED_LEXICAL)
    positions = pin(_read_live(spark, base, "positions"))
    phrases = RT.leading_phrases(
        docs.where(F.col("doc_id") % query_mod == 0), n_terms=n_terms
    )
    try:
        out = _serve(
            spark,
            "phrase_serve",
            phrases,
            n_input_files,
            lambda stream, out_dir, ckpt: RS.phrase_serve_stream(
                stream, positions, out_dir, ckpt, k=k
            ),
        )
    finally:
        positions.unpersist()
    return _nonempty(out, "phrase serve: no query bigram recurs in the corpus")


def stream_proximity_serve(
    spark: SparkSession,
    sf_dir: str,
    slop: int = 2,
    k: int = 10,
    query_mod: int = 100,
    n_terms: int = 3,
    n_input_files: int = 4,
) -> DataFrame:
    """The streaming proximity serve: each query doc's leading trigram
    against the shared store's pinned positions; the log must hash-match
    the same one-plan ``proximity_search`` oracle as the one-plan and
    store-served faces."""
    base, docs = _store(spark, sf_dir, *_SHARED_LEXICAL)
    positions = pin(_read_live(spark, base, "positions"))
    phrases = RT.leading_phrases(
        docs.where(F.col("doc_id") % query_mod == 0), n_terms=n_terms
    )
    try:
        out = _serve(
            spark,
            "prox_serve",
            phrases,
            n_input_files,
            lambda stream, out_dir, ckpt: RS.proximity_serve_stream(
                stream, positions, out_dir, ckpt, slop=slop, k=k,
                n_terms=n_terms,
            ),
        )
    finally:
        positions.unpersist()
    return _nonempty(
        out,
        "proximity serve: no query trigram matches within the window "
        "anywhere in the corpus",
    )


def stream_hybrid_serve(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    leg_k: int = 20,
    query_mod: int = 100,
    n_input_files: int = 4,
    max_df_ratio: float = RT.GRADED_MAX_DF_RATIO,
) -> DataFrame:
    """The streaming hybrid serve through :func:`hybrid_serve_stream`
    against the pinned lexical index and the shared LSH store. Must
    hash-match the one-shot ``hybrid_index_search`` oracle. The log is
    asserted to carry a non-null ``lex_rank``, so the grade cannot
    serve an empty lexical leg."""
    lsh_base, emb = _store(spark, sf_dir, "lsh")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lex = pin(RT.lexical_index(docs, max_df_ratio=max_df_ratio))
    # FULL outer join of the two id spaces: a doc with no embedding
    # still streams (lexical leg only) and an embedding with no doc text
    # still streams (vector leg only) — exactly the rows the one-shot
    # hybrid_index_search sees, whatever the id overlap
    queries = docs.where(F.col("doc_id") % query_mod == 0).select(
        "doc_id", "text"
    ).join(
        emb.where(F.col("vec_id") % query_mod == 0).select(
            F.col("vec_id").alias("doc_id"), "embedding"
        ),
        "doc_id",
        "full_outer",
    )
    try:
        out = _serve(
            spark,
            "hybrid_serve",
            queries,
            n_input_files,
            lambda stream, out_dir, ckpt: RS.hybrid_serve_stream(
                stream, lex, lsh_base, out_dir, ckpt, k=k, leg_k=leg_k
            ),
        )
    finally:
        lex.unpersist()
    _nonempty(
        out.where(F.col("lex_rank").isNotNull()),
        "lexical leg: no served row carries a lex_rank",
    )
    return out


def stream_contamination_scrub(
    spark: SparkSession,
    sf_dir: str,
    n: int = 8,
    min_shared: int = 1,
    quote_mod: int = 50,
    start: int = 3,
    length: int = 12,
    n_input_files: int = 4,
) -> DataFrame:
    """The streaming scrub: the corpus streamed one file per trigger
    against the planted-quote benchmark suite (the batch scrub's
    fixture); the appended survivors must value-hash-match the one-shot
    ``contamination_scrub`` oracle. Both branches are asserted: some
    documents survive AND some were scrubbed."""
    # the FULL documents schema: the scrub passes every column through
    docs = read_documents(spark, sf_dir)
    bench = pin(
        planted_benchmarks(docs, quote_mod=quote_mod, start=start, length=length)
    )
    try:
        out = _serve(
            spark,
            "decontam",
            docs,
            n_input_files,
            lambda stream, out_dir, ckpt: decontam.contamination_scrub_stream(
                stream, bench, out_dir, ckpt, n=n, min_shared=min_shared
            ),
        )
    finally:
        bench.unpersist()
    n_out, n_in = out.count(), docs.count()
    assert 0 < n_out < n_in, (
        f"vacuous streaming scrub: {n_out} of {n_in} docs survived"
    )
    return out


def stream_upsert_snapshot(
    spark: SparkSession, sf_dir: str, n_input_files: int = 8
) -> DataFrame:
    """The events table split into ``n_input_files`` files and streamed
    one file per trigger through :func:`upsert_snapshot_stream`; returns
    the final snapshot ``(user_id, last_ts_us, last_value,
    last_event_type)``, graded against the batch latest-event SQL — the
    multi-batch fold converges to the batch answer however the rows were
    split."""
    scratch = _fresh_dir(spark, "snapshot")
    events = load_events(spark, sf_dir).select(
        "user_id", "ts", "value", "event_type"
    )
    stream = _file_stream(events, f"{scratch}/in", n_input_files)
    snap_dir = f"{scratch}/snap"
    upsert.upsert_snapshot_stream(
        stream, snap_dir, f"{scratch}/ckpt"
    ).start().awaitTermination()
    versions = [
        int(d[1:]) for d in os.listdir(snap_dir) if re.fullmatch(r"v\d+", d)
    ] if os.path.isdir(snap_dir) else []
    assert versions, "stream produced no batches"
    return spark.read.parquet(f"{snap_dir}/v{max(versions)}")


# ---------------------------------------------------------------------------
# Layout and format round trips
# ---------------------------------------------------------------------------


def zordered_events_summary(
    spark: SparkSession,
    sf_dir: str,
    user_lo: int = 100,
    user_hi: int = 300,
    minute_lo: int = 300,
    minute_hi: int = 600,
) -> DataFrame:
    """The Z-ordered layout: aggregate a (user range × time-of-day
    range) predicate box through the clustered copy — per event type:
    row count, distinct users, exact decimal value sum. The oracle runs
    the same box over the PLAIN table: the layout must be semantically
    invisible. The pruning payoff is measured by
    ``rowgroup_overlap_fraction`` (tests/test_round7.py,
    docs/SCALE.md). The re-layout is gated like every store, so later
    calls measure the pruned scan, not the write."""
    base, _events = _store(
        spark,
        sf_dir,
        "zorder",
        build=lambda _rel, path: write_zordered_events(spark, sf_dir, path),
    )
    z = spark.read.parquet(base)
    return (
        z.where(
            (F.col("user_id") >= user_lo)
            & (F.col("user_id") <= user_hi)
            & (F.col("minute_of_day") >= minute_lo)
            & (F.col("minute_of_day") <= minute_hi)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            # exact decimal accumulation, double projection
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _text_options(rw):
    # events.ts is TIMESTAMP_NTZ, which reads/writes through
    # timestampNTZFormat — the plain timestampFormat silently does NOT
    # apply to NTZ columns (µs truncated to the default [.SSS]). Set
    # both so either flavor round-trips; nullValue keeps null distinct
    # from the empty string in CSV.
    return (
        rw.option("timestampFormat", _TS_FMT)
        .option("timestampNTZFormat", _TS_FMT)
        .option("nullValue", "\\N")
    )


def formats_roundtrip(
    spark: SparkSession,
    sf_dir: str,
    formats: tuple[str, ...] = ("orc", "json", "csv"),
) -> DataFrame:
    """Write ``events`` (BIGINT keys, µs timestamps, DOUBLE measures,
    embedded JSON strings with quotes/commas) through each format, read
    it back with an EXPLICIT schema (inference re-reads the data — wrong
    at 100 TB), and join row-by-row against the parquet original with
    null-safe equality on every column. One row per format: ``(fmt,
    n_rows, n_key_mismatch, n_ts_mismatch, n_value_mismatch,
    n_props_mismatch)`` — integer-only, the oracle pins the mismatch
    counts at 0.

    Each format is a real pitfall: CSV needs an explicit ``nullValue``
    and a 6-digit ``timestampFormat`` (the default keeps milliseconds);
    JSON needs the same ``timestampFormat``; ORC is the non-parquet
    columnar path."""
    base = _fresh_dir(spark, "formats")
    orig = spark.read.parquet(f"{sf_dir}/events.parquet")

    def _mism(col: str):
        return F.sum(
            (~F.col(f"a.{col}").eqNullSafe(F.col(f"b.{col}"))).cast("long")
        )

    per_format = []
    for fmt in formats:
        path = os.path.join(base, fmt)
        w = orig.write.mode("overwrite").format(fmt)
        r = spark.read.format(fmt).schema(orig.schema)
        if fmt in ("json", "csv"):
            w, r = _text_options(w), _text_options(r)
        if fmt == "csv":
            w = w.option("header", "true").option("escape", '"')
            r = r.option("header", "true").option("escape", '"')
        w.save(path)
        joined = orig.alias("a").join(
            r.load(path).alias("b"),
            F.col("a.event_id") == F.col("b.event_id"),
            "full",
        )
        per_format.append(
            joined.agg(
                F.lit(fmt).alias("fmt"),
                F.count(F.lit(1)).alias("n_rows"),
                _mism("user_id").alias("n_key_mismatch"),
                _mism("ts").alias("n_ts_mismatch"),
                _mism("value").alias("n_value_mismatch"),
                _mism("props").alias("n_props_mismatch"),
            )
        )
    out = per_format[0]
    for df in per_format[1:]:
        out = out.unionByName(df)
    return out

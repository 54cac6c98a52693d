"""Round-13 optimization: the batch-size gate and the kernel
correctness fixes must be invisible to results.

The round routes small exact-tier query slices back to the relational
broadcast plan (the Arrow fold kernel's fixed overhead loses at small
pair volumes) and fixes three kernel edge cases from the round-13
ADVICE: NaN accumulations must bucket like Spark's CASE (NaN >= 0 is
TRUE there), ragged vector widths must degrade per row like zip_with,
and the canonical-table ownership check must not decimal-parse bucket
strings (>= 19-bit overflow). Each is pinned bitwise here.
"""

import pytest
from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def _rows(df):
    """Fully-materialized rows with float bit patterns (so a one-ulp
    drift is a test failure, not a tolerance pass)."""
    import struct

    def canon(v):
        if isinstance(v, float):
            return struct.pack("<d", v)
        return v

    return sorted(
        tuple(canon(v) for v in r) for r in df.collect()
    )


def _plan(df):
    return df._jdf.queryExecution().sparkPlan().toString()


def test_exact_slice_gate_forms_identical(spark):
    """exact_slice_topk: the small-slice relational broadcast plan ==
    the bipartite fold kernel, bitwise (the gate is semantics-free)."""
    from jaccard_mapreduce_spark.operators.similarity import (
        exact_slice_topk,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    pred = F.col("vec_id") % 10 == 0
    relational = exact_slice_topk(
        emb, pred, 7, min_kernel_pairs=1 << 60
    )
    kernel = exact_slice_topk(emb, pred, 7, min_kernel_pairs=0)
    assert _rows(relational) == _rows(kernel)


def test_lsh_sigs_kernel_nan_matches_sql_semantics(spark):
    """NaN-containing vectors must bucket exactly like the SQL CASE
    (Spark sorts NaN above every double, so ``NaN >= 0`` is true and
    the bit is '1'); numpy's IEEE ``NaN >= 0 == False`` formerly
    flipped every NaN bucket to '0' (round-13 ADVICE, medium)."""
    from jaccard_mapreduce_spark.operators.similarity import (
        _lsh_signature_expr,
        _lsh_sigs_kernel,
        lsh_tables,
        vectors,
    )

    nan = float("nan")
    emb = spark.createDataFrame(
        [
            (1, [nan, nan, nan, nan]),
            (2, [1.0, -2.0, nan, 0.5]),
            (3, [0.25, -1.5, 2.0, -0.75]),
            (4, [0.0, 0.0, 0.0, 0.0]),
            (5, [1.0, None, -2.0, 0.5]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    v = vectors(emb)
    tables = lsh_tables(4, 3, 2, seed=7)
    got = _lsh_sigs_kernel(v, tables).select("vec_id", "sigs")
    sig_array = ", ".join(
        _lsh_signature_expr("vec", planes) for planes in tables
    )
    want = v.select(
        "vec_id", F.expr(f"array({sig_array})").alias("sigs")
    )
    got_rows = {r["vec_id"]: r["sigs"] for r in got.collect()}
    want_rows = {r["vec_id"]: r["sigs"] for r in want.collect()}
    assert got_rows == want_rows
    # the NaN rows must actually exercise the fixed branch: all-'1'
    assert got_rows[1] == ["111", "111"]
    # a NULL element nulls the SQL fold (ELSE '0'), though pandas sees
    # it as NaN
    assert got_rows[5] == ["000", "000"]


def test_lsh_sigs_kernel_ragged_widths_degrade_per_row(spark):
    """A batch mixing vector widths must hash each row like the SQL
    form (odd-width rows degrade to the all-'0' bucket alone); the
    uniform-width vstack formerly raised ValueError for the whole
    batch (round-13 ADVICE, low)."""
    from jaccard_mapreduce_spark.operators.similarity import (
        _lsh_signature_expr,
        _lsh_sigs_kernel,
        lsh_tables,
        vectors,
    )

    emb = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0, 4.0]),
            (2, [1.0, 2.0]),
            (3, [-1.0, -2.0, -3.0, -4.0]),
            (4, [5.0, 1.0, -0.5, 2.0, 7.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    v = vectors(emb)
    tables = lsh_tables(4, 3, 2, seed=11)
    got = _lsh_sigs_kernel(v, tables).select("vec_id", "sigs")
    sig_array = ", ".join(
        _lsh_signature_expr("vec", planes) for planes in tables
    )
    want = v.select(
        "vec_id", F.expr(f"array({sig_array})").alias("sigs")
    )
    got_rows = {r["vec_id"]: r["sigs"] for r in got.collect()}
    want_rows = {r["vec_id"]: r["sigs"] for r in want.collect()}
    assert got_rows == want_rows
    assert got_rows[2] == ["000", "000"]
    assert got_rows[4] == ["000", "000"]


def test_ownership_check_survives_20_planes(spark):
    """20-plane signatures ('1'*20 exceeds int64 as DECIMAL — the old
    astype('int64') parse) must not crash the fold kernel's ownership
    check, and the kernel must still equal the legacy relational
    candidate-distinct + join-backs + interpreted-fold plan bitwise."""
    from jaccard_mapreduce_spark.operators.similarity import (
        _cosine,
        _dot,
        _lsh_sigs_kernel,
        _topk,
        ann_lsh_topk,
        lsh_tables,
        vectors,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    got = ann_lsh_topk(
        emb, k=5, n_planes=20, n_tables=3, seed=3, rerank="exact"
    )

    # legacy relational exact plan, inline (the pre-round-12 shape)
    v = vectors(emb)
    tables = lsh_tables(64, 20, 3, seed=3)
    sig = _lsh_sigs_kernel(v, tables).select(
        "vec_id", F.posexplode("sigs").alias("tbl", "bucket")
    )
    a = sig.alias("a")
    b = sig.alias("b")
    joined = a.join(
        b,
        (F.col("a.tbl") == F.col("b.tbl"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    )
    cand = joined.select(
        F.col("a.vec_id").alias("query_id"),
        F.col("b.vec_id").alias("neighbor_id"),
    ).distinct()
    va = v.alias("va")
    vb = v.alias("vb")
    dot = _dot(F.col("va.vec"), F.col("vb.vec"))
    want = _topk(
        cand.join(va, cand.query_id == F.col("va.vec_id"))
        .join(vb, cand.neighbor_id == F.col("vb.vec_id"))
        .select(
            F.col("va.vec_id").alias("query_id"),
            F.col("vb.vec_id").alias("neighbor_id"),
            _cosine(
                dot, F.col("va.norm2"), F.col("vb.norm2")
            ).alias("score"),
        ),
        5,
    )
    assert _rows(got) == _rows(want)


def test_store_search_gate_forms_identical(spark, tmp_path, monkeypatch):
    """search_lsh_index rerank='exact': the gated relational plan for
    a small query batch == the fold-kernel plan, bitwise."""
    import jaccard_mapreduce_spark.sources.vector_index as V

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    path = str(tmp_path / "lsh_store")
    V.build_lsh_index(emb, path)
    batch = emb.where(F.col("vec_id") % 10 == 0)
    relational = V.search_lsh_index(
        spark, path, batch, k=5, rerank="exact"
    )
    rel_rows = _rows(relational)
    assert "FlatMapGroupsInPandas" not in _plan(relational)
    monkeypatch.setattr(V, "LSH_EXACT_KERNEL_MIN_PAIRS", 0)
    kernel = V.search_lsh_index(
        spark, path, batch, k=5, rerank="exact"
    )
    assert "FlatMapGroupsInPandas" in _plan(kernel)
    assert rel_rows == _rows(kernel)


def test_ivf_search_gate_forms_identical(spark, tmp_path, monkeypatch):
    """search_ivf_index rerank='exact': gated relational == kernel."""
    import jaccard_mapreduce_spark.sources.vector_index as V

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    path = str(tmp_path / "ivf_store")
    V.build_ivf_index(emb, path, n_cells=8)
    batch = emb.where(F.col("vec_id") % 10 == 0)
    relational = V.search_ivf_index(
        spark, path, batch, k=5, rerank="exact"
    )
    rel_rows = _rows(relational)
    assert "FlatMapGroupsInPandas" not in _plan(relational)
    monkeypatch.setattr(V, "IVF_EXACT_KERNEL_MIN_PAIRS", 0)
    kernel = V.search_ivf_index(
        spark, path, batch, k=5, rerank="exact"
    )
    assert "FlatMapGroupsInPandas" in _plan(kernel)
    assert rel_rows == _rows(kernel)


def test_recall_audit_sliced_exact_leg_unchanged(spark):
    """ann_recall_audit with the sliced exact baseline == the audit
    computed from the unsliced all-pairs exact baseline (the filter
    commutes with per-query ranking)."""
    from jaccard_mapreduce_spark.operators.similarity import (
        _topk,
        ann_lsh_topk,
        ann_recall_audit,
        cosine_pairs,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    got = ann_recall_audit(emb, k=5, sample_mod=10)

    is_sampled = F.col("query_id") % 10 == 0
    exact = (
        _topk(cosine_pairs(emb), 5)
        .where(is_sampled)
        .select("query_id", "neighbor_id")
    )
    approx = (
        ann_lsh_topk(emb, k=5, rerank="exact")
        .where(is_sampled)
        .select("query_id", "neighbor_id")
    )
    ex_c = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    ap_c = approx.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_approx")
    )
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    base = emb.select(F.col("vec_id").alias("query_id")).where(
        is_sampled
    )
    want = (
        base.join(ex_c, "query_id", "left")
        .join(ap_c, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_exact", F.lit(0).cast("long")).alias(
                "n_exact"
            ),
            F.coalesce("n_approx", F.lit(0).cast("long")).alias(
                "n_approx"
            ),
            F.coalesce("n_hits", F.lit(0).cast("long")).alias(
                "n_hits"
            ),
        )
    )
    assert _rows(got) == _rows(want)


def test_ivf_assign_broadcast_codebook_identical(spark, monkeypatch):
    """Shipping the codebook as a Spark broadcast variable (forced by
    dropping the size threshold to zero) changes nothing bitwise."""
    import jaccard_mapreduce_spark.operators.similarity as S

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    cents = S.ivf_centroids(emb, 8)
    v = S.vectors(emb)
    cols = ["vec_id", "vec", "norm2", "cell_id", "crank"]
    literal = S.ivf_assign(v, cents, 4).select(*cols)
    lit_rows = _rows(literal)
    monkeypatch.setattr(S, "_CODEBOOK_BROADCAST_MIN_BYTES", 0)
    bcast = S.ivf_assign(v, cents, 4).select(*cols)
    assert lit_rows == _rows(bcast)

"""Round-6 additions: persisted-IVF incremental maintenance (upsert
path, staleness counter, streaming face) and the parallelized search
path's invariants."""

from __future__ import annotations

import os
import re
import shutil
import tempfile

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_SMALL


@pytest.fixture()
def emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")


def _collect_topk(df):
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["score"])
        for r in df.collect()
    )


def test_upsert_equals_union_build_under_fixed_codebook(spark, emb, tmp_path):
    """build(base) + upsert(new) must yield the same cells relation —
    and therefore the same search answers — as build(union) would with
    the base-trained codebook. This is the mutation-invisibility
    contract the graded ivf_index_upsert entry pins vs DuckDB."""
    from jaccard_mapreduce_spark.sources.vector_index import (
        build_ivf_index,
        search_ivf_index,
        upsert_ivf_index,
    )

    base = emb.where(F.col("vec_id") % 5 != 0)
    new = emb.where(F.col("vec_id") % 5 == 0)

    p_inc = str(tmp_path / "inc")
    build_ivf_index(base, p_inc, n_cells=8)
    n_appended = upsert_ivf_index(spark, p_inc, new)
    assert n_appended == new.count()

    # union build with the SAME codebook: reuse the stored centroids by
    # assigning the union manually against them
    p_union = str(tmp_path / "union")
    os.makedirs(p_union)
    shutil.copytree(f"{p_inc}/centroids", f"{p_union}/centroids")
    from jaccard_mapreduce_spark.operators.similarity import ivf_assign, vectors

    cents = spark.read.parquet(f"{p_union}/centroids")
    cells = ivf_assign(vectors(emb), cents, 1).select(
        "vec_id", "vec", "norm2", "cell_id"
    )
    cells.write.partitionBy("cell_id").parquet(f"{p_union}/cells")

    got = _collect_topk(search_ivf_index(spark, p_inc, emb, k=5, n_probe=3))
    want = _collect_topk(search_ivf_index(spark, p_union, emb, k=5, n_probe=3))
    assert got == want and len(got) > 0


def test_staleness_counter_accumulates_and_resets(spark, emb, tmp_path):
    from jaccard_mapreduce_spark.sources.vector_index import (
        build_ivf_index,
        index_staleness,
        upsert_ivf_index,
    )

    p = str(tmp_path / "ix")
    base = emb.where(F.col("vec_id") % 5 != 0)
    build_ivf_index(base, p, n_cells=8)
    assert index_staleness(p) == 0
    first = emb.where(F.col("vec_id") % 10 == 0)
    second = emb.where(F.col("vec_id") % 10 == 5)
    upsert_ivf_index(spark, p, first)
    upsert_ivf_index(spark, p, second)
    assert index_staleness(p) == first.count() + second.count()
    # retrain resets the trigger
    build_ivf_index(emb, p, n_cells=8)
    assert index_staleness(p) == 0


def test_upsert_touches_only_matching_cell_partitions(spark, emb, tmp_path):
    """The append must not rewrite existing cell files — incremental
    cost is proportional to the batch, not the index."""
    from jaccard_mapreduce_spark.sources.vector_index import (
        build_ivf_index,
        upsert_ivf_index,
    )

    p = str(tmp_path / "ix")
    base = emb.where(F.col("vec_id") % 5 != 0)
    build_ivf_index(base, p, n_cells=8)

    def files():
        out = {}
        for dirpath, _d, names in os.walk(f"{p}/cells"):
            for n in names:
                if n.endswith(".parquet"):
                    fp = os.path.join(dirpath, n)
                    out[fp] = os.stat(fp).st_mtime_ns
        return out

    before = files()
    upsert_ivf_index(spark, p, emb.where(F.col("vec_id") % 5 == 0))
    after = files()
    # every pre-existing file survives untouched; new files appeared
    assert set(before) < set(after)
    assert all(after[f] == m for f, m in before.items())


def test_streaming_upsert_appends_each_microbatch(spark, emb, tmp_path):
    from jaccard_mapreduce_spark.sources.vector_index import (
        build_ivf_index,
        index_staleness,
        upsert_ivf_index_stream,
    )

    p = str(tmp_path / "ix")
    base = emb.where(F.col("vec_id") % 5 != 0)
    new = emb.where(F.col("vec_id") % 5 == 0).select("vec_id", "embedding")
    build_ivf_index(base, p, n_cells=8)

    src = str(tmp_path / "src")
    new.write.parquet(src)
    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = upsert_ivf_index_stream(
        stream, p, checkpoint=str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(120)
    assert index_staleness(p) == new.count()
    got = spark.read.parquet(f"{p}/cells")
    assert got.count() == emb.count()
    # appended rows carry the same cell assignment the batch path gives
    from jaccard_mapreduce_spark.operators.similarity import ivf_assign, vectors

    cents = spark.read.parquet(f"{p}/centroids")
    want = {
        (r["vec_id"], r["cell_id"])
        for r in ivf_assign(vectors(emb), cents, 1).collect()
    }
    assert {(r["vec_id"], r["cell_id"]) for r in got.collect()} == want


def test_index_search_parallelism_survives_aqe(spark, emb):
    """The rerank must not serialize onto one task (the round-5
    perf-weak finding: AQE coalesced the probe side to one partition).
    The exact store search has two plans, picked by the estimated pair
    volume against ``IVF_EXACT_KERNEL_MIN_PAIRS`` (round 13), and each
    carries its own anti-serialization mechanism:

    - above the gate, the cell-local kernel's block-grid group shuffle:
      work is keyed by (tbl, bucket, gq, gi), so a hot cell decomposes
      into bounded block-pair groups that hash across partitions;
    - below it, the relational cell join, whose probe side is the
      user-numbered ``repartition(cell_id, vec_id)`` — an exchange AQE
      may not coalesce, so the join keeps every shuffle partition."""
    from jaccard_mapreduce_spark.operators.similarity import (
        IVF_EXACT_KERNEL_MIN_PAIRS,
    )
    from jaccard_mapreduce_spark.sources.vector_index import (
        build_ivf_index,
        search_ivf_index,
    )

    n_cells, n_probe = 8, 3
    # 20 id-disjoint copies of the corpus as the probing batch
    big = emb.crossJoin(spark.range(20).withColumnRenamed("id", "rep")).select(
        (F.col("vec_id") * 20 + F.col("rep")).alias("vec_id"), "embedding"
    )
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with tempfile.TemporaryDirectory() as td:
        build_ivf_index(emb, td, n_cells=n_cells)
        n_stored = emb.count()

        def est_pairs(queries):
            return queries.count() * n_probe * n_stored / n_cells

        assert est_pairs(big) > IVF_EXACT_KERNEL_MIN_PAIRS
        kernel = (
            search_ivf_index(spark, td, big, k=5, n_probe=n_probe)
            ._jdf.queryExecution()
            .sparkPlan()
            .toString()
        )
        assert "FlatMapGroupsInPandas" in kernel
        assert "gq" in kernel and "gi" in kernel

        assert est_pairs(emb) <= IVF_EXACT_KERNEL_MIN_PAIRS
        small = search_ivf_index(spark, td, emb, k=5, n_probe=n_probe)
        small.collect()  # the final adaptive plan exists once it ran
        final = small._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in final
    assert re.search(
        rf"Exchange hashpartitioning\(cell_id#\d+L?, vec_id#\d+L?, "
        rf"{n_shuffle}\), REPARTITION_BY_NUM",
        final,
    ), final
    # no coalescing read sits on top of the probe-side exchange
    assert not re.search(
        r"AQEShuffleRead[^\n]*\n[^\n]*ShuffleQueryStage[^\n]*\n"
        r"[^\n]*Exchange hashpartitioning\(cell_id",
        final,
    ), final


def test_containment_recall_audit_pruned_subset_of_exact(spark):
    """Pruned counts can never exceed exact counts (pruned ⊆ exact), and
    overall recall on the small corpus should be high (matched-size
    near-dups sit above the band threshold)."""
    from jaccard_mapreduce_spark.operators.dedup import containment_recall_audit

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    rows = containment_recall_audit(docs).collect()
    assert len(rows) == docs.count()
    assert all(r["n_pruned"] <= r["n_exact"] for r in rows)
    n_ex = sum(r["n_exact"] for r in rows)
    n_pr = sum(r["n_pruned"] for r in rows)
    assert n_ex > 0
    assert n_pr / n_ex > 0.5


def test_lsh_scored_pairs_drops_token_disjoint_collisions(spark):
    """Zero-intersection band collisions must not survive the kernel —
    the structural match with the oracles' token-equi-join candidate
    relations even at a threshold of 0 (ADVICE r5)."""
    from jaccard_mapreduce_spark.operators.dedup import containment_pruned

    docs = spark.createDataFrame(
        # two identical docs (collide, intersect) and two token-disjoint
        # docs that share NO tokens but may band-collide on tiny corpora
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"),
         (3, "delta epsilon zeta"), (4, "eta theta iota")],
        "doc_id long, text string",
    )
    rows = containment_pruned(docs, min_containment=0.0).collect()
    assert all(r["intersection"] > 0 for r in rows)
    assert any(r["doc_a"] == 1 and r["doc_b"] == 2 for r in rows)


def test_plan_only_construction_runs_no_jobs(spark, emb):
    """With the probe results supplied, building the three previously
    eager plans must trigger ZERO Spark jobs (ADVICE r5 — lazy
    composability for plan-only callers)."""
    from jaccard_mapreduce_spark.operators.jaccard import jaccard_formatted
    from jaccard_mapreduce_spark.operators.similarity import ann_lsh_topk

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    sc = spark.sparkContext
    sc.setJobGroup("plan-only-probe", "plan-only construction")
    try:
        # both tiers resolve to the exact kernel without counting
        ann_lsh_topk(emb, k=5, rerank="exact")
        ann_lsh_topk(emb, k=5)
        # strategy='join' skips the auto gate's sketch probe — auto is
        # eager BY DESIGN (it measures before choosing the kernel)
        jaccard_formatted(docs, id_range=(0, 10_000), strategy="join")
    finally:
        sc.setJobGroup(None, None)
    ran = tracker.getJobIdsForGroup("plan-only-probe")
    assert not ran, f"plan construction ran jobs: {ran} (before={before})"


def test_jaccard_formatted_id_range_matches_probed(spark):
    from jaccard_mapreduce_spark.operators.jaccard import jaccard_formatted

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(80)
    import pyspark.sql.functions as _F

    lo, hi = docs.agg(_F.min("doc_id"), _F.max("doc_id")).first()
    probed = jaccard_formatted(docs).collect()
    gated = jaccard_formatted(docs, id_range=(int(lo), int(hi))).collect()
    assert sorted(map(tuple, probed)) == sorted(map(tuple, gated))


def test_lsh_index_search_equals_one_plan(spark, emb, tmp_path):
    """The persisted-LSH layout-invisibility contract: self-search of a
    stored index must equal ann_lsh_topk over the same corpus with the
    same plane set — the graded lsh_index_search entry pins the same
    equivalence vs DuckDB."""
    from jaccard_mapreduce_spark.operators.similarity import ann_lsh_topk
    from jaccard_mapreduce_spark.sources.vector_index import (
        build_lsh_index,
        search_lsh_index,
    )

    td = str(tmp_path / "lsh")
    build_lsh_index(emb, td)
    got = _collect_topk(search_lsh_index(spark, td, emb, k=10))
    want = _collect_topk(ann_lsh_topk(emb, k=10))
    assert got == want and len(got) > 0


def test_lsh_index_stores_the_plane_set_exactly(spark, emb, tmp_path):
    """Parquet doubles must round-trip the plane literals bit-for-bit —
    a stored index reproduces the build-time signature function even if
    library defaults change later."""
    from jaccard_mapreduce_spark.operators.similarity import lsh_tables
    from jaccard_mapreduce_spark.sources.vector_index import (
        _stored_lsh_tables,
        build_lsh_index,
    )

    td = str(tmp_path / "lsh")
    build_lsh_index(emb, td)
    assert _stored_lsh_tables(spark, td) == lsh_tables(64)


def test_lsh_index_int_typed_ids_match_bigint_search(spark, emb, tmp_path):
    """A store built with 32-bit int ids and searched by an int batch
    must serve exactly the rows of the bigint-typed store and batch —
    the id type never changes a candidate, a score or a rank."""
    from jaccard_mapreduce_spark.sources.vector_index import (
        build_lsh_index,
        search_lsh_index,
    )

    emb_int = emb.withColumn("vec_id", F.col("vec_id").cast("int"))
    emb_long = emb.withColumn("vec_id", F.col("vec_id").cast("long"))
    got = {}
    for name, rel in (("int", emb_int), ("bigint", emb_long)):
        td = str(tmp_path / name)
        build_lsh_index(rel, td)
        got[name] = _collect_topk(search_lsh_index(spark, td, rel, k=5))
    assert got["int"] == got["bigint"] and len(got["int"]) > 0


def test_lsh_index_serve_equals_batch_rows_of_self_search(spark, emb, tmp_path):
    """Batch-vs-stored must serve exactly the batch's rows of the full
    self-search — the graded lsh_index_serve contract (oracle: the
    one-plan SQL with the candidate join's query side filtered)."""
    from jaccard_mapreduce_spark.sources.vector_index import (
        build_lsh_index,
        search_lsh_index,
    )

    td = str(tmp_path / "lsh")
    build_lsh_index(emb, td)
    batch = emb.where(F.col("vec_id") % 10 == 0)
    got = _collect_topk(search_lsh_index(spark, td, batch, k=10))
    full = _collect_topk(search_lsh_index(spark, td, emb, k=10))
    want = [r for r in full if r[0] % 10 == 0]
    assert got == want and len(got) > 0


def test_lsh_index_search_tolerates_non_integral_ids(spark, tmp_path):
    """The auto-probe must not compare string min/max against ints —
    non-integral ids simply take the unpacked dedup path (the guard
    ann_lsh_topk applies via short-circuit and dedup.py via an explicit
    False; the index path needs its own)."""
    from jaccard_mapreduce_spark.sources.vector_index import (
        build_lsh_index,
        search_lsh_index,
    )

    emb = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("c", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    td = str(tmp_path / "lsh")
    build_lsh_index(emb, td, n_planes=2, n_tables=2, dim=2)
    rows = search_lsh_index(spark, td, emb, k=2).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)


def test_lsh_index_search_tolerates_string_store_int_queries(spark, tmp_path):
    """ADVICE r6: the packed-pair probe gated only on the QUERY side's
    id type — a string-id index probed by an int-id batch fed a string
    lo/hi into `>= 0` and threw TypeError. Both sides must be integral
    before the range probe runs."""
    from jaccard_mapreduce_spark.sources.vector_index import (
        build_lsh_index,
        search_lsh_index,
    )

    emb = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("c", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    td = str(tmp_path / "lsh")
    build_lsh_index(emb, td, n_planes=2, n_tables=2, dim=2)
    q = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    rows = search_lsh_index(spark, td, q, k=2).collect()
    # int query ids never equal string stored ids: every stored bucket
    # mate is a legal neighbor
    assert all(isinstance(r["query_id"], int) for r in rows)


# --- epoch-style mixture re-mixing (mixture_plan / mixture_resample) ---


@pytest.fixture()
def docs_small(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


def test_mixture_plan_factors_are_target_over_natural(spark, docs_small):
    """factor_bp must equal (target_bp * N) div n_s — the integer
    basis-point repetition factor, checked against a Python recompute
    from the raw counts."""
    from jaccard_mapreduce_spark.operators.text_analysis import (
        DEFAULT_MIXTURE_DEFAULT_BP,
        DEFAULT_MIXTURE_TARGETS_BP,
        mixture_plan,
    )

    rows = {r["source"]: r for r in mixture_plan(docs_small).collect()}
    total = sum(r["n_docs"] for r in rows.values())
    for src, r in rows.items():
        tgt = DEFAULT_MIXTURE_TARGETS_BP.get(src, DEFAULT_MIXTURE_DEFAULT_BP)
        assert r["target_bp"] == tgt
        assert r["natural_bp"] == (10000 * r["n_docs"]) // total
        assert r["factor_bp"] == min((tgt * total) // r["n_docs"], 40000)


def test_mixture_plan_cap_binds_on_tiny_source(spark):
    """A 1-doc source with a large target share must hit max_factor_bp —
    the bounded-epochs guard that keeps a tiny domain from exploding."""
    from jaccard_mapreduce_spark.operators.text_analysis import mixture_plan

    df = spark.createDataFrame(
        [(i, "big") for i in range(99)] + [(99, "rare")],
        "doc_id long, source string",
    )
    plan = {
        r["source"]: r
        for r in mixture_plan(
            df, targets_bp={"rare": 5000, "big": 5000}, max_factor_bp=40000
        ).collect()
    }
    # uncapped factor would be 5000*100/1 = 500000 bp (50 epochs)
    assert plan["rare"]["factor_bp"] == 40000
    assert plan["big"]["factor_bp"] == (5000 * 100) // 99


def test_mixture_resample_copy_semantics(spark, docs_small):
    """Every doc from a factor>=1 source appears floor(factor) or
    floor(factor)+1 times with contiguous copy indexes from 0; docs
    from factor<1 sources appear 0 or 1 times; (doc_id, copy) is
    unique; per-source totals equal the sum of per-doc copy counts
    implied by the salted-hash fractional rule."""
    import hashlib

    from jaccard_mapreduce_spark.operators.text_analysis import (
        mixture_plan,
        mixture_resample,
    )

    plan = {r["source"]: r["factor_bp"] for r in mixture_plan(docs_small).collect()}
    out = mixture_resample(docs_small).collect()
    seen = {}
    for r in out:
        seen.setdefault((r["source"], r["doc_id"]), []).append(r["copy"])
    # (doc_id, copy) unique + contiguous from 0
    for (src, did), copies in seen.items():
        assert sorted(copies) == list(range(len(copies)))
    # exact per-doc count from the salted-hash rule
    docs = docs_small.select("doc_id", "source").collect()
    for d in docs:
        fbp = plan[d["source"]]
        h = int(
            hashlib.md5(f"mixture-v1:{d['doc_id']}".encode()).hexdigest()[:15], 16
        )
        want = fbp // 10000 + (1 if h % 10000 < fbp % 10000 else 0)
        got = len(seen.get((d["source"], d["doc_id"]), []))
        assert got == want, (d["doc_id"], d["source"], fbp, got, want)


def test_mixture_resample_order_keys_scatter_copies(spark, docs_small):
    """Copies of the same document must get DIFFERENT order keys (the
    global-shuffle position is per copy, not per doc)."""
    from jaccard_mapreduce_spark.operators.text_analysis import mixture_resample

    out = mixture_resample(docs_small).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], set()).add(r["order_key"])
        assert r["order_key"] >= 0
    multi = [d for d, ks in per_doc.items() if len(ks) > 1]
    assert multi, "expected at least one upsampled doc with 2+ copies"
    for d, ks in per_doc.items():
        n = sum(1 for r in out if r["doc_id"] == d)
        assert len(ks) == n


def test_mixture_resample_plan_broadcasts_and_never_shuffles_the_corpus(
    spark, docs_small
):
    """The corpus side must reach the explode through a broadcast join —
    a sort-merge join here would shuffle the full corpus for a
    #sources-row plan relation."""
    from jaccard_mapreduce_spark.operators.text_analysis import mixture_resample

    plan = mixture_resample(docs_small)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --- pack_sequences layout audit (packing_efficiency) ---


def test_packing_efficiency_hand_computed_single_shard(spark):
    """3 docs of 1500/1000/300 ws-tokens at max_len=2048 in one shard:
    2 chunks, 752-token tail, exactly one boundary straddler (doc 2
    spans [1500, 2500) across the 2048 boundary)."""
    from jaccard_mapreduce_spark.operators.text_analysis import (
        packing_efficiency,
    )

    df = spark.createDataFrame(
        [(1, "a " * 1500), (2, "a " * 1000), (3, "a " * 300)],
        "doc_id long, text string",
    )
    rows = packing_efficiency(df, max_len=2048, n_shards=1).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["shard"], r["n_docs"], r["total_tokens"]) == (0, 3, 2800)
    assert (r["n_chunks"], r["tail_tokens"], r["n_straddlers"]) == (2, 752, 1)
    assert r["pad_tokens"] == 2048 - 752
    assert r["straddle_frac"] == 1 / 3


def test_packing_efficiency_pad_tokens_zero_when_tail_exactly_full(spark):
    """The ADVICE-flagged corner: total an exact multiple of max_len.
    tail_tokens reads 0 (documented) but pad_tokens must ALSO read 0 —
    the tail chunk is completely full, there is no padding."""
    from jaccard_mapreduce_spark.operators.text_analysis import (
        packing_efficiency,
    )

    df = spark.createDataFrame(
        [(1, "a " * 1024), (2, "a " * 1024)], "doc_id long, text string"
    )
    r = packing_efficiency(df, max_len=2048, n_shards=1).collect()[0]
    assert r["total_tokens"] == 2048
    assert (r["n_chunks"], r["tail_tokens"], r["pad_tokens"]) == (1, 0, 0)


def test_packing_efficiency_agrees_with_pack_sequences(spark, docs_small):
    """The audit must be a pure aggregation of the pack_sequences
    relation — recompute every column from the packed rows in Python."""
    from jaccard_mapreduce_spark.operators.text_analysis import (
        pack_sequences,
        packing_efficiency,
    )

    packed = pack_sequences(docs_small).collect()
    got = {r["shard"]: r for r in packing_efficiency(docs_small).collect()}
    per: dict[int, list] = {}
    for r in packed:
        per.setdefault(r["shard"], []).append(r)
    assert set(per) == set(got)
    for shard, rs in per.items():
        total = sum(r["n_tokens"] for r in rs)
        strad = sum(
            1
            for r in rs
            if r["n_tokens"] > 0
            and (r["start_offset"] + r["n_tokens"] - 1) // 2048 > r["pack_id"]
        )
        g = got[shard]
        assert g["n_docs"] == len(rs)
        assert g["total_tokens"] == total
        assert g["n_chunks"] == (total + 2047) // 2048
        assert g["tail_tokens"] == total % 2048
        assert g["pad_tokens"] == (2048 - total % 2048) % 2048
        assert g["n_straddlers"] == strad

"""Round-7 additions: corpus-size-derived IVF sizing (ivf_params_for)
and the operators that landed alongside it."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from jaccard_mapreduce_spark.operators.similarity import (
    DEFAULT_IVF_CELLS,
    DEFAULT_IVF_PROBE,
    ivf_params_for,
)


# --- ivf_params_for: the formula vs the recorded sweep/probe points ---


def test_derives_the_shipped_graded_config_exactly():
    """The audited sweep winner (64 cells / probe 32 at the 2,000-vector
    sf0.1 corpus, recall 0.840) must fall out of the formula with
    defaults — the derived config IS the graded config."""
    assert ivf_params_for(2000) == (DEFAULT_IVF_CELLS, DEFAULT_IVF_PROBE)


def test_sf001_derivations():
    # 500 vectors: 16 cells; the default 1000-pair budget caps at a
    # full scan, the graded 250-pair budget is a genuine 1/2 fraction
    assert ivf_params_for(500) == (16, 16)
    assert ivf_params_for(500, candidate_budget=250) == (16, 8)


def test_ten_x_probe_regime():
    """SCALE.md's 20k probe: the fixed 64/32 config implies ~10k rerank
    pairs/query at 20k vectors; the derived config keeps the per-query
    budget flat instead."""
    n_cells, n_probe = ivf_params_for(20000)
    assert n_cells == 1024
    per_query = n_probe * 20000 / n_cells
    assert per_query <= 1000
    # the fixed config at the same n blows the budget 10x
    assert DEFAULT_IVF_PROBE * 20000 / DEFAULT_IVF_CELLS == 10000


def test_tiny_corpus_degenerates_to_one_cell():
    assert ivf_params_for(1) == (1, 1)
    assert ivf_params_for(32) == (1, 1)


@settings(max_examples=200, deadline=None)
@given(
    n=st.integers(min_value=33, max_value=10**9),
    budget=st.integers(min_value=32, max_value=10**6),
)
def test_formula_properties(n, budget):
    n_cells, n_probe = ivf_params_for(n, candidate_budget=budget)
    # cells are a power of two and fine enough that per-cell size stays
    # within (target/2, target] — the cells-prop-to-n discipline
    assert n_cells & (n_cells - 1) == 0
    cell = n / n_cells
    assert cell <= 32
    assert cell > 16 or n_cells == 1
    assert 1 <= n_probe <= n_cells
    # per-query rerank volume respects the budget whenever the probe is
    # neither floored to 1 nor capped at a full scan
    per_query = n_probe * cell
    if 1 < n_probe < n_cells:
        assert per_query <= budget
        assert per_query > budget - 32


@settings(max_examples=50, deadline=None)
@given(n=st.integers(min_value=33, max_value=10**8))
def test_cells_monotone_in_n(n):
    c1, _ = ivf_params_for(n)
    c2, _ = ivf_params_for(2 * n)
    assert c2 >= c1


# --- shared embedding fixture ---


SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture()
def emb_small(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")


def _ranks(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in df.select("query_id", "neighbor_id", "rank").collect()
    )


def test_replicate_embeddings_shape_and_determinism(spark, emb_small):
    from jaccard_mapreduce_spark.operators.similarity import (
        replicate_embeddings,
    )

    n = emb_small.count()
    rep = replicate_embeddings(emb_small, factor=3, id_stride=1000)
    rows = {r["vec_id"]: r["embedding"] for r in rep.collect()}
    assert len(rows) == 3 * n
    base = {r["vec_id"]: r["embedding"] for r in emb_small.collect()}
    for vid, vec in base.items():
        # copy 0 is the original verbatim (modulo the double cast)
        assert rows[vid] == [float(x) for x in vec]
        for r in (1, 2):
            got = rows[vid + r * 1000]
            deltas = [g - float(x) for g, x in zip(got, vec)]
            # integer perturbation in [-2, 2], matching the formula
            for i, dlt in enumerate(deltas):
                want = (vid * 31 + r * 17 + (i + 1) * 7) % 5 - 2
                assert dlt == want
    # deterministic: a second evaluation is identical
    again = {r["vec_id"]: r["embedding"] for r in rep.collect()}
    assert again == rows


# --- skew diagnosis / train-val split / leakage audit ---


def test_key_skew_stats_hand_computed(spark):
    from jaccard_mapreduce_spark.operators.skew import key_skew_stats

    df = spark.createDataFrame(
        [(1,)] * 6 + [(2,)] * 3 + [(3,)] * 1, "k long"
    )
    rows = {r["rank"]: r for r in key_skew_stats(df, "k", k=2).collect()}
    assert len(rows) == 2
    assert (rows[1]["key"], rows[1]["n_rows"], rows[1]["share_bp"]) == (
        "1", 6, 6000
    )
    assert (rows[2]["key"], rows[2]["n_rows"], rows[2]["share_bp"]) == (
        "2", 3, 3000
    )


def test_train_val_split_is_stable_under_corpus_growth(spark):
    """A document's split must not change when other documents arrive —
    the property df.randomSplit does not have."""
    from jaccard_mapreduce_spark.operators.text_analysis import (
        train_val_split,
    )

    small = spark.range(100).withColumnRenamed("id", "doc_id")
    big = spark.range(1000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"]: r["split"] for r in train_val_split(small).collect()}
    s2 = {r["doc_id"]: r["split"] for r in train_val_split(big).collect()}
    assert all(s2[d] == s for d, s in s1.items())
    # both labels occur at the default 10% cut over 1000 docs
    assert set(s2.values()) == {"train", "val"}


def test_split_leakage_audit_counts_cross_split_pairs(spark):
    """Two near-identical docs forced onto opposite sides of the split
    must show up in the train|val leakage cell."""
    from jaccard_mapreduce_spark.operators.dedup import split_leakage_audit
    from jaccard_mapreduce_spark.operators.text_analysis import (
        train_val_split,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(i, text) for i in range(40)]
        + [(i, f"u{i}a u{i}b u{i}c u{i}d u{i}e") for i in range(40, 60)],
        "doc_id long, text string",
    )
    spl = {
        r["doc_id"]: r["split"]
        for r in train_val_split(docs, val_bp=3000).collect()
    }
    dup_ids = [d for d in spl if d < 40]
    n_train = sum(1 for d in dup_ids if spl[d] == "train")
    n_val = len(dup_ids) - n_train
    got = {
        (r["split_a"], r["split_b"]): r["n_pairs"]
        for r in split_leakage_audit(docs, val_bp=3000).collect()
    }
    # identical docs: every pair is a near-dup pair; counts follow the
    # split composition exactly
    assert got.get(("train", "train"), 0) == n_train * (n_train - 1) // 2
    assert got.get(("train", "val"), 0) == n_train * n_val
    assert got.get(("val", "val"), 0) == n_val * (n_val - 1) // 2


def test_clustered_split_has_zero_cross_split_pairs(spark):
    """The fix: with the split computed on cluster representatives,
    the planted duplicate block lands entirely on ONE side and the
    leakage matrix has no train|val cell."""
    from jaccard_mapreduce_spark.operators.dedup import (
        clustered_split,
        clustered_split_leakage,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(i, text) for i in range(40)]
        + [(i, f"u{i}a u{i}b u{i}c u{i}d u{i}e") for i in range(40, 60)],
        "doc_id long, text string",
    )
    spl = clustered_split(docs, val_bp=3000).collect()
    sides = {r["split"] for r in spl if r["doc_id"] < 40}
    assert len(sides) == 1  # the whole dup cluster on one side
    cells = {
        (r["split_a"], r["split_b"])
        for r in clustered_split_leakage(docs, val_bp=3000).collect()
    }
    assert ("train", "val") not in cells
    assert cells  # the within-cluster pairs still counted somewhere


# --- Z-order layout: interleave correctness + measured pruning ---


def _morton(a: int, b: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i + 1)
        z |= ((b >> i) & 1) << (2 * i)
    return z


def test_zorder_key_matches_python_interleave(spark):
    from jaccard_mapreduce_spark.sources.zorder import zorder_key

    rows = [(a, b) for a in (0, 1, 5, 255, 65535) for b in (0, 3, 77, 65535)]
    df = spark.createDataFrame(rows, "a long, b long").withColumn(
        "z", zorder_key("a", "b")
    )
    for r in df.collect():
        assert r["z"] == _morton(r["a"], r["b"]), (r["a"], r["b"])


def test_zorder_rowgroups_prune_better_than_single_key_sort(spark, tmp_path):
    """The layout claim, measured from the parquet footers the scan's
    row-group skipping actually uses: under a two-dimensional predicate
    box, the Z-ordered copy must have strictly fewer overlapping row
    groups than a copy sorted on user_id alone (whose minute stats
    span the whole day in every group)."""
    from jaccard_mapreduce_spark.sources.tables import load_events
    from jaccard_mapreduce_spark.sources.zorder import (
        rowgroup_overlap_fraction,
        write_zordered_events,
        zorder_key,
    )

    sf = "/root/testdata/sf0.01"
    zpath = str(tmp_path / "z")
    write_zordered_events(spark, sf, zpath, n_files=64)
    events = load_events(spark, sf).withColumn(
        "minute_of_day", (F.hour("ts") * 60 + F.minute("ts")).cast("long")
    )
    upath = str(tmp_path / "u")
    (
        events.repartitionByRange(64, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(upath)
    )
    # a box selective in BOTH dimensions — the shape Z-order exists
    # for (fixture: 150 users / full 0..1439 minute range)
    box = dict(user_lo=30, user_hi=60, minute_lo=300, minute_hi=420)
    z_hit, z_tot = rowgroup_overlap_fraction(zpath, **box)
    u_hit, u_tot = rowgroup_overlap_fraction(upath, **box)
    assert z_tot > 1 and u_tot > 1
    assert z_hit / z_tot < u_hit / u_tot, (z_hit, z_tot, u_hit, u_tot)


# --- upsert_lsh_index: build-then-upsert == build-over-union ---


def test_lsh_upsert_equals_union_build(spark, emb_small, tmp_path):
    from jaccard_mapreduce_spark.sources.vector_index import (
        build_lsh_index,
        search_lsh_index,
        upsert_lsh_index,
    )

    union_path = str(tmp_path / "union")
    build_lsh_index(emb_small, union_path)
    split_path = str(tmp_path / "split")
    build_lsh_index(
        emb_small.where(F.col("vec_id") % 5 != 0), split_path
    )
    n = upsert_lsh_index(
        spark, split_path, emb_small.where(F.col("vec_id") % 5 == 0)
    )
    assert n > 0
    got = _ranks(search_lsh_index(spark, split_path, emb_small, k=5))
    want = _ranks(search_lsh_index(spark, union_path, emb_small, k=5))
    assert got == want and len(got) > 0


# --- compact_lsh_index: layout rewrite, search-invisible ---


def test_lsh_compact_shrinks_files_and_preserves_search(
    spark, emb_small, tmp_path
):
    from jaccard_mapreduce_spark.sources.vector_index import (
        build_lsh_index,
        compact_lsh_index,
        search_lsh_index,
        upsert_lsh_index,
    )

    path = str(tmp_path / "idx")
    build_lsh_index(emb_small.where(F.col("vec_id") % 5 != 0), path)
    # three upsert generations: each append adds its own file set
    for m in range(3):
        upsert_lsh_index(
            spark,
            path,
            emb_small.where(
                (F.col("vec_id") % 5 == 0) & (F.col("vec_id") % 3 == m)
            ),
        )
    before = _ranks(search_lsh_index(spark, path, emb_small, k=5))
    stats = compact_lsh_index(spark, path, n_files=2)
    assert set(stats) == {"vectors", "signatures"}
    for name, (n_before, n_after) in stats.items():
        assert n_after == 2, (name, n_after)
        assert n_after < n_before, (name, n_before, n_after)
    after = _ranks(search_lsh_index(spark, path, emb_small, k=5))
    assert after == before and len(after) > 0


def test_lsh_compact_rejects_missing_dataset(spark, tmp_path):
    from jaccard_mapreduce_spark.sources.vector_index import (
        compact_lsh_index,
    )

    with pytest.raises(ValueError, match="not an LSH index"):
        compact_lsh_index(spark, str(tmp_path / "nope"))


# --- ann_sq8_topk: quantized-space rerank semantics ---


def test_sq8_scores_approximate_exact_cosine(spark, emb_small):
    """SQ8 reconstruction error is bounded by per-vector min/max
    scaling: the quantized cosine must track the exact cosine closely
    on real vectors (and the candidate set — same cells — is
    identical, so pairs line up 1:1)."""
    from jaccard_mapreduce_spark.operators.similarity import (
        ann_ivf_topk,
        ann_sq8_topk,
    )

    # k past the corpus size keeps EVERY candidate pair, so the two
    # tiers' pair sets line up 1:1 (a top-k cut would select different
    # pairs near the boundary where scores differ by quantization error)
    big_k = emb_small.count() + 1
    exact = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in ann_ivf_topk(
            emb_small, k=big_k, n_cells=4, n_probe=4
        ).collect()
    }
    sq8 = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in ann_sq8_topk(
            emb_small, k=big_k, n_cells=4, n_probe=4
        ).collect()
    }
    assert set(sq8) == set(exact)
    errs = [abs(sq8[p] - exact[p]) for p in exact]
    assert max(errs) < 0.02, max(errs)


def test_sq8_zero_and_constant_vectors_guarded(spark):
    """A zero vector scores 0 everywhere (the _cosine guard) and a
    constant vector quantizes to scale 0 without dividing by zero."""
    from jaccard_mapreduce_spark.operators.similarity import ann_sq8_topk

    emb = spark.createDataFrame(
        [
            (1, [0.0, 0.0, 0.0, 0.0]),
            (2, [5.0, 5.0, 5.0, 5.0]),
            (3, [1.0, 2.0, 3.0, 4.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    rows = ann_sq8_topk(emb, k=3, n_cells=1, n_probe=1).collect()
    by_query = {}
    for r in rows:
        by_query.setdefault(r["query_id"], {})[r["neighbor_id"]] = r["score"]
    assert all(s == 0.0 for s in by_query[1].values())
    # constant-vs-varied: recon of vec 2 is exact (zp carries it), so
    # the score is the true cosine of (5,5,5,5)x(recon of 3) — positive
    assert by_query[2][3] > 0.9


def test_sq8_audit_fused_equals_tiers(spark, emb_small):
    """The fused single-join audit must produce byte-identical counts
    to composing the two tiers verbatim (the pre-fusion shape)."""
    from jaccard_mapreduce_spark.operators.similarity import (
        ann_ivf_topk,
        ann_sq8_topk,
        sq8_rank_audit,
    )

    k, n_cells, n_probe = 5, 4, 2
    ex = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_ivf_topk(
            emb_small, k=k, n_cells=n_cells, n_probe=n_probe
        ).collect()
    }
    q8 = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_sq8_topk(
            emb_small, k=k, n_cells=n_cells, n_probe=n_probe
        ).collect()
    }
    want = {}
    for qid in {p[0] for p in ex} | {p[0] for p in q8}:
        e = {n for q, n in ex if q == qid}
        s = {n for q, n in q8 if q == qid}
        want[qid] = (len(e), len(s), len(e & s))
    got = {
        r["query_id"]: (r["n_exact"], r["n_sq8"], r["n_common"])
        for r in sq8_rank_audit(
            emb_small, k=k, n_cells=n_cells, n_probe=n_probe
        ).collect()
    }
    assert got == want and len(got) > 0


def test_sq8_rank_audit_counts_are_consistent(spark, emb_small):
    """n_common <= min(n_exact, n_sq8) <= k, and the measured overlap
    should be high on real vectors (quantization error is small
    relative to cosine gaps)."""
    from jaccard_mapreduce_spark.operators.similarity import sq8_rank_audit

    rows = sq8_rank_audit(emb_small, k=5, n_cells=4, n_probe=2).collect()
    assert rows
    tot_c = tot_e = 0
    for r in rows:
        assert r["n_common"] <= min(r["n_exact"], r["n_sq8"]) <= 5
        tot_c += r["n_common"]
        tot_e += r["n_exact"]
    assert tot_c / tot_e > 0.8, (tot_c, tot_e)


# --- chunk_documents: hand-computed window layout ---


def test_chunk_documents_hand_computed(spark):
    """10 tokens at chunk=4/overlap=1 (stride 3): starts 0,3,6 — the
    last window is short; a start past n-overlap would add no new
    token and must not be emitted."""
    from jaccard_mapreduce_spark.operators.text_analysis import (
        chunk_documents,
    )

    df = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    rows = chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    got = {
        (r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk_text"])
        for r in rows
    }
    assert got[(1, 0)] == (4, "t0 t1 t2 t3")
    assert got[(1, 1)] == (4, "t3 t4 t5 t6")
    assert got[(1, 2)] == (4, "t6 t7 t8 t9")
    assert (1, 3) not in got
    # short doc: one short chunk; empty doc: no chunks
    assert got[(2, 0)] == (2, "a b")
    assert not any(d == 3 for d, _c in got)


def test_chunk_documents_exact_boundary_no_trailing_chunk(spark):
    """n == chunk_tokens must produce exactly one chunk, and
    n == chunk_tokens + 1 exactly two."""
    from jaccard_mapreduce_spark.operators.text_analysis import (
        chunk_documents,
    )

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(64))),
         (2, " ".join(f"w{i}" for i in range(65)))],
        "doc_id long, text string",
    )
    rows = chunk_documents(df, chunk_tokens=64, overlap=16).collect()
    per = {}
    for r in rows:
        per.setdefault(r["doc_id"], []).append(r)
    assert len(per[1]) == 1 and per[1][0]["n_tokens"] == 64
    assert len(per[2]) == 2
    tail = [r for r in per[2] if r["chunk_id"] == 1][0]
    # stride 48: second window starts at 48, covers 48..64 (17 tokens)
    assert tail["n_tokens"] == 17


def test_chunk_documents_rejects_bad_overlap(spark):
    from jaccard_mapreduce_spark.operators.text_analysis import (
        chunk_documents,
    )

    with pytest.raises(ValueError):
        chunk_documents(spark.range(1), chunk_tokens=8, overlap=8)


# --- boilerplate_scrub: hand-computed coverage semantics ---


def test_boilerplate_scrub_hand_computed(spark):
    """Docs 1 and 2 share the 3-gram 'a b c'; every token covered by a
    shared 3-gram span is removed, everything else survives in order.
    Doc 3 shares nothing and is untouched; doc 4 is shorter than n and
    survives verbatim."""
    from jaccard_mapreduce_spark.operators.dedup import boilerplate_scrub

    df = spark.createDataFrame(
        [
            (1, "x a b c y"),
            (2, "a b c z w"),
            (3, "p q r s t"),
            (4, "u v"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["scrubbed_text"])
        for r in boilerplate_scrub(df, n=3, max_df=1).collect()
    }
    assert got[1] == (5, 3, "x y")
    assert got[2] == (5, 3, "z w")
    assert got[3] == (5, 0, "p q r s t")
    assert got[4] == (2, 0, "u v")


def test_boilerplate_scrub_within_doc_repeat_not_flagged(spark):
    """df counts DISTINCT documents: an n-gram repeated inside one doc
    is not boilerplate and must survive."""
    from jaccard_mapreduce_spark.operators.dedup import boilerplate_scrub

    df = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "q r s t u")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in boilerplate_scrub(df, n=3).collect()}
    assert got[1]["n_removed"] == 0
    assert got[1]["scrubbed_text"] == "a b c a b c"


def test_boilerplate_scrub_fully_scrubbed_doc_yields_empty_text(spark):
    from jaccard_mapreduce_spark.operators.dedup import boilerplate_scrub

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in boilerplate_scrub(df, n=3).collect()}
    for vid in (1, 2):
        assert got[vid]["n_removed"] == 3
        assert got[vid]["scrubbed_text"] == ""


def test_unknown_rerank_kind_refused(spark, emb_small, tmp_path):
    """Unknown tiers, and the retired ``fast`` (broadcast matrix) and
    ``dist`` (einsum kernel) tiers, are refused by all four ANN entry
    points."""
    from jaccard_mapreduce_spark.operators.similarity import (
        ann_ivf_topk,
        ann_lsh_topk,
    )
    from jaccard_mapreduce_spark.sources.vector_index import (
        build_ivf_index,
        build_lsh_index,
        search_ivf_index,
        search_lsh_index,
    )

    ivf = str(tmp_path / "ivf")
    build_ivf_index(emb_small, ivf, n_cells=4)
    lsh = str(tmp_path / "lsh")
    build_lsh_index(emb_small, lsh)
    searches = (
        lambda r: ann_lsh_topk(emb_small, k=5, rerank=r),
        lambda r: ann_ivf_topk(emb_small, k=5, n_cells=4, rerank=r),
        lambda r: search_ivf_index(spark, ivf, emb_small, k=5, rerank=r),
        lambda r: search_lsh_index(spark, lsh, emb_small, k=5, rerank=r),
    )
    for search in searches:
        for rerank in ("blazing", "fast", "dist"):
            with pytest.raises(ValueError, match="rerank"):
                search(rerank)


# --- persisted MinHash signature store: incremental dedup lifecycle ---


DOCS_SMALL = "/root/testdata/sf0.001/documents.parquet"


@pytest.fixture()
def docs_small(spark):
    return spark.read.parquet(DOCS_SMALL)


def test_incremental_dedup_bounds_and_threshold(spark, docs_small, tmp_path):
    from jaccard_mapreduce_spark.sources.signature_index import (
        build_minhash_index,
        dedup_incremental,
    )

    path = str(tmp_path / "mh")
    build_minhash_index(docs_small.where(F.col("doc_id") % 5 != 0), path)
    rows = dedup_incremental(
        spark, path, docs_small.where(F.col("doc_id") % 5 == 0), 0.7
    ).collect()
    assert rows
    for r in rows:
        # directed batch -> store: new side is the % 5 == 0 slice
        assert r["new_id"] % 5 == 0 and r["stored_id"] % 5 != 0
        assert 23 <= r["est_matches"] <= 32  # ceil(0.7 * 32) = 23
        assert r["est_sim"] == r["est_matches"] / 32.0


def test_upsert_store_equals_union_store(spark, docs_small, tmp_path):
    from jaccard_mapreduce_spark.sources.signature_index import (
        build_minhash_index,
        dedup_incremental,
        upsert_minhash_index,
    )

    split = str(tmp_path / "split")
    build_minhash_index(docs_small.where(F.col("doc_id") % 7 != 0), split)
    n = upsert_minhash_index(
        spark, split, docs_small.where(F.col("doc_id") % 7 == 0)
    )
    assert n > 0
    union = str(tmp_path / "union")
    build_minhash_index(docs_small, union)
    probe = docs_small.where(F.col("doc_id") % 10 == 0)
    got = sorted(map(tuple, dedup_incremental(spark, split, probe).collect()))
    want = sorted(map(tuple, dedup_incremental(spark, union, probe).collect()))
    assert got == want and len(got) > 0


def test_incremental_dedup_excludes_self_pairs(spark, docs_small, tmp_path):
    """Re-submitting stored documents reports their near-duplicates,
    never the (x, x) tautology."""
    from jaccard_mapreduce_spark.sources.signature_index import (
        build_minhash_index,
        dedup_incremental,
    )

    path = str(tmp_path / "mh")
    build_minhash_index(docs_small, path)
    rows = dedup_incremental(
        spark, path, docs_small.where(F.col("doc_id") % 10 == 0), 0.7
    ).collect()
    assert rows
    assert all(r["new_id"] != r["stored_id"] for r in rows)


def test_signature_store_rejects_missing_params(spark, docs_small, tmp_path):
    from jaccard_mapreduce_spark.sources.signature_index import (
        dedup_incremental,
        upsert_minhash_index,
    )

    with pytest.raises(ValueError, match="not a MinHash index"):
        dedup_incremental(spark, str(tmp_path / "nope"), docs_small)
    with pytest.raises(ValueError, match="not a MinHash index"):
        upsert_minhash_index(spark, str(tmp_path / "nope"), docs_small)


def test_incremental_plan_broadcasts_batch_not_store(spark, docs_small, tmp_path):
    """In the small-batch regime every batch-derived relation
    broadcasts; the stored buckets/signatures scans must not sit under
    an Exchange (the store never shuffles — the 10^9-doc contract)."""
    from jaccard_mapreduce_spark.sources.signature_index import (
        build_minhash_index,
        dedup_incremental,
    )

    path = str(tmp_path / "mh")
    build_minhash_index(docs_small.where(F.col("doc_id") % 5 != 0), path)
    df = dedup_incremental(
        spark, path, docs_small.where(F.col("doc_id") % 5 == 0), 0.7
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # every join the stored datasets participate in is a broadcast join
    # (batch side builds) or a broadcast semi-join filter — a shuffle
    # join of EITHER flavor would mean a stored relation sits under an
    # Exchange (the candidate distinct's exchange is batch-scale and
    # sits above the joins, which is fine)
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_minhash_compact_shrinks_files_and_preserves_results(
    spark, docs_small, tmp_path
):
    import glob

    from jaccard_mapreduce_spark.sources.signature_index import (
        build_minhash_index,
        compact_minhash_index,
        dedup_incremental,
        upsert_minhash_index,
    )

    path = str(tmp_path / "mh")
    build_minhash_index(docs_small.where(F.col("doc_id") % 5 != 0), path)
    for m in range(3):
        upsert_minhash_index(
            spark,
            path,
            docs_small.where(
                (F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 3 == m)
            ),
        )
    probe = docs_small.where(F.col("doc_id") % 10 == 0)
    before = sorted(map(tuple, dedup_incremental(spark, path, probe).collect()))
    stats = compact_minhash_index(spark, path, n_files=2)
    assert set(stats) == {"signatures", "buckets"}
    for name, (n_before, n_after) in stats.items():
        assert n_after < n_before, (name, n_before, n_after)
    # band partitioning survived (per-band dirs, ~1 file each)
    bands = glob.glob(path + "/buckets/band=*")
    assert len(bands) == 8
    for b in bands:
        assert len(glob.glob(b + "/*.parquet")) <= 2
    after = sorted(map(tuple, dedup_incremental(spark, path, probe).collect()))
    assert after == before and len(after) > 0


def test_ivf_compact_shrinks_cells_and_preserves_search(
    spark, emb_small, tmp_path
):
    from jaccard_mapreduce_spark.sources.vector_index import (
        build_ivf_index,
        compact_ivf_index,
        search_ivf_index,
        upsert_ivf_index,
    )

    path = str(tmp_path / "ivf")
    build_ivf_index(emb_small.where(F.col("vec_id") % 5 != 0), path, n_cells=4)
    for m in range(3):
        upsert_ivf_index(
            spark,
            path,
            emb_small.where(
                (F.col("vec_id") % 5 == 0) & (F.col("vec_id") % 3 == m)
            ),
        )
    before = _ranks(search_ivf_index(spark, path, emb_small, k=5, n_probe=2))
    stats = compact_ivf_index(spark, path, n_files=4)
    n_before, n_after = stats["cells"]
    assert n_after < n_before, stats
    after = _ranks(search_ivf_index(spark, path, emb_small, k=5, n_probe=2))
    assert after == before and len(after) > 0


def test_streaming_incremental_dedup_reports_then_upserts(
    spark, docs_small, tmp_path
):
    """Micro-batched crawl ingest: batch N's report counts only the
    store as of batch N-1 (report-then-upsert ordering), and after the
    run the store holds every document."""
    from jaccard_mapreduce_spark.sources.signature_index import (
        build_minhash_index,
        dedup_incremental,
        dedup_incremental_stream,
    )

    path = str(tmp_path / "mh")
    base = docs_small.where(F.col("doc_id") % 5 != 0)
    new = docs_small.where(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    build_minhash_index(base, path)

    src = str(tmp_path / "src")
    new.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = dedup_incremental_stream(
        stream,
        path,
        report_path=str(tmp_path / "report"),
        checkpoint=str(tmp_path / "ckpt"),
    ).start()
    q.awaitTermination(120)

    report = spark.read.parquet(str(tmp_path / "report"))
    assert report.select("batch_id").distinct().count() >= 2
    # every reported new_id is a batch doc; stored side may now include
    # earlier batches' docs (they were upserted before later batches)
    assert report.where(F.col("new_id") % 5 != 0).count() == 0
    # the store now holds everything: a fresh probe of the base slice
    # finds near-dups among the streamed-in docs too
    got = dedup_incremental(
        spark, path, docs_small.where(F.col("doc_id") % 50 == 0)
    )
    assert got.where(F.col("stored_id") % 5 == 0).count() > 0
    sigs = spark.read.parquet(path + "/signatures")
    assert sigs.count() == docs_small.count()


def test_incremental_dedup_tolerates_mixed_id_types(
    spark, docs_small, tmp_path
):
    """String batch ids against a long-id store must not throw on the
    self-pair exclusion (ANSI cast); ids compare as canonical strings."""
    from jaccard_mapreduce_spark.sources.signature_index import (
        build_minhash_index,
        dedup_incremental,
    )

    path = str(tmp_path / "mh")
    build_minhash_index(docs_small.where(F.col("doc_id") % 5 != 0), path)
    batch = docs_small.where(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    rows = dedup_incremental(spark, path, batch, 0.7).collect()
    assert rows
    want = {
        (str(r["new_id"]), r["stored_id"], r["est_matches"])
        for r in dedup_incremental(
            spark,
            path,
            docs_small.where(F.col("doc_id") % 5 == 0),
            0.7,
        ).collect()
    }
    got = {(r["new_id"], r["stored_id"], r["est_matches"]) for r in rows}
    assert got == want


def test_compact_recovers_from_stale_old_leftover(spark, emb_small, tmp_path):
    """A crashed prior swap leaves <name>__old behind; the next
    compaction must clear it and complete (and never count its files)."""
    import os

    from jaccard_mapreduce_spark.sources.vector_index import (
        build_lsh_index,
        compact_lsh_index,
        search_lsh_index,
    )

    path = str(tmp_path / "idx")
    build_lsh_index(emb_small, path)
    os.makedirs(path + "/vectors__old")
    open(path + "/vectors__old/junk.parquet", "w").write("junk")
    want = _ranks(search_lsh_index(spark, path, emb_small, k=5))
    compact_lsh_index(spark, path, n_files=1)
    assert not os.path.exists(path + "/vectors__old")
    got = _ranks(search_lsh_index(spark, path, emb_small, k=5))
    assert got == want


# --- effective_token_stats: duplicate-discounted source accounting ---


def test_effective_token_stats_bounds_and_totals(spark, docs_small):
    from jaccard_mapreduce_spark.operators.dedup import (
        dedup_clusters,
        effective_token_stats,
        minhash_lsh_dedup,
    )

    rows = effective_token_stats(docs_small).collect()
    assert rows
    for r in rows:
        assert 0 < r["n_effective_docs"] <= r["n_docs"]
        assert 0 < r["n_effective_tokens"] <= r["n_tokens"]
    # total effective docs == number of near-dup clusters (one
    # representative each, every doc belongs to exactly one cluster)
    n_clusters = (
        dedup_clusters(
            docs_small.select("doc_id"),
            minhash_lsh_dedup(docs_small).select("doc_a", "doc_b"),
        )
        .select("cluster_id")
        .distinct()
        .count()
    )
    assert sum(r["n_effective_docs"] for r in rows) == n_clusters
    assert sum(r["n_docs"] for r in rows) == docs_small.count()


def test_effective_equals_raw_without_near_dups(spark):
    from jaccard_mapreduce_spark.operators.dedup import (
        effective_token_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma", 16, "web"),
            (2, "delta epsilon zeta eta", 22, "web"),
            (3, "completely different words here", 31, "books"),
        ],
        "doc_id long, text string, n_chars long, source string",
    )
    rows = {r["source"]: r for r in effective_token_stats(docs).collect()}
    assert rows["web"]["n_docs"] == rows["web"]["n_effective_docs"] == 2
    assert rows["web"]["n_tokens"] == rows["web"]["n_effective_tokens"] == 7
    assert rows["books"]["n_effective_tokens"] == 4


def test_reband_equals_fresh_build_and_updates_params(
    spark, docs_small, tmp_path
):
    from jaccard_mapreduce_spark.sources.signature_index import (
        _stored_params,
        build_minhash_index,
        dedup_incremental,
        reband_minhash_index,
    )

    rebanded = str(tmp_path / "rebanded")
    build_minhash_index(docs_small.where(F.col("doc_id") % 5 != 0), rebanded)
    reband_minhash_index(spark, rebanded, 4)
    assert _stored_params(spark, rebanded)["bands"] == 4
    fresh = str(tmp_path / "fresh")
    build_minhash_index(
        docs_small.where(F.col("doc_id") % 5 != 0), fresh, bands=4
    )
    batch = docs_small.where(F.col("doc_id") % 5 == 0)
    got = sorted(map(tuple, dedup_incremental(spark, rebanded, batch).collect()))
    want = sorted(map(tuple, dedup_incremental(spark, fresh, batch).collect()))
    assert got == want and len(got) > 0
    # coarser banding (4 bands of 8 rows vs 8 of 4) can only shrink the
    # candidate set vs the default build
    deflt = str(tmp_path / "default")
    build_minhash_index(docs_small.where(F.col("doc_id") % 5 != 0), deflt)
    base = dedup_incremental(spark, deflt, batch, threshold=0.0).count()
    coarse = dedup_incremental(spark, rebanded, batch, threshold=0.0).count()
    assert coarse <= base


def test_reband_rejects_non_divisor(spark, docs_small, tmp_path):
    from jaccard_mapreduce_spark.sources.signature_index import (
        build_minhash_index,
        reband_minhash_index,
    )

    path = str(tmp_path / "mh")
    build_minhash_index(docs_small.limit(20), path)
    with pytest.raises(ValueError, match="divide"):
        reband_minhash_index(spark, path, 7)
    with pytest.raises(ValueError, match=">= 1"):
        reband_minhash_index(spark, path, 0)


def test_minhash_index_stats_reports_state(spark, docs_small, tmp_path):
    from jaccard_mapreduce_spark.sources.signature_index import (
        build_minhash_index,
        minhash_index_stats,
        upsert_minhash_index,
    )

    path = str(tmp_path / "mh")
    build_minhash_index(docs_small.where(F.col("doc_id") % 5 != 0), path)
    upsert_minhash_index(
        spark, path, docs_small.where(F.col("doc_id") % 5 == 0)
    )
    st = minhash_index_stats(spark, path)
    assert st["n_docs"] == docs_small.count()
    assert st["k"] == 32 and st["bands"] == 8
    assert st["signatures_files"] >= 2  # build + upsert generations
    assert st["buckets_files"] >= st["signatures_files"]


def test_banding_marker_survives_stale_params_and_compaction(
    spark, docs_small, tmp_path
):
    """The authoritative band count rides inside the buckets dataset:
    a crash between a reband's dataset swap and its _params refresh
    (simulated by writing stale _params) must NOT band-mismatch later
    dedups, and compaction must re-stamp the marker it rewrites away."""
    import json

    from jaccard_mapreduce_spark.sources.signature_index import (
        _stored_params,
        build_minhash_index,
        compact_minhash_index,
        dedup_incremental,
        reband_minhash_index,
    )

    path = str(tmp_path / "mh")
    build_minhash_index(docs_small.where(F.col("doc_id") % 5 != 0), path)
    reband_minhash_index(spark, path, 4)
    batch = docs_small.where(F.col("doc_id") % 5 == 0)
    want = sorted(map(tuple, dedup_incremental(spark, path, batch).collect()))
    # simulate the crash window: buckets are rebanded, _params stale
    # (written through Hadoop FS like the library does — a raw Python
    # write would orphan the LocalFS .crc sidecar)
    from jaccard_mapreduce_spark.sources._store import _fs_write_text

    _fs_write_text(
        spark, path + "/_params", json.dumps({"k": 32, "bands": 8, "seed": 42})
    )
    assert _stored_params(spark, path)["bands"] == 4
    got = sorted(map(tuple, dedup_incremental(spark, path, batch).collect()))
    assert got == want and len(got) > 0
    compact_minhash_index(spark, path, n_files=1)
    assert _stored_params(spark, path)["bands"] == 4
    after = sorted(map(tuple, dedup_incremental(spark, path, batch).collect()))
    assert after == want


def test_effective_token_stats_forwards_custom_columns(spark):
    from jaccard_mapreduce_spark.operators.dedup import (
        effective_token_stats,
    )

    docs = spark.createDataFrame(
        [(1, "aa bb cc", 8, "w"), (2, "dd ee", 5, "w")],
        "id long, body string, n_chars long, src string",
    )
    rows = effective_token_stats(
        docs, id_col="id", text_col="body", source_col="src"
    ).collect()
    assert len(rows) == 1 and rows[0]["n_tokens"] == 5


# --- bigram_surprise: conditional-LM fluency scoring ---


def test_bigram_surprise_hand_computed(spark):
    """Corpus 'a b', 'a b', 'a c': p(b|a)=2/3, p(c|a)=1/3 — doc 3's
    single bigram is the rarer continuation, so it scores -ln(1/3)."""
    import math

    from jaccard_mapreduce_spark.operators.text_analysis import (
        bigram_surprise,
    )

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in bigram_surprise(docs).collect()}
    assert got[1]["n_bigrams"] == 1
    assert abs(got[1]["surprise"] - (-math.log(2 / 3))) < 1e-12
    assert abs(got[3]["surprise"] - (-math.log(1 / 3))) < 1e-12
    assert got[3]["surprise"] > got[1]["surprise"]


def test_bigram_surprise_short_docs_score_zero(spark):
    from jaccard_mapreduce_spark.operators.text_analysis import (
        bigram_surprise,
    )

    docs = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "two tokens")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in bigram_surprise(docs).collect()}
    assert got[1]["n_bigrams"] == 0 and got[1]["surprise"] == 0.0
    assert got[2]["n_bigrams"] == 0 and got[2]["surprise"] == 0.0
    # the only bigram in the corpus: p = 1, surprise exactly 0
    assert got[3]["n_bigrams"] == 1 and got[3]["surprise"] == 0.0


def test_bigram_catches_shuffled_text_unigram_misses(spark):
    """The operator's reason to exist: word-shuffled text has the SAME
    unigram distribution as fluent text but unusual transitions."""
    from jaccard_mapreduce_spark.operators.text_analysis import (
        bigram_surprise,
        unigram_surprise,
    )

    fluent = "the cat sat on the mat and the dog sat on the rug"
    docs = spark.createDataFrame(
        [(i, fluent) for i in range(1, 9)]
        + [(9, "mat the on sat cat rug the dog and on the sat the")],
        "doc_id long, text string",
    )
    uni = {r["doc_id"]: r["surprise"] for r in unigram_surprise(docs).collect()}
    bi = {r["doc_id"]: r["surprise"] for r in bigram_surprise(docs).collect()}
    # same words -> unigram surprise nearly identical...
    assert abs(uni[9] - uni[1]) < 0.05
    # ...but the shuffled doc's transitions are rare -> clear margin
    assert bi[9] > bi[1] + 0.5, (bi[1], bi[9])

"""Round-8 additions: compaction marker ordering, the Z-order demo's
build-once gate, and the distributed rerank over the stored indexes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, SF_SMALL


def test_compact_minhash_stamps_banding_before_swap(spark, tmp_path):
    """ADVICE r7: the _banding marker must ride INSIDE the rewritten
    buckets dataset through the publish rename (reband's ordering), not
    be re-stamped after the swap — a crash in between would leave the
    store falling back to a possibly-stale _params banding."""
    from jaccard_mapreduce_spark.sources.signature_index import (
        _stored_params,
        build_minhash_index,
        compact_minhash_index,
    )
    from jaccard_mapreduce_spark.sources._store import (
        _fs_read_text,
        _fs_write_text,
    )

    base = str(tmp_path / "store")
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc{i}") for i in range(40)],
        "doc_id long, text string",
    )
    build_minhash_index(docs, base, bands=8)
    # corrupt the external metadata copy: after compaction the
    # in-dataset marker must still win (it is the authoritative copy)
    _fs_write_text(spark, f"{base}/_params", '{"k": 32, "bands": 4, "seed": 42}')
    compact_minhash_index(spark, base)
    assert _fs_read_text(spark, f"{base}/buckets/_banding").strip() == "8"
    assert _stored_params(spark, base)["bands"] == 8


def test_compact_pre_swap_hook_sees_tmp_before_publish(spark, tmp_path):
    from jaccard_mapreduce_spark.sources._store import (
        _compact_datasets,
    )

    base = str(tmp_path / "idx")
    spark.range(100).write.parquet(f"{base}/rows")
    seen: list[tuple[bool, bool]] = []

    def hook(tmp: str) -> None:
        # called after the tmp rewrite lands but before the swap: both
        # generations exist, the live path still holds the OLD one
        seen.append(
            (tmp.endswith("rows__compacting"), os.path.isdir(f"{base}/rows"))
        )
        assert os.path.isdir(tmp)

    _compact_datasets(
        spark, base, ("rows",), "a test index", 1, 1 << 27,
        pre_swap={"rows": hook},
    )
    assert seen == [(True, True)]


def test_bands_for_derives_the_shipped_default():
    """S-curve midpoint (1/b)^(b/k): fewest bands whose midpoint sits
    at or below the dedup threshold. The shipped 8-band default at
    k=32 / threshold 0.7 must be the derived point."""
    from jaccard_mapreduce_spark.sources.signature_index import bands_for

    assert bands_for(32, 0.7) == 8
    assert bands_for(32, 0.9) == 4  # higher threshold -> fewer bands
    assert bands_for(32, 0.3) == 16  # lower threshold -> more bands
    assert bands_for(32, 1.0) == 1  # exact-match regime
    assert bands_for(32, 0.01) == 32  # below every midpoint -> max bands
    assert 32 % bands_for(32, 0.55) == 0
    with pytest.raises(ValueError):
        bands_for(32, 0.0)


def test_minhash_index_stats_reports_occupancy(spark, tmp_path):
    from jaccard_mapreduce_spark.sources.signature_index import (
        build_minhash_index,
        minhash_index_stats,
    )

    base = str(tmp_path / "store")
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc{i % 4}") for i in range(24)],
        "doc_id long, text string",
    )
    build_minhash_index(docs, base, bands=8)
    st = minhash_index_stats(spark, base)
    assert st["n_docs"] == 24
    # compare against a direct computation over the stored buckets
    # (near-identical texts share cells in some bands, so the group
    # count is data-dependent — measure, don't hand-derive)
    occ = {}
    for r in spark.read.parquet(f"{base}/buckets").collect():
        occ[(r["band"], r["bucket"])] = occ.get((r["band"], r["bucket"]), 0) + 1
    assert st["n_bucket_groups"] == len(occ)
    assert st["max_bucket_docs"] == max(occ.values())
    # every distinct text has 6 copies, which always share all cells
    assert st["max_bucket_docs"] >= 6


def test_ivf_sq8_search_prunes_float_vectors_from_the_scan(spark):
    """The SQ8 serving path's whole point: the stored-side rerank reads
    the 1-byte codes + scalars, never the float64 vectors — the scan of
    the cells dataset must prune ``vec`` and ``norm2`` and keep
    ``qcode``. Since the round-12 optimization the rerank runs in the
    cell-local Arrow kernel (FlatMapGroupsInPandas — hash-exact by the
    order-free integer dot), so the plan asserts the kernel IS present;
    the scan-pruning contract (the 8× bandwidth claim) is unchanged."""
    from jaccard_mapreduce_spark.sources.vector_index import (
        ivf_index_sq8_demo,
    )

    df = ivf_index_sq8_demo(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    cells_scans = [
        line
        for line in plan.splitlines()
        if "FileScan" in line and "/cells" in line
    ]
    assert cells_scans, "expected a FileScan over the cells dataset"
    import re

    # ≥1 scan must read the codes; NO scan may read the float vectors
    # (a partition-column-only metadata scan — ReadSchema struct<> —
    # is fine and carries no data bytes)
    schemas = [line.split("ReadSchema:", 1)[1] for line in cells_scans]
    assert any(re.search(r"[<,]qcode:", rs) for rs in schemas)
    for rs in schemas:
        assert not re.search(r"[<,]vec:", rs)
        assert not re.search(r"[<,]norm2:", rs)


def test_ivf_sq8_search_refuses_codeless_index(spark, tmp_path):
    import pytest as _pytest

    from pyspark.sql import functions as _F

    from jaccard_mapreduce_spark.sources.vector_index import (
        build_ivf_index,
        search_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").limit(64)
    base = str(tmp_path / "idx")
    build_ivf_index(emb, base, n_cells=4)
    # simulate a pre-round-8 layout: rewrite cells without the codes
    cells = spark.read.parquet(f"{base}/cells").drop(
        "qcode", "scale", "zp", "qsum", "qnorm2"
    ).localCheckpoint(eager=True)
    cells.write.mode("overwrite").partitionBy("cell_id").parquet(
        f"{base}/cells"
    )
    with _pytest.raises(ValueError, match="without stored SQ8"):
        search_ivf_index(spark, base, emb, rerank="sq8")
    # the exact tier still serves the old layout
    assert search_ivf_index(spark, base, emb, k=3).count() > 0


def test_zorder_demo_reuses_layout_across_calls(spark):
    """ADVICE r7: the Z-ordered copy must be written once per
    (session, fixture) and reused — bench reps and driver re-reads
    should measure the pruned scan, not the re-layout write."""
    from jaccard_mapreduce_spark.sources.vector_index import _scratch_dir
    from jaccard_mapreduce_spark.sources.zorder import (
        zordered_events_summary,
    )

    first = zordered_events_summary(spark, SF_ORACLE).collect()
    base = _scratch_dir(spark, suffix="_zorder")
    marker = os.path.join(base, "_built_for")
    stamp = os.stat(marker).st_mtime_ns
    files = sorted(os.listdir(base))
    second = zordered_events_summary(spark, SF_ORACLE).collect()
    assert os.stat(marker).st_mtime_ns == stamp
    assert sorted(os.listdir(base)) == files
    key = lambda r: r["event_type"]  # noqa: E731
    assert sorted(first, key=key) == sorted(second, key=key)


def _full_rows(df):
    return sorted(map(tuple, df.collect()))


def test_dist_rerank_block_decomposition_is_invisible(spark, monkeypatch):
    """Forcing a tiny block size splits every bucket into many
    block-pair groups; the result must be identical, scores included —
    the hot-bucket path may never change WHAT is scored, only WHERE."""
    import functools

    from jaccard_mapreduce_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    base = _full_rows(sim.ann_lsh_topk(emb, k=10))
    monkeypatch.setattr(
        sim,
        "_score_bucket_local",
        functools.partial(sim._score_bucket_local, block_rows=8),
    )
    blocked = _full_rows(sim.ann_lsh_topk(emb, k=10))
    assert base == blocked


def test_dist_rerank_scores_each_pair_exactly_once(spark):
    """Canonical-table ownership: a pair colliding in several tables
    is emitted by exactly one kernel group — the scored relation is
    distinct BEFORE the top-k, with no dedup aggregate in the plan."""
    from jaccard_mapreduce_spark.operators.similarity import (
        _score_bucket_local,
    )

    # two tables; vectors 1 and 2 collide in BOTH (same sigs array),
    # vector 3 collides with them only in table 1
    rows = [
        (1, [1.0, 0.0], 1.0, [7, 9], 0, 7),
        (1, [1.0, 0.0], 1.0, [7, 9], 1, 9),
        (2, [1.0, 1.0], 2.0, [7, 9], 0, 7),
        (2, [1.0, 1.0], 2.0, [7, 9], 1, 9),
        (3, [0.0, 1.0], 1.0, [5, 9], 0, 5),
        (3, [0.0, 1.0], 1.0, [5, 9], 1, 9),
    ]
    sigv = spark.createDataFrame(
        rows, "vec_id long, vec array<double>, norm2 double, "
        "sigs array<bigint>, tbl int, bucket long"
    )
    out = _score_bucket_local(sigv, "bigint").collect()
    pairs = sorted((r.query_id, r.neighbor_id) for r in out)
    # every ordered pair among {1,2,3} collides somewhere, each once:
    # (1,2)/(2,1) owned by table 0; the pairs with 3 by table 1
    assert pairs == [(1, 2), (1, 3), (2, 1), (2, 3), (3, 1), (3, 2)]


def test_dist_rerank_plan_has_no_dedup_aggregate(spark):
    """The ownership rewrite removed the post-kernel (query, neighbor)
    max-aggregate — the plan goes kernel -> window top-k with a
    map-side WindowGroupLimit, no partial_max anywhere, and no
    candidate self-join."""
    from jaccard_mapreduce_spark.operators.similarity import ann_lsh_topk

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    plan = ann_lsh_topk(emb, k=10)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "partial_max" not in plan
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan


def test_stored_index_dist_matches_exact_both_families(
    spark, tmp_path, monkeypatch
):
    """The stored-index kernel plan must reproduce the relational
    plan's rows, scores included, on a disjoint-id batch against a
    smaller store (the serving shape): the gates patched to 0 force the
    kernel, patched past any estimate they force the relational plan."""
    import jaccard_mapreduce_spark.sources.vector_index as V

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    store = emb.where("vec_id % 2 = 0")
    batch = emb.where("vec_id % 2 = 1")
    V.build_ivf_index(store, str(tmp_path / "ivf"), n_cells=8)
    V.build_lsh_index(store, str(tmp_path / "lsh"))

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    for fam, search, kw in (
        ("ivf", V.search_ivf_index, {"n_probe": 4}),
        ("lsh", V.search_lsh_index, {}),
    ):
        base = str(tmp_path / fam)
        got = {}
        for gate in (0, 10**18):
            monkeypatch.setattr(V, "IVF_EXACT_KERNEL_MIN_PAIRS", gate)
            monkeypatch.setattr(V, "LSH_EXACT_KERNEL_MIN_PAIRS", gate)
            df = search(spark, base, batch, k=5, **kw)
            assert ("FlatMapGroupsInPandas" in plan(df)) == (gate == 0), fam
            got[gate] = _full_rows(df)
        assert got[0] == got[10**18] and got[0], fam


@pytest.mark.parametrize(
    "family, rerank",
    [
        ("lsh", "exact"),
        ("lsh", "auto"),
        ("ivf", "exact"),
        ("ivf", "auto"),
        ("ivf", "sq8"),
    ],
)
def test_stored_index_integral_batch_searches_string_store_as_strings(
    spark, tmp_path, monkeypatch, family, rerank
):
    """A string-id store probed by a bigint-id batch searches with both
    id columns cast to string, so a plain ``!=`` is the self-pair
    compare (canonical string forms — casting the string ids to bigint
    would throw). The gate patched to 0 runs the kernel in that one id
    type, and the output keeps each side's own id type."""
    import jaccard_mapreduce_spark.sources.vector_index as V

    monkeypatch.setattr(V, "LSH_EXACT_KERNEL_MIN_PAIRS", 0)
    monkeypatch.setattr(V, "IVF_EXACT_KERNEL_MIN_PAIRS", 0)
    vecs = {f"d{i}": [float(i % 7), 1.0, float(i % 3)] for i in range(32)}
    emb = spark.createDataFrame(
        list(vecs.items()), "vec_id string, embedding array<double>"
    )
    base = str(tmp_path / family)
    batch = spark.createDataFrame(
        [(1, [1.0, 1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    if family == "lsh":
        V.build_lsh_index(emb, base, dim=3)
        got = V.search_lsh_index(spark, base, batch, k=5, rerank=rerank)
    else:
        V.build_ivf_index(emb, base, n_cells=4, dim=3)
        got = V.search_ivf_index(
            spark, base, batch, k=5, n_probe=2, rerank=rerank
        )
    assert dict(got.dtypes)["query_id"] == "bigint"
    assert dict(got.dtypes)["neighbor_id"] == "string"
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    rows = got.collect()
    assert rows
    assert {r["query_id"] for r in rows} == {1}
    assert sorted(r["rank"] for r in rows) == list(range(1, len(rows) + 1))
    if rerank == "sq8":
        return
    norm = 3**0.5
    for r in rows:
        v = vecs[r["neighbor_id"]]
        want = sum(v) / (norm * sum(x * x for x in v) ** 0.5)
        assert abs(r["score"] - want) < 1e-12


@pytest.mark.parametrize(
    "family, rerank", [("lsh", "exact"), ("ivf", "exact"), ("ivf", "sq8")]
)
def test_stored_index_int_batch_matches_bigint_batch(
    spark, tmp_path, monkeypatch, family, rerank
):
    """An ``int``-id batch against a ``bigint`` store searches in
    bigint: on both sides of the gate its rows equal the bigint batch's,
    with ``query_id`` typed ``int``. A ``string``-id batch against the
    same store has no one search type and is refused."""
    import jaccard_mapreduce_spark.sources.vector_index as V

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    base = str(tmp_path / family)
    batch = emb.where("vec_id % 2 = 1")
    if family == "lsh":
        V.build_lsh_index(emb.where("vec_id % 2 = 0"), base)
        kw = {}
        search = V.search_lsh_index
    else:
        V.build_ivf_index(emb.where("vec_id % 2 = 0"), base, n_cells=8)
        kw = {"n_probe": 4}
        search = V.search_ivf_index

    def typed(id_type):
        return batch.withColumn("vec_id", F.col("vec_id").cast(id_type))

    for gate in (0, 10**18):
        monkeypatch.setattr(V, "IVF_EXACT_KERNEL_MIN_PAIRS", gate)
        monkeypatch.setattr(V, "LSH_EXACT_KERNEL_MIN_PAIRS", gate)
        want = search(spark, base, batch, k=5, rerank=rerank, **kw)
        got = search(spark, base, typed("int"), k=5, rerank=rerank, **kw)
        plan = got._jdf.queryExecution().executedPlan().toString()
        kernel = gate == 0 or rerank == "sq8"
        assert ("FlatMapGroupsInPandas" in plan) == kernel, gate
        assert dict(got.dtypes)["query_id"] == "int"
        assert dict(got.dtypes)["neighbor_id"] == "bigint"
        rows = _full_rows(got)
        assert rows and rows == _full_rows(want), gate
    with pytest.raises(ValueError, match="string"):
        search(spark, base, typed("string"), k=5, rerank=rerank, **kw)

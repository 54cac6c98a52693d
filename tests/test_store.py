"""The store core (``sources/_store.py``): the on-disk protocol every
persisted store shares — the two-rename swap and crash-leftover
cleanup."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMALL


def test_swap_failed_publish_restores_previous_generation(spark, tmp_path):
    """When the tmp -> live rename fails, the previous generation must
    be back at the live path (no ``__old`` left behind) and the swap
    must raise IOError — for every store mutation that publishes
    through the core's swap (dataset and whole-directory swaps alike)."""
    from jaccard_mapreduce_spark.sources._store import _swap

    live = str(tmp_path / "store" / "df")
    spark.range(7).write.parquet(live)
    with pytest.raises(IOError, match="swap failed"):
        _swap(spark, live, str(tmp_path / "store" / "df__tmp"))
    assert spark.read.parquet(live).count() == 7
    assert not os.path.exists(f"{live}__old")


def test_crash_leftovers_do_not_block_retrain_or_delete(spark, tmp_path):
    """A crashed run leaves a NON-EMPTY staging directory behind
    (``<path>__retraining``, ``tombstones__tmp``, ...). The next
    mutation clears it itself instead of failing until someone deletes
    it by hand."""
    from jaccard_mapreduce_spark.sources.vector_index import (
        build_ivf_index,
        build_lsh_index,
        delete_from_lsh_index,
        lsh_index_stats,
        retrain_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")

    def plant(leftover: str) -> None:
        os.makedirs(leftover)
        with open(os.path.join(leftover, "part-crashed.parquet"), "w") as fh:
            fh.write("partial")

    ivf = str(tmp_path / "ivf")
    build_ivf_index(emb, ivf, n_cells=4)
    plant(f"{ivf}__retraining")
    assert retrain_ivf_index(spark, ivf)
    assert not os.path.exists(f"{ivf}__retraining")

    lsh = str(tmp_path / "lsh")
    build_lsh_index(emb, lsh)
    plant(f"{lsh}/tombstones__tmp")
    assert delete_from_lsh_index(spark, lsh, emb.limit(3)) == 3
    assert lsh_index_stats(spark, lsh)["n_tombstones"] == 3


@pytest.mark.parametrize("family", ["lsh", "ivf"])
def test_live_rows_from_footers_equal_masked_count(spark, tmp_path, family):
    """The stored-index searches size their gate from footers: live
    rows (dataset footers minus tombstone footers) must equal the
    masked scan after every mutation — build, upsert, delete (with the
    tombstones still pending) and compaction — and, like the scan,
    ignore a ``_temporary`` directory left by an unfinished write."""
    from pyspark.sql import functions as F

    from jaccard_mapreduce_spark.sources import vector_index as V
    from jaccard_mapreduce_spark.sources._store import _live_rows, _read_live

    build, upsert, delete, compact, name = {
        "lsh": (
            V.build_lsh_index, V.upsert_lsh_index,
            V.delete_from_lsh_index, V.compact_lsh_index, "vectors",
        ),
        "ivf": (
            lambda rel, p: V.build_ivf_index(rel, p, n_cells=4),
            V.upsert_ivf_index,
            V.delete_from_ivf_index, V.compact_ivf_index, "cells",
        ),
    }[family]
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    path = str(tmp_path / family)

    def check() -> int:
        want = _read_live(spark, path, name).count()
        assert _live_rows(spark, path, name) == want
        return want

    build(emb.where(F.col("vec_id") % 5 != 0), path)
    n_base = check()
    upsert(spark, path, emb.where(F.col("vec_id") % 5 == 0))
    assert check() == emb.count() > n_base
    assert delete(spark, path, emb.where(F.col("vec_id") % 7 == 0)) > 0
    assert os.path.isdir(f"{path}/tombstones")
    n_live = check()
    compact(spark, path)
    assert not os.path.isdir(f"{path}/tombstones")
    assert check() == n_live
    leftover = f"{path}/{name}/_temporary/0"
    os.makedirs(leftover)
    with open(os.path.join(leftover, "part-crashed.parquet"), "w") as fh:
        fh.write("partial")
    assert check() == n_live

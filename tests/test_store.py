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

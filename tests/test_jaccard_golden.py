"""Golden end-to-end parity with the reference's committed outputs.

The strongest parity signal available (SURVEY.md §5.2): run the engine on
the reference's own datasets and byte-compare with the committed
single-reducer outputs at results-1dn/*/output_jaccard/part-r-00000.
Includes the 5 exact .xx5 rounding ties in the small dataset (SURVEY.md
§2 O16) — ``format_string('%.2f')`` must reproduce Java's shortest-repr
HALF_UP behavior.
"""

from __future__ import annotations

import os

import pytest

from jaccard_mapreduce_spark.operators.jaccard import run_reference_pipeline

from tests.conftest import REF

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF),
    reason=f"reference datasets and golden outputs not found at {REF}; "
    "they cannot be rebuilt from this repository",
)


def _golden(size: str) -> list[str]:
    path = f"{REF}/results-1dn/{size}/output_jaccard/part-r-00000"
    with open(path) as f:
        return f.read().splitlines()


@pytest.mark.parametrize("size", ["small", "medium"])
@pytest.mark.parametrize("strategy", ["join", "bitmask"])
def test_golden_parity(spark, size: str, strategy: str):
    got = [
        r["line"]
        for r in run_reference_pipeline(
            spark, f"{REF}/datasets/{size}.txt", strategy=strategy
        ).collect()
    ]
    want = _golden(size)
    assert len(got) == len(want)
    assert got == want


def test_golden_parity_large_auto(spark):
    got = [
        r["line"]
        for r in run_reference_pipeline(spark, f"{REF}/datasets/large.txt").collect()
    ]
    want = _golden("large")
    assert got == want

"""Streaming decontamination ingest: a CORPUS stream scrubbed against
a fixed benchmark suite on the way in — the shape a 24/7 training-data
pipeline actually runs (the eval suite is pinned for a training run;
documents arrive continuously and must never land in the training set
carrying a benchmark quote).

The claim this face grades: contamination is PER-DOCUMENT — whether a
doc shares an n-gram with a benchmark item depends only on that doc
and the (fixed) suite, never on the rest of the corpus — so the scrub
is batch-decomposable and the union of all micro-batches' scrubbed
output must hash-match the one-shot :func:`~jaccard_mapreduce_spark.
operators.dedup.contamination_scrub` over the same corpus, whatever
the batch boundaries were. (Contrast MinHash dedup, where a doc's fate
depends on its neighbors — THAT stream face must maintain state; this
one is embarrassingly per-batch, and the grade pins exactly that.)

Cache discipline (the serve faces' recipe): the benchmark relation is
pinned ONCE by the caller — benchmark-suite-sized, the broadcast side
of every batch's audit join — while each micro-batch pins only its own
rows and releases them after the append. The ``max_bench_docs``
broadcast guard runs ONCE at wiring time, not per batch (two count
jobs per micro-batch would be the probe-factor cost paid forever)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from jaccard_mapreduce_spark.operators._cache import pin


def contamination_scrub_stream(
    stream: DataFrame,
    benchmarks: DataFrame,
    out_path: str,
    checkpoint: str,
    n: int = 8,
    min_shared: int = 1,
    max_bench_docs: int | None = 100_000,
):
    """Wire a document stream through the contamination scrub against
    a fixed ``benchmarks`` relation (pinned once by the caller),
    appending each micro-batch's SURVIVORS to ``out_path``. Returns
    the unstarted writer (the ``upsert_ivf_index_stream`` convention);
    exactly-once is NOT claimed (a replayed batch re-appends identical
    surviving rows — downstream dedup by doc_id is the recipe if the
    sink must be a set). The benchmark-side broadcast guard
    (``max_bench_docs`` — the round-11 ADVICE contract) runs here,
    once, so the per-batch sink never pays its count probes."""
    from jaccard_mapreduce_spark.operators.dedup import (
        contamination_scrub,
    )

    if max_bench_docs is not None:
        probe = benchmarks.limit(max_bench_docs + 1).count()
        if probe > max_bench_docs:
            raise ValueError(
                f"benchmarks exceeds max_bench_docs={max_bench_docs}: "
                "the benchmark side is broadcast whole per micro-batch "
                "— shrink the suite, raise the bound deliberately, or "
                "pass None after bounding it upstream"
            )

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        b = pin(batch_df)
        try:
            contamination_scrub(
                b,
                benchmarks,
                n=n,
                min_shared=min_shared,
                max_bench_docs=None,
            ).write.mode("append").parquet(out_path)
        finally:
            b.unpersist()

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )

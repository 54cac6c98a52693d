"""Incremental Jaccard scoring over a document stream.

``foreachBatch`` pattern: each micro-batch of new documents is tokenized,
appended to a distributed token-state directory (parquet; a production
deployment would use Delta/Iceberg for atomic appends), and scored
against the full accumulated corpus — new-vs-all pairs only, never
recomputing old-vs-old. This is the streaming analog of the reference's
batch pipeline: the batch kernel's gate, bitmask intersection and scoring
(``operators/jaccard.py``) applied to the (new × all) frontier.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jaccard_mapreduce_spark.operators.jaccard import (
    _allpairs_mask_vocab,
    _score,
    doc_sizes,
    doc_tokens,
    jaccard_similarity,
    mask_intersection,
    token_masks,
)


class IncrementalJaccard:
    """Accumulates token state and emits new-pair scores per micro-batch.

    The per-batch scorer calls ``jaccard_pairs``' all-pairs gate
    (``jaccard._allpairs_mask_vocab``) on the ACCUMULATED state: it picks
    the bitmask frontier kernel (small global vocabulary — popcount(AND)
    over broadcast masks, no token-level join at all) or the token-join
    frontier (the general path)."""

    def __init__(self, spark: SparkSession, state_dir: str, out_dir: str):
        self.spark = spark
        self.state_dir = state_dir
        self.out_dir = out_dir

    def _score_new(self, new_tokens: DataFrame, all_tokens: DataFrame) -> DataFrame:
        """Frontier scores — pairs touching at least one NEW doc —
        strategy-gated by the batch ``jaccard_pairs`` gate."""
        vocab_size = _allpairs_mask_vocab(all_tokens)
        if vocab_size is None:
            return self._score_new_join(new_tokens, all_tokens)
        return self._score_new_bitmask(new_tokens, all_tokens, vocab_size)

    def _score_new_bitmask(
        self, new_tokens: DataFrame, all_tokens: DataFrame, vocab_size: int
    ) -> DataFrame:
        """Bitmask frontier: every stored doc becomes a fixed-width
        bitmask over the state's dense vocabulary (the batch kernel's
        ``token_masks``), the NEW docs' masks probe a broadcast of all
        masks, and the intersection is popcount(AND) — the ~10⁸
        (pair, token) co-occurrence rows of the join frontier never
        materialize (measured at sf0.1: 72 s join frontier → ~4 s).
        New docs' tokens are a subset of the state vocabulary (the
        batch was appended to the state before scoring), so the dense
        ids are consistent by construction."""
        n_words = (vocab_size + 63) // 64
        masks = token_masks(all_tokens, vocab_size)
        new_ids = new_tokens.select("doc_id").distinct().withColumn(
            "is_new", F.lit(1)
        )
        flagged = masks.join(F.broadcast(new_ids), "doc_id", "left")
        n_par = self.spark.sparkContext.defaultParallelism
        a = (
            flagged.where(F.col("is_new").isNotNull())
            .drop("is_new")
            .repartition(n_par)
            .alias("a")
        )
        b = F.broadcast(flagged).alias("b")
        # each unordered pair exactly once: both-new pairs via the
        # a < b direction, new×old pairs via their (only) new side
        emit_once = (F.col("a.doc_id") < F.col("b.doc_id")) | (
            (F.col("a.doc_id") != F.col("b.doc_id"))
            & F.col("b.is_new").isNull()
        )
        a_mask, b_mask = F.col("a.mask"), F.col("b.mask")
        if n_words == 1:
            a_mask, b_mask = a_mask[0], b_mask[0]
        a_first = F.col("a.doc_id") < F.col("b.doc_id")
        return (
            a.join(b, emit_once)
            .select(
                F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
                mask_intersection(a_mask, b_mask, n_words).alias("intersection"),
                F.when(a_first, F.col("a.size"))
                .otherwise(F.col("b.size"))
                .alias("size_a"),
                F.when(a_first, F.col("b.size"))
                .otherwise(F.col("a.size"))
                .alias("size_b"),
            )
            # co-occurring pairs only (the batch kernel's contract)
            .where(F.col("intersection") >= 1)
            .withColumn("similarity", jaccard_similarity())
        )

    def _score_new_join(
        self, new_tokens: DataFrame, all_tokens: DataFrame
    ) -> DataFrame:
        """Token-join frontier (new×all co-occurrence) — the general
        path when the vocabulary outgrows the bitmask gate.

        The explicit token repartition of the NEW side is load-bearing
        (round 9): a micro-batch inherits the SOURCE's partitioning —
        a single-file trigger arrives as ONE partition — and because
        the accumulated state side is small enough to broadcast, the
        entire tokenize → join → pair-explosion → distinct map-side
        chain would otherwise execute on that one task. At sf0.1
        (5,000 docs, hot tokens in ~78% of them) the new×all join
        emits ~4.5×10⁸ rows; measured single-task that is ~17 minutes
        of CPU where the repartitioned plan spreads the same work
        across the cluster (the round-9 bench hang, caught live via
        jstack — one RUNNABLE shuffle-write task at 997 s CPU). At
        production scale the same line is what keeps a big crawl batch
        from serializing on its file count."""
        n_shuffle = int(
            self.spark.conf.get("spark.sql.shuffle.partitions")
        )
        sizes = doc_sizes(all_tokens)
        a = new_tokens.repartition(n_shuffle, "token").alias("a")
        # Tag the state side's NEW rows (broadcast of the batch's doc
        # ids — batch-sized, the signature-store incremental dedup's
        # own convention) so each (pair, token) co-occurrence can be
        # emitted EXACTLY ONCE by the join condition itself:
        #   * both docs new  -> emit only the a.doc_id < b.doc_id
        #     direction (the batch pipeline's O9 canonicalization)
        #   * b old          -> emit unconditionally (new×old arrives
        #     only via the new side, once)
        # The former shape emitted both-new pairs twice and collapsed
        # them with a DISTINCT over (pair, token) — at sf0.1's
        # stopword-dense corpus that distinct exchanged ~4.5×10⁸ rows
        # (~13 GB) per micro-batch where this condition-level dedup
        # exchanges nothing: the join output flows straight into the
        # intersection groupBy, whose map-side combine shrinks it to
        # the ~10⁷ distinct pairs before the only shuffle.
        new_ids = new_tokens.select("doc_id").distinct().withColumn(
            "is_new", F.lit(1)
        )
        b = all_tokens.join(
            F.broadcast(new_ids), "doc_id", "left"
        ).alias("b")
        emit_once = (F.col("a.doc_id") < F.col("b.doc_id")) | (
            (F.col("a.doc_id") != F.col("b.doc_id"))
            & F.col("b.is_new").isNull()
        )
        cand = (
            a.join(b, "token")
            .where(emit_once)
            .select(
                F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("intersection"))
        )
        return _score(cand, sizes)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        new_tokens = doc_tokens(batch_df)
        new_tokens.write.mode("append").parquet(self.state_dir)
        all_tokens = self.spark.read.parquet(self.state_dir)
        scores = self._score_new(new_tokens, all_tokens)
        scores.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            self.out_dir
        )

    def attach(self, doc_stream: DataFrame):
        """Attach to a streaming documents DataFrame; returns the query."""
        os.makedirs(self.state_dir, exist_ok=True)
        return (
            doc_stream.writeStream.outputMode("append")
            .foreachBatch(self.process_batch)
            .start()
        )

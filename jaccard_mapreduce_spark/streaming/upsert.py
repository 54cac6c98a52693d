"""foreachBatch keyed-snapshot upsert — the exactly-once CDC file sink.

The reference's only sink is an append-only text file
(DocumentSimilarityDriver.java:43-45); a streaming engine also needs
the OTHER canonical sink: a keyed snapshot that each micro-batch
UPSERTS (latest row per key), maintained idempotently so batch replays
after a failure cannot corrupt it. Without a transactional table
format, the classic pattern is versioned snapshot directories:

    snap_v{b} = latest_per_key( snap_v{b-1} ∪ batch_b )

Each version is written whole to its own path, so re-running batch
``b`` (Structured Streaming replays the last uncommitted batch after
recovery) deterministically rewrites ``snap_v{b}`` from the same
inputs — the effect on the final state is exactly-once even though the
delivery is at-least-once. At 100 TB the same recipe holds with
partition-overwrite (only key-hash partitions touched by the batch are
rewritten) or a table format with commit atomicity; the plan shape —
one keyed max-struct aggregate per batch over snapshot ∪ delta — is
identical.

The ``stream_upsert_snapshot`` registry fixture streams the events
table split into N input files (N genuine micro-batches) through
:func:`upsert_snapshot_stream` and grades the final snapshot against the
exact batch latest-event SQL: the multi-batch fold converges to the
batch answer however the rows were split across batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _latest_per_user(df: DataFrame) -> DataFrame:
    """Keyed keep-latest fold: max event-time row per user. Ties on ts
    cannot occur in the events table (unique µs stamps), matching the
    batch oracle's plain ts max."""
    m = F.max(
        F.struct("last_ts_us", "last_value", "last_event_type")
    ).alias("m")
    return (
        df.groupBy("user_id")
        .agg(m)
        .select(
            "user_id",
            F.col("m.last_ts_us").alias("last_ts_us"),
            F.col("m.last_value").alias("last_value"),
            F.col("m.last_event_type").alias("last_event_type"),
        )
    )


def upsert_snapshot_stream(stream: DataFrame, snap_dir: str, checkpoint: str):
    """Wire a ``(user_id, ts, value, event_type)`` stream into the
    versioned keyed snapshot under ``snap_dir``: micro-batch ``b``
    writes ``v{b}`` = latest row per user over ``v{b-1}`` ∪ batch ``b``.
    Returns the unstarted writer (the ``upsert_ivf_index_stream``
    convention); the newest ``v{b}`` is the snapshot."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        delta = batch_df.select(
            "user_id",
            F.unix_micros("ts").alias("last_ts_us"),
            F.col("value").alias("last_value"),
            F.col("event_type").alias("last_event_type"),
        )
        # The previous snapshot comes from DISK, keyed by the stable
        # batch_id — not from driver memory. After a driver restart
        # Structured Streaming replays the last uncommitted batch b with
        # the SAME batch_id, so v{b} is deterministically rebuilt from
        # v{b-1} ∪ batch_b — the idempotent-replay property holds across
        # real recoveries, not just within one driver process.
        prev = os.path.join(snap_dir, f"v{batch_id - 1}")
        if os.path.exists(prev):
            delta = delta.unionByName(batch_df.sparkSession.read.parquet(prev))
        out = os.path.join(snap_dir, f"v{batch_id}")
        _latest_per_user(delta).write.mode("overwrite").parquet(out)

    return (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )

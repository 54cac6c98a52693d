"""Z-order (Morton-curve) clustered layout — multi-dimensional scan
pruning.

Completes the physical-layout family (``bucketed.py`` pre-pays join
shuffles, ``partitioned.py`` prunes directories on ONE key,
``runtime_filters.py`` prunes at runtime): interleaving the bits of two
filter dimensions into one sort key clusters rows so that parquet
row-group min/max statistics become selective on BOTH dimensions at
once. A range predicate box then skips most row groups of a 100 TB
table — the technique behind Delta/Iceberg ``OPTIMIZE ZORDER BY``,
built here from plain column expressions and a range repartition, no
table format required.

Why one-key sorting is not enough: sorting by ``user_id`` alone makes
``user_id`` stats perfectly selective and ``ts`` stats useless (every
row group spans the full time range); the interleave splits the
selectivity between the dimensions — each row group covers a small
RECTANGLE of (user, time) space instead of a thin full-width stripe.

The reference has no storage-layout notion at all (its only sink is a
single text file, DocumentSimilarityDriver.java:43-45).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

# 16 bits per dimension -> a 32-bit Morton key; dimensions are masked
# into [0, 2^16) first. Values beyond the mask wrap and lose locality,
# so real deployments bucket/scale each dimension into range first
# (the demo's minute-of-day is 0..1439 and the fixture's user ids are
# small — both fit).
DEFAULT_BITS = 16


def zorder_key(col_a: str, col_b: str, bits: int = DEFAULT_BITS) -> Column:
    """Morton interleave of the low ``bits`` of two non-negative
    integer column EXPRESSIONS (SQL strings — callers may pass scaled
    forms): bit ``i`` of ``col_a`` lands at position ``2i+1``, bit
    ``i`` of ``col_b`` at ``2i``. Built as ONE ``+`` chain of
    shift/mask terms (pure codegen arithmetic, no UDF). The casts to
    BIGINT are load-bearing: Spark's ``shiftleft`` masks the shift
    amount by the OPERAND width, so a 32-bit int column would silently
    shift mod 32 (the round-5 packed-pair bug, regression-tested
    there)."""
    terms = []
    for i in range(bits):
        terms.append(
            f"shiftleft(shiftright(cast({col_a} as bigint), {i}) & 1,"
            f" {2 * i + 1})"
        )
        terms.append(
            f"shiftleft(shiftright(cast({col_b} as bigint), {i}) & 1,"
            f" {2 * i})"
        )
    return F.expr(" + ".join(terms))


def write_zordered_events(
    spark: SparkSession, sf_dir: str, base: str, n_files: int = 16
) -> None:
    """Re-lay the events table clustered on the Morton key of
    (user_id, minute-of-day): a range repartition on the key makes
    each output file a contiguous key range, and the within-partition
    sort tightens every row group's (user, time) bounding box. The
    zkey itself is layout scaffolding and is not stored.

    Each dimension is SCALED to the full key width from its measured
    max first — with raw values, a dimension spanning fewer bits than
    the other contributes nothing to the key's high bits and the
    interleave degenerates toward a single-key sort (measured on the
    fixture: 150 users vs 1440 minutes left the user dimension almost
    unclustered). The scaling is a layout-time decision computed from
    the data being laid out; it never touches query semantics."""
    from jaccard_mapreduce_spark.sources.tables import load_events

    events = load_events(spark, sf_dir).withColumn(
        "minute_of_day", (F.hour("ts") * 60 + F.minute("ts")).cast("long")
    )
    mx = events.agg(
        F.max("user_id").alias("u"), F.max("minute_of_day").alias("m")
    ).first()
    width = 1 << DEFAULT_BITS
    u_scaled = (
        f"(cast(user_id as bigint) * {width}) div {int(mx['u']) + 1}"
    )
    m_scaled = (
        f"(cast(minute_of_day as bigint) * {width}) div {int(mx['m']) + 1}"
    )
    (
        events.withColumn("zkey", zorder_key(u_scaled, m_scaled))
        .repartitionByRange(n_files, "zkey")
        .sortWithinPartitions("zkey")
        .drop("zkey")
        .write.mode("overwrite")
        .parquet(base)
    )


def rowgroup_overlap_fraction(
    path: str,
    user_lo: int,
    user_hi: int,
    minute_lo: int,
    minute_hi: int,
) -> tuple[int, int]:
    """(row groups whose (user_id, minute_of_day) min/max box overlaps
    the predicate box, total row groups) — read straight from the
    parquet footers, the statistics the scan's row-group skipping
    actually uses. The measurement tool behind the layout claim."""
    import pyarrow.parquet as pq

    overlapping = total = 0
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        meta = pq.ParquetFile(os.path.join(path, name)).metadata
        idx = {
            meta.schema.column(i).name: i for i in range(meta.num_columns)
        }
        for rg in range(meta.num_row_groups):
            total += 1
            u = meta.row_group(rg).column(idx["user_id"]).statistics
            m = meta.row_group(rg).column(idx["minute_of_day"]).statistics
            if (
                u.min <= user_hi
                and u.max >= user_lo
                and m.min <= minute_hi
                and m.max >= minute_lo
            ):
                overlapping += 1
    return overlapping, total

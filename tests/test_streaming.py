"""Structured Streaming tests: windowed aggs converge to the batch
answer; stateful operator accumulates across micro-batches; incremental
Jaccard matches the batch pipeline."""

from __future__ import annotations

import tempfile
import uuid

import pytest

from pyspark.sql import functions as F

from jaccard_mapreduce_spark.operators.jaccard import jaccard_pairs
from jaccard_mapreduce_spark.sources.corpus import read_corpus_text
from jaccard_mapreduce_spark.streaming import (
    IncrementalJaccard,
    read_events_stream,
    stateful_user_counts,
    windowed_event_counts,
)

from tests.conftest import SF_SMALL


def _run(stream_df, mode: str, spark):
    name = "t" + uuid.uuid4().hex[:10]
    q = stream_df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


def test_windowed_counts_match_batch(spark):
    agg = windowed_event_counts(read_events_stream(spark, SF_SMALL), window="1 hour")
    got = _run(agg, "complete", spark)

    from jaccard_mapreduce_spark.sources.tables import load_events

    ev = load_events(spark, SF_SMALL)
    want = (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("window_start_s"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w
    assert len(g) > 0


def test_stateful_user_counts_accumulate(spark):
    counts = stateful_user_counts(read_events_stream(spark, SF_SMALL))
    sink = _run(counts, "update", spark)
    final = {
        r["user_id"]: r["n_events_total"]
        for r in sink.groupBy("user_id")
        .agg(F.max("n_events_total").alias("n_events_total"))
        .collect()
    }
    from jaccard_mapreduce_spark.sources.tables import load_events

    want = {
        r["user_id"]: r["n"]
        for r in load_events(spark, SF_SMALL)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert final == want


def test_incremental_jaccard_matches_batch(spark, tmp_path, corpus_txt):
    corpus = read_corpus_text(spark, corpus_txt)
    # split the corpus into 3 files so maxFilesPerTrigger=1 gives 3 batches
    in_dir = str(tmp_path / "in")
    parts = corpus.withColumn(
        "part", (F.crc32(F.col("doc_id").cast("binary")) % 3).cast("int")
    )
    for i in range(3):
        parts.where(F.col("part") == i).drop("part").write.mode(
            "append" if i else "overwrite"
        ).parquet(in_dir)

    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    inc = IncrementalJaccard(
        spark, str(tmp_path / "state"), str(tmp_path / "scores")
    )
    q = inc.attach(stream)
    q.processAllAvailable()
    q.stop()

    got = (
        spark.read.parquet(str(tmp_path / "scores"))
        .groupBy("doc_a", "doc_b")
        # a pair may be re-emitted in a later batch with a larger
        # intersection as the corpus grows — the final (max-batch) value
        # is the converged one; here pairs only ever grow, so take the row
        # with max batch_id per pair == max intersection
        .agg(F.max(F.struct("batch_id", "intersection", "size_a", "size_b", "similarity")).alias("s"))
        .select("doc_a", "doc_b", "s.intersection", "s.size_a", "s.size_b", "s.similarity")
    )
    want = jaccard_pairs(corpus, strategy="join")
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w


def test_stream_enrich_segments_matches_batch(spark):
    from jaccard_mapreduce_spark.sources.tables import load_events
    from jaccard_mapreduce_spark.streaming.events import (
        read_events_stream,
        stream_enrich_segments,
    )
    from tests.conftest import SF_SMALL

    customer = spark.read.parquet(f"{SF_SMALL}/customer.parquet")
    enriched = stream_enrich_segments(
        read_events_stream(spark, SF_SMALL), customer
    )
    q = (
        enriched.writeStream.outputMode("complete")
        .format("memory")
        .queryName("enrich_test")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r["segment"]: (r["n_events"], r["sum_value"])
        for r in spark.table("enrich_test").collect()
    }
    # batch equivalent on the same tables
    from pyspark.sql import functions as F

    ev = load_events(spark, SF_SMALL)
    want = {
        r["segment"]: (r["n_events"], r["sum_value"])
        for r in (
            ev.join(
                customer.select(
                    F.col("c_custkey").alias("user_id"), "c_mktsegment"
                ),
                "user_id",
                "left",
            )
            .groupBy(F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"))
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_value"),
            )
            .collect()
        )
    }
    assert got == want


def test_latest_event_per_user_across_batches(spark, tmp_path):
    """State must fold across micro-batches: split the events table into
    3 files streamed one per trigger; the final state per user equals the
    batch argmax-by-time."""
    from jaccard_mapreduce_spark.sources.tables import load_events
    from jaccard_mapreduce_spark.streaming.events import latest_event_per_user

    ev = load_events(spark, SF_SMALL)
    src = str(tmp_path / "ev_chunks")
    # deterministic 3-way chunking by event_id
    ev.withColumn("chunk", F.col("event_id") % 3).write.partitionBy(
        "chunk"
    ).parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/chunk=*")
    )
    latest = latest_event_per_user(stream)
    sink = _run(latest, "update", spark)
    final = {
        r["user_id"]: (r["last_ts_us"], r["last_value"], r["last_event_type"])
        for r in sink.groupBy("user_id")
        .agg(
            F.max(
                F.struct("last_ts_us", "last_value", "last_event_type")
            ).alias("m")
        )
        .select("user_id", "m.*")
        .collect()
    }
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"))
    want = {
        r["user_id"]: (r["ts_us"], r["value"], r["event_type"])
        for r in ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id", F.unix_micros("ts").alias("ts_us"), "value", "event_type"
        )
        .collect()
    }
    assert final == want


def test_tws_type_counts_accumulate_across_batches(spark, tmp_path):
    """State-v2 MapState must fold across micro-batches: events split
    into 3 one-per-trigger files; the max emission per (user, type)
    equals the batch group count. Skips where protobuf is absent — the
    transformWithState Python protocol requires it (see operator doc)."""
    pytest.importorskip("google.protobuf")
    from jaccard_mapreduce_spark.sources.tables import load_events
    from jaccard_mapreduce_spark.streaming.events import typed_user_counts_tws

    ev = load_events(spark, SF_SMALL)
    src = str(tmp_path / "ev_chunks_tws")
    ev.withColumn("chunk", F.col("event_id") % 3).write.partitionBy(
        "chunk"
    ).parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/chunk=*")
    )
    sink = _run(typed_user_counts_tws(stream), "update", spark)
    final = {
        (r["user_id"], r["event_type"]): r["n_events"]
        for r in sink.groupBy("user_id", "event_type")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    }
    want = {
        (r["user_id"], r["event_type"]): r["n"]
        for r in ev.groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert final == want


def test_stream_upsert_snapshot_matches_batch_and_is_multi_batch(spark):
    import glob
    import os

    from registry_fixtures import _scratch_dir, stream_upsert_snapshot

    sf = "/root/testdata/sf0.001"
    snap = stream_upsert_snapshot(spark, sf, n_input_files=4)
    got = {r["user_id"]: r for r in snap.collect()}

    # batch truth: plain max-struct per user over the whole table
    from jaccard_mapreduce_spark.sources.tables import load_events
    from pyspark.sql import functions as F

    ev = load_events(spark, sf)
    m = F.max(F.struct(F.unix_micros("ts").alias("ts_us"), "value", "event_type")).alias("m")
    want = {
        r["user_id"]: (r["m"]["ts_us"], r["m"]["value"], r["m"]["event_type"])
        for r in ev.groupBy("user_id").agg(m).collect()
    }
    assert set(got) == set(want)
    for uid, (ts_us, val, etype) in want.items():
        r = got[uid]
        assert (r["last_ts_us"], r["last_value"], r["last_event_type"]) == (ts_us, val, etype)

    # the fold really ran across multiple micro-batches (one per input
    # file), each leaving its own idempotently-rewritable version
    versions = glob.glob(
        os.path.join(_scratch_dir(spark, "snapshot"), "snap", "v*")
    )
    assert len(versions) == 4

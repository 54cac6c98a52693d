"""Physical-plan audits: the optimizations the engine relies on must be
visible in the executed plan, not assumed. These tests fail if a future
change silently regresses pushdown, pruning, or join strategy.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from jaccard_mapreduce_spark.operators.jaccard import doc_tokens, jaccard_pairs

from tests.conftest import SF_ORACLE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown_and_column_pruning(spark):
    df = entrymod.queries()["q1_pricing_summary"](spark, SF_ORACLE)
    plan = _plan(df)
    # shipdate predicate reaches the parquet scan
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:200]
    # unused columns are pruned from the scan
    scan = plan[plan.index("FileScan") :]
    assert "l_orderkey" not in scan.split("\n", 1)[0]
    assert "l_partkey" not in scan.split("\n", 1)[0]


def test_doc_tokens_prunes_document_columns(spark):
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    plan = _plan(doc_tokens(docs))
    scan_line = plan[plan.index("FileScan") :].split("\n", 1)[0]
    assert "doc_id" in scan_line and "text" in scan_line
    # lang/source/n_chars never read
    assert "lang" not in scan_line and "n_chars" not in scan_line


def test_q3_broadcasts_dimensions(spark):
    df = entrymod.queries()["q3_top_orders"](spark, SF_ORACLE)
    assert _plan(df).count("BroadcastHashJoin") >= 2


def test_jaccard_join_path_broadcasts_sizes(spark):
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    plan = _plan(jaccard_pairs(docs, strategy="join"))
    # the two doc-size lookups are broadcast (DistributedCache analog)
    assert plan.count("BroadcastHashJoin") >= 2


def test_jaccard_bitmask_path_has_no_token_shuffle_join(spark):
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    plan = _plan(jaccard_pairs(docs, strategy="bitmask"))
    # pair scoring is a broadcast nested-loop join on masks — the
    # quadratic token-level sort-merge join must not appear
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "dedup_simhash"])
def test_fanout_joins_are_spread_and_broadcast(spark, name):
    df = entrymod.queries()[name](spark, SF_ORACLE)
    plan = _plan(df)
    # candidate generation probes a broadcast build side after an explicit
    # round-robin exchange (the AQE-coalesce-vs-fanout fix)
    assert "BroadcastHashJoin" in plan
    assert "RoundRobinPartitioning" in plan


def test_top_suppliers_broadcasts_dims(spark):
    plan = _plan(entrymod.queries()["top_suppliers"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    # lineitem (the fact) is never exchanged before the join
    assert plan.count("BroadcastExchange") >= 1


def test_price_band_join_is_broadcast_nested_loop(spark):
    plan = _plan(entrymod.queries()["part_price_band_join"](spark, SF_ORACLE))
    # non-equi range predicate + tiny band table -> broadcast nested loop,
    # no shuffle of the part side
    assert "BroadcastNestedLoopJoin" in plan


def test_doc_split_is_pure_projection(spark):
    plan = _plan(entrymod.queries()["doc_split"](spark, SF_ORACLE))
    # no exchange at all: split assignment must not shuffle
    assert "Exchange" not in plan


def test_q6_all_predicates_pushed_to_scan(spark):
    df = entrymod.queries()["q6_revenue"](spark, SF_ORACLE)
    plan = _plan(df)
    pushed = plan.split("PushedFilters", 1)[1][:400]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed to parquet scan"
    # only the 4 needed columns are read
    scan_line = plan[plan.index("FileScan") :].split("\n", 1)[0]
    assert "l_extendedprice" in scan_line and "l_orderkey" not in scan_line


def test_min_cost_supplier_broadcasts_both_dims(spark):
    plan = _plan(entrymod.queries()["min_cost_supplier"](spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 2


def test_orders_exists_is_semi_join(spark):
    plan = _plan(entrymod.queries()["orders_exists_returned"](spark, SF_ORACLE))
    assert "LeftSemi" in plan
    # the returnflag filter reaches the lineitem scan
    assert "l_returnflag" in plan.split("PushedFilters", 1)[1][:400]


def test_stratified_sample_no_shuffle(spark):
    plan = _plan(entrymod.queries()["stratified_sample"](spark, SF_ORACLE))
    assert "Exchange" not in plan


def test_tfidf_python_stays_off_token_stream(spark):
    # the libm-ln Python hop runs on the vocabulary relation only: the
    # tf-side join input must contain no Python eval
    df = entrymod.queries()["tfidf_top_terms"](spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("ArrowEvalPython") == 1


def test_salted_join_spreads_key_and_matches_plain(spark):
    from pyspark.sql import functions as F

    from jaccard_mapreduce_spark.operators.skew import salted_join

    orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    customer = spark.read.parquet(f"{SF_ORACLE}/customer.parquet")
    f = orders.select(F.col("o_custkey").alias("custkey"), "o_orderkey")
    d = customer.select(F.col("c_custkey").alias("custkey"), "c_nationkey")
    salted = salted_join(f, d, on=["custkey"], n_salt=4)
    plain = f.join(d, "custkey")
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0
    # the physical join key includes the salt column
    assert "_salt" in _plan(salted)


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "dedup_simhash"])
def test_dedup_broadcast_gate_shuffle_fallback(spark, name):
    """broadcast_max_docs=0 must drop every broadcast HINT, returning the
    join choice to the planner. With auto-broadcast disabled (emulating
    the size estimate a 10^9-doc relation would have) the joins must plan
    shuffled — the cluster-scale shape. (On genuinely small data the
    planner still auto-broadcasts without the hint, which is the point of
    gating the hint rather than hard-coding either strategy.)"""
    from jaccard_mapreduce_spark.operators import dedup as D
    from jaccard_mapreduce_spark.operators.jaccard import doc_tokens

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        if name == "dedup_minhash_lsh":
            df = D.minhash_lsh_dedup(docs, threshold=0.7, broadcast_max_docs=0)
        else:
            df = D.simhash_duplicates(
                doc_tokens(docs), max_distance=3, broadcast_max_docs=0
            )
        plan = _plan(df)
        # no DOC-keyed relation may broadcast (vocab-keyed broadcasts in
        # the bitmask verify path are fine — vocabulary ≪ corpus)
        for line in plan.splitlines():
            if "BroadcastHashJoin" in line:
                assert "doc_" not in line, f"doc-keyed broadcast survived: {line}"
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_repetition_stats_is_pure_projection(spark):
    plan = _plan(entrymod.queries()["repetition_stats"](spark, SF_ORACLE))
    assert "Exchange" not in plan


def test_redact_pii_is_pure_projection(spark):
    plan = _plan(entrymod.queries()["pii_scrub"](spark, SF_ORACLE))
    assert "Exchange" not in plan


def test_pack_sequences_single_shard_shuffle(spark):
    plan = _plan(entrymod.queries()["pack_sequences"](spark, SF_ORACLE))
    # exactly one exchange: the hash partition by shard for the window
    assert plan.count("Exchange hashpartitioning") == 1
    assert "RoundRobinPartitioning" not in plan


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Same-bucketed tables must join without an Exchange on either side
    — the layout that pre-pays the fact-fact shuffle at 100 TB."""
    from jaccard_mapreduce_spark.sources.bucketed import (
        colocated_join,
        write_bucketed_table,
    )

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bktdb LOCATION '{tmp_path}/warehouse'"
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        write_bucketed_table(
            docs.select("doc_id", "n_chars"), "bktdb.d1", 4, ["doc_id"],
            sort_cols=["doc_id"],
        )
        write_bucketed_table(
            docs.select("doc_id", "lang"), "bktdb.d2", 4, ["doc_id"],
            sort_cols=["doc_id"],
        )
        # disable broadcast so the test exercises the co-located SMJ path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = colocated_join(spark, "bktdb.d1", "bktdb.d2", ["doc_id"])
        assert joined.count() == docs.count()
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        # bucketed scan confirmed (not just a tiny single-partition fluke)
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP DATABASE IF EXISTS bktdb CASCADE")


def test_q17_decorrelated_avg_no_subquery_per_row(spark):
    """The correlated per-part average must run as ONE aggregate joined
    back, never as a per-row scalar subquery — and the whole query
    carries at most 3 shuffles (part_avg agg, optional join
    re-partition, final brand agg)."""
    df = entrymod.queries()["q17_small_quantity_revenue"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "Subquery" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_q20_single_fact_scan_semi_join_and_pushdown(spark):
    """The per-part total is a window over the aggregated relation, so
    the lineitem fact table is scanned exactly once (the agg+self-join
    form scanned it twice — exchange reuse never merged the subtrees);
    the supplier qualification stays a LEFT SEMI join; the ship-date
    range reaches the parquet scan."""
    df = entrymod.queries()["q20_dominant_suppliers"](spark, SF_ORACLE)
    plan = _plan(df)
    scan_heads = [
        seg.split("\n", 1)[0] for seg in plan.split("FileScan")[1:]
    ]
    li_scans = [s for s in scan_heads if "lineitem" in s]
    assert len(li_scans) == 1, li_scans
    assert "LeftSemi" in plan
    li_seg = next(
        seg for seg in plan.split("FileScan")[1:] if "lineitem" in seg.split("\n", 1)[0]
    )
    assert "l_shipdate" in li_seg.split("PushedFilters", 1)[1][:300]


def test_q21_pushes_status_and_returnflag_filters(spark):
    """The decorrelated EXISTS rewrite must still push o_orderstatus to
    the orders scan and l_returnflag to the probe-side lineitem scan."""
    df = entrymod.queries()["q21_waiting_suppliers"](spark, SF_ORACLE)
    plan = _plan(df)
    segs = plan.split("FileScan")[1:]
    ord_seg = next(s for s in segs if "orders" in s.split("\n", 1)[0])
    assert "o_orderstatus" in ord_seg.split("PushedFilters", 1)[1][:300]
    li_pushed = [
        s.split("PushedFilters", 1)[1][:300]
        for s in segs
        if "lineitem" in s.split("\n", 1)[0] and "PushedFilters" in s
    ]
    assert any("l_returnflag" in p for p in li_pushed), li_pushed


def test_partitioned_events_scan_prunes_partitions(spark):
    """The day predicate must land in PartitionFilters (directory
    pruning at planning time), not as a post-scan data filter."""
    df = entrymod.queries()["partitioned_events_summary"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:300]
    assert ">= 8" in seg and "<= 14" in seg, seg


def test_q13_preaggregates_orders_before_outer_join(spark):
    """Q13 must shrink orders to one row per customer BEFORE the outer
    join — the aggregate sits under the join, not above it."""
    df = entrymod.queries()["q13_customer_distribution"](spark, SF_ORACLE)
    plan = _plan(df)
    join_pos = plan.index("Join")
    # a HashAggregate appears below (after, in toString order) the join
    assert "HashAggregate" in plan[join_pos:], plan


def test_q16_broadcasts_both_dims_with_anti_join(spark):
    df = entrymod.queries()["q16_part_supplier_variety"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "LeftAnti" in plan
    assert plan.count("BroadcastExchange") >= 2


def test_bloom_filter_injected_into_fact_scan(spark):
    """With the demo thresholds active, the selective orders filter
    must propagate to the lineitem side as a runtime bloom filter
    (might_contain on the join key) ahead of the shuffle."""
    from jaccard_mapreduce_spark.operators.runtime_filters import (
        bloom_scope,
        urgent_order_revenue,
    )

    lineitem = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    with bloom_scope(spark):
        df = urgent_order_revenue(lineitem, orders)
        plan = _plan(df)
        assert "might_contain" in plan, plan


def test_q19_disjunction_pushed_to_both_scans(spark):
    """Catalyst must extract the per-side predicates of the OR-of-ANDs
    and push them into BOTH parquet scans (quantity bands -> lineitem,
    brand/size bands -> part) — the Q19-shape optimization that naive
    engines miss."""
    df = entrymod.queries()["q19_disjunctive_revenue"](spark, SF_ORACLE)
    plan = _plan(df)
    scans = [
        seg.split("\n", 1)[0]
        for seg in plan.split("FileScan")[1:]
    ]
    li_scan = next(s for s in scans if "lineitem" in s)
    pt_scan = next(s for s in scans if "part.parquet" in s)
    assert "l_quantity" in li_scan.split("PushedFilters", 1)[1]
    assert "p_brand" in pt_scan.split("PushedFilters", 1)[1]


def test_prepare_corpus_prunes_document_columns(spark):
    """The flagship pipeline must never scan (or cache) the unused
    lang/source columns — the survivor relations are pinned and re-read,
    so early projection is a multiplied saving."""
    from jaccard_mapreduce_spark.operators.pipeline import prepare_corpus

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    plan = _plan(prepare_corpus(docs))
    for seg in plan.split("ReadSchema: ")[1:]:
        schema = seg.split("\n", 1)[0]
        assert "lang" not in schema and "source" not in schema, schema


def test_bucketed_contract_query_join_is_shuffle_free(spark):
    """The graded bucketed_customer_revenue query: with broadcast
    disabled, the join under the aggregate must carry no Exchange on
    either side (the only Exchange in the plan is the final groupBy's,
    whose key differs from the bucket key)."""
    from jaccard_mapreduce_spark.sources.bucketed import (
        bucketed_customer_revenue,
        demo_database_name,
    )

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = bucketed_customer_revenue(spark, SF_ORACLE)
        plan = _plan(df)
        join_part = plan[plan.index("SortMergeJoin") :]
        assert "Exchange" not in join_part, join_part
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql(
            f"DROP DATABASE IF EXISTS {demo_database_name(spark)} CASCADE"
        )


def test_q9_part_filter_prunes_and_dims_broadcast(spark):
    df = entrymod.queries()["q9_product_profit"](spark, SF_ORACLE)
    plan = _plan(df)
    # part/supplier/nation all broadcast; only lineitem⋈orders shuffles
    assert plan.count("BroadcastHashJoin") >= 3
    # the LIKE filter stays on the tiny part side, not the fact scan
    assert "p_name" in plan


def test_q11_total_is_single_row_broadcast(spark):
    df = entrymod.queries()["q11_value_concentration"](spark, SF_ORACLE)
    plan = _plan(df)
    # the nation-total comparison is a broadcast of a 1-row aggregate,
    # never a shuffled join or a per-row subquery
    assert "BroadcastNestedLoopJoin" in plan


def test_quality_curriculum_prunes_document_columns(spark):
    df = entrymod.queries()["quality_curriculum"](spark, SF_ORACLE)
    scan_line = _plan(df)[_plan(df).index("FileScan") :].split("\n", 1)[0]
    # only the three touched columns are read
    assert "doc_id" in scan_line and "text" in scan_line and "source" in scan_line
    assert "n_chars" not in scan_line and "lang" not in scan_line


def test_minhash_error_audit_broadcasts_below_gate(spark):
    from jaccard_mapreduce_spark.operators.dedup import minhash_error_audit

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    # below the gate the per-doc relation broadcasts into the candidate
    # join: no shuffle of the candidate relation
    plan = _plan(minhash_error_audit(docs))
    assert plan.count("BroadcastHashJoin") >= 2
    # above the gate (forced, with auto-broadcast off to emulate the
    # size a 10^9-doc relation would report) it falls back to shuffled
    # doc-keyed equi-joins
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan2 = _plan(minhash_error_audit(docs, broadcast_max_docs=0))
        assert "SortMergeJoin" in plan2 or "ShuffledHashJoin" in plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_kmeans_assignment_is_flat_projection(spark):
    # the per-pass assignment must be a projection over the codes — no
    # join, no window, no exchange introduced by the argmin
    from jaccard_mapreduce_spark.operators.similarity import kmeans_int8

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    plan = _plan(kmeans_int8(emb, k=4, iters=0, dim=64))
    assert "Join" not in plan and "Window" not in plan
    # the argmin itself must not require a distribution (no
    # ENSURE_REQUIREMENTS exchange); the one allowed exchange is the
    # deliberate round-6 REPARTITION_BY_NUM that spreads the codes
    # before the training persist (a single-file scan otherwise caches
    # as one partition and every Lloyd pass runs single-task)
    assert "ENSURE_REQUIREMENTS" not in plan


def test_semantic_dedup_pairs_join_on_cluster_not_cartesian(spark):
    # the near-dup candidate relation is an equi-join on the cluster
    # key; an all-pairs cartesian/broadcast-nested-loop would mean the
    # clustering stopped pruning the quadratic kernel
    from jaccard_mapreduce_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    plan = _plan(semantic_dedup(emb, k=4, dim=64))
    assert "CartesianProduct" not in plan
    assert "cluster" in plan  # join key visible in the condition


def test_formats_readback_uses_explicit_schema(spark):
    # read-back plans must come from the supplied schema, not inference:
    # all three formats project the full typed column set in the scan
    from registry_fixtures import formats_roundtrip

    df = formats_roundtrip(spark, SF_ORACLE)
    plan = _plan(df)
    for fmt in ("orc", "json", "csv"):
        assert fmt in plan.lower()
    # the comparison join carries the typed ts column end-to-end
    assert "ts" in plan


def test_containment_rides_the_strategy_gated_kernel(spark):
    from jaccard_mapreduce_spark.operators.dedup import containment_pairs

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    plan = _plan(containment_pairs(docs))
    assert "CartesianProduct" not in plan
    # auto strategy picks the bitmask path on this corpus (small vocab):
    # the token relation must NOT self-join shuffled (the naive form
    # measured 90 s at sf0.1)
    assert "SortMergeJoin" not in plan


def test_pagerank_final_plan_reads_pinned_ranks(spark):
    from jaccard_mapreduce_spark.operators.dedup import pagerank_centrality

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    plan = _plan(pagerank_centrality(docs, iters=1))
    # the edge relation is pinned — each round's join must read the
    # cache, not re-run the LSH verify subtree
    assert "InMemoryTableScan" in plan


def test_vocabulary_rank_window_is_partitioned(spark):
    """Round-5 de-weakening (VERDICT r4 item 4): the vocabulary rank no
    longer funnels the distinct-token relation through one partition.
    The only single-partition stage left is the bounded (df, prefix)
    histogram's cumulative-offset window (≤ distinct-df × 37² rows,
    the global_shuffle convention); the data-sized row_number runs
    partitioned by (df, prefix)."""
    from jaccard_mapreduce_spark.operators.text_analysis import vocabulary

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    plan = _plan(vocabulary(docs))
    assert plan.count("Exchange SinglePartition") <= 1
    assert "hashpartitioning(df" in plan, (
        "the vocab rank window lost its (df, prefix) partition spec"
    )


def test_jaccard_formatted_rank_window_is_partitioned(spark):
    """The O18 global order is composed from bucketed in-partition
    row_numbers + broadcast offsets — same discipline as vocabulary.
    The pair-relation rank window MUST carry the _bucket partition
    spec; the only single-partition stages allowed are bounded ones
    (the ≤n_buckets offsets cume-sum and, on the bitmask path, the
    strategy-gated ≤2048-row vocab-id window)."""
    from jaccard_mapreduce_spark.operators.jaccard import jaccard_formatted

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    plan = _plan(jaccard_formatted(docs))
    # the data-sized (doc_a, doc_b) rank window is partitioned by _bucket
    rank_windows = [
        line
        for line in plan.splitlines()
        if "row_number() windowspecdefinition" in line and "doc_a" in line
    ]
    assert rank_windows and all("[_bucket#" in line for line in rank_windows)
    # every OTHER window must be one of the bounded-by-construction
    # single-partition stages: the ≤n_buckets offsets cume-sum (sum over
    # _bucket order) or the strategy-gated ≤2048-row vocab-id window
    # (row_number over token). Anything else is a new data-sized funnel.
    # (Exchange/plan_id counting is deliberately avoided — cached-plan
    # reuse across the shared test session changes those non-semantically.)
    for line in plan.splitlines():
        if "windowspecdefinition" not in line:
            continue
        if line in rank_windows:
            continue
        assert ("token#" in line) or ("_bucket#" in line), (
            f"unexpected window stage: {line.strip()[:160]}"
        )


def test_ann_lsh_candidates_dedup_before_rerank(spark):
    """Multi-table LSH must score each candidate pair once: the plan
    carries a pair-level dedup (HashAggregate on the distinct) between
    the (table, bucket) join and the rerank join-backs."""
    from jaccard_mapreduce_spark.operators.similarity import ann_lsh_topk

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    plan = _plan(ann_lsh_topk(emb, k=5))
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_q2_canonical_broadcasts_dims_and_min_join(spark):
    """Canonical Q2 over the synthetic partsupp: supplier/nation/region
    and the filtered part dim all broadcast — the 4×|part| partsupp
    flatMap is the only relation that ever shuffles (for its own agg)."""
    plan = _plan(entrymod.queries()["q2_min_cost_supplier"](spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_q20_canonical_is_semi_join_with_pushed_year_filter(spark):
    plan = _plan(entrymod.queries()["q20_partsupp"](spark, SF_ORACLE))
    assert "LeftSemi" in plan
    # the shipdate year window reaches the LINEITEM scan's data filters
    # (search that scan's own line — the first PushedFilters in the plan
    # belongs to a dim scan)
    li_scans = [
        line for line in plan.splitlines()
        if "FileScan" in line and "lineitem.parquet" in line
    ]
    assert li_scans and all("l_shipdate" in line for line in li_scans)


def test_q9_canonical_broadcasts_partsupp_lookup(spark):
    """The cost lookup joins the fact to the dim-sized synthetic
    partsupp broadcast — lineitem must not shuffle for it."""
    plan = _plan(entrymod.queries()["q9_partsupp"](spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 3


def test_ivf_index_static_probe_prunes_partitions(spark, tmp_path):
    """A fixed probe list on the cell-partitioned index becomes a
    planning-time PartitionFilters entry — the scan reads only the
    probed cell directories."""
    from jaccard_mapreduce_spark.sources.vector_index import (
        build_ivf_index,
        read_index_cells,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path)
    plan = _plan(read_index_cells(spark, path, [0, 2]))
    scans = [
        line for line in plan.splitlines() if "FileScan" in line
    ]
    assert scans, "no FileScan in the static-probe plan"
    assert any(
        "PartitionFilters" in line and "cell_id" in
        line.split("PartitionFilters", 1)[1]
        for line in scans
    ), f"no partition filter on cell_id in any scan: {scans}"


def test_chunk_documents_is_map_only(spark):
    # tokenize + one explode of the per-doc start list: no shuffle at
    # any corpus size
    plan = _plan(entrymod.queries()["chunk_documents"](spark, SF_ORACLE))
    assert "Exchange" not in plan


def test_replicate_embeddings_is_map_only(spark):
    from jaccard_mapreduce_spark.operators.similarity import (
        replicate_embeddings,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    plan = _plan(replicate_embeddings(emb, factor=10))
    assert "Exchange" not in plan


def test_train_val_split_is_pure_projection(spark):
    plan = _plan(entrymod.queries()["train_val_split"](spark, SF_ORACLE))
    assert "Exchange" not in plan


def test_key_skew_stats_has_partial_aggregation(spark):
    # the diagnosis must survive the skew it detects: the count's
    # map-side partial combine pre-reduces the hot key per executor
    plan = _plan(entrymod.queries()["key_skew_stats"](spark, SF_ORACLE))
    assert "partial_count" in plan


def test_key_skew_stats_single_scan_and_pruned_ranking(spark):
    # round-8 fixes, both visible in the plan: (a) the per-key count
    # relation is pinned, so the top-k branch and the total branch both
    # read the cache — every FileScan string in the printout sits under
    # an InMemoryRelation (the source is scanned ONCE at runtime, not
    # once per branch); (b) the ranking pre-prunes through
    # TakeOrderedAndProject (distributed per-partition top-k), with the
    # row_number window ABOVE it — ranking k rows, never the full
    # key-cardinality relation through one unpartitioned WindowExec.
    # The string counts are only deterministic against a COLD cache: a
    # pin left over from an earlier test embeds its materialized AQE
    # final plan in the InMemoryRelation printout, doubling the nested
    # FileScan strings (observed in the full-suite run).
    spark.catalog.clearCache()
    plan = _plan(entrymod.queries()["key_skew_stats"](spark, SF_ORACLE))
    assert plan.count("FileScan") == plan.count("InMemoryRelation")
    assert plan.count("FileScan") >= 1
    assert "TakeOrderedAndProject" in plan
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_boilerplate_scrub_no_cartesian(spark):
    # coverage via span explode + anti-join, never a range/cross join
    plan = _plan(entrymod.queries()["boilerplate_scrub"](spark, SF_ORACLE))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "LeftAnti" in plan


def test_sq8_scores_stay_jvm_side(spark):
    # the quantized rerank is pure column arithmetic: no Python eval
    # anywhere in the plan
    plan = _plan(entrymod.queries()["ann_sq8_topk"](spark, SF_ORACLE))
    assert "Python" not in plan

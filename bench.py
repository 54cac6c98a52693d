"""Benchmark harness — prints ONE JSON line for the driver.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the reference's
own large dataset for direct BASELINE.md comparison (the reference's
local-mode 3-job pipeline: 10.09 s on datasets/large.txt; BASELINE.md
target for us: <= ~20 s — we aim well under).

Each query is forced through the `noop` sink: full computation, zero
result serialization, so the number measures the plan, not the collect.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from jaccard_mapreduce_spark.session import get_spark  # noqa: E402


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _warmup_corpus() -> str:
    """Write a reference-format corpus (``Document<doc_id> <text>`` per
    line) from the sf0.001 documents table and return its path, so the
    warm-up runs without the reference datasets."""
    import tempfile

    import pyarrow.parquet as pq

    docs = pq.read_table(
        "/root/testdata/sf0.001/documents.parquet", columns=["doc_id", "text"]
    ).to_pydict()
    fd, path = tempfile.mkstemp(prefix="bench_warmup_", suffix=".txt")
    with os.fdopen(fd, "w") as fh:
        fh.writelines(
            f"Document{i} {text}\n"
            for i, text in zip(docs["doc_id"], docs["text"])
        )
    return path


def _load1() -> float:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover - platform without getloadavg
        return -1.0


def _wait_for_quiet_host() -> tuple[float, bool, float, float]:
    """Pre-flight loadavg gate (round-7 verdict: the r7 bench ran at
    loadavg 7.7→9.2 and the +18% across untouched plans was pure host
    noise; round-10 verdict: the old 3.0 threshold admitted a
    loadavg-2.92 run whose jaccard_formatted came out 3.1× inflated).
    Wait — up to SPARK_GRAFT_BENCH_LOAD_WAIT seconds, default 300 —
    for the 1-minute loadavg to drop below SPARK_GRAFT_BENCH_MAX_LOAD
    (default 1.0 per the r10 verdict) before measuring; if the host
    never quiets, proceed anyway and flag it in bench_detail so the
    medians are read as low-confidence rather than silently trusted.
    Returns (seconds waited, gate satisfied, threshold, load at
    release)."""
    max_load = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "1.0"))
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_WAIT", "300"))
    waited = 0.0
    while _load1() > max_load and waited < budget:
        time.sleep(15)
        waited += 15
    release_load = _load1()
    return round(waited, 1), release_load <= max_load, max_load, release_load


# Every oracle-backed key not in the core list below (nor pre-built as
# an index demo) is benched on a deterministic 4-round rotation keyed
# by the window design round — so NO registry key goes more than
# N_BENCH_COHORTS rounds without a recorded sf0.1 timing, and a perf
# regression in a key rotated out of the correctness window cannot
# hide indefinitely. tests/test_registry.py asserts the rotation
# partitions the full registry.
N_BENCH_COHORTS = 4


def rotating_cohort(
    all_keys, core, prebuilt, round_no: int
) -> list[str]:
    rest = sorted(k for k in all_keys if k not in core and k not in prebuilt)
    return [
        k
        for i, k in enumerate(rest)
        if i % N_BENCH_COHORTS == round_no % N_BENCH_COHORTS
    ]


def main() -> None:
    load_waited_s, load_gate_ok, load_gate_max, load_gate_release = (
        _wait_for_quiet_host()
    )
    loadavg = [_load1()]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench")

    import __spark_entry__ as entry

    from jaccard_mapreduce_spark.operators.jaccard import run_reference_pipeline

    qs = {**entry.queries(), **entry.bench_only_queries()}

    # Warm up JVM codegen + Python UDF workers once; the reference's
    # BASELINE numbers are per-pipeline compute, and a long-lived engine
    # amortizes startup — cold-start cost is reported separately below.
    t0 = time.perf_counter()
    corpus = _warmup_corpus()
    try:
        _force(run_reference_pipeline(spark, corpus))
    finally:
        os.unlink(corpus)
    _force(qs["media_meta"](spark, "/root/testdata/sf0.001"))
    warmup_s = round(time.perf_counter() - t0, 3)

    # The core list is FIXED-SIZE, not append-only (round-8 verdict:
    # the monotonically-grown 105-key core pushed total wall-clock past
    # the driver's kill budget and BENCH_r08 died rc=124). Policy:
    # flagship (timed separately below) + the queries whose sf0.1
    # medians dominate total wall-clock (the ~15 slowest of the last
    # recorded sidecar) + every key NEW or CHANGED in the current
    # design round. Everything else rotates through the 4-round cohort,
    # so no key goes unbenched for more than N_BENCH_COHORTS rounds.
    bench_queries = [
        # slowest-14 of the round-11 committed snapshot
        # (docs/bench_detail_r11.json medians) — led by ann_sq8_topk,
        # whose contaminated 24.3 s r11 median the round-12 isolated
        # probe adjudicated back to its 9.8 s level (SCALE.md round
        # 12): keeping it in the 3-rep core gives the adjudication a
        # clean in-harness confirmation under the tightened noisy flag
        "ann_sq8_topk",
        "stream_hybrid_serve",
        "ann_lsh_topk",
        "sq8_rank_audit",
        "clustered_split_leakage",
        "prepare_corpus",
        "effective_token_stats",
        # (dedup_cluster_sizes / dedup_minhash_lsh / bigram_surprise
        # rotate OUT this round — mid-pack ~3-5 s keys displaced by the
        # delete-family additions under the 40-key core cap; they stay
        # covered by the rotating cohort and the oracle-parity sweep)
        "lsh_index_upsert",
        "lsh_index_serve",
        "lsh_index_retune",
        # the adjudication's second key (committed 3.42 vs probed 1.73)
        "hybrid_bm25_search",
        # the round-12 registry additions and changes, kept in the timed core
        "ngram_contamination",
        "contamination_scrub",
        "phrase_search_guarded",
        "phrase_store_scale_probe",
        "hybrid_phrase_search",
        "proximity_search",
        "prefix_search",
        "lexical_store_prefix",
        "contamination_summary",
        "stream_contamination_scrub",
        "lexical_store_proximity",
        "stream_proximity_serve",
        "lexical_store_delete",
        "lexical_store_delete_bm25",
        "stream_lexical_delete",
        "lsh_index_delete",
        "minhash_index_delete",
        "ivf_index_delete",
        "delete_scale_probe",
        "lexical_store_search",
        "lexical_store_bm25",
        "lexical_store_phrase",
        "lexical_store_stats",
        "lexical_store_compact",
        "stream_lexical_ingest",
        "stream_bm25_serve",
        "stream_phrase_serve",
    ]
    # Queries measured at ONE rep even in the core (round-9 verdict
    # item 8): stream_hybrid_serve's ~26 s median is ~fixed Structured
    # Streaming trigger machinery (checkpointing, 4 micro-batches), not
    # data volume — its spread made it a flagged-noisy median anyway,
    # and the two freed reps buy ~50 s of budget for real coverage.
    # stream_lexical_ingest and stream_bm25_serve pay the same
    # per-trigger overhead.
    single_rep = {
        "stream_hybrid_serve",
        "stream_lexical_ingest",
        "stream_bm25_serve",
        "stream_phrase_serve",
        "stream_proximity_serve",
        "stream_contamination_scrub",
        "stream_lexical_delete",
    }
    cohort = rotating_cohort(
        qs, set(bench_queries), set(), entry._WINDOW_DESIGN_ROUND
    )

    # The persisted-index queries are BIMODAL by design: the session's
    # first call pays codebook training + the partitioned write, every
    # later call is search-only (the amortization the lifecycle exists
    # for). Averaging the two modes would measure neither, so each
    # index-dependent query TIMED THIS ROUND runs once here, untimed
    # (building its store behind the session gate), and the build cost
    # is reported separately — the per-query medians below then measure
    # the amortized serving cost, which is the number a build-once/
    # search-many index should be judged on. Builds for index faces
    # rotated out this round are skipped entirely.
    index_dependent = [
        "ivf_index_search", "ivf_index_upsert", "ivf_index_sq8",
        "ivf_index_serve", "ivf_index_retrain",
        "ivf_index_stats",
        "lsh_index_search", "lsh_index_serve",
        "lsh_index_upsert", "lsh_index_compact",
        "lsh_index_retune", "lsh_index_stats",
        # stream_hybrid_serve probes the shared session LSH store too
        # (round-9 ADVICE: without this, a rotation that times it
        # without hybrid_index_search would fold the store build into
        # its median — the bimodality this pre-build loop removes)
        "hybrid_index_search", "hybrid_recall_audit",
        "stream_hybrid_serve",
        "ivf_index_compact",
        "lexical_store_search", "lexical_store_stats",
        "lexical_store_compact", "stream_lexical_ingest",
        "lexical_store_bm25", "stream_bm25_serve",
        "lexical_store_phrase", "stream_phrase_serve",
        "lexical_store_search", "lexical_store_bm25",
        "lexical_store_compact", "phrase_store_scale_probe",
        "lexical_store_proximity", "stream_proximity_serve",
        "lexical_store_delete", "lexical_store_delete_bm25",
        "stream_lexical_delete", "lexical_store_prefix",
        "lsh_index_delete", "minhash_index_delete", "ivf_index_delete",
        "delete_scale_probe",
        "dedup_incremental", "minhash_index_upsert",
        "minhash_index_reband", "minhash_index_stats",
    ]
    timed_this_round = set(bench_queries) | set(cohort)
    t0 = time.perf_counter()
    for name in index_dependent:
        if name in timed_this_round:
            _force(qs[name](spark, sf_dir))
    index_build_s = round(time.perf_counter() - t0, 3)

    bench_queries = bench_queries + cohort

    # local[32] wall-clock swings 2-3x with ambient load: run each query
    # REPS times and report the MEDIAN so round-over-round deltas are
    # attributable to plan changes, not scheduler noise. min/max recorded
    # per query for the spread. Cohort queries run at ONE rep — they are
    # a coverage sweep (catching step-function regressions in rotated
    # keys), not a median measurement; the core gets the reps.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    # Total-wall-clock guards (round-8 verdict item 1: nothing bounded
    # the run against the driver's kill budget and BENCH_r08 died
    # rc=124 with NO artifact). Once cumulative timed-query seconds
    # pass QUERY_BUDGET, remaining queries degrade to one rep; past
    # HARD_BUDGET they are skipped and listed — a degraded artifact
    # beats a dead one.
    query_budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "720"))
    hard_budget = float(
        os.environ.get("SPARK_GRAFT_BENCH_HARD_BUDGET", "1080")
    )
    # Per-rep watchdog: the cumulative budgets above only advance when
    # a query RETURNS, so a single infinitely-hung query still defeated
    # them (observed live: a micro-batch whose single-partition plan
    # put a ~10⁸-row join explosion on one task — 997 s of CPU and
    # counting when killed). A timer cancels all running jobs once a
    # query exceeds its allowance; the cancellation surfaces as an
    # exception the per-query error guard already records, and the run
    # continues.
    query_timeout = float(
        os.environ.get("SPARK_GRAFT_BENCH_QUERY_TIMEOUT", "240")
    )
    # spread bound = ±40% of the median (round-5 verdict ask): a query
    # whose min/max straddle more than that gets up to EXTRA_REPS
    # additional samples (ambient-load spikes hit one rep, not all);
    # if the spread is STILL wider, the query is flagged noisy in
    # bench_detail.json so its median is read as low-confidence rather
    # than silently trusted.
    extra_reps = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA_REPS", "2")))

    timed_seconds = 0.0
    query_load: dict[str, float] = {}
    load_suspect: list[str] = []
    load_suspect_threshold = float(
        os.environ.get("SPARK_GRAFT_BENCH_SUSPECT_LOAD", "4.0")
    )

    def _noisy(samples: list[float]) -> bool:
        # Two conditions, either one flags (round-11 verdict item 1:
        # ann_sq8_topk's [13.2, 29.0] spread passed the ±40%-of-median
        # band as CLEAN — 15.8 < 0.8·24.3 — while being a 2.2× min-max
        # ratio; a ≥2× ratio is host contamination by definition on an
        # unchanged plan, whatever the median says).
        med = samples[len(samples) // 2]
        return samples[-1] - samples[0] > 0.8 * med or (
            samples[0] > 0 and samples[-1] / samples[0] >= 2.0
        )

    def timed(fn, n_reps=None) -> tuple[float, float, float, bool, float]:
        nonlocal timed_seconds
        n_reps = reps if n_reps is None else n_reps
        samples = []
        # the contamination signal is RESIDUAL load at rep START (the
        # previous queries' lingering 32-thread bursts — what inflated
        # the r10/r11/r12 single-rep readings), NOT the load during the
        # rep, which is legitimately the query's own work on a 32-core
        # box. Track the minimum start load across reps: the
        # best-conditioned rep is the one min-of-reps reads anyway.
        load_start_min = _load1()
        for _ in range(n_reps):
            load_start_min = min(load_start_min, _load1())
            t0 = time.perf_counter()
            fn()
            samples.append(time.perf_counter() - t0)
            timed_seconds += samples[-1]
        samples.sort()
        grants = extra_reps if n_reps > 1 else 0
        while _noisy(samples) and grants > 0:
            load_start_min = min(load_start_min, _load1())
            t0 = time.perf_counter()
            fn()
            samples.append(time.perf_counter() - t0)
            timed_seconds += samples[-1]
            samples.sort()
            grants -= 1
        med = samples[len(samples) // 2]
        return (
            round(med, 3),
            round(samples[0], 3),
            round(samples[-1], 3),
            _noisy(samples),
            load_start_min,
        )

    def cleanup() -> None:
        # Two leaks bounded here, both observed to corrupt LATER
        # queries' numbers: (a) session-lived pin() persists accumulate
        # into eviction storms across 50+ queries (round-7 finding,
        # 3x median inflation); (b) a streaming query left active by a
        # failed/killed entry keeps scheduling micro-batches under
        # everything that follows (the BENCH_r08 kill-time stack trace
        # showed exactly that). Within one query's reps the cache works
        # as before; the persisted-index demos live on DISK behind
        # session markers and are unaffected.
        for s in spark.streams.active:
            try:
                s.stop()
            except Exception:  # noqa: BLE001 - best-effort teardown
                pass
        spark.catalog.clearCache()

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    noisy_queries: list[str] = []
    errors: dict[str, str] = {}
    degraded: list[str] = []
    skipped: list[str] = []

    # Reference-parity pipeline on the reference's own largest dataset —
    # the direct apples-to-apples number vs BASELINE.md (1DN local mode).
    # Hosts without the reference datasets record it as unavailable.
    ref_large = "/root/reference/datasets/large.txt"
    if os.path.exists(ref_large):
        med, lo, hi, noisy, load_at = timed(
            lambda: _force(run_reference_pipeline(spark, ref_large))
        )
        timings["jaccard_ref_large"] = med
        spread["jaccard_ref_large"] = [lo, hi]
        query_load["jaccard_ref_large"] = load_at
        if noisy:
            noisy_queries.append("jaccard_ref_large")
    else:
        errors["jaccard_ref_large"] = f"unavailable: {ref_large} not found"

    cohort_set = set(cohort)
    for name in bench_queries:
        if timed_seconds > hard_budget:
            skipped.append(name)
            continue
        n_reps = 1 if name in cohort_set or name in single_rep else reps
        if timed_seconds > query_budget and n_reps > 1:
            degraded.append(name)
            n_reps = 1
        # one query erroring must not lose the whole artifact: record
        # the error and keep timing the rest (observed: a 184 s driver
        # GC stall tripped the local-mode heartbeat timeout mid-run and
        # every later query died — the session factory now raises the
        # timeout, and this guard makes any residual failure partial
        # instead of total)
        watchdog = threading.Timer(
            query_timeout * (n_reps + extra_reps),
            spark.sparkContext.cancelAllJobs,
        )
        watchdog.daemon = True
        watchdog.start()
        try:
            med, lo, hi, noisy, load_at = timed(
                lambda: _force(qs[name](spark, sf_dir)), n_reps
            )
        except Exception as exc:  # noqa: BLE001 - survey, not control flow
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            cleanup()
            continue
        finally:
            watchdog.cancel()
        timings[name] = med
        spread[name] = [lo, hi]
        query_load[name] = load_at
        if noisy:
            noisy_queries.append(name)
        # A SINGLE-REP measurement taken under heavy ambient load is
        # the one reading no heuristic can rescue (min-of-reps and the
        # noisy flag both need a second sample): the r10 ivf_index_dist,
        # r11 ann_sq8_topk, and r12 ivf_index_sq8 contaminations were
        # all exactly this class. Flag it at measurement time so the
        # committed artifact self-documents which numbers need the
        # isolated-probe adjudication instead of leaving it forensic.
        if n_reps == 1 and load_at > load_suspect_threshold:
            load_suspect.append(name)
        cleanup()

    loadavg.append(_load1())
    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full detail (per-query min/max spread, reps, warmup) goes to a
    # sidecar file; stdout carries ONE COMPACT line — the driver records
    # only a bounded stdout tail, and rounds 1-3 proved the verbose line
    # overflows it ("parsed": null in BENCH_r01-r03). Medians at 2dp keep
    # the line well under ~2 KB at the current query count.
    detail = {
        "queries_median": timings,
        "spread_min_max": spread,
        # medians whose spread exceeded ±40% even after extra reps —
        # read these as low-confidence (host noise), not plan deltas
        # (round 12: "noisy" = spread > ±40% of median OR max/min >= 2 —
        # the ratio condition closes the gap a 2.2× spread slipped
        # through in r11)
        "noisy_queries": sorted(noisy_queries),
        # minimum 1-min loadavg at any rep's START (residual load from
        # prior queries — the actual contaminator), and the
        # SINGLE-REP entries whose start load crossed the threshold —
        # their numbers need the isolated-probe adjudication
        # (scripts/probe_isolated.py) before being read as plan deltas
        "query_loadavg": {k: round(v, 2) for k, v in query_load.items()},
        "load_suspect_queries": sorted(load_suspect),
        "load_suspect_threshold": load_suspect_threshold,
        # queries that errored this run (absent from queries_median);
        # empty on a clean run
        "errors": errors,
        "reps": reps,
        "extra_reps_budget": extra_reps,
        # wall-clock guard state: queries timed at ONE rep because the
        # cumulative budget was crossed (their medians are single
        # samples — low confidence), and queries skipped entirely past
        # the hard budget. Both empty on a healthy run. Cohort queries
        # always run one rep (coverage sweep, not medians) and are
        # listed under rotating_cohort, not here.
        "budget": {
            "query_budget_seconds": query_budget,
            "hard_budget_seconds": hard_budget,
            "timed_seconds": round(timed_seconds, 1),
            "degraded_to_one_rep": degraded,
            "skipped": skipped,
        },
        # one-time cost of building ALL FOUR persisted indexes (IVF
        # search/upsert + LSH search/upsert demos) — paid before the
        # reps so their medians measure amortized search, not a
        # build/search mixture
        "index_build_seconds": index_build_s,
        "sf": sf_val,
        "warmup_seconds": warmup_s,
        # ambient host load at start/end: local[32] wall-clock inflates
        # 2-3x under phantom host contention (observed round 4: same
        # commit, same data, 7->21 s on one query as load_avg climbed) —
        # record it so cross-round deltas can be attributed
        "loadavg_1m_start_end": loadavg,
        # pre-flight quiet-host gate: seconds spent waiting for the
        # 1-min loadavg to drop under the threshold, and whether it
        # did — a False here means the whole run is load-confounded
        "loadavg_gate": {
            "waited_seconds": load_waited_s,
            "quiet": load_gate_ok,
            "threshold": load_gate_max,
            "loadavg_at_release": load_gate_release,
        },
        # this round's rotating-coverage cohort (every oracle-backed
        # key outside the core list is benched at least once every
        # N_BENCH_COHORTS rounds)
        "rotating_cohort": {
            "round": entry._WINDOW_DESIGN_ROUND,
            "keys": cohort,
        },
        "total_seconds": total,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    # The driver records only a bounded stdout tail (~2000 chars). At 80+
    # queries the full per-query map is ~2.1 KB and the HEAD of the line —
    # including the metric itself — gets truncated away (BENCH_r06:
    # "parsed": null). So stdout carries a headline subset only:
    # jaccard_ref_large (the BASELINE.md comparison) plus the slowest
    # queries, budgeted to stay well under 1.5 KB with growth headroom;
    # the complete map lives in bench_detail.json.
    #
    # Round 13 (VERDICT item 2, additions-only): the slowest-8 churns
    # every round — the r12 PERF compared rounds on n_common=1 and its
    # geomean degenerated. This fixed SENTINEL subset (one key per
    # operator family, all members of the fixed 3-rep core list above —
    # keep them there when editing the core) prints EVERY round so the
    # driver's round-over-round comparison always has a stable
    # ~10-key intersection. The slowest-8 behavior is unchanged.
    sentinels = [
        "jaccard_ref_large",      # flagship reference-parity pipeline
        "prepare_corpus",         # minhash-chain flagship composition
        "clustered_split_leakage",  # split/leakage family
        "effective_token_stats",  # dedup accounting family
        "ann_lsh_topk",           # one-plan LSH ANN
        "ann_sq8_topk",           # quantized ANN
        "sq8_rank_audit",         # audit family
        "lsh_index_upsert",       # persisted-store lifecycle
        "hybrid_bm25_search",     # hybrid fusion family
        "stream_hybrid_serve",    # streaming serve family
    ]
    headline = {}
    for name in sentinels:
        if name in timings:
            headline[name] = timings[name]
    for name, sec in sorted(timings.items(), key=lambda kv: -kv[1]):
        if len(headline) >= len(sentinels) + 8:
            break
        headline.setdefault(name, sec)
    line = json.dumps(
        {
            "metric": "bench_total_seconds",
            "value": total,
            "unit": "sec",
            "queries": {k: round(v, 2) for k, v in headline.items()},
            "n_queries": len(timings),
            "detail": "bench_detail.json",
            "sf": sf_val,
        },
        separators=(",", ":"),
    )
    assert len(line) <= 1500, f"bench stdout line too long: {len(line)}"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()

"""SparkSession factory tuned for this engine.

Local-mode defaults match the test/bench environment (single JVM,
``local[$SPARK_GRAFT_CPUS]``); the same settings are the right
*starting point* on a real cluster — AQE re-plans shuffles at runtime,
skew-join splitting handles hot keys (the reference's worst hazard:
a stop-word-like token makes pair generation quadratic in one partition,
DocumentSimilarityReducer.java:43-48), and Arrow accelerates any
Pandas-UDF boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def host_driver_mem() -> str:
    """The default driver heap: a quarter of the host's physical RAM,
    at least 1 GiB."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{max(1024, ram_mb // 4)}m"


def get_spark(
    app_name: str = "jaccard_mapreduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    Env overrides: ``SPARK_GRAFT_CPUS`` sets local parallelism (default:
    every core, ``os.cpu_count()``); ``SPARK_GRAFT_DRIVER_MEM`` sets the
    driver heap (default: a quarter of the host's physical RAM).
    """
    # executor Python workers must be able to import this package (UDF
    # closures are pickled by module reference)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or host_driver_mem()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(8, int(cpus))
        except ValueError:
            shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Shuffle sizing: ~cores in local mode; AQE coalesces at runtime
        # so this is an upper bound, not a tuning cliff.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime re-planning — coalesce small shuffle partitions,
        # convert sort-merge to broadcast when a side turns out small,
        # split skewed partitions (the reference's hot-token hazard).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Deterministic timestamp semantics vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every Python<->JVM dataframe boundary (Pandas UDFs,
        # toPandas in tests).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # TIMESTAMP(NANOS) parquet (the events table) reads as raw int64;
        # sources.tables.load_events normalizes to a µs timestamp.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", driver_mem)
        # Local mode runs driver and executor in ONE JVM, so a long
        # driver-side stall (a full-heap GC pause on a large heap, or
        # host-level contention) starves the executor heartbeat too —
        # and the default 120 s timeout then KILLS the only executor,
        # collapsing the context mid-run (observed in a 53-minute bench:
        # a 184 s stall -> "Removing executor driver with no recent
        # heartbeats" -> every in-flight query and stream dies). The
        # heartbeat proves liveness of the same process that judges it,
        # so a generous timeout costs nothing in local mode; on a real
        # cluster these values are still sane for long GC pauses.
        .config("spark.network.timeout", "600s")
        .config("spark.executor.heartbeatInterval", "30s")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

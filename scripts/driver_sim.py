"""Simulate the grading driver: run every ``queries()`` entry on a VIRGIN
SparkSession (none of session.py's confs — the loaders must self-provision
whatever they need) and compare to ``oracle_sql()`` via DuckDB at sf0.01.

This is the pre-flight for CORRECTNESS_r{N}.json: the r1 round lost 7
queries to a conf that existed only on session.py sessions, a failure mode
tests/conftest.py's tuned fixture can never catch.

Usage: python scripts/driver_sim.py [query ...]   (default: all)
       python scripts/driver_sim.py --counts     (print the canonical
       registry counts for round-close docs — round-11 verdict item 6:
       SCALE.md's hand-typed "197" was wrong; print and paste instead)
"""

from __future__ import annotations

import json
import os
import sys
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
    return df.sort_values(by=list(df.columns), ignore_index=True)


def counts() -> int:
    """The canonical round-close registry counts, computed from the live
    registry (never hand-typed into SCALE.md again)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    bench_only = entrymod.bench_only_queries()
    print(
        json.dumps(
            {
                "registry_keys": len(qs),
                "oracle_backed": sum(1 for k in qs if k in oracles),
                "keys_without_oracle": sorted(set(qs) - set(oracles)),
                "bench_only_keys": sorted(bench_only),
                "window_design_round": entrymod._WINDOW_DESIGN_ROUND,
                "window_size": len(_window(entrymod)),
            }
        )
    )
    return 0


def _window(entrymod):
    return getattr(
        entrymod, f"_R{entrymod._WINDOW_DESIGN_ROUND}_WINDOW"
    )


def main() -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from jaccard_mapreduce_spark.session import host_driver_mem
    from jaccard_mapreduce_spark.sources.tables import TABLE_NAMES

    # deliberately minimal — the VIRGIN session of the module docstring:
    # every conf that can change a plan stays at Spark's default (NO
    # session.py confs, shuffle partitions included). Master and heap
    # follow get_spark's host rule, every core and a quarter of
    # physical RAM (memory affects survivability, not semantics)
    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 1}]")
        .appName("driver-sim")
        .config("spark.driver.memory", host_driver_mem())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = sys.argv[1:] or list(qs)

    results: dict[str, dict] = {}
    n_pass = 0
    for name in names:
        rec: dict = {"ok": False, "err": None}
        try:
            sdf = qs[name](spark, SF_DIR).toPandas()
            con = duckdb.connect()
            for t in TABLE_NAMES:
                con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
                )
            ddf = con.sql(oracles[name]).df()
            con.close()
            rec["spark_rows"], rec["oracle_rows"] = len(sdf), len(ddf)
            rec["rows_match"] = len(sdf) == len(ddf)
            rec["schema_match"] = sorted(sdf.columns) == sorted(ddf.columns)
            if rec["rows_match"] and rec["schema_match"]:
                s, d = _canon(sdf), _canon(ddf)
                hm = True
                for c in s.columns:
                    sv, dv = s[c].to_numpy(), d[c].to_numpy()
                    if np.issubdtype(np.asarray(sv).dtype, np.floating) or (
                        np.issubdtype(np.asarray(dv).dtype, np.floating)
                    ):
                        if not np.array_equal(
                            np.asarray(sv, dtype=np.float64),
                            np.asarray(dv, dtype=np.float64),
                            equal_nan=True,
                        ):
                            hm = False
                            rec["bad_col"] = c
                            break
                    elif not (
                        pd.Series(sv).fillna("<null>")
                        == pd.Series(dv).fillna("<null>")
                    ).all():
                        hm = False
                        rec["bad_col"] = c
                        break
                rec["hash_match"] = hm
                rec["ok"] = hm
            else:
                rec["hash_match"] = False
        except Exception:
            rec["err"] = traceback.format_exc(limit=3)
        results[name] = rec
        n_pass += rec["ok"]
        print(f"{'PASS' if rec['ok'] else 'FAIL'} {name}", flush=True)
        if not rec["ok"]:
            print(
                json.dumps({k: v for k, v in rec.items() if k != "ok"}, default=str)[
                    :2000
                ],
                flush=True,
            )

    print(f"\n{n_pass}/{len(names)} pass")
    spark.stop()
    return 0 if n_pass == len(names) else 1


if __name__ == "__main__":
    if sys.argv[1:] == ["--counts"]:
        sys.exit(counts())
    sys.exit(main())

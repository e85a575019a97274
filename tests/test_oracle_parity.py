"""Differential-oracle parity for every registered query — the local
mirror of the driver's correctness gate. Runs at sf0.001 for speed;
set SPARK_GRAFT_PARITY_SF=/root/testdata/sf0.01 to run the t2 scale."""

from __future__ import annotations

import os

import pytest

from fink_science_spark.oracle import compare, duckdb_connection
from fink_science_spark.registry import entries

PARITY_SF = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.001")


def _registry():
    import __spark_entry__ as entrymod

    return entrymod.queries(), entrymod.oracle_sql()


QUERIES, ORACLES = _registry()

# Parity cases measured >10s at sf0.001 (2026-08-15, local[32]) carry
# ``@query(slow_oracle=True)``: the long pole of the suite is a handful of
# streaming fixtures, iterative replays, and O(n^2)-oracle comparisons.
# Tagged so the inner loop can run `-m "not slow_oracle"` (~5 min) while
# CI / round gates run the full sweep. Membership is a runtime-budget
# judgment, not a contract — re-measure with --durations when the set drifts.
SLOW_ORACLES = {name for name, e in entries().items() if e.slow_oracle}


def _params():
    return [
        pytest.param(n, marks=pytest.mark.slow_oracle)
        if n in SLOW_ORACLES
        else n
        for n in sorted(QUERIES)
    ]


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb_connection(PARITY_SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", _params())
def test_query_matches_oracle(name, spark, oracle_con):
    df = QUERIES[name](spark, PARITY_SF)
    if name not in ORACLES:
        # rows-only check (non-SQL-expressible operator)
        assert df.count() >= 0
        return
    res = compare(name, df, oracle_con, ORACLES[name])
    assert res.ok, f"{name}: {res.detail} (spark={res.spark_rows} oracle={res.oracle_rows})"
    assert res.spark_rows > 0, f"{name}: empty result weakens the check"

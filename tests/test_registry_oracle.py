"""Differential test: every registry query with an oracle must match
DuckDB exactly (row count, columns, order-insensitive values) — the
same gate the driver applies at sf0.01; we run sf0.001 for speed and
mark the sf0.01 run slow.
"""

from __future__ import annotations

import pytest

from ecommerce_lakehouse_platform_spark import registry

from .conftest import SF_CORRECTNESS, SF_SMOKE
from .oracle_harness import compare, run_oracle

ORACLE_QUERIES = sorted(registry.ORACLES)


def test_no_unresolved_deferred_tokens():
    """registry.resolve_deferred_oracles leaves a __ORACLE_<NAME>__
    token in place when its dependency is missing at resolution time;
    after a full import every token must be spliced — an unresolved
    one would otherwise surface as an opaque DuckDB syntax error deep
    inside a differential run (e.g. after renaming a nested oracle
    without updating its dependents' tokens)."""
    unresolved = {
        name: sql for name, sql in registry.ORACLES.items()
        if "__ORACLE_" in sql
    }
    assert not unresolved, sorted(unresolved)


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_CORRECTNESS])
def test_lineitem_partkey_non_null(sf_dir):
    """ext_market_basket builds baskets with collect_set, which drops
    NULL part keys that its oracle's DISTINCT (ok, pk) relation keeps;
    the two agree only while the differential's fixtures have no NULL
    ``l_partkey`` (see the note at the query's call site)."""
    import pyarrow.parquet as pq

    col = pq.read_table(f"{sf_dir}/lineitem.parquet", columns=["l_partkey"])
    assert col.column(0).null_count == 0


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity_smoke(spark, name):
    sdf = registry.QUERIES[name](spark, SF_SMOKE)
    odf = run_oracle(registry.ORACLES[name], SF_SMOKE)
    problems = compare(sdf, odf, name)
    assert not problems, "\n".join(problems)


@pytest.mark.slow
@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity_sf001(spark, name):
    sdf = registry.QUERIES[name](spark, SF_CORRECTNESS)
    odf = run_oracle(registry.ORACLES[name], SF_CORRECTNESS)
    problems = compare(sdf, odf, name)
    assert not problems, "\n".join(problems)

"""Differential test: every registry query with an oracle must match
DuckDB exactly (row count, columns, order-insensitive values) — the
same gate the driver applies at sf0.01; we run sf0.001 for speed and
mark the sf0.01 run slow.
"""

from __future__ import annotations

import json
import os
import pkgutil
import subprocess
import sys

import pytest

from ecommerce_lakehouse_platform_spark import registry

from .conftest import SF_CORRECTNESS, SF_SMOKE
from .oracle_harness import compare, run_oracle

ORACLE_QUERIES = sorted(registry.ORACLES)


def test_nested_oracles_embed_their_dependencies():
    """Oracles that nest another query's oracle as a CTE are composed
    from ORACLES at registration: each dependency's SQL must appear
    verbatim, so an edit to a nested oracle reaches its dependents."""
    ann = registry.ORACLES["ext_ann_recall"]
    assert registry.ORACLES["ext_similarity_topk"] in ann
    assert registry.ORACLES["ext_similarity_ivf"] in ann
    running = registry.ORACLES["ext_running_gold_totals"]
    assert registry.ORACLES["gold_daily_metrics"] in running


_IMPORT_FIRST = """
import hashlib, importlib, json, sys
importlib.import_module(sys.argv[1])
from ecommerce_lakehouse_platform_spark import registry
print(json.dumps({
    "keys": list(registry.QUERIES),
    "oracles": hashlib.sha256(
        json.dumps(list(registry.ORACLES.items())).encode()
    ).hexdigest(),
    "window_leads": list(registry.QUERIES)[:50] == list(registry._DRIVER_WINDOW),
}))
"""


def test_registry_import_order_does_not_matter():
    """Importing any registry module first, in a fresh interpreter,
    yields the same QUERIES order and ORACLES, with the driver window
    as the 50-key prefix."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen = {}
    for mod in pkgutil.iter_modules(registry.__path__, registry.__name__ + "."):
        out = subprocess.run(
            [sys.executable, "-c", _IMPORT_FIRST, mod.name],
            cwd=root, capture_output=True, text=True, check=True,
        )
        seen[mod.name] = json.loads(out.stdout.splitlines()[-1])
    assert len(seen) >= 8, sorted(seen)
    first = next(iter(seen.values()))
    assert first["window_leads"]
    assert first["keys"] == list(registry.QUERIES)
    for name, got in seen.items():
        assert got == first, name


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

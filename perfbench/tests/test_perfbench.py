"""Tests of the benchmark itself (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq
import pytest

from perfbench import inputs, oracles, run, tracing, workloads

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

JOINS = {
    "lineitem-orders": "SELECT COUNT(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey",
    "lineitem-part": "SELECT COUNT(*) FROM lineitem JOIN part ON l_partkey = p_partkey",
    "lineitem-supplier": "SELECT COUNT(*) FROM lineitem JOIN supplier ON l_suppkey = s_suppkey",
    "orders-customer": "SELECT COUNT(*) FROM orders JOIN customer ON o_custkey = c_custkey",
    "events-customer": "SELECT COUNT(*) FROM events JOIN customer ON user_id = c_custkey",
}


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    assert inputs.generate(11, a) == inputs.generate(11, b)
    inputs.generate(12, c)
    differs = False
    for t in inputs.TABLES:
        ta = pq.read_table(f"{a}/{t}.parquet")
        assert ta.equals(pq.read_table(f"{b}/{t}.parquet")), t
        differs |= not ta.equals(pq.read_table(f"{c}/{t}.parquet"))
    assert differs


def test_generator_is_join_consistent(tmp_path):
    out = str(tmp_path / "in")
    inputs.generate(5, out)
    gen, base = oracles.connect(out), oracles.connect(inputs.BASE_DIR)
    for name, sql in JOINS.items():
        assert gen.execute(sql).fetchone() == base.execute(sql).fetchone(), name


def test_invariants_hold_and_catch_drift(tmp_path):
    out = str(tmp_path / "in")
    inputs.generate(7, out)
    props = inputs.properties(oracles.connect(out), out)
    inputs.check_invariants(props)
    assert props["order_dates"] == inputs.ORDER_DATES
    for drifted in (
        {**props, "rows": {**props["rows"], "orders": props["rows"]["orders"] - 1}},
        {**props, "order_dates": props["order_dates"] + 1},
        {**props, "neardup_doc_share": 0.0},
    ):
        with pytest.raises(inputs.InvariantError):
            inputs.check_invariants(drifted)


def test_every_printed_metric_is_declared():
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.E2E_METRICS)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == [
        (n, tracing.unit_of(n)) for n in tracing.per_layer_names()
    ]
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)


def test_dashboard_window_substitution_is_one_pass():
    # a seeded start equal to the reference query's default end date
    sql = oracles.dashboard_sql(
        "site_funnel", {"start_date": "2024-01-31", "end_date": "2024-02-14"}
    )
    assert sql.count("BETWEEN DATE '2024-01-31' AND DATE '2024-02-14'") == 3


class _Frame:
    """The two DataFrame members the checks use."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def test_altered_output_counts_as_failed(tmp_path, monkeypatch):
    from ecommerce_lakehouse_platform_spark import registry

    in_dir = str(tmp_path / "in")
    inputs.generate(3, in_dir)
    con = oracles.connect(in_dir)
    wl = workloads.Curation(None, 3, str(tmp_path), in_dir)
    wl.references(con)
    answers = {j: oracles.sql_result(con, oracles.registry_sql(j)) for j in workloads.CURATION_JOBS}
    for job in workloads.CURATION_JOBS:
        monkeypatch.setitem(registry.QUERIES, job, lambda spark, d, job=job: _Frame(*answers[job]))
    ops, failures, _ = run.measure(wl, 0)
    assert [op["ok"] for op in ops] == [True] and not failures

    cols, rows = answers["ext_pagerank_copurchase"]
    altered = [rows[0][:-1] + (rows[0][-1] + 1,)] + rows[1:]
    monkeypatch.setitem(registry.QUERIES, "ext_pagerank_copurchase", lambda *a: _Frame(cols, altered))
    ops, failures, _ = run.measure(wl, 0)
    assert sum(not op["ok"] for op in ops) / len(ops) == 1.0
    assert "ext_pagerank_copurchase" in failures[0]


class _SparkContext:
    def setJobGroup(self, *a):
        pass

    def setLocalProperty(self, *a):
        pass


class _Spark:
    sparkContext = _SparkContext()


def test_self_times_and_uncovered_add_up():
    tracer = tracing.Tracer(_Spark())
    t0 = time.perf_counter()
    with tracer.span("op.0"):
        with tracer.span("sources.writers.write_table"):
            time.sleep(0.01)
        with tracer.span("plans.dashboards.sales_overview"):
            with tracer.span("sources.writers.read_table"):
                time.sleep(0.005)
            time.sleep(0.005)
        time.sleep(0.005)
    time.sleep(0.005)
    run_s = time.perf_counter() - t0
    spans, selfs = tracer.spans, tracing.self_times(tracer.spans)
    for i, s in enumerate(spans):
        kids = sum(c["end"] - c["start"] for c in spans if c["parent"] == i)
        assert selfs[i] + kids == pytest.approx(s["end"] - s["start"], abs=1e-9)
    assert sum(selfs) + tracing.uncovered(spans, run_s) == pytest.approx(run_s, abs=1e-9)
    assert tracing.uncovered(spans, run_s) >= 0.005


@pytest.mark.parametrize("n", [11, 20, 57, 100])
def test_tail_keeps_ten_samples_beyond(n):
    xs = [float(i) for i in range(n)]
    value, pct = run.tail(xs)
    assert sum(x > value for x in xs) >= 10
    assert sum(x > value for x in xs) < 10 + max(1, n // 100 + 1)
    assert 0 <= pct < 100


def test_tail_needs_eleven_samples():
    assert run.tail([1.0] * 10) == (None, None)


def test_refuses_more_cores_than_the_host_has():
    args = ["--workload", "lakehouse", "--seed", "1", "--seconds", "1"]
    assert run.main(args + ["--cores", str(run.host_cores() + 1)]) == 2


def test_fails_without_the_program(tmp_path):
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lakehouse", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout

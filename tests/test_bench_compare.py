"""tools/bench_compare.py parsing + normalization logic (pure Python
— no Spark session). The comparisons this tool prints are what turn a
raw bench delta into a regression verdict, so its edge cases (driver
tail truncation, intra-run sentinel series) are pinned here."""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from bench_compare import load, per_query_sentinels  # noqa: E402


def _write(tmp_path, name: str, doc: dict) -> str:
    p = tmp_path / name
    p.write_text(json.dumps(doc))
    return str(p)


def test_load_detail_passthrough(tmp_path):
    doc = {"queries": {"a": 1.0}, "sentinel_sec": 0.5}
    assert load(_write(tmp_path, "d.json", doc))["queries"] == {"a": 1.0}


def test_tail_recovery_reads_query_pairs(tmp_path):
    tail = '_x": 0.1, "q_full": 2.5}, "stddev": {"q_full": 0.2}}'
    doc = {"tail": tail, "parsed": {"sentinel_sec": 0.4}}
    got = load(_write(tmp_path, "r.json", doc))
    # the cut-mid-name first pair has no opening quote and is skipped;
    # stddev pairs after the separator are not medians
    assert got["queries"] == {"q_full": 2.5}
    assert got["sentinel_sec"] == 0.4


def test_tail_without_queries_map_is_refused(tmp_path):
    # tail starts AFTER the queries map ended: only stddev/series
    # content survives — harvesting it as medians would compare noise
    tail = '0.2, "q_b": 0.3}, "sentinel_series": [{"pos": 8, "sec": 0.5}]}'
    doc = {"tail": tail, "parsed": {"sentinel_sec": 0.4}}
    with pytest.raises(SystemExit, match="no portion of the 'queries' map"):
        load(_write(tmp_path, "r.json", doc))


def test_series_keys_never_parse_as_queries(tmp_path):
    tail = (
        '"q_a": 1.5, "q_b": 0.3}, "stddev": {"q_a": 0.1}, '
        '"sentinel_series": [{"pos": 0, "sec": 9.9}]}'
    )
    got = load(_write(tmp_path, "r.json", {"tail": tail, "parsed": {}}))
    assert got["queries"] == {"q_a": 1.5, "q_b": 0.3}
    assert "pos" not in got["queries"] and "sec" not in got["queries"]


def test_per_query_sentinels_nearest_sample():
    doc = {
        "queries": {"q0": 1.0, "q1": 1.0, "q2": 1.0, "q3": 1.0},
        "sentinel_series": [
            {"pos": 0, "sec": 0.4},
            {"pos": 2, "sec": 0.8},
        ],
    }
    got = per_query_sentinels(doc)
    # q0 -> pos 0; q1 equidistant (|0-1| == |2-1|) -> lower pos wins;
    # q2, q3 -> pos 2
    assert got == {"q0": 0.4, "q1": 0.4, "q2": 0.8, "q3": 0.8}


def test_per_query_sentinels_absent_series():
    assert per_query_sentinels({"queries": {"a": 1.0}}) is None


def test_flag_for_requeue_synthetic_contamination():
    """bench.py's auto-requeue decision: a query 2x slower RAW under a
    2x-higher ambient sentinel normalizes to ~1.0 and must NOT flag
    (uniform weather); a query 2x slower under a FLAT sentinel is a
    genuine outlier and must flag — the exact r9 false-positive /
    true-positive split, decided from the artifacts alone."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(ROOT, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    prior = {
        "sf": 0.1,
        "sentinel_sec": 0.4,
        "sentinel_series": [{"pos": 0, "sec": 0.4}],
        "queries": {"q_noise": 1.0, "q_slow": 1.0, "q_ok": 2.0},
    }
    # current run: ambient doubled at the start (sentinel 0.8 covers
    # q_noise), back to 0.4 for the rest
    series = [{"pos": 0, "sec": 0.8}, {"pos": 1, "sec": 0.4}]
    timings = {"q_noise": 2.0, "q_slow": 2.0, "q_ok": 2.1}
    flagged = bench.flag_for_requeue(prior, timings, series, sf=0.1)
    assert [n for n, _ in flagged] == ["q_slow"]
    assert flagged[0][1] == pytest.approx(2.0, abs=0.01)

    # no comparable prior: different sf, or missing → nothing flags
    assert bench.flag_for_requeue(None, timings, series, sf=0.1) == []
    assert (
        bench.flag_for_requeue(
            {**prior, "sf": 1.0}, timings, series, sf=0.1
        )
        == []
    )

    # no series on either side: raw-ratio fallback still catches the
    # outlier (and the tool cannot mistake weather for regression —
    # it just retries more, which is the safe direction)
    flagged_raw = bench.flag_for_requeue(
        {"sf": 0.1, "queries": {"q": 1.0}}, {"q": 1.8}, [], sf=0.1
    )
    assert flagged_raw == [("q", 1.8)]


def test_flag_for_requeue_orders_worst_first():
    """The retry budget is capped at 5, so flagged queries must come
    back WORST first: run-order filling let mild early flags exhaust
    the cap while a 4x contaminated reading later in the run went
    unretried (the r10 driver bench recorded a 17s reading for a
    4.1s query this way)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(ROOT, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    prior = {
        "sf": 0.1,
        "sentinel_sec": 0.4,
        "sentinel_series": [{"pos": 0, "sec": 0.4}],
        "queries": {f"q{i}": 1.0 for i in range(7)},
    }
    series = [{"pos": 0, "sec": 0.4}]
    # run order q0..q6: mild 1.6x flags first, the 4x outlier LAST
    timings = {f"q{i}": 1.6 for i in range(6)}
    timings["q6"] = 4.0
    flagged = bench.flag_for_requeue(prior, timings, series, sf=0.1)
    assert flagged[0] == ("q6", 4.0)
    # ties broken by name for determinism
    assert [n for n, _ in flagged[1:]] == [f"q{i}" for i in range(6)]


def _load_bench():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(ROOT, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


def test_requeue_outliers_noise_gated():
    """r12: a retry reading taken while the sentinel is degraded is
    NOT evidence — bench must re-settle and try again (bounded), and
    every recorded requeue entry carries a sentinel_ok bit. The r11
    driver run recorded three false regressions exactly this way:
    the requeue retries ran during a 2.6x sentinel storm and the
    contaminated readings were recorded as if isolated."""
    bench = _load_bench()
    baseline = 0.4

    # attempt 1: storm (1.2 > 1.5*0.4); attempt 2: healthy both sides
    sentinels = iter([1.2, 0.41, 0.42])
    timings = {"q": 5.0}
    requeued = bench.requeue_outliers(
        [("q", 3.0)],
        timings,
        baseline,
        run_query=lambda name: 1.5,
        sentinel_once=lambda: next(sentinels),
        settle=lambda: None,
    )
    e = requeued["q"]
    assert e["sentinel_ok"] is True and e["attempts"] == 2
    assert e["retry"] == 1.5 and timings["q"] == 1.5  # better reading taken

    # every attempt degraded: the entry says so and the original
    # reading STANDS (no contaminated min())
    sentinels = iter([2.0, 2.0, 2.0])
    timings = {"q": 5.0}
    requeued = bench.requeue_outliers(
        [("q", 3.0)],
        timings,
        baseline,
        run_query=lambda name: 0.1,  # would flatter if ever trusted
        sentinel_once=lambda: next(sentinels),
        settle=lambda: None,
    )
    e = requeued["q"]
    assert e["sentinel_ok"] is False and e["attempts"] == 3
    assert "retry" not in e and timings["q"] == 5.0

    # storm starting MID-retry (pre healthy, post degraded): the
    # reading is recorded but untrusted; a later healthy attempt wins
    sentinels = iter([0.4, 2.0, 0.4, 0.41])
    timings = {"q": 5.0}
    retries = iter([9.0, 2.0])  # contaminated slow read, then clean
    requeued = bench.requeue_outliers(
        [("q", 3.0)],
        timings,
        baseline,
        run_query=lambda name: next(retries),
        sentinel_once=lambda: next(sentinels),
        settle=lambda: None,
    )
    e = requeued["q"]
    assert e["sentinel_ok"] is True and e["attempts"] == 2
    assert e["retry"] == 2.0 and timings["q"] == 2.0


def test_cpus_spellings_select_the_same_prior(tmp_path, monkeypatch):
    """SPARK_GRAFT_CPUS is parsed once as an int: "08", " 8" and "8"
    name the same detail file and all accept a prior stamped cpus=8
    (comparing the raw string against the stamped int used to reject
    it, silently disabling requeue)."""
    bench = _load_bench()
    prior = {"cpus": 8, "sf": 0.1, "queries": {"q": 1.0}}
    (tmp_path / "BENCH_DETAIL_c8.json").write_text(json.dumps(prior))
    for raw in ("08", "8", " 8"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
        cpus = bench.graft_cpus()
        full, extra_copy = bench.detail_files(0.1, cpus)
        assert (full, extra_copy) == ("BENCH_DETAIL_c8.json", None)
        assert bench.load_prior(str(tmp_path / full), cpus) == prior
    # a different core count never serves as the prior
    assert bench.load_prior(str(tmp_path / "BENCH_DETAIL_c8.json"), 32) is None

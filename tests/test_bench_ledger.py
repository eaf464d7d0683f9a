"""bench.py's ledger maths, min-merge and round inference, without Spark.

`bench._ledger` is checked against hand-computed figures; `bench.main`
runs against a stub session, a stub registry and a scripted clock in a
tmp dir, so the FULL and EXCL records it writes can be read back.
"""

from __future__ import annotations

import json
import sys
import types
from unittest import mock

import pytest

import bench

PREV = {
    "sf": 0.1,
    "queries": {"a": 1.0, "b": 1.0, "c": 1.0},
    "value": 3.0,
    "calibration_shuffle_agg_1m_sec": [0.4, 0.4],
    "sweep_queries": {"s": 0.5, "t": 1.9},
}


def test_ledger_three_slots_by_hand():
    rec = {
        "sf": 0.1,
        "queries": {"a": 2.6, "b": 1.5, "c": 1.0},
        "value": 5.1,
        "sweep_queries": {"s": 1.0, "t": 2.0},
    }
    # calib 0.5 over the previous mean 0.4: the machine is 1.25x slower
    got = bench._ledger(rec, 0.5, "BENCH_r04.json", PREV)
    assert got["queries_normalized"] == {"a": 5.2, "b": 3.0, "c": 2.0}
    assert got["value_normalized_probes"] == 10.2
    assert got["prev"] == "BENCH_r04.json"
    assert got["prev_value"] == 3.0
    assert got["deltas"] == {"a": 1.6, "b": 0.5, "c": 0.0}
    assert got["calibration_prev_sec"] == [0.4, 0.4]
    assert got["machine_ratio"] == 1.25
    assert got["deltas_raw_ratio"] == {"a": 2.6, "b": 1.5, "c": 1.0}
    assert got["deltas_adjusted_ratio"] == {"a": 2.08, "b": 1.2, "c": 0.8}
    # b is above 1.3 on the raw axis only: no flag
    assert got["regressions_raw_and_adjusted_gt_1_3"] == {"a": 2.6}
    assert got["normalized_regressions_gt_1_15"] == {"a": 2.08, "b": 1.2}
    assert got["normalized_vs_prev"] == {
        "prev": "BENCH_r04.json",
        "prev_value_normalized_probes": 7.5,
        "value_normalized_probes": 10.2,
        "ratio": 1.36,
        "verdict": "normalized headline 10.2 vs 7.5 calibration-probe units"
        " (1.36x): 2 slot(s) >1.15x normalized — each needs a named cause"
        " in notes",
    }
    # sweep raw: s 2.0, t 1.053; only s clears 1.3 on both axes
    assert got["sweep_regressions_raw_and_adjusted_gt_1_3"] == {"s": 1.6}
    assert "queries_normalized" not in rec  # pure: the caller merges


def test_ledger_without_a_comparable_previous_round_only_normalizes():
    rec = {"sf": 0.1, "queries": {"a": 1.0}, "value": 1.0}
    only_norm = {"queries_normalized": {"a": 4.0}, "value_normalized_probes": 4.0}
    assert bench._ledger(rec, 0.25, None, None) == only_norm
    assert bench._ledger(rec, 0.25, "x", dict(PREV, sf=0.01)) == only_norm
    uncalibrated = {k: v for k, v in PREV.items() if k != "calibration_shuffle_agg_1m_sec"}
    got = bench._ledger(rec, 0.25, "x", uncalibrated)
    assert got == dict(only_norm, prev="x", prev_value=3.0, deltas={"a": 0.0})


def test_norm_verdict_texts():
    assert bench._norm_verdict(10.0, 10.0, 1.0, {}).endswith(
        "parity — any raw delta is machine speed"
    )
    assert bench._norm_verdict(11.0, 10.0, 1.1, {}).endswith(
        "total drifted but no single slot >1.15x normalized"
    )
    assert "1 slot(s) >1.15x normalized" in bench._norm_verdict(
        10.0, 10.0, 1.0, {"a": 1.2}
    )


def test_min_merge_keeps_old_only_slots_and_each_minimum_with_its_spread():
    merged, spread = bench._min_merge(
        {"a": 1.0, "b": 2.0, "new": 0.7},
        {"a": 0.1, "b": 0.2, "new": 0.05},
        {"a": 1.5, "b": 1.0, "old": 3.0},
        {"a": 0.3, "b": 0.4},
    )
    assert merged == {"a": 1.0, "b": 1.0, "new": 0.7, "old": 3.0}
    assert spread == {"a": 0.1, "b": 0.4, "new": 0.05, "old": 0.0}


@pytest.fixture
def stub_bench(tmp_path, monkeypatch):
    """bench.main() writing into tmp_path: three headline slots, a
    registry of stubs, and a clock that advances 0.5 s per call, so
    every timed run and every calibration probe reads 0.5 s."""
    registry = {
        n: (lambda spark, sf_dir: mock.MagicMock())
        for n in ("a", "b", "c", "q1_pricing_summary", "knn_exact", "token_stats")
    }
    operators = types.ModuleType("spec_search_spark.operators")
    operators.all_queries = lambda: (registry, None)
    monkeypatch.setitem(sys.modules, "spec_search_spark.operators", operators)
    clock = iter(0.5 * i for i in range(10_000))
    monkeypatch.setattr(bench, "time", types.SimpleNamespace(time=lambda: next(clock)))
    monkeypatch.setattr(bench, "get_spark", lambda name: mock.MagicMock())
    monkeypatch.setattr(bench, "HEADLINE", ["a", "b", "c"])
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path / "sf0.1"))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "2")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_SWEEP", "0")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_EXCLUSIVE", "1")
    return tmp_path


@pytest.mark.parametrize("with_prev", [False, True])
def test_excl_ledger_comes_from_the_merged_minima(stub_bench, with_prev, capsys):
    this_round = 1
    if with_prev:
        (stub_bench / "BENCH_r01.json").write_text(json.dumps({"parsed": PREV}))
        this_round = 2
    old = {
        "queries": {"a": 0.4, "b": 0.9, "d": 0.3},
        "calibration_shuffle_agg_1m_sec": [0.25, 0.25],
    }
    excl_path = stub_bench / f"BENCH_EXCL_r{this_round:02d}.json"
    excl_path.write_text(json.dumps(old))

    bench.main()

    line = json.loads(capsys.readouterr().out)
    assert line["full_record"] == f"BENCH_FULL_r{this_round:02d}.json"
    full = json.loads((stub_bench / line["full_record"]).read_text())
    assert full["queries"] == {"a": 0.5, "b": 0.5, "c": 0.5}
    assert full["queries_normalized"] == {"a": 1.0, "b": 1.0, "c": 1.0}
    excl = json.loads(excl_path.read_text())
    assert excl["queries"] == {"a": 0.4, "b": 0.5, "c": 0.5, "d": 0.3}
    assert excl["calibration_shuffle_agg_1m_sec"] == [0.25, 0.25]
    # the merged minima over the merged probe, 0.25 s
    assert excl["queries_normalized"] == {"a": 1.6, "b": 2.0, "c": 2.0, "d": 1.2}
    assert excl["value_normalized_probes"] == 6.8
    if with_prev:
        assert excl["deltas"] == {"a": -0.6, "b": -0.5, "c": -0.5}
        assert excl["machine_ratio"] == 0.625
        assert excl["deltas_adjusted_ratio"] == {"a": 0.64, "b": 0.8, "c": 0.8}
        assert excl["normalized_vs_prev"]["value_normalized_probes"] == 6.8


def _write(path, record):
    path.write_text(json.dumps(record))


def test_previous_round_reads_the_full_record_behind_a_truncated_line(
    tmp_path, monkeypatch
):
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    every = {f"q{i}": float(i) for i in range(12)}
    top10 = dict(sorted(every.items(), key=lambda kv: -kv[1])[:10])
    _write(
        tmp_path / "BENCH_r12.json",
        {
            "n": 12,
            "parsed": {
                "queries": top10,
                "queries_truncated_to_top10_slowest": True,
                "full_record": "BENCH_FULL_r12.json",
            },
        },
    )
    _write(tmp_path / "BENCH_FULL_r12.json", {"queries": every, "sf": 0.1})
    name, rec, this_round = bench._previous_round()
    assert (name, this_round) == ("BENCH_FULL_r12.json", 13)
    assert rec["queries"] == every

    # an untruncated driver line is still read as it is
    _write(tmp_path / "BENCH_r12.json", {"parsed": {"queries": top10}})
    name, rec, _ = bench._previous_round()
    assert (name, rec["queries"]) == ("BENCH_r12.json", top10)

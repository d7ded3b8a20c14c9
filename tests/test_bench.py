"""bench.py's run-conditions guard and its history, as pure functions
(no Spark session), and its per-query measurement on a stub query."""

from __future__ import annotations

import json
import time

import pytest

import bench


def _never():
    raise AssertionError("re-probed without a floor trip")


class _Probe:
    """A floor re-probe that returns ``value`` and counts its calls."""

    def __init__(self, value: float):
        self.value = value
        self.calls = 0

    def __call__(self) -> float:
        self.calls += 1
        return self.value


def _signals(guard: dict) -> tuple[bool, bool, bool]:
    s = guard["noisy_signals"]
    return s["floor"], s["oracle"], s["wall"]


def test_guard_inert_without_history():
    g = bench.noise_guard([], 9.0, _never, 1e6, {"a": 100.0})
    assert g == {
        "job_floor_s": 9.0,
        "floor_median_trailing": None,
        "oracle_median_trailing": None,
        "wall_drift_median": None,
        "noisy_run": False,
        "noisy_signals": {"floor": False, "oracle": False, "wall": False},
    }


def test_guard_floor_trips_after_one_reprobe():
    history = [{"job_floor_s": 0.1}, {"job_floor_s": 0.2}, {"job_floor_s": 0.1}]
    probe = _Probe(0.2)
    g = bench.noise_guard(history, 0.3, probe, 1.0, {"a": 1.0})
    assert probe.calls == 1
    assert g["floor_median_trailing"] == 0.1
    assert g["job_floor_s"] == 0.2  # the lower of the two probes
    assert g["noisy_run"] and _signals(g) == (True, False, False)


def test_guard_floor_reprobe_clears_a_burst():
    probe = _Probe(0.12)
    g = bench.noise_guard([{"job_floor_s": 0.1}], 0.3, probe, 1.0, {})
    assert probe.calls == 1
    assert g["job_floor_s"] == 0.12
    assert not g["noisy_run"]


def test_guard_floor_within_bound_is_not_reprobed():
    g = bench.noise_guard([{"job_floor_s": 0.1}], 0.15, _never, 1.0, {})
    assert g["job_floor_s"] == 0.15 and not g["noisy_run"]


def test_guard_oracle_trips_alone_and_skips_noisy_history():
    history = [
        {"oracle_total": 1.0},
        {"oracle_total": 50.0, "noisy_run": True},
        {"oracle_total": 1.2},
    ]
    g = bench.noise_guard(history, 0.1, _never, 1.7, {"a": 1.0})
    assert g["oracle_median_trailing"] == pytest.approx(1.1)
    assert g["noisy_run"] and _signals(g) == (False, True, False)
    g = bench.noise_guard(history, 0.1, _never, 1.6, {"a": 1.0})
    assert not g["noisy_run"]


def test_guard_wall_drift_trips_alone_against_latest_walls():
    history = [
        {"queries": {"a": 4.0, "b": 4.0}},
        {"queries": {"a": 1.0, "b": 1.0, "c": 0.0}},
        {"queries": {}},
    ]
    timings = {"a": 1.6, "b": 1.8, "c": 5.0, "new": 9.0}
    g = bench.noise_guard(history, 0.1, _never, 1.0, timings)
    assert g["wall_drift_median"] == 1.7
    assert g["noisy_run"] and _signals(g) == (False, False, True)
    g = bench.noise_guard(history, 0.1, _never, 1.0, {"a": 1.4, "b": 1.5})
    assert not g["noisy_run"]


def test_history_matches_config_and_excludes_current_round(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "REPO", tmp_path)
    docs = {
        "BENCH_x10_r01.json": {"mult": 10, "cpus": 4, "job_floor_s": 0.1},
        "BENCH_x10_r02.json": {"mult": 10, "cpus": 32, "job_floor_s": 9.0},
        "BENCH_x10_r03.json": {"mult": 100, "cpus": 4, "job_floor_s": 9.0},
        "BENCH_x10_r04.json": {"mult": 10, "job_floor_s": 9.0},
        "BENCH_x10_r05.json": {"mult": 10, "cpus": 4, "job_floor_s": 0.2},
        "BENCH_x10_r06.json": {"mult": 10, "cpus": 4, "job_floor_s": 9.0},
        # a wrapped sf artifact: sf and cpus sit beside the `parsed` payload
        "BENCH_r01.json": {"sf": 0.1, "cpus": 4, "parsed": {"job_floor_s": 0.3}},
        "BENCH_r02.json": {"sf": 0.01, "cpus": 4, "parsed": {"job_floor_s": 9.0}},
    }
    for name, doc in docs.items():
        (tmp_path / name).write_text(json.dumps(doc))
    (tmp_path / "BENCH_x10_r07.json").write_text("not json")

    history = bench.trailing_artifacts(
        "BENCH_x10_r*.json", exclude="BENCH_x10_r06.json", mult=10, cpus=4
    )
    assert [d["job_floor_s"] for d in history] == [0.1, 0.2]
    # the excluded round's own 9.0 s floor does not raise the median
    g = bench.noise_guard(history, 0.2, _never, 1.0, {})
    assert g["floor_median_trailing"] == pytest.approx(0.15)
    assert not g["noisy_run"]

    sf_history = bench.trailing_artifacts("BENCH_r*.json", sf=0.1, cpus=4)
    assert [d["job_floor_s"] for d in sf_history] == [0.3]


def test_measure_query_times_execution_of_a_fresh_plan(spark):
    """Every run builds a fresh plan before its timer and outside its
    job group: a construction that sleeps and runs one Spark job shows
    in the warm run's construct layer, not in the timed seconds, and
    its job is in no run's job count."""
    built = []

    def stub(spark, sf_dir):
        time.sleep(0.5)
        spark.range(0, 10, 1, 1).count()  # a construction-time job
        built.append(sf_dir)
        return spark.range(0, 100, 1, 2)  # collect: one job

    rec, _ = bench.measure_query(spark, stub, "stub_dir", "stub_query")
    assert built == ["stub_dir"] * 4  # warm run + three timed runs
    assert rec["layers"]["construct_s"] >= 0.5
    assert rec["seconds"] < 0.5
    assert rec["jobs"] == 1
    assert rec["layers"]["jobs"] == 1
    assert rec["rows_out"] == 100 and not rec["failures"]

"""tools/ab.py's run order and verdicts, without Spark."""

import importlib.util
import json
import os
import time

import pytest

_spec = importlib.util.spec_from_file_location(
    "ab", os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "ab.py")
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def test_run_order_alternates_first_side_with_one_seed_per_pair():
    order = ab.run_order()
    assert len(order) == 2 * ab.PAIRS == 20
    pairs = [order[i : i + 2] for i in range(0, len(order), 2)]
    for i, ((seed_a, first), (seed_b, second)) in enumerate(pairs, start=1):
        assert seed_a == seed_b == i
        assert {first, second} == {"base", "change"}
        assert first == ("base" if i % 2 else "change")
    assert sum(p[0][1] == "base" for p in pairs) == ab.PAIRS // 2


BASE = [1.00, 1.02, 0.98, 1.01, 0.99, 1.00, 1.03, 0.97, 1.00, 1.01]


@pytest.mark.parametrize(
    "change, better, expected",
    [
        ([v * 1.10 for v in BASE], "lower", ab.WITHIN),
        ([v * 1.40 for v in BASE], "lower", ab.WORSE),
        ([v * 0.60 for v in BASE], "lower", ab.BETTER),
        # a lower median that overlaps the base runs is only within bound
        ([0.90] * 9 + [1.05], "lower", ab.WITHIN),
        ([v * 0.60 for v in BASE], "higher", ab.WORSE),
        ([v * 1.40 for v in BASE], "higher", ab.BETTER),
        ([0.5, 1.5, 0.5, 1.5, 0.5, 1.5, 0.5, 1.5, 1.0, 1.0], "lower", ab.UNRESOLVED),
    ],
)
def test_verdict(change, better, expected):
    assert ab.verdict(BASE, change, 0.25, better) == expected


def test_unresolved_when_the_base_side_spreads_past_the_bound():
    noisy = [0.5, 1.5, 0.5, 1.5, 0.5, 1.5, 0.5, 1.5, 1.0, 1.0]
    assert ab.verdict(noisy, [1.0] * 10, 0.25) == ab.UNRESOLVED


def test_wins_skip_ties_and_missing_runs():
    assert ab.wins([1.0, 1.0, 1.0, None], [0.9, 1.0, 1.1, 0.5], "lower") == 1
    assert ab.wins([1.0, 1.0], [1.1, 0.9], "higher") == 1


def test_report_counts_failures_and_missing_runs():
    def run(v, failed=0):
        return {"correct": not failed, "attempted": 10, "failed": failed,
                "metrics": {"workload_s": {"value": v, "unit": "s"}}}

    bench = {"end_to_end": [{"name": "workload_s", "better": "lower", "bound": 0.25}],
             "per_layer": []}
    text = ab.report({"base": [run(1.0), run(1.0)], "change": [run(0.9, failed=1), None]}, bench)
    assert "workload_s" in text and "1/1" in text
    assert "base: 0 failed of 20 executions; 0 of 2 runs gave no result" in text
    assert "change: 1 failed of 10 executions; 1 of 2 runs gave no result" in text


def test_last_json_line():
    assert ab.last_json_line('x = 1\n{"failed": 0}\n') == {"failed": 0}
    assert ab.last_json_line("no json here") is None
    assert ab.last_json_line("") is None


def test_report_shows_each_sides_run_conditions():
    def run(cal, par):
        return {"correct": True, "attempted": 10, "failed": 0,
                "metrics": {"workload_s": {"value": 1.0, "unit": "s"}},
                "conditions": {"calibration_sha256_per_s": cal, "default_parallelism": par}}

    bench = {"end_to_end": [{"name": "workload_s", "better": "lower", "bound": 0.25}],
             "per_layer": []}
    text = ab.report({"base": [run(1e6, 4), run(2e6, 4), run(3e6, 8)],
                      "change": [run(5e5, 4), None, {**run(1.0, 4), "conditions": {}}]}, bench)
    assert "base: calibration median 2e+06 sha256/s; default_parallelism 4, 8 (3 of 3 records read)" in text
    assert "change: calibration median 5e+05 sha256/s; default_parallelism 4 (1 of 3 records read)" in text


def test_run_conditions_reads_the_runs_own_record(tmp_path):
    results = tmp_path / ".perfbench" / "results"
    results.mkdir(parents=True)
    assert ab.run_conditions(str(tmp_path), "w", 1, 0, 0.0) == {}
    rec = {"env": {"calibration_sha256_per_s": 1.5e6}, "default_parallelism": 4}
    (results / "w-seed1-trace0-100.json").write_text(json.dumps(rec))
    (results / "w-seed2-trace0-100.json").write_text(json.dumps({**rec, "default_parallelism": 8}))
    assert ab.run_conditions(str(tmp_path), "w", 1, 0, 0.0) == {
        "calibration_sha256_per_s": 1.5e6, "default_parallelism": 4}
    # a record older than the run is a previous run's
    assert ab.run_conditions(str(tmp_path), "w", 1, 0, time.time() + 60) == {}

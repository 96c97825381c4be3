"""Checks of the benchmark's own arithmetic.  Run with
``python3 -m pytest perfbench -q`` from the repository root."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import failed_frac, tail, uncovered, union_length  # noqa: E402
from tracing import Job, Tracer, exec_metrics, jobs_within, udf_bucket  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402


def test_tail_picks_rank_with_ten_samples_beyond():
    samples = [float(i) for i in range(1, 41)]  # input order is irrelevant
    value, pct, n = tail(list(reversed(samples)))
    assert (value, pct, n) == (30.0, 75.0, 40)
    assert sum(s > value for s in samples) == 10


def test_tail_at_twenty_samples_is_the_median_rank():
    value, pct, n = tail([float(i) for i in range(20)])
    assert (value, pct, n) == (9.0, 50.0, 20)


def test_tail_with_too_few_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert tail([float(i) for i in range(19)]) == (18.0, 100.0, 19)
    with pytest.raises(ValueError):
        tail([])


def test_union_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10)], lo=2, hi=5) == 3
    assert union_length([(0, 1), (1, 2)]) == 2
    assert union_length([(3, 1)]) == 0
    assert union_length([]) == 0


def test_gap_is_wall_not_covered_by_any_job():
    # two overlapping jobs and one outside the query interval
    assert uncovered(0.0, 10.0, [(1, 4), (3, 6), (12, 13)]) == pytest.approx(5.0)
    assert uncovered(0.0, 10.0, [(-1, 11)]) == 0.0


def test_self_time_subtracts_children_once():
    assert uncovered(0, 10, [(1, 3), (2, 4), (8, 12)]) == pytest.approx(5.0)
    assert uncovered(0, 10, []) == 10


def test_failed_frac_counts_against_attempted():
    assert failed_frac(8, 0) == 0.0
    assert failed_frac(8, 2) == 0.25
    for attempted, failed in ((0, 0), (3, 4), (3, -1)):
        with pytest.raises(ValueError):
            failed_frac(attempted, failed)


def test_tracer_self_time_per_layer():
    t = Tracer()
    t.active, t.query = True, "q"
    with t.span("queries.build"):
        with t.span("io.read_table"):
            pass
        with t.span("dedup.cc"):
            with t.span("dedup.cc"):
                pass
    t.active = False
    with t.span("ignored"):
        pass
    spans = {s.name for s in t.spans}
    assert spans == {"queries.build", "io.read_table", "dedup.cc"}
    outer = t.spans[0]
    kids = [(t.spans[c].start, t.spans[c].end) for c in outer.children]
    selfs = t.self_times("q")
    assert selfs["queries.build"] == pytest.approx(uncovered(outer.start, outer.end, kids))
    cc = [s for s in t.spans if s.name == "dedup.cc"]
    assert selfs["dedup.cc"] == pytest.approx(cc[0].end - cc[0].start)


def test_exec_gap_and_job_attribution():
    jobs = [Job(0, 1.0, 2.0, stages=2, tasks=8), Job(1, 1.5, 3.0, stages=1, tasks=4)]
    m = exec_metrics(jobs, 0.0, 4.0)
    assert m["exec.jobs"] == 2 and m["exec.stages"] == 3 and m["exec.tasks"] == 12
    assert m["exec.gap_s"] == pytest.approx(2.0)
    assert jobs_within(jobs, [(0.9995, 1.2)]) == 1
    assert jobs_within(jobs, [(0.0, 4.0), (1.0, 2.0)]) == 2


def test_udf_buckets_by_module_file():
    assert udf_bucket("tiff.py") == "udf.kernels.tiff_s"
    assert udf_bucket("/x/scanner_spark/kernels/h264_deblock.py") == "udf.kernels.h264_s"
    assert udf_bucket("multimodal.py") == "udf.functions.multimodal_s"
    assert udf_bucket("mp4.py") == "udf.sources_s"
    assert udf_bucket("ipc.py") == "udf.other_s"
    assert udf_bucket("~") == "udf.other_s"


def test_pass_count_is_fixed_by_seconds():
    w = Workload(why="", queries=("a",), pass_s=4.0)
    assert [w.passes(s) for s in (1, 6, 12, 14)] == [2, 2, 3, 4]
    assert [w.passes(20) for w in WORKLOADS.values()] == [5, 2]

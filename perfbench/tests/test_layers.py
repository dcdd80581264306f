import os

import pytest

from perfbench.layers import Span, op_figures, read_event_log, running_deltas, self_times, union_length

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert union_length([]) == 0


def test_self_time_subtracts_covered_children():
    spans = [
        Span("op", "op", 0.0, 10.0),
        Span("op/load", "sources.load", 0.0, 1.0, "op"),
        Span("op/job1", "spark.job", 2.0, 5.0, "op"),
        Span("op/job1/stage1", "spark.stage", 2.0, 4.0, "op/job1"),
        Span("op/job2", "spark.job", 4.5, 6.0, "op"),  # overlaps job1
        Span("op/drain", "writers.drain", 8.0, 10.0, "op"),
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(10 - (1 + 4 + 2))
    assert st["op/job1"] == pytest.approx(1.0)
    assert st["op/job1/stage1"] == pytest.approx(2.0)


def test_running_deltas():
    # two tasks of one stage end together and report the same total
    tasks = [(1.0, 100.0), (2.0, 140.0), (3.0, 170.0), (3.0, 170.0), (2.5, 150.0)]
    assert running_deltas(tasks) == [100.0, 40.0, 20.0, 0.0, 10.0]


@pytest.fixture(scope="module")
def log():
    # a read and a 100k-row write_sav, each under its own job group
    return read_event_log(os.path.join(DATA, "eventlog_small.jsonl"))


def _op(log, group):
    jobs = log.jobs_of(group)
    return Span(group, "op", min(j.start for j in jobs) - 0.01, max(j.end for j in jobs) + 0.05)


def test_event_log_read(log):
    fig, children = op_figures(_op(log, "op-read"), log, is_export=False)
    assert fig["jobs"] >= 1
    assert fig["scan_stages"] == 1
    assert fig["scan_python_out_mb"] > 0
    assert fig["job_union_s"] + fig["driver_gap_s"] == pytest.approx(fig["wall_s"])
    assert fig["job_outside_s"] == 0
    assert {c.name for c in children} == {"spark.job", "spark.stage"}


def test_event_log_export(log):
    read, _ = op_figures(_op(log, "op-read"), log, is_export=False)
    fig, children = op_figures(_op(log, "op-sav"), log, is_export=True)
    # statistics job, range-bounds sample and shuffle map each scan the input
    assert fig["input_scan_stages"] == 3
    assert fig["sample_job_s"] > 0
    assert fig["pack_stage_run_s"] > 0
    assert fig["shuffle_write_mb"] > 0
    assert 0 < fig["drain_s"] < fig["wall_s"]
    assert "writers.drain" in {c.name for c in children}
    # each of the three scans returns what the plain read returned
    assert fig["scan_python_out_mb"] == pytest.approx(3 * read["scan_python_out_mb"], rel=0.01)
    assert read["scan_python_out_mb"] == pytest.approx(11.17784)

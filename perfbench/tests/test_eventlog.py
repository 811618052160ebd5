"""The event-log parser on a small log recorded from a real session:
a persisted DataFrame counted, an aggregation over it, then a job that
raises. Only the event types the parser reads were kept."""

import os

import pytest

from eventlog import Windows, attribute, read_log

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")
WINDOWS = [
    ("persist", 1792220111114.4453, 1792220118300.964),
    ("agg", 1792220118351.175, 1792220120455.001),
    ("fail", 1792220120455.001, 1792220120997.1406),
]


@pytest.fixture(scope="module")
def layers():
    return attribute(read_log(LOG), Windows(WINDOWS))


def test_jobs_stages_tasks_by_window(layers):
    assert (layers["persist"].jobs, layers["persist"].stages, layers["persist"].tasks) == (3, 3, 5)
    assert (layers["agg"].jobs, layers["agg"].stages, layers["agg"].tasks) == (2, 2, 3)
    assert (layers["fail"].jobs, layers["fail"].stages, layers["fail"].tasks) == (1, 1, 2)


def test_failures_are_counted(layers):
    assert layers["fail"].failed_jobs == 1
    assert layers["fail"].failed_tasks == 2
    assert layers["persist"].failed_jobs == layers["agg"].failed_jobs == 0


def test_pins_come_from_rdd_block_updates(layers):
    # one persisted RDD; broadcast pieces are not pins
    assert layers["persist"].pins == 1
    assert layers["persist"].pin_mb > 0
    assert layers["agg"].pins == 0


def test_executor_metrics(layers):
    p = layers["persist"]
    assert p.run_s > 0 and p.cpu_s > 0
    assert p.task_overhead_s >= 0
    assert layers["agg"].shuffle_read_mb == pytest.approx(layers["agg"].shuffle_write_mb)
    assert layers["agg"].shuffle_read_mb > 0


def test_events_outside_windows_are_dropped():
    only_agg = attribute(read_log(LOG), Windows([WINDOWS[1]]))
    assert set(only_agg) == {"agg"}


def test_windows_lookup_is_half_open():
    w = Windows([("a", 0.0, 10.0), ("b", 10.0, 20.0)])
    assert w.find(0.0) == "a"
    assert w.find(10.0) == "b"
    assert w.find(20.0) is None
    assert w.find(-1.0) is None


def test_reads_a_v2_log_directory(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    lines = open(LOG).read().splitlines(keepends=True)
    half = len(lines) // 2
    (d / "events_2_local-1").write_text("".join(lines[half:]))
    (d / "events_1_local-1").write_text("".join(lines[:half]))
    (d / "appstatus_local-1").write_text("")
    assert read_log(str(d)) == lines

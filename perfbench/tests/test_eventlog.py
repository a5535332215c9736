"""The event-log parser on a small committed fixture."""

import os

import pytest

import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "small_eventlog.json")
T0 = 1_700_000_000.0  # the fixture's epoch origin, in seconds
SPANS = [
    {"rep": 1, "name": "compiler.first_error", "start": T0 + 1.1, "end": T0 + 2.3},
    {"rep": 1, "name": "engine.build", "start": T0 + 1.0, "end": T0 + 2.5},
    {"rep": 1, "name": "sinks.write", "start": T0 + 2.9, "end": T0 + 4.6},
    {"rep": 2, "name": "sinks.write", "start": T0 + 5.9, "end": T0 + 6.2},
]
REP = {"index": 1, "start": T0 + 1.0, "end": T0 + 5.0}
NAMES = ["engine.build", "compiler.first_error", "sinks.write"]


def test_jobs_and_groups():
    jobs = eventlog.parse_jobs(FIXTURE)
    assert len(jobs) == 5
    assert jobs[0]["group"] is None
    assert jobs[1]["group"] == "pb/1/engine.build>compiler.first_error"
    assert (jobs[1]["stages"], jobs[1]["tasks"]) == (2, 3)


def test_rep_metrics():
    m = eventlog.rep_metrics(eventlog.parse_jobs(FIXTURE), SPANS, REP, 4, NAMES)
    assert m["spark.jobs"] == 3
    assert m["spark.stages"] == 4
    assert m["spark.tasks"] == 5
    assert m["spark.executor_run_s"] == pytest.approx(2.3)
    assert m["spark.executor_cpu_s"] == pytest.approx(1.7)
    assert m["spark.gc_s"] == pytest.approx(0.03)
    assert m["spark.shuffle_bytes"] == 4096
    assert m["spark.busy_frac"] == pytest.approx(2.3 / 16)
    # jobs cover [1.2, 2.2] and the union of [3.0, 4.0] and [3.5, 4.5]
    assert m["driver.idle_s"] == pytest.approx(4.0 - 2.5)
    assert m["python.total_s"] == pytest.approx(0.75)
    assert m["python.boot_s"] == pytest.approx(0.04)
    assert m["python.init_s"] == pytest.approx(0.06)
    assert (m["python.bytes_in"], m["python.bytes_out"]) == (1000, 250)
    # a job counts for its span and every parent span
    assert m["engine.build_jobs"] == 1
    assert m["compiler.first_error_jobs"] == 1
    assert m["sinks.write_jobs"] == 2
    assert m["compiler.first_error_s"] == pytest.approx(1.2)
    assert m["sinks.write_s"] == pytest.approx(1.7)


def test_layer_metrics_takes_medians(tmp_path):
    d = tmp_path / "log"
    d.mkdir()
    (d / "local-1").write_bytes(open(FIXTURE, "rb").read())
    rep2 = {"index": 2, "start": T0 + 5.5, "end": T0 + 6.5}
    jobs = eventlog.parse_jobs(str(d))  # a directory holding one log
    m = eventlog.layer_metrics(jobs, SPANS, [REP, rep2], 4, NAMES)
    assert m["spark.jobs"] == 2  # median of 3 and 1
    assert m["sinks.write_jobs"] == 1.5

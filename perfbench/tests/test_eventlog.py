"""The event-log parser, run on a small recorded Spark 4.1 log.

``data/events_1_local-small`` is a real (trimmed) event log of a
``range(10).count()``: job 0 runs stage 0 (4 tasks, writes a 236-byte
shuffle); job 1 lists stages 1 and 2, skips stage 1 (its shuffle is
reused) and runs stage 2 (1 task, reads the 236 bytes).
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
from eventlog import Span  # noqa: E402

LOG = os.path.join(HERE, "data", "events_1_local-small")
JOB0 = (1792203280709, 1792203281719)
JOB1 = (1792203281924, 1792203282147)


@pytest.fixture()
def log():
    with open(LOG) as f:
        return eventlog.parse_lines(f)


def test_jobs_and_stages(log):
    assert sorted(log.jobs) == [0, 1]
    assert (log.jobs[0].submit_ms, log.jobs[0].end_ms) == JOB0
    assert (log.jobs[1].submit_ms, log.jobs[1].end_ms) == JOB1
    # the skipped stage 1 was never submitted, so it is not recorded
    assert sorted(log.stages) == [0, 2]
    assert log.stages[0].tasks == 4
    assert log.stages[2].tasks == 1
    assert log.stages[0].shuffle_write_b == 236
    assert log.stages[2].shuffle_read_b == 236


def test_per_op_assigns_jobs_by_time_span(log):
    first = Span("a", JOB0[0] - 9, JOB0[1] + 81)      # 1100 ms, job 0 only
    second = Span("b", JOB1[0] - 24, JOB1[1] + 53)    # 300 ms, job 1 only
    both = Span("c", JOB0[0] - 9, JOB1[1] + 53)
    none = Span("d", JOB1[1] + 100, JOB1[1] + 200)
    a, b, c, d = eventlog.per_op(log, [first, second, both, none])
    assert (a["spark.jobs"], a["spark.stages"], a["spark.tasks"]) == (1, 1, 4)
    assert (b["spark.jobs"], b["spark.stages"], b["spark.tasks"]) == (1, 1, 1)
    assert (c["spark.jobs"], c["spark.stages"], c["spark.tasks"]) == (2, 2, 5)
    assert (d["spark.jobs"], d["spark.tasks"]) == (0, 0)
    assert a["spark.driver_gap_s"] == pytest.approx(0.090)
    assert b["spark.driver_gap_s"] == pytest.approx(0.077)
    # gap between the two jobs counts as driver time too
    assert c["spark.driver_gap_s"] == pytest.approx(
        (both.end_ms - both.start_ms - (JOB0[1] - JOB0[0]) - (JOB1[1] - JOB1[0]))
        / 1000)
    assert d["spark.driver_gap_s"] == pytest.approx(0.1)
    assert a["spark.shuffle_write_mb"] * eventlog.MB == pytest.approx(236)
    assert b["spark.shuffle_read_mb"] * eventlog.MB == pytest.approx(236)
    assert c["spark.executor_run_s"] == pytest.approx(
        (log.stages[0].run_ms + log.stages[2].run_ms) / 1000)
    assert c["spark.executor_cpu_s"] > 0
    assert set(eventlog.OP_METRICS) <= set(a)


def test_union_of_overlapping_intervals():
    assert eventlog.union_ms([]) == 0
    assert eventlog.union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert eventlog.union_ms([(20, 30), (0, 100)]) == 100


def test_parse_dir_reads_rolling_files_in_index_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    with open(LOG) as f:
        lines = f.readlines()
    # split the log across rolling files; index 10 must sort after 2
    (app / "events_1_local-1").write_text("".join(lines[:5]))
    (app / "events_2_local-1").write_text("".join(lines[5:9]))
    (app / "events_10_local-1").write_text("".join(lines[9:]))
    (app / "appstatus_local-1").write_text("")
    (app / ".appstatus_local-1.crc").write_text("x")
    names = [os.path.basename(p) for p in eventlog.log_files(str(tmp_path))]
    assert names == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]
    log = eventlog.parse_dir(str(tmp_path))
    assert sorted(log.jobs) == [0, 1] and log.jobs[1].end_ms == JOB1[1]


def test_parse_dir_reads_a_single_file_log(tmp_path):
    shutil.copy(LOG, tmp_path / "local-1")
    assert sorted(eventlog.parse_dir(str(tmp_path)).jobs) == [0, 1]

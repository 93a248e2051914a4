"""Fixture-log tests for the benchmark's event-log reader.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import clip_spans, event_log_files, read_groups, union_length  # noqa: E402

FIXTURE = os.path.join(HERE, "fixture_eventlog.jsonl")


@pytest.fixture(scope="module")
def groups():
    return read_groups([FIXTURE])


def test_jobs_are_attributed_by_group_not_call_site(groups):
    assert set(groups) == {"build|1|a", "exec|1|a", ""}
    assert groups["build|1|a"].jobs == 2
    assert groups["exec|1|a"].jobs == 1
    assert groups[""].jobs == 1


def test_task_totals(groups):
    b = groups["build|1|a"]
    assert b.tasks == 3
    assert b.failed_tasks == 1
    assert b.task_s == pytest.approx(0.6)
    assert b.task_cpu_s == pytest.approx(0.35)
    assert b.gc_s == pytest.approx(0.015)
    assert b.shuffle_write_bytes == 1000


def test_stage_scopes(groups):
    b, e = groups["build|1|a"], groups["exec|1|a"]
    assert b.cut_jobs == 1
    assert b.cut_task_s == pytest.approx(0.4)
    assert b.python_stages == 0
    assert e.python_stages == 1
    assert e.python_task_s == pytest.approx(0.4)
    assert e.write_task_s == pytest.approx(0.5)
    assert e.records_written == 10
    assert e.bytes_written == 4096
    assert e.shuffle_read_bytes == 1000
    assert e.spill_bytes == 64
    # stage 4 was listed by the job but never ran (skipped): not counted
    assert e.stages == 2


def test_job_span_is_the_union_of_overlapping_jobs(groups):
    assert union_length(groups["build|1|a"].spans) == pytest.approx(1.0)
    assert union_length(groups["exec|1|a"].spans) == pytest.approx(1.0)


def test_span_helpers():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0
    assert clip_spans([(0, 10), (20, 30)], 5, 25) == [(5, 10), (20, 25)]


def test_rolled_log_files_are_ordered(tmp_path):
    d = tmp_path / "eventlog_v2_app-1"
    d.mkdir()
    for i in (10, 2, 1):
        (d / f"events_{i}_app-1").write_text("")
    names = [os.path.basename(p) for p in event_log_files(str(tmp_path), "app-1")]
    assert names == ["events_1_app-1", "events_2_app-1", "events_10_app-1"]
    assert event_log_files(str(tmp_path), "app-2") == []

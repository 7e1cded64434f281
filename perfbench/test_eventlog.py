"""Unit tests for the event-log parser and the span arithmetic, on a
small hand-written fixture log. Run: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import spans  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")


def test_jobs_groups_and_checkpoint_attribution():
    parsed = eventlog.parse(FIXTURE)
    jobs = parsed["jobs"]
    assert [j["job_id"] for j in jobs] == [0, 1, 2]
    assert [j["group"] for j in jobs] == ["pb-1", "pb-2", "pb-2"]
    assert [j["ckpt"] for j in jobs] == [True, False, False]
    assert jobs[0]["start"] == 1000.0 and jobs[0]["end"] == 1000.5
    # a stage listed by a later job but run by an earlier one is not counted twice
    assert jobs[1]["stages"] == [1, 2] and jobs[2]["stages"] == [3]


def test_totals_per_group():
    parsed = eventlog.parse(FIXTURE)
    ck = eventlog.totals(parsed, {"pb-1"})
    assert (ck["jobs"], ck["stages"], ck["tasks"]) == (1, 1, 2)
    assert ck["ckpt_jobs"] == 1 and ck["ckpt_job_s"] == pytest.approx(0.5)
    assert ck["task_run_s"] == pytest.approx(0.4)
    assert ck["task_cpu_s"] == pytest.approx(0.2)
    assert ck["gc_s"] == pytest.approx(0.02)
    assert ck["input_bytes"] == 5120 and ck["scan_tasks"] == 2
    assert ck["stage_skew"] == pytest.approx(300 / 200)
    other = eventlog.totals(parsed, {"pb-2"})
    assert (other["jobs"], other["stages"], other["tasks"]) == (2, 3, 3)
    assert other["shuffle_write_bytes"] == 700 and other["shuffle_read_bytes"] == 700
    assert other["spill_bytes"] == 64 and other["ckpt_jobs"] == 0
    assert eventlog.totals(parsed)["jobs"] == 3


def test_rolling_log_directory(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    lines = open(FIXTURE).read().splitlines(keepends=True)
    (d / "events_2_app").write_text("".join(lines[10:]))
    (d / "events_1_app").write_text("".join(lines[:10]))
    shutil.copy(FIXTURE, tmp_path / "plain")
    assert eventlog.totals(eventlog.parse(str(d))) == eventlog.totals(eventlog.parse(str(tmp_path / "plain")))


def test_self_time_subtracts_children_and_jobs():
    t = spans.Tracer(None, keep=True)
    outer = t.record("entry", "bench", 0.0, 10.0)
    build = t.record("build", "registry", 0.0, 4.0, group="g1")
    build["parent"] = outer["id"]
    sink = t.record("sink", "exec", 4.0, 10.0, group="g2")
    sink["parent"] = outer["id"]
    t.add_jobs([
        {"job_id": 0, "group": "g1", "start": 1.0, "end": 3.0, "ckpt": True},
        {"job_id": 1, "group": "g2", "start": 5.0, "end": 7.0, "ckpt": False},
        {"job_id": 2, "group": "g2", "start": 6.0, "end": 9.0, "ckpt": False},
    ])
    st = spans.self_times(t.spans)
    assert st["bench"] == pytest.approx(0.0)
    assert st["registry"] == pytest.approx(2.0)
    assert st["ckpt"] == pytest.approx(2.0)
    assert st["exec"] == pytest.approx(2.0 + 2.0 + 3.0)


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = list(range(1, 41))
    value, pct, n = spans.tail(xs)
    assert (value, pct, n) == (30, 75.0, 40)
    assert sum(x > value for x in xs) == 10
    assert spans.tail([3.0, 1.0])[1:] == (100.0, 2)
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)

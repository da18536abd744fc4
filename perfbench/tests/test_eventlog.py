"""Job-to-span matching on an event log recorded from a local[2] session
that ran a groupBy-count (jobs 0-1) and, 0.3 s later, a count (jobs 2-3);
``eventlog_spans.json`` holds the driver clock around each action."""

import json
import os

import pytest

from perfbench import eventlog
from perfbench.trace import Span

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture(scope="module")
def jobs():
    return eventlog.read_dir(os.path.join(FIX, "eventlog"))


@pytest.fixture(scope="module")
def spans():
    with open(os.path.join(FIX, "eventlog_spans.json")) as f:
        (_, a0, a1), (_, c0, c1) = json.load(f)
    return [
        Span(0, "outer", a0 - 1.0, c1 + 1.0),
        Span(1, "agg", a0, a1, parent=0),
        Span(2, "count", c0, c1, parent=0),
    ]


def test_parse_reads_jobs_and_their_tasks(jobs):
    assert sorted(jobs) == [0, 1, 2, 3]
    assert jobs[0].submit == pytest.approx(1792177708.405)
    assert jobs[0].end == pytest.approx(1792177709.005)
    assert jobs[1].stages == [1, 2]
    assert sum(j.tasks for j in jobs.values()) == 6
    assert all(j.tasks >= 1 for j in jobs.values())
    assert all(j.run_s > 0 and j.gc_s >= 0 for j in jobs.values())
    # the groupBy's map side wrote shuffle output
    assert jobs[0].shuffle_bytes > 0


def test_jobs_go_to_the_innermost_span_holding_their_submit_time(jobs, spans):
    by_span = eventlog.assign(spans, jobs)
    assert sorted(by_span[1]) == [0, 1]
    assert sorted(by_span[2]) == [2, 3]
    assert 0 not in by_span


def test_span_stats_include_descendants_and_driver_gap(jobs, spans):
    by_span = eventlog.assign(spans, jobs)
    agg = eventlog.span_stats(spans[1], spans, jobs, by_span)
    assert agg["jobs"] == 2
    assert agg["tasks"] == jobs[0].tasks + jobs[1].tasks
    busy = (jobs[0].end - jobs[0].submit) + (jobs[1].end - jobs[1].submit)
    assert agg["driver_gap_s"] == pytest.approx(spans[1].wall - busy)
    outer = eventlog.span_stats(spans[0], spans, jobs, by_span)
    assert outer["jobs"] == 4
    assert outer["tasks"] == 6
    assert outer["shuffle_bytes"] == sum(j.shuffle_bytes for j in jobs.values())

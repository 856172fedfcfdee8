"""Parsing a tiny committed, uncompressed Spark 4 event log.

The fixture holds three jobs: one in job group ``demo:q1:build``, one in
``demo:q1:run`` (both with description ``pass=0``) and one without a
group, each of two stages.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tracing import Recorder, Span, parse_event_log, union_seconds  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "tiny.eventlog")


def test_groups_jobs_stages_tasks():
    stats = parse_event_log(FIXTURE)
    assert set(stats) == {("demo:q1:build", 0), ("demo:q1:run", 0), ("", -1)}
    build, run, untagged = stats[("demo:q1:build", 0)], stats[("demo:q1:run", 0)], stats[("", -1)]
    assert (build.jobs, build.stages, build.tasks) == (1, 2, 4)
    assert (run.jobs, run.stages, run.tasks) == (1, 2, 4)
    assert (untagged.jobs, untagged.stages, untagged.tasks) == (1, 2, 3)


def test_task_metrics_are_summed_in_seconds_and_megabytes():
    build = parse_event_log(FIXTURE)[("demo:q1:build", 0)]
    assert build.executor_run_s == pytest.approx((456 + 499 + 213 + 206) / 1e3)
    assert build.executor_cpu_s == pytest.approx((95180325 + 155930474 + 62033411 + 53951283) / 1e9)
    assert build.gc_s == pytest.approx((56 + 56 + 17 + 17) / 1e3)
    assert build.shuffle_write_mb == pytest.approx(266 / 2**20)
    assert build.shuffle_read_mb == pytest.approx(266 / 2**20)
    assert build.spill_mb == 0
    assert build.job_intervals == [(1792220444.007, 1792220445.693)]


def test_untagged_jobs_follow_the_span_running_at_submission():
    rec = Recorder("demo")
    rec.spans.append(Span("q2:run", 1792220447.0, 1792220448.0, 3, "pass:3", "demo:q2:run"))
    stats = parse_event_log(FIXTURE, rec.key_at)
    assert ("", -1) not in stats
    assert stats[("demo:q2:run", 3)].tasks == 3


def test_union_of_job_intervals():
    assert union_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_seconds([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert union_seconds([], 0, 1) == 0

"""Fast tests of the benchmark's own logic; no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

from spans import (  # noqa: E402
    Clock,
    Job,
    Ledger,
    Span,
    Tracer,
    driver_seconds,
    jobs_in_window,
    latency_by_type,
    percentile,
    self_seconds,
    stage_owners,
    stages_in_window,
    union_seconds,
)


class FakeScheduler:
    """Hands out job ids from one counter, as Spark's DAG scheduler does,
    whichever thread submits."""

    def __init__(self):
        self.next_id = 0
        self._lock = threading.Lock()

    def submit(self) -> int:
        with self._lock:
            self.next_id += 1
            return self.next_id - 1

    def peek(self) -> int:
        with self._lock:
            return self.next_id


def _span(name, start, end, parent=None):
    return Span(name, start, end, parent, 0, 0, 0)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span("pass", 0.0, 10.0),
        _span("a", 1.0, 4.0, parent=0),
        _span("b", 3.0, 6.0, parent=0),  # overlaps a: union is 1..6
        _span("a.inner", 2.0, 3.0, parent=1),
    ]
    got = self_seconds(spans)
    assert got == pytest.approx([5.0, 2.0, 3.0, 1.0])


def test_union_clips_to_window():
    assert union_seconds([(-5, 1), (2, 3), (2.5, 20)], 0, 10) == pytest.approx(9.0)
    assert union_seconds([], 0, 10) == 0.0


def test_job_window_includes_jobs_from_a_second_thread():
    sched = FakeScheduler()
    tracer = Tracer(sched.peek)
    before = sched.submit()
    with tracer.span("call") as span:
        mine = [sched.submit()]
        worker = threading.Thread(target=lambda: mine.extend(sched.submit() for _ in range(3)))
        worker.start()
        worker.join(timeout=10)
        assert not worker.is_alive()
        mine.append(sched.submit())
    after = sched.submit()
    jobs = [Job(j, 0.0, 0.0, 1) for j in [before, *mine, after]]
    assert sorted(j.job_id for j in jobs_in_window(span, jobs)) == sorted(mine)


def test_nested_spans_record_parent_and_disabled_tracer_records_nothing():
    sched = FakeScheduler()
    tracer = Tracer(sched.peek)
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
    assert [(s.name, s.parent) for s in tracer.spans] == [("outer", None), ("inner", 0)]
    off = Tracer(sched.peek, enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_a_stage_listed_by_jobs_in_two_windows_is_charged_once_to_its_creator():
    writer = Span("train", 0.0, 1.0, None, 0, 0, 2)  # jobs 0, 1
    reader = Span("table", 1.0, 2.0, None, 0, 2, 4)  # jobs 2, 3
    # stage 1 is a shuffle map stage created by job 1; job 3 reuses it
    jobs = [Job(3, 0, 0, 1, (1, 5)), Job(0, 0, 0, 1, (0,)), Job(1, 0, 0, 1, (1, 2)), Job(2, 0, 0, 1, (4,))]
    owners = stage_owners(jobs)
    assert owners == {0: 0, 1: 1, 2: 1, 4: 2, 5: 3}
    assert stages_in_window(writer, owners) == [0, 1, 2]
    assert stages_in_window(reader, owners) == [4, 5]


def test_clock_times_only_the_timed_parts():
    cpu = iter([1.0, 1.5, 10.0, 12.0])
    clock = Clock(lambda: next(cpu))
    with clock.timed():
        pass
    with clock.timed():
        pass
    assert clock.cpu == pytest.approx(2.5)
    assert 0.0 <= clock.wall < 1.0


def test_driver_seconds_is_span_time_outside_its_jobs():
    span = Span("call", 100.0, 110.0, None, 0, 0, 10)
    jobs = [Job(0, 101.0, 103.0, 1), Job(1, 102.0, 104.0, 1), Job(2, 108.0, 115.0, 1)]
    assert driver_seconds(span, jobs) == pytest.approx(10.0 - 3.0 - 2.0)


def test_latency_is_summarised_per_type_with_counts():
    samples = [("table", v) for v in (0.4, 0.38, 0.42, 0.5)] + [("scatter", 0.08 + i / 1e4) for i in range(100)]
    got = latency_by_type(samples)
    assert got["table"]["n"] == 4 and got["scatter"]["n"] == 100
    assert got["table"]["p50"] == pytest.approx(0.41)
    # p90 only once ten samples lie above it
    assert "p90" not in got["table"]
    assert got["scatter"]["p90"] == pytest.approx(0.08 + 89.1 / 1e4)
    # a pooled median would sit between the types; per type it does not
    assert got["scatter"]["p90"] < got["table"]["p50"]


def test_percentile_endpoints():
    assert percentile([3.0], 90) == 3.0
    assert percentile([1.0, 2.0, 3.0, 4.0, 5.0], 0) == 1.0
    assert percentile([1.0, 2.0, 3.0, 4.0, 5.0], 100) == 5.0


def test_error_rate_counts_each_failed_operation_once():
    ledger = Ledger()
    ops = [ledger.begin() for _ in range(4)]
    ledger.check(ops[0], True, "fine")
    ledger.check(ops[1], False, "hash differs")
    ledger.check(ops[1], False, "row count differs")  # same op: one failure
    ledger.fail(ops[3], "raised")
    assert (ledger.attempted, ledger.failed) == (4, 2)
    assert ledger.error_rate == pytest.approx(0.5)
    assert Ledger().error_rate == 1.0  # nothing attempted is not a pass


def test_benchmark_json_lists_what_the_runner_reports():
    import run

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_names()
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)

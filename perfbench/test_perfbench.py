"""Self-tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from perfbench import oracles
from perfbench.run import closed_loop, count_failures
from perfbench.tracing import Tracer, parse_event_log, span_at, subtree_totals
from perfbench.workloads import Workload, increments

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixtures", "eventlog.jsonl")

# spans matching the fixture's timeline (event-log times are epoch ms)
SPANS = [
    {"id": 0, "name": "op", "parent": None, "start": 100.0, "end": 103.0},
    {"id": 1, "name": "plans.pipeline.run", "parent": 0, "start": 100.4, "end": 101.2},
    {"id": 2, "name": "streaming.tail.drain", "parent": 0, "start": 102.0, "end": 103.0},
]


def test_event_log_attributes_tasks_by_job_group_and_time():
    ev = parse_event_log(FIXTURE, SPANS)
    run = ev["by_span"][1]
    assert run["jobs"] == 1 and run["tasks"] == 2
    assert run["executor_run_s"] == pytest.approx(2.0)
    assert run["executor_cpu_s"] == pytest.approx(1.5)
    assert run["gc_s"] == pytest.approx(0.1)
    assert run["shuffle_write_mb"] == pytest.approx(2.0)
    assert run["spill_mb"] == pytest.approx(2.0)  # disk spill only
    # a streaming job carries the query's own group: attributed by time
    drain = ev["by_span"][2]
    assert drain["jobs"] == 1 and drain["executor_cpu_s"] == pytest.approx(0.7)
    # a job outside every span is dropped
    assert set(ev["by_span"]) == {1, 2}
    assert ev["progress"] == [{"timestamp": "1970-01-01T00:01:42.400Z",
                               "durationMs": {"addBatch": 300, "triggerExecution": 450}}]
    root = subtree_totals(ev["by_span"], SPANS, [0])
    assert root["jobs"] == 2 and root["executor_cpu_s"] == pytest.approx(2.2)


def test_span_at_picks_innermost():
    assert span_at(SPANS, 100.5) == 1
    assert span_at(SPANS, 101.5) == 0
    assert span_at(SPANS, 99.0) is None


def test_cumulative_increments():
    assert increments([0.5, 1.5, 3.5, 4.0]) == pytest.approx([0.5, 1.0, 2.0, 0.5])
    assert increments([]) == []


def test_call_metrics_nets_out_the_previous_step():
    by_span = {
        3: {"jobs": 1, "tasks": 4, "executor_run_s": 4.0, "executor_cpu_s": 3.0,
            "gc_s": 0.2, "shuffle_write_mb": 0.0, "spill_mb": 0.0},
        4: {"jobs": 1, "tasks": 4, "executor_run_s": 6.0, "executor_cpu_s": 5.0,
            "gc_s": 0.5, "shuffle_write_mb": 0.0, "spill_mb": 0.0},
    }
    spans = [
        {"id": 3, "name": "layer.extract", "parent": None, "start": 0.0, "end": 1.0},
        {"id": 4, "name": "layer.diff_stats", "parent": None, "start": 1.0, "end": 3.0},
    ]
    wl = Workload(SimpleNamespace(nproc=4))
    out = wl.call_metrics(SimpleNamespace(spans=spans), {"by_span": by_span}, spans[1:],
                          "operators.parse.diff_stats", minus=spans[:1])
    assert out["operators.parse.diff_stats.executor_cpu_s"] == pytest.approx(2.0)
    assert out["operators.parse.diff_stats.gc_s"] == pytest.approx(0.3)
    assert out["operators.parse.diff_stats.jobs"] == 0
    assert out["operators.parse.diff_stats.core_busy"] == pytest.approx(6.0 / (2.0 * 4))


class _FlakyWorkload:
    """Op 1 raises; the check rejects op 2's output."""

    def op(self, i):
        if i == 1:
            raise RuntimeError("boom")
        return {"value": i}

    def check(self, results):
        return [None if r is None or r["value"] != 2 else "value 2 is wrong" for r in results]


def test_failed_operation_and_failed_check_are_counted():
    wl = _FlakyWorkload()
    ctx = SimpleNamespace(tracer=Tracer())
    ops = closed_loop(wl, ctx, seconds=0, min_ops=4, max_ops=4)
    assert [o["error"] is not None for o in ops] == [False, True, False, False]
    checks = wl.check([o["result"] for o in ops])
    assert count_failures(ops, checks, extra=[None, "dataset pass wrong"]) == 3


def test_digest_ignores_row_order():
    rows = [{"id_a": 1, "id_b": 2}, {"id_a": 3, "id_b": 4}]
    assert oracles.digest(rows) == oracles.digest(list(reversed(rows)))
    assert oracles.digest(rows) != oracles.digest(rows[:1])


def test_compare_reports_value_mismatch():
    want = [{"ns": "a", "count": 2}, {"ns": "b", "count": 1}]
    assert oracles.compare("q", list(reversed(want)), want) is None
    assert "row" in oracles.compare("q", [{"ns": "a", "count": 2}, {"ns": "b", "count": 5}], want)
    assert "rows" in oracles.compare("q", want[:1], want)

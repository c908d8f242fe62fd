"""Tests for the benchmark's own code: the event-log parser, the tail
rule, failure accounting and the metric lists in BENCHMARK.json."""

from __future__ import annotations

import json
import os
import random

import pytest

import eventlog
import layers
import run
import stats
from workloads import Expected, OpResult, Span, Tracer, Workload, _timed_op, mismatch

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "data", "small_eventlog.jsonl")
BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


# --- event-log parser, on a small log recorded by record_eventlog.py ---


@pytest.fixture(scope="module")
def groups():
    return eventlog.read(FIXTURE)


def test_parser_keys_labelled_jobs_only(groups):
    assert set(groups) == {
        ("1", "agg", "exec"),
        ("1", "join", "exec"),
        ("1", "udf", "exec"),
        ("1", "ctas", "ctas"),
        ("1", "fail", "exec"),
    }


def test_parser_counts_exchanges_in_executed_plans(groups):
    assert groups[("1", "agg", "exec")].shuffle_exchanges == 1
    assert groups[("1", "agg", "exec")].shuffle_write_bytes > 0
    assert groups[("1", "agg", "exec")].shuffle_read_bytes > 0
    assert groups[("1", "join", "exec")].broadcast_exchanges == 1
    assert groups[("1", "join", "exec")].shuffle_exchanges == 0


def test_parser_sums_task_and_sql_metrics(groups):
    udf = groups[("1", "udf", "exec")]
    assert udf.tasks >= 1 and udf.run_ms >= 0
    assert udf.sql[layers.PYTHON["python.bytes_sent"]] > 0
    assert udf.sql[layers.PYTHON["python.bytes_returned"]] > 0
    assert groups[("1", "agg", "exec")].sql[layers.PYTHON["python.bytes_sent"]] == 0


def test_parser_reads_writes_from_task_and_driver_metrics(groups):
    ctas = groups[("1", "ctas", "ctas")]
    assert ctas.output_bytes > 0
    # the file count is a driver-side SQL metric, named through the plan
    assert ctas.sql[layers.FILES_WRITTEN] == 2


def test_parser_counts_failed_tasks(groups):
    assert groups[("1", "fail", "exec")].task_failures >= 1
    assert groups[("1", "agg", "exec")].task_failures == 0


def test_layer_metrics_are_per_warm_pass(groups):
    spans = [
        Span("0", "agg", "exec", 9.0),  # the cold pass is left out
        Span("1", "agg", "build", 0.5),
        Span("1", "agg", "exec", 1.0),
        Span("1", "ctas", "ctas", 2.0),
    ]
    m = layers.compute(groups, spans, [10.0, 4.0], session_start_s=3.0, untraced_pass_s=3.5)
    assert set(m) == {name for name, _ in layers.PER_LAYER}
    assert m["plans.build_s"] == 0.5
    assert m["plans.build_share"] == 0.5 / 4.0
    assert m["exec.wall_s"] == 3.0
    assert m["etl.ctas_s"] == 2.0
    assert m["exec.broadcast_exchanges"] == 1
    assert m["sinks.files_written"] == 2
    assert m["trace.overhead_s"] == 0.5


# --- tail percentile: the highest one with at least 10 samples beyond it ---


def test_tail_leaves_ten_samples_beyond():
    t = stats.tail([float(i) for i in range(1, 41)])  # 1..40
    assert (t.value, t.beyond, t.n) == (30.0, 10, 40)
    assert t.percentile == 75.0


def test_tail_is_order_independent():
    values = [float(i) for i in range(100)]
    random.Random(0).shuffle(values)
    assert stats.tail(values).value == 89.0


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)
    assert stats.tail([1.0] * 10 + [2.0]).value == 1.0


# --- fail_frac: raising and mismatching operations both count ---


class _FakeContext:
    def __init__(self):
        self.props = {}

    def setLocalProperty(self, k, v):
        self.props[k] = v

    def getLocalProperty(self, k):
        return self.props.get(k)

    def setJobDescription(self, v):
        self.props[eventlog.DESC_PROP] = v


class _FakeSpark:
    sparkContext = _FakeContext()


def test_timed_op_records_a_raise_as_failure():
    tracer = Tracer(_FakeContext())
    tracer.start_pass("1")

    def body():
        raise RuntimeError("boom\nsecond line")

    r = _timed_op(tracer, "q", body)
    assert r.error == "RuntimeError: boom" and r.op == "q" and r.pass_id == "1"
    assert _timed_op(tracer, "q", lambda: None).error is None


def test_mismatch_names_the_difference():
    want = {"cols": ["a", "b"], "rows": 2, "hash": "h1"}
    assert mismatch(Expected(("a", "b"), 2, "h1"), want) is None
    assert "rows" in mismatch(Expected(("a", "b"), 3, "h1"), want)
    assert "hash" in mismatch(Expected(("a", "b"), 2, "h2"), want)
    assert "columns" in mismatch(Expected(("a",), 2, "h1"), want)


def test_fail_frac_counts_raises_and_mismatches():
    def run_pass(spark, tracer, inputs, rng):
        return [
            OpResult(tracer.pass_id, "ok", 0.1, None),
            OpResult(tracer.pass_id, "raises", 0.1, "RuntimeError: boom"),
        ]

    def verify(spark, tracer, inputs):
        return [("ok", None), ("raises", "value hash x != y")]

    work = Workload("fake", 1.0, lambda ctx: None, run_pass, verify)
    ctx = run.Context(seed=1, cache_dir="", run_dir="")
    tally = stats.Tally()
    m = run.measure(_FakeSpark(), work, ctx, None, later=2, tally=tally, verify=True)
    assert len(m.pass_walls) == 3 and len(m.op_seconds) == 4
    assert tally.attempted == 6 + 2
    assert tally.failed == 3 + 1
    assert tally.fail_frac == 4 / 8
    assert any("verify raises" in e for e in tally.errors)


# --- BENCHMARK.json lists exactly what the runner prints ---


def test_benchmark_json_matches_printed_metrics():
    with open(BENCHMARK_JSON, encoding="utf-8") as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(layers.PER_LAYER)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)

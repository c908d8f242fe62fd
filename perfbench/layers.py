"""Per-layer metrics: the traced run's spans and event-log groups, mapped
onto the engine's modules.

Every value is per pass: the sum over the later (warm) passes divided by
their number. Which end-to-end metric each layer should move, and on
which workload, is recorded in README.md beside this file.
"""

from __future__ import annotations

import statistics

from eventlog import Group, Key
from workloads import Span

# (name, unit) in the order BENCHMARK.json lists them
PER_LAYER = (
    ("session.start_s", "s"),
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    ("plans.build_task_ms", "ms"),
    ("plans.build_share", "ratio"),
    ("catalyst.plan_s", "s"),
    ("exec.wall_s", "s"),
    ("exec.jobs", "count"),
    ("exec.tasks", "count"),
    ("exec.task_run_ms", "ms"),
    ("exec.task_cpu_ms", "ms"),
    ("exec.gc_ms", "ms"),
    ("exec.task_failures", "count"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.fetch_wait_ms", "ms"),
    ("exec.spill_bytes", "bytes"),
    ("exec.broadcast_exchanges", "count"),
    ("exec.shuffle_exchanges", "count"),
    ("sources.scan_bytes", "bytes"),
    ("sources.scan_time_ms", "ms"),
    ("sources.stage_bytes_written", "bytes"),
    ("python.bytes_sent", "bytes"),
    ("python.bytes_returned", "bytes"),
    ("python.run_ms", "ms"),
    ("python.init_ms", "ms"),
    ("python.start_ms", "ms"),
    ("etl.load_s", "s"),
    ("etl.ctas_s", "s"),
    ("etl.grafs_s", "s"),
    ("sinks.bytes_written", "bytes"),
    ("sinks.files_written", "count"),
    ("trace.pass_s", "s"),
    ("trace.overhead_s", "s"),
)

# Phases the workloads label their spans and jobs with. Building a
# DataFrame (and any job the builder runs eagerly) is plan build;
# forcing the physical plan is Catalyst; everything that runs the plan
# or writes its result is execution.
BUILD = {"build"}
PLAN = {"plan"}
EXEC = {"exec", "load", "ctas", "grafs", "drop"}

# Spark's own SQL metric names (SQLMetrics / PythonSQLMetrics display names)
SCAN_TIME = "scan time"
FILES_WRITTEN = "number of written files"
PYTHON = {
    "python.bytes_sent": "data sent to Python workers",
    "python.bytes_returned": "data returned from Python workers",
    "python.run_ms": "time to run Python workers",
    "python.init_ms": "time to initialize Python workers",
    "python.start_ms": "time to start Python workers",
}


def _sum(groups: dict[Key, Group], passes: set[str], phases: set[str] | None) -> Group:
    total = Group()
    for (p, _op, phase), g in groups.items():
        if p in passes and (phases is None or phase in phases):
            total.add(g)
    return total


def _span_s(spans: list[Span], passes: set[str], phases: set[str]) -> float:
    return sum(s.self_s for s in spans if s.pass_id in passes and s.phase in phases)


def compute(
    groups: dict[Key, Group],
    spans: list[Span],
    pass_walls: list[float],
    session_start_s: float,
    untraced_pass_s: float,
) -> dict[str, float]:
    """``pass_walls[0]`` is the cold first pass; the rest are the warm
    passes the metrics are averaged over (pass ids "1".."n")."""
    n = len(pass_walls) - 1
    later = {str(i) for i in range(1, n + 1)}
    build = _sum(groups, later, BUILD)
    exe = _sum(groups, later, EXEC)
    ctas = _sum(groups, later, {"ctas"})
    every = _sum(groups, later, None)
    build_s = _span_s(spans, later, BUILD) / n
    pass_s = statistics.median(pass_walls[1:])
    m = {
        "session.start_s": session_start_s,
        "plans.build_s": build_s,
        "plans.build_jobs": build.jobs / n,
        "plans.build_task_ms": build.run_ms / n,
        "plans.build_share": build_s / (sum(pass_walls[1:]) / n),
        "catalyst.plan_s": _span_s(spans, later, PLAN) / n,
        "exec.wall_s": _span_s(spans, later, EXEC) / n,
        "exec.jobs": exe.jobs / n,
        "exec.tasks": exe.tasks / n,
        "exec.task_run_ms": exe.run_ms / n,
        "exec.task_cpu_ms": exe.cpu_ms / n,
        "exec.gc_ms": exe.gc_ms / n,
        "exec.task_failures": exe.task_failures / n,
        "exec.shuffle_write_bytes": exe.shuffle_write_bytes / n,
        "exec.shuffle_read_bytes": exe.shuffle_read_bytes / n,
        "exec.fetch_wait_ms": exe.fetch_wait_ms / n,
        "exec.spill_bytes": exe.spill_bytes / n,
        "exec.broadcast_exchanges": exe.broadcast_exchanges / n,
        "exec.shuffle_exchanges": exe.shuffle_exchanges / n,
        "sources.scan_bytes": every.input_bytes / n,
        "sources.scan_time_ms": every.sql[SCAN_TIME] / n,
        "sources.stage_bytes_written": build.output_bytes / n,
        "etl.load_s": _span_s(spans, later, {"load"}) / n,
        "etl.ctas_s": _span_s(spans, later, {"ctas"}) / n,
        "etl.grafs_s": _span_s(spans, later, {"grafs"}) / n,
        "sinks.bytes_written": ctas.output_bytes / n,
        "sinks.files_written": ctas.sql[FILES_WRITTEN] / n,
        "trace.pass_s": pass_s,
        "trace.overhead_s": pass_s - untraced_pass_s,
    }
    for name, sql_name in PYTHON.items():
        m[name] = every.sql[sql_name] / n
    return m


def per_op_rows(groups: dict[Key, Group], spans: list[Span]) -> list[dict]:
    """One row per (op, phase) over all passes, for the run artifact."""
    rows: dict[tuple[str, str], dict] = {}
    for s in spans:
        r = rows.setdefault((s.op, s.phase), {"op": s.op, "phase": s.phase, "wall_s": 0.0})
        r["wall_s"] += s.self_s
    for (_p, op, phase), g in groups.items():
        r = rows.setdefault((op, phase), {"op": op, "phase": phase, "wall_s": 0.0})
        for k, v in vars(g).items():
            if k == "sql":
                for name, x in v.items():
                    r.setdefault("sql", {})
                    r["sql"][name] = r["sql"].get(name, 0) + x
            else:
                r[k] = r.get(k, 0) + v
    return sorted(rows.values(), key=lambda r: (r["op"], r["phase"]))

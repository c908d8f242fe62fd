"""Parser for Spark's JSON event log, grouped by the benchmark's labels.

The runner labels every job it causes: the job description is
``<op>|<phase>`` and the local property ``perfbench.pass`` names the
pass. Task-end metrics, SQL metrics and the executed plans of SQL
executions are summed per ``(pass, op, phase)`` group, so no library
code needs to know it is being measured.

The log must be written uncompressed and unrolled
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``):
Spark 4 otherwise writes zstd into an ``eventlog_v2_*`` directory.
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Iterable
from dataclasses import dataclass, field

PASS_PROP = "perfbench.pass"
DESC_PROP = "spark.job.description"
EXEC_ID_PROP = "spark.sql.execution.id"

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_SQL_DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

# physical-plan node names of the two exchange kinds
_SHUFFLE_NODE = "Exchange"
_BROADCAST_NODE = "BroadcastExchange"


@dataclass
class Group:
    """Everything the log says about one (pass, op, phase) label."""

    jobs: int = 0
    tasks: int = 0
    task_failures: int = 0
    run_ms: int = 0
    cpu_ms: float = 0.0
    gc_ms: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0
    shuffle_exchanges: int = 0
    broadcast_exchanges: int = 0
    # SQL metrics by display name: task-side updates plus driver-side ones
    sql: dict[str, int] = field(default_factory=lambda: defaultdict(int))

    def add(self, other: Group) -> None:
        for k, v in vars(other).items():
            if k == "sql":
                for name, x in v.items():
                    self.sql[name] += x
            else:
                setattr(self, k, getattr(self, k) + v)


Key = tuple[str, str, str]  # (pass, op, phase)


def _label(props: dict) -> Key | None:
    desc = props.get(DESC_PROP) or ""
    op, sep, phase = desc.rpartition("|")
    if not sep or PASS_PROP not in props:
        return None
    return props[PASS_PROP], op, phase


def _walk(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


def parse(lines: Iterable[str]) -> dict[Key, Group]:
    """Sum the log's metrics per label. Jobs the benchmark did not label
    (session warm-up, for instance) are left out."""
    groups: dict[Key, Group] = defaultdict(Group)
    stage_key: dict[int, Key] = {}
    exec_key: dict[int, Key] = {}
    final_plan: dict[int, dict] = {}
    metric_name: dict[int, str] = {}
    driver_updates: list[tuple[int, list]] = []

    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            key = _label(props)
            if key is None:
                continue
            groups[key].jobs += 1
            for sid in ev["Stage IDs"]:
                stage_key[sid] = key
            if EXEC_ID_PROP in props:
                exec_key.setdefault(int(props[EXEC_ID_PROP]), key)
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev["Stage ID"])
            if key is not None:
                _add_task(groups[key], ev)
        elif kind in (_SQL_START, _SQL_AQE_UPDATE):
            plan = ev["sparkPlanInfo"]
            final_plan[ev["executionId"]] = plan
            for node in _walk(plan):
                for m in node.get("metrics", ()):
                    metric_name[m["accumulatorId"]] = m["name"]
        elif kind == _SQL_DRIVER_ACCUMS:
            driver_updates.append((ev["executionId"], ev["accumUpdates"]))

    for exec_id, plan in final_plan.items():
        key = exec_key.get(exec_id)
        if key is None:
            continue
        for node in _walk(plan):
            if node["nodeName"] == _SHUFFLE_NODE:
                groups[key].shuffle_exchanges += 1
            elif node["nodeName"] == _BROADCAST_NODE:
                groups[key].broadcast_exchanges += 1
    for exec_id, updates in driver_updates:
        key = exec_key.get(exec_id)
        if key is None:
            continue
        for acc_id, value in updates:
            name = metric_name.get(acc_id)
            if name is not None:
                groups[key].sql[name] += _as_int(value)
    return dict(groups)


def _add_task(g: Group, ev: dict) -> None:
    g.tasks += 1
    if ev["Task End Reason"]["Reason"] != "Success":
        g.task_failures += 1
    m = ev.get("Task Metrics")
    if m:
        g.run_ms += m["Executor Run Time"]
        g.cpu_ms += m["Executor CPU Time"] / 1e6
        g.gc_ms += m["JVM GC Time"]
        g.input_bytes += m["Input Metrics"]["Bytes Read"]
        g.output_bytes += m["Output Metrics"]["Bytes Written"]
        g.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        rd = m["Shuffle Read Metrics"]
        g.shuffle_read_bytes += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
        g.fetch_wait_ms += rd["Fetch Wait Time"]
        g.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    for acc in ev["Task Info"].get("Accumulables", ()):
        name = acc.get("Name", "")
        if not name.startswith("internal."):
            g.sql[name] += _as_int(acc.get("Update"))


def _as_int(value) -> int:
    """SQL metric updates are logged as decimal strings."""
    try:
        return int(value)
    except (TypeError, ValueError):
        return 0


def read(path: str) -> dict[Key, Group]:
    with open(path, encoding="utf-8") as f:
        return parse(f)

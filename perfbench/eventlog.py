"""Stdlib-only reader of a local Spark event log (no UI, no REST API).

Events are attributed to the job description that was set when their
stage or SQL execution started, so each benchmark label (``prefix:scan``,
``op``, ...) gets its own task time, GC, bytes, spill, fetch wait and
input records. Plan-shape counts come from each SQL execution's final
physical plan string.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
DESCRIPTION = "spark.job.description"
EXECUTION_ID = "spark.sql.execution.id"
PYTHON_SENT = "data sent to Python workers"


@dataclass
class LabelStats:
    """Task-level totals of one label."""

    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    python_bytes_sent: int = 0
    tasks: int = 0


@dataclass
class Execution:
    """One SQL execution: its label, times, final plan and the SQL metrics
    of its plan nodes as (node name, scan location, metric, accumulator id)."""

    label: str | None = None
    start_ms: int = 0
    end_ms: int = 0
    first_launch_ms: int | None = None
    plan: str = ""
    metrics: set = field(default_factory=set)


def _walk(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _walk(child)


def plan_tree(plan: str) -> str:
    """The operator tree of a physical plan description: the final plan
    when adaptive execution re-planned, without the per-node detail
    sections that follow the tree."""
    lines = plan.splitlines()
    if lines and lines[0].startswith("== Physical Plan =="):
        lines = lines[1:]
    tree = []
    for ln in lines:
        if not ln.strip():
            break
        tree.append(ln)
    text = "\n".join(tree)
    for marker in ("== Final Plan ==", "== Current Plan =="):
        if marker in text:
            text = text.split(marker, 1)[1].split("== Initial Plan ==", 1)[0]
    return text


def count_nodes(plan: str, node: str) -> int:
    """Operators named ``node`` in the plan's (final) operator tree."""
    n = 0
    for ln in plan_tree(plan).splitlines():
        name = ln.lstrip(" :+-*(0123456789)")
        if name.split(" ", 1)[0] == node:
            n += 1
    return n


class EventLog:
    def __init__(self):
        self.labels: dict[str, LabelStats] = {}
        self.executions: dict[int, Execution] = {}
        self._stage_label: dict[int, str | None] = {}
        self._stage_exec: dict[int, int] = {}
        self._post_exchange: dict[tuple[str, int], list[tuple[float, int]]] = {}
        self._driver_accum: dict[int, int] = {}
        self._task_accum: dict[int, int] = {}

    # -- ingestion ---------------------------------------------------------

    def feed(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            eid = props.get(EXECUTION_ID)
            for sid in ev.get("Stage IDs", []):
                self._stage_label[sid] = props.get(DESCRIPTION)
                if eid is not None:
                    self._stage_exec[sid] = int(eid)
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            sid = ev["Stage Info"]["Stage ID"]
            if DESCRIPTION in props:
                self._stage_label[sid] = props[DESCRIPTION]
            if EXECUTION_ID in props:
                self._stage_exec[sid] = int(props[EXECUTION_ID])
        elif kind == "SparkListenerTaskEnd":
            self._task_end(ev)
        elif kind == SQL_START:
            ex = self.executions.setdefault(ev["executionId"], Execution())
            ex.start_ms = ev.get("time", 0)
            ex.label = ev.get("description")
            self._plan(ex, ev)
        elif kind == SQL_AQE:
            self._plan(self.executions.setdefault(ev["executionId"], Execution()), ev)
        elif kind == SQL_END:
            self.executions.setdefault(ev["executionId"], Execution()).end_ms = ev.get("time", 0)
        elif kind == SQL_ACCUM:
            for aid, value in ev.get("accumUpdates", []):
                self._driver_accum[aid] = value

    def _plan(self, ex: Execution, ev: dict) -> None:
        ex.plan = ev.get("physicalPlanDescription") or ex.plan
        for node in _walk(ev.get("sparkPlanInfo") or {}):
            loc = (node.get("metadata") or {}).get("Location", "")
            for m in node.get("metrics", []):
                ex.metrics.add((node.get("nodeName", ""), loc, m.get("name"), m["accumulatorId"]))

    def _task_end(self, ev: dict) -> None:
        sid = ev.get("Stage ID")
        label = self._stage_label.get(sid)
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        st = self.labels.setdefault(label, LabelStats())
        run_s = m.get("Executor Run Time", 0) / 1000
        st.tasks += 1
        st.task_s += run_s
        st.gc_s += m.get("JVM GC Time", 0) / 1000
        st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        st.fetch_wait_s += rd.get("Fetch Wait Time", 0) / 1000
        st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for acc in info.get("Accumulables", []):
            update = acc.get("Update")
            if not isinstance(update, (int, str)) or not str(update).lstrip("-").isdigit():
                continue
            self._task_accum[acc["ID"]] = self._task_accum.get(acc["ID"], 0) + int(update)
            if acc.get("Name") == PYTHON_SENT:
                st.python_bytes_sent += int(update)
        read_bytes = rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        if rd.get("Total Records Read", 0) or read_bytes:
            self._post_exchange.setdefault((label, sid), []).append((run_s, read_bytes))
        eid = self._stage_exec.get(sid)
        if eid is not None:
            ex = self.executions.setdefault(eid, Execution())
            launch = info.get("Launch Time")
            if launch is not None and (ex.first_launch_ms is None or launch < ex.first_launch_ms):
                ex.first_launch_ms = launch

    # -- queries -----------------------------------------------------------

    def _execs(self, label: str) -> list[Execution]:
        return [e for e in self.executions.values() if e.label == label]

    def plan_seconds(self, label: str) -> float:
        """Driver time from each SQL execution's start to its first task,
        summed over the label's executions that ran tasks."""
        return sum(
            (e.first_launch_ms - e.start_ms) / 1000
            for e in self._execs(label) if e.first_launch_ms is not None and e.start_ms
        )

    def plan_node_count(self, label: str, node: str) -> int:
        """Most ``node`` operators in any one final plan of the label (one
        commit group's write plan, not a sum over groups)."""
        return max((count_nodes(e.plan, node) for e in self._execs(label)), default=0)

    def _metric_ids(self, label: str, node: str, metric: str, location: str = "") -> set:
        return {
            aid for e in self._execs(label) for (n, loc, name, aid) in e.metrics
            if n.startswith(node) and name == metric and location in loc
        }

    def broadcast_bytes(self, label: str) -> int:
        """Sum of the label's BroadcastExchange ``data size`` metrics."""
        ids = self._metric_ids(label, "BroadcastExchange", "data size")
        return sum(self._driver_accum.get(a, 0) for a in ids)

    def scan_bytes(self, label: str, location: str) -> int:
        """File bytes the label's parquet scans of ``location`` read."""
        ids = self._metric_ids(label, "Scan parquet", "size of files read", location)
        return sum(self._driver_accum.get(a, 0) for a in ids)

    def scan_rows(self, label: str, location: str) -> int:
        """Rows the label's parquet scans of ``location`` produced."""
        ids = self._metric_ids(label, "Scan parquet", "number of output rows", location)
        return sum(self._task_accum.get(a, 0) for a in ids)

    def execution_seconds(self, label: str, writes_to: str) -> float:
        """Wall time of the label's executions whose plan mentions ``writes_to``."""
        return sum((e.end_ms - e.start_ms) / 1000 for e in self._execs(label)
                   if writes_to in e.plan and e.end_ms)

    def _stage_ratios(self, label: str, idx: int) -> float:
        worst = 0.0
        for (lab, _), tasks in self._post_exchange.items():
            vals = [t[idx] for t in tasks]
            if lab != label or len(vals) < 2:
                continue
            med = statistics.median(vals)
            if med > 0:
                worst = max(worst, max(vals) / med)
        return worst

    def task_skew(self, label: str) -> float:
        """Max over post-exchange stages of max/median task run time."""
        return self._stage_ratios(label, 0)

    def partition_bytes_skew(self, label: str) -> float:
        """Max over post-exchange stages of max/median shuffle bytes read."""
        return self._stage_ratios(label, 1)


def summarize(path: str) -> EventLog:
    log = EventLog()
    with open(path) as f:
        for line in f:
            if line.strip():
                log.feed(json.loads(line))
    return log

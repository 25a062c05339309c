"""Event-log parser and span arithmetic.

``data/eventlog_small.jsonl`` is a trimmed event log recorded from a
traced ``resume_combine`` run (40k turns, 4 commit groups, 2 of them
pending): the ``prefix:scan`` and ``op`` labels with their SQL executions,
paths rewritten under ``/bench``.
"""

import json
import os

import pytest

from eventlog import EventLog, count_nodes, plan_tree, summarize
from spans import Tracer, prefix_deltas

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")
SOURCE = "/bench/.work/inputs/s3_n40000_g4_h0_f1/source"
PENDING_ROWS = 19_983  # turns in the two uncommitted groups


@pytest.fixture(scope="module")
def recorded():
    return summarize(LOG)


def test_recorded_log_reads_each_pending_row_once(recorded):
    assert recorded.scan_rows("prefix:scan", SOURCE) == PENDING_ROWS
    assert recorded.scan_rows("op", SOURCE) == PENDING_ROWS
    assert recorded.scan_bytes("op", SOURCE) == recorded.scan_bytes("prefix:scan", SOURCE) == 542_903


def test_recorded_log_plan_shapes(recorded):
    # one group's write plan: geo range join plus the combined IP lookup,
    # WHOIS-domain and IDB probes; json_flatten is the one Python UDF
    assert recorded.plan_node_count("op", "BroadcastHashJoin") == 4
    assert recorded.plan_node_count("op", "ArrowEvalPython") == 1
    assert recorded.plan_node_count("prefix:scan", "BroadcastHashJoin") == 0


def test_recorded_log_task_totals(recorded):
    op = recorded.labels["op"]
    assert op.tasks == 60
    assert op.task_s == pytest.approx(14.659)
    assert op.gc_s == pytest.approx(0.82)
    assert op.python_bytes_sent == 545_136
    assert op.shuffle_write_bytes == 1_767_894
    assert op.spill_bytes == 0
    assert recorded.broadcast_bytes("op") == 202_478_624
    assert recorded.plan_seconds("op") == pytest.approx(0.491)
    assert recorded.execution_seconds("op", "/combined") == pytest.approx(1.471)
    assert recorded.task_skew("op") == pytest.approx(1.0913, abs=1e-4)
    assert recorded.partition_bytes_skew("op") == pytest.approx(1.0420, abs=1e-4)


def test_recorded_log_is_stdlib_json():
    with open(LOG) as f:
        kinds = {json.loads(line)["Event"].rsplit(".", 1)[-1] for line in f}
    assert {"SparkListenerTaskEnd", "SparkListenerSQLExecutionStart"} <= kinds


ADAPTIVE = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- == Final Plan ==
   Execute InsertIntoHadoopFsRelationCommand (8)
   +- * BroadcastHashJoin LeftOuter BuildRight (7)
      :- ArrowEvalPython (3)
      +- BroadcastQueryStage (6)
+- == Initial Plan ==
   BroadcastHashJoin LeftOuter BuildRight (4)
   :- BroadcastHashJoin LeftOuter BuildRight (2)
   +- ArrowEvalPython (1)

(1) ArrowEvalPython
Arguments: [json_flatten]

(7) BroadcastHashJoin [codegen id : 2]
"""


def test_plan_counts_come_from_the_final_plan_tree_only():
    assert "Initial" not in plan_tree(ADAPTIVE)
    assert count_nodes(ADAPTIVE, "BroadcastHashJoin") == 1
    assert count_nodes(ADAPTIVE, "ArrowEvalPython") == 1
    current = ADAPTIVE.replace("Final Plan", "Current Plan")
    assert count_nodes(current, "BroadcastHashJoin") == 1


def _task(stage, run_ms, gc_ms=0, launch=0, read=0, written=0, accum=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Accumulables": list(accum)},
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
            "Shuffle Read Metrics": {"Local Bytes Read": read, "Total Records Read": 1 if read else 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    }


def test_events_are_attributed_to_their_job_description():
    log = EventLog()
    log.feed({"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
              "executionId": 7, "description": "a", "time": 1_000,
              "physicalPlanDescription": "== Physical Plan ==\nProject (1)\n",
              "sparkPlanInfo": {}})
    log.feed({"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
              "Properties": {"spark.job.description": "a", "spark.sql.execution.id": "7"}})
    log.feed({"Event": "SparkListenerJobStart", "Stage IDs": [3],
              "Properties": {"spark.job.description": "b"}})
    py = {"ID": 5, "Name": "data sent to Python workers", "Update": 40}
    log.feed(_task(1, 1000, gc_ms=100, launch=1_250, written=10, accum=[py]))
    log.feed(_task(2, 2000, launch=1_400, read=100))
    log.feed(_task(2, 6000, launch=1_500, read=300))
    log.feed(_task(2, 3000, launch=1_500, read=200))
    log.feed(_task(3, 500))
    a, b = log.labels["a"], log.labels["b"]
    assert (a.tasks, a.task_s, a.gc_s) == (4, 12.0, 0.1)
    assert (a.shuffle_write_bytes, a.python_bytes_sent) == (10, 40)
    assert (b.tasks, b.task_s) == (1, 0.5)
    # first task 250 ms after the execution started
    assert log.plan_seconds("a") == pytest.approx(0.25)
    # post-exchange stage 2: max/median run time 6/3, read bytes 300/200
    assert log.task_skew("a") == pytest.approx(2.0)
    assert log.partition_bytes_skew("a") == pytest.approx(1.5)
    assert log.task_skew("b") == 0.0


def test_prefix_self_times_telescope_to_the_last_prefix():
    walls = [("scan", 0.5), ("extract", 1.25), ("exchange", 1.5), ("joins", 3.0)]
    d = prefix_deltas(walls)
    assert d == {"scan": 0.5, "extract": 0.75, "exchange": 0.25, "joins": 1.5}
    assert sum(d.values()) == pytest.approx(walls[-1][1])


def test_spans_record_parent_and_operation():
    t = Tracer()
    with t.span("op", op=1):
        with t.span("prefix:scan", op=1):
            pass
    child, parent = t.spans
    assert (child["name"], child["parent"], child["op"]) == ("prefix:scan", "op", 1)
    assert parent["parent"] is None
    assert parent["start"] <= child["start"] <= child["end"] <= parent["end"]

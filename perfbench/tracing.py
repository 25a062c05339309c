"""The traced run: one workload broken down by layer.

Runs in its own process with the Spark event log on (a local file; the UI
stays off). After a cold warm-up operation it times cumulative prefixes of
the pipeline, built from the public layer functions and each written to a
noop sink under its own job description:

    scan, +enrich_extract, +salted_repartition, +enrich_joins,
    +parse_stage, +route_stage and sort

and then the real operation. A layer's self time is its prefix minus the
one before; the commit layer gets the rest of the real operation, so the
self times telescope to the traced operation's wall time. Bytes, task and
GC time, spill, fetch wait, scanned rows and plan shapes come from the
event log (``eventlog.py``). The end-to-end metrics never come from here.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time

from eventlog import summarize
from harness import (
    N_GROUPS, WORK, COMMITTED, Op, prepare_input, setup, timed_op,
)
from spans import Tracer, prefix_deltas

PREFIXES = ["scan", "extract", "exchange", "joins", "parse", "route_sort"]
#: passes over the prefixes; walls are medians, event-log totals means
PASSES = 2


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _label(spark, label: str) -> None:
    spark.sparkContext.setJobDescription(label)


def _untraced_run_s(name: str) -> list[float]:
    """Warm wall times (``run_s``) of the untraced runs of this workload
    recorded in this checkout."""
    path = os.path.join(WORK, "results.jsonl")
    if not os.path.exists(path):
        return []
    out = []
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if rec.get("workload") == name and not rec.get("trace"):
                out.append(rec["run_s"])
    return out


def pending_groups(op: Op) -> list[int]:
    """Commit groups the real operation writes."""
    return [g for g in range(N_GROUPS) if not (op.resume and g in COMMITTED)]


def run_prefixes(spark, op: Op, source: str, tracer: Tracer) -> tuple[dict, float]:
    """Median wall time of each cumulative prefix over the rows the real
    operation processes (``PASSES`` passes), and the combined-lookup build
    time."""
    from pyspark.sql import functions as F

    from logboost_spark.fixtures.lookups import build_lookup_dfs
    from logboost_spark.operators.enrich import enrich_extract, enrich_joins
    from logboost_spark.parsers.formats import parse_stage
    from logboost_spark.plans.route import route_stage, salted_repartition

    groups = pending_groups(op)
    src = spark.read.parquet(source).filter(F.col("grp").isin(groups)).drop("grp")
    flags = set(op.flags)
    use = {f"use_{k}": f"--no-{k}" not in flags for k in ("ti", "dns", "whois", "idb")}
    # the same fresh copy main.main takes, so the combined lookup is rebuilt
    lookups = {k: v for k, v in build_lookup_dfs(spark).items()
               if isinstance(k, str) and not k.startswith("_")}
    parts = spark.sparkContext.defaultParallelism * len(groups)

    x = enrich_extract(src)
    r = salted_repartition(x, parts, 64, sort_cols=None)
    t0 = time.perf_counter()
    with tracer.span("lookup_build", op=1):
        _label(spark, "lookup_build")
        j = enrich_joins(r, lookups, **use)
    build_s = time.perf_counter() - t0
    parse = "--no-parse" not in flags
    p = parse_stage(j) if parse else j
    q = route_stage(p).sortWithinPartitions("sink", "conv_id", "turn_idx")
    samples: dict[str, list[float]] = {}
    for i in range(PASSES):
        with tracer.span(f"prefixes#{i}", op=1):
            for name, df in zip(PREFIXES, [src, x, r, j, p, q]):
                if name == "parse" and not parse:
                    continue  # the layer is off: no prefix, zero self time
                _label(spark, f"prefix:{name}")
                with tracer.span(f"prefix:{name}#{i}", op=1) as s:
                    _noop(df)
                samples.setdefault(name, []).append(s["end"] - s["start"])
    return {k: statistics.median(v) for k, v in samples.items()}, build_s


def read_side(spark, op: Op, tracer: Tracer) -> dict:
    """The resume scan and the read_sinks scan, timed on the committed output."""
    from logboost_spark.plans.checkpoint import committed_groups, read_sinks

    with tracer.span("resume_scan", op=2) as a:
        committed_groups(op.out, N_GROUPS)
    _label(spark, "read_sinks")
    with tracer.span("read_sinks", op=2) as b:
        _noop(read_sinks(spark, op.out))
    return {"resume_scan": a["end"] - a["start"], "read_sinks": b["end"] - b["start"]}


def output_bytes(op: Op) -> dict:
    from checks import column_bytes, combined_files, file_bytes, sink_files
    from logboost_spark.plans.route import SINKS

    files = [f for s in SINKS for f in sink_files(op.out, s)]
    out = {f"sink_bytes.{s}": file_bytes(sink_files(op.out, s)) for s in SINKS}
    out.update({f"sink_bytes.{k}": v for k, v in column_bytes(files).items()})
    out["combine_bytes"] = file_bytes(combined_files(op.out)) if op.combine else 0
    return out


def group_walls(op: Op) -> list[float]:
    """wall_sec of the manifests the real operation committed."""
    from logboost_spark.plans.checkpoint import MANIFEST_DIR

    walls = []
    for g in pending_groups(op):
        with open(os.path.join(op.out, MANIFEST_DIR, f"group-{g:04d}.json")) as f:
            walls.append(float(json.load(f)["wall_sec"]))
    return walls


def run_traced(name: str, seed: int, cores: int, t_process: float) -> tuple[dict, dict]:
    op, counts, gen_s = prepare_input(name, seed, cores)
    source = op.source
    elog = os.path.join(WORK, "eventlog", f"{name}-s{seed}")
    shutil.rmtree(elog, ignore_errors=True)
    tracer = Tracer()
    with tracer.span("setup", op=0):
        sess, _, layers = setup(cores, source, t_process + gen_s, event_log_dir=elog)
    spark = sess.spark
    log: list = []
    try:
        _label(spark, "warmup")
        timed_op(op, counts, log, sess.jvm_pid(), around=tracer.span("warmup", op=0))
        walls, build_s = run_prefixes(spark, op, source, tracer)
        _label(spark, "op")
        op_s = timed_op(op, counts, log, sess.jvm_pid(), around=tracer.span("op", op=1))["wall_s"]
        manifest_walls = group_walls(op)
        written = output_bytes(op)
        reads = read_side(spark, op, tracer) if op.resume else {}
    finally:
        sess.stop()
    (log_file,) = os.listdir(elog)  # one application, one log
    ev = summarize(os.path.join(elog, log_file))
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tracer.write(os.path.join(WORK, "traces", f"{name}-s{seed}.json"))

    turns = op.turns
    source_loc = os.path.abspath(source)
    base = _untraced_run_s(name)
    ran = [k for k in PREFIXES if k in walls]
    zero = dict.fromkeys(PREFIXES, 0.0)
    deltas = zero | prefix_deltas([(k, walls[k]) for k in ran])
    task = zero | prefix_deltas([(k, ev.labels[f"prefix:{k}"].task_s / PASSES) for k in ran])
    gc = zero | prefix_deltas([(k, ev.labels[f"prefix:{k}"].gc_s / PASSES) for k in ran])
    combine_s = ev.execution_seconds("op", writes_to="/combined")
    opl = ev.labels["op"]
    m = {
        "session.start_s": (layers["session.start_s"], "s"),
        "fixtures.lookups.load_s": (layers["fixtures.lookups.load_s"], "s"),
        "operators.enrich.lookup_build_s": (build_s, "s"),
        "plans.pipeline.plan_s": (ev.plan_seconds("op"), "s"),
        "sources.scan_s": (deltas["scan"], "s"),
        "sources.input_bytes_per_turn": (ev.scan_bytes("op", source_loc) / turns, "B/turn"),
        "functions.ip.extract_s": (deltas["extract"], "s"),
        "functions.ip.task_s": (task["extract"], "s"),
        "functions.ip.gc_s": (gc["extract"], "s"),
        "plans.route.exchange_s": (deltas["exchange"], "s"),
        "plans.route.route_sort_s": (deltas["route_sort"], "s"),
        "plans.route.shuffle_write_bytes_per_turn": (opl.shuffle_write_bytes / turns, "B/turn"),
        "plans.route.shuffle_fetch_wait_s": (opl.fetch_wait_s, "s"),
        "plans.route.spill_bytes": (opl.spill_bytes, "B"),
        "plans.route.task_skew": (ev.task_skew("op"), "ratio"),
        "plans.route.partition_bytes_skew": (ev.partition_bytes_skew("op"), "ratio"),
        "plans.route.gc_s": (gc["exchange"] + gc["route_sort"], "s"),
        "operators.enrich.joins_s": (deltas["joins"], "s"),
        "operators.enrich.fact_probes": (ev.plan_node_count("op", "BroadcastHashJoin"), "count"),
        "operators.enrich.broadcast_bytes": (ev.broadcast_bytes("op"), "B"),
        "operators.enrich.task_s": (task["joins"], "s"),
        "operators.enrich.gc_s": (gc["joins"], "s"),
        "parsers.formats.parse_s": (deltas["parse"], "s"),
        "parsers.formats.python_udf_nodes": (ev.plan_node_count("op", "ArrowEvalPython"), "count"),
        "parsers.formats.python_bytes_per_turn": (opl.python_bytes_sent / turns, "B/turn"),
        "parsers.formats.task_s": (task["parse"], "s"),
        "parsers.formats.gc_s": (gc["parse"], "s"),
        "plans.checkpoint.write_s": (op_s - walls["route_sort"] - build_s - combine_s, "s"),
        "plans.checkpoint.group_wall_max_s": (max(manifest_walls), "s"),
        "plans.checkpoint.group_wall_median_s": (statistics.median(manifest_walls), "s"),
        "plans.checkpoint.rows_read_per_turn": (ev.scan_rows("op", source_loc) / rows_to_read(op), "rows/turn"),
        **{f"plans.checkpoint.{k}": (v, "B") for k, v in written.items() if k.startswith("sink_bytes.")},
        "plans.checkpoint.resume_scan_s": (reads.get("resume_scan", 0.0), "s"),
        "plans.checkpoint.read_sinks_s": (reads.get("read_sinks", 0.0), "s"),
        "plans.checkpoint.combine_write_s": (combine_s, "s"),
        "plans.checkpoint.combine_bytes_per_turn": (written["combine_bytes"] / turns, "B/turn"),
        "trace.op_s": (op_s, "s"),
        "trace.overhead_s": (op_s - statistics.median(base) if base else 0.0, "s"),
        "trace.overhead_base_runs": (len(base), "count"),
    }
    detail = {"turns": turns, "prefix_walls_s": walls, "ops": log,
              "group_walls_s": manifest_walls}
    return m, detail


def rows_to_read(op: Op) -> int:
    """Input rows the real operation has to read: those of the groups it
    writes (every turn unless it resumes)."""
    from checks import footer_rows

    return footer_rows([
        f for g in pending_groups(op)
        for f in glob.glob(os.path.join(op.source, f"grp={g}", "*.parquet"))
    ])

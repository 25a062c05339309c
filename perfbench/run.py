"""Benchmark of the transcript pipeline CLI, one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each timed operation is one in-process call
of the CLI entry ``main.main(argv)`` against a warm session, so it covers
everything a CLI invocation does after session start: the lookup copy,
the combined-lookup build, ``run_pipeline``, ``sink_counts`` and
``--combine``. Every operation's output is checked against the DuckDB
oracle. The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
records the host and the raw samples.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
workload with the Spark event log on and reports the per-layer breakdown
(see ``perfbench/tracing.py``). See ``perfbench/README.md`` for the
workloads, the metrics and what each layer metric should move.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import (  # noqa: E402
    ROOT, WORK, WORKLOADS, prepare_input, setup, sink_bytes,
    timed_op, tree_peak_rss_kb,
)

#: warm operations per run at least, whatever ``--seconds``: each warm
#: operation costs less than the one before while the JIT settles, so a
#: count that followed the host's speed would move the median with it
WARM_MIN = 2


def run_untraced(name: str, seed: int, seconds: float, cores: int) -> tuple[dict, dict]:
    """End-to-end metrics: set-up once from process start (input
    preparation excluded) in a fresh JVM, as a CLI call pays it, then one
    cold operation, then warm operations until ``seconds`` have passed
    (at least ``WARM_MIN``)."""
    op, counts, gen_s = prepare_input(name, seed, cores)
    sess, setup_s, _ = setup(cores, op.source, T_PROCESS + gen_s)
    log: list = []
    try:
        pid = sess.jvm_pid()
        cold = timed_op(op, counts, log, pid)
        warm = []
        t0 = time.perf_counter()
        while len(warm) < WARM_MIN or time.perf_counter() - t0 < seconds:
            warm.append(timed_op(op, counts, log, pid))
        rss_kb = tree_peak_rss_kb(pid)
        bytes_out = sink_bytes(op)
    finally:
        sess.stop()
    failed = sum(1 for e in log if e["errors"])
    run_cpu_s = statistics.median(w["cpu_s"] for w in warm)
    metrics = {
        "setup_s": (setup_s, "s"),
        "cold_cpu_s": (cold["cpu_s"], "cpu-s"),
        "run_cpu_s": (run_cpu_s, "cpu-s"),
        "turns_per_cpu_s": (op.turns / run_cpu_s, "turns/cpu-s"),
        "peak_rss_mb": (rss_kb / 1024, "MB"),
        "sink_bytes_per_turn": (bytes_out / op.turns, "B/turn"),
        "ok_rate": (1 - failed / len(log), "fraction"),
    }
    detail = {
        "prepare_s": gen_s, "turns": op.turns,
        "cold_run_s": cold["wall_s"],
        "run_s": statistics.median(w["wall_s"] for w in warm),
        "warm_wall_samples_s": [w["wall_s"] for w in warm],
        "warm_cpu_samples_s": [w["cpu_s"] for w in warm],
        "ops": log,
    }
    return metrics, detail


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "main.py"))
            and os.path.isdir(os.path.join(ROOT, "logboost_spark"))):
        print(f"perfbench: no program at {ROOT} (main.py, logboost_spark/)", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    from host import cores as host_cores, host_record, prepare_env

    prepare_env(ROOT, WORK)
    cores = host_cores()
    if args.trace:
        from tracing import run_traced

        metrics, detail = run_traced(args.workload, args.seed, cores, T_PROCESS)
    else:
        metrics, detail = run_untraced(args.workload, args.seed, args.seconds, cores)
    failed = sum(1 for e in detail["ops"] if e["errors"])
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host_record(ROOT), **detail,
        "metrics": {k: v for k, (v, _) in metrics.items()},
    }
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({k: v for k, v in record.items() if k not in ("ops", "metrics")}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(detail["ops"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

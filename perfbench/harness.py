"""Shared pieces of a benchmark run: workloads, the session, set-up and
the timed, checked CLI operation."""

from __future__ import annotations

import contextlib
import functools
import io
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
N_GROUPS = 4
#: groups whose manifests survive the simulated kill on resume_combine
COMMITTED = (0, 1)
#: the uncommitted group whose data files stay on disk
STALE = 2


class Workload(NamedTuple):
    flags: list          # CLI flags on top of the defaults
    turns: int           # input turns
    hot_share: float     # share of turns moved into one extra-hot conversation
    oracle_full: bool    # oracle with the WHOIS/IDB joins (enriched_cte full=)


WORKLOADS = {
    # CLI defaults: TI, DNS, WHOIS, IDB, parse, raw fall-through
    "pipeline_full": Workload([], 30_000, 0.0, True),
    "pipeline_skew_route": Workload(
        ["--no-dns", "--no-whois", "--no-idb", "--no-parse"], 30_000, 0.10, False
    ),
    "resume_combine": Workload(["--resume", "--combine"], 30_000, 0.0, True),
}


@functools.lru_cache(maxsize=None)
def inputs_dir() -> str:
    """Cache of inputs, oracle counts and resume templates for the program
    in this checkout (keyed by a hash of its sources and of the files that
    generate the inputs and define the workloads)."""
    import inputs

    also = (os.path.abspath(inputs.__file__), os.path.abspath(__file__))
    return os.path.join(WORK, "inputs", inputs.program_key(ROOT, also))


def _fixed_groups(name: str) -> tuple:
    return COMMITTED if "--resume" in WORKLOADS[name].flags else ()


def input_dir(name: str, seed: int) -> str:
    from inputs import input_key

    w = WORKLOADS[name]
    return os.path.join(inputs_dir(), input_key(
        seed, w.turns, N_GROUPS, w.hot_share, w.oracle_full, _fixed_groups(name)))


def template_dir(name: str) -> str:
    """Complete output of a run over seed 0, cut into the half-committed
    state before each resume operation."""
    turns = WORKLOADS[name].turns
    return os.path.join(inputs_dir(), f"template-{name}-n{turns}-g{N_GROUPS}")


class Op:
    """One CLI call: its argv, output dir and how to reset that dir."""

    def __init__(self, name: str, source: str, out: str, turns: int, cores: int):
        self.flags = WORKLOADS[name].flags
        self.turns = turns
        self.resume = "--resume" in self.flags
        self.combine = "--combine" in self.flags
        self.source, self.out = source, out
        self.template = template_dir(name)
        self.argv = [
            "--input", source, "--output", out,
            "--groups", str(N_GROUPS), "--group-col", "grp",
            "--cores", str(cores), *self.flags,
        ]

    def reset(self) -> None:
        """Untimed. Without resume: an empty output. With resume: the
        half-committed state a kill leaves, cut from the template's
        complete output: ``COMMITTED`` groups keep their manifests, the
        ``STALE`` group keeps its data files but loses its manifest, the
        other groups and the combined table are gone."""
        shutil.rmtree(self.out, ignore_errors=True)
        if not self.resume:
            return
        from logboost_spark.plans.checkpoint import MANIFEST_DIR

        shutil.copytree(self.template, self.out)
        for g in range(N_GROUPS):
            if g in COMMITTED:
                continue
            os.remove(os.path.join(self.out, MANIFEST_DIR, f"group-{g:04d}.json"))
            if g != STALE:
                shutil.rmtree(os.path.join(self.out, "data", f"group={g}"), ignore_errors=True)
        shutil.rmtree(os.path.join(self.out, "combined"), ignore_errors=True)

    def run(self) -> tuple[float, dict]:
        """Timed: main.main(argv). Returns (wall seconds, printed counts)."""
        import main

        buf = io.StringIO()
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(buf):
            rc = main.main(self.argv)
        wall = time.perf_counter() - t0
        if rc != 0:
            raise RuntimeError(f"main.main returned {rc}")
        return wall, json.loads(buf.getvalue().strip().splitlines()[-1])["sink_counts"]


class Session:
    """A host-sized SparkSession plus the JVM it runs in."""

    def __init__(self, cores: int, event_log_dir: str | None = None):
        self.cores, self.event_log_dir = cores, event_log_dir
        self.spark = self._start()

    def _start(self):
        from host import session_conf
        from logboost_spark.session import get_spark

        return get_spark(
            app_name="perfbench", cores=self.cores,
            extra_conf=session_conf(self.event_log_dir),
        )

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop the context and wait until the JVM and its workers exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc = gateway.proc
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def _tree(pid: int) -> list[int]:
    """``pid`` and its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_peak_rss_kb(pid: int) -> int:
    """Sum of VmHWM (peak resident set) over ``pid`` and its descendants:
    the driver JVM plus the Python daemon and workers it forked."""
    total = 0
    for p in _tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by this process and by ``pid`` with its
    descendants, exited ones included: the driver JVM (its JIT and GC
    threads too), the Python daemon and its workers. Unlike wall time it
    leaves out time the host's hypervisor gives to other tenants."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in _tree(pid) if pid else []:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    me = os.times()
    return total / tick + me.user + me.system


def prepare_input(name: str, seed: int, cores: int) -> tuple[Op, dict, float]:
    """(operation, oracle counts, seconds spent), built once per seed.

    What needs a JVM (Spark's bucket of every conversation id, and on
    resume workloads the template) is built once per checkout in a process
    of its own, which exits before the measured set-up starts: the
    program's Python UDFs stay bound to the first JVM a process starts, and
    the measured JVM must start cold. A new seed's input is then built here
    without a JVM."""
    t0 = time.perf_counter()
    resume = "--resume" in WORKLOADS[name].flags
    if not os.path.exists(bucket_table_path()) or (
            resume and not os.path.isdir(template_dir(name))):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), name, str(cores)],
            check=True, timeout=900,
        )
    source, counts = _ensure_input(name, seed)
    op = Op(name, source, os.path.join(WORK, "out", f"{name}-s{seed}"),
            sum(counts.values()), cores)
    return op, counts, time.perf_counter() - t0


def bucket_table_path() -> str:
    return os.path.join(inputs_dir(), f"buckets-g{N_GROUPS}.json")


def bucket_table(spark, n: int, groups: int) -> list[int]:
    """Entry k is ``pmod(xxhash64(conv_id), groups)`` of conversation id
    ``CONV_FMT % k``, computed by Spark."""
    from pyspark.sql import functions as F

    from inputs import CONV_FMT

    rows = spark.range(n).select(
        "id", F.pmod(F.xxhash64(F.format_string(CONV_FMT, "id")), F.lit(groups))
    ).collect()
    table = [0] * n
    for k, g in rows:
        table[k] = int(g)
    return table


def _ensure_input(name: str, seed: int) -> tuple[str, dict]:
    from inputs import ensure_input, table_bucket

    with open(bucket_table_path()) as f:
        bucket = table_bucket(json.load(f))
    w = WORKLOADS[name]
    return ensure_input(input_dir(name, seed), seed, w.turns, w.hot_share,
                        w.oracle_full, _fixed_groups(name), bucket)


def _prepare(name: str, cores: int) -> None:
    """Build the bucket table and, on resume workloads, the template, in
    one JVM. Caches of other program versions are removed."""
    parent = os.path.dirname(inputs_dir())
    if os.path.isdir(parent):
        for d in os.listdir(parent):
            if os.path.join(parent, d) != inputs_dir():
                shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    os.makedirs(inputs_dir(), exist_ok=True)
    sess = Session(cores)
    try:
        if not os.path.exists(bucket_table_path()):
            # an input of n turns has at most n conversations
            n = max(w.turns for w in WORKLOADS.values())
            tmp = bucket_table_path() + ".tmp"
            with open(tmp, "w") as f:
                json.dump(bucket_table(sess.spark, n, N_GROUPS), f)
            os.replace(tmp, bucket_table_path())
        if "--resume" in WORKLOADS[name].flags and not os.path.isdir(template_dir(name)):
            _build_template(name, cores)
    finally:
        sess.stop()


def _build_template(name: str, cores: int) -> None:
    """A complete, checked run over seed 0 from an empty output."""
    from checks import check_output

    source, counts = _ensure_input(name, 0)
    tmp = template_dir(name) + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    op = Op(name, source, tmp, sum(counts.values()), cores)
    _, printed = op.run()
    bad = check_output(tmp, counts, printed, op.turns, op.combine)
    if bad:
        raise RuntimeError(f"resume template is wrong: {bad}")
    os.replace(tmp, op.template)


def setup(cores: int, source: str, t_start: float,
          event_log_dir: str | None = None) -> tuple[Session, float, dict]:
    """Session up in a fresh JVM, lookups loaded, input registered, timed
    from ``t_start``: (session, seconds, layer times)."""
    from logboost_spark.fixtures.lookups import build_lookup_dfs

    t0 = time.perf_counter()
    sess = Session(cores, event_log_dir)
    t1 = time.perf_counter()
    build_lookup_dfs(sess.spark)
    t2 = time.perf_counter()
    sess.spark.read.parquet(source).schema  # noqa: B018 — registers the input
    t3 = time.perf_counter()
    layers = {"session.start_s": t1 - t0, "fixtures.lookups.load_s": t2 - t1}
    return sess, t3 - t_start, layers


def timed_op(op: Op, counts: dict, log: list, jvm_pid: int,
             around=None) -> dict:
    """Reset, run and check one operation and append its record (wall and
    CPU seconds of ``Op.run`` alone, errors) to ``log``. ``around``, a
    context manager such as a span, encloses ``Op.run`` only. An exception
    or a wrong output counts as failed."""
    from checks import check_output

    op.reset()
    t0, c0 = time.perf_counter(), tree_cpu_s(jvm_pid)
    try:
        with around or contextlib.nullcontext():
            wall, printed = op.run()
        cpu = tree_cpu_s(jvm_pid) - c0
        bad = check_output(op.out, counts, printed, op.turns, op.combine)
    except Exception as e:
        traceback.print_exc()
        wall, cpu = time.perf_counter() - t0, tree_cpu_s(jvm_pid) - c0
        bad = [f"exception: {e!r}"]
    rec = {"wall_s": wall, "cpu_s": cpu, "errors": bad}
    log.append(rec)
    for b in bad:
        print(f"perfbench: FAILED OPERATION: {b}", file=sys.stderr)
    return rec


def sink_bytes(op: Op) -> int:
    from checks import combined_files, file_bytes, sink_files
    from logboost_spark.plans.route import SINKS

    total = sum(file_bytes(sink_files(op.out, s)) for s in SINKS)
    return total + (file_bytes(combined_files(op.out)) if op.combine else 0)


if __name__ == "__main__":
    # python3 perfbench/harness.py <workload> <cores>: build what
    # prepare_input finds missing
    sys.path.insert(1, ROOT)
    _prepare(sys.argv[1], int(sys.argv[2]))

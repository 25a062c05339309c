"""Host-sized session settings and the host record stamped on every result.

The benchmark sizes the program from outside, through settings the
program already reads: ``get_spark(cores=, extra_conf=)``,
``SPARK_DRIVER_MEMORY`` and ``SPARK_LOCAL_DIRS``. Cores are always
``nproc`` and the driver heap is an eighth of ``MemTotal`` (capped at
48g), so no default can ask for more than the box has. The heap is
committed whole at start (``-Xms`` equal to it), so the JVM's resident
set does not follow the collector's run-to-run heap sizing.
"""

from __future__ import annotations

import os
import platform
import subprocess


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory(total_kb: int) -> str:
    """An eighth of physical memory, in whole gigabytes, between 1g and 48g."""
    gb = round(total_kb / (8 * 1024 * 1024))
    return f"{min(max(gb, 1), 48)}g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, work: str) -> None:
    """Environment the JVM and its Python workers inherit.

    Must run before the first SparkSession: the pandas-UDF workers import
    the program, so the checkout root goes on their PYTHONPATH, and every
    scratch path (Spark local dirs, JVM and Python temp files) stays
    inside the checkout.
    """
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory(mem_total_kb())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON", "python3")
    # a local-mode run binds to loopback, whether or not the host's own
    # name resolves
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")


def session_conf(event_log_dir: str | None = None) -> dict:
    """extra_conf for get_spark: a quiet console, the whole heap from the
    start and, for traced runs only, a local uncompressed event log (the
    UI stays off)."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the whole heap from the start (-Xms = -Xmx): left to grow, the
        # heap's size, and with it the JVM's resident set and its GC work,
        # followed the collector's timing-driven sizing and spread by a
        # fifth between runs. defaultJavaOptions goes before the program's
        # own spark.driver.extraJavaOptions, which stays in force.
        "spark.driver.defaultJavaOptions": "-Xms" + os.environ["SPARK_DRIVER_MEMORY"],
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _first_line(cmd: list[str], env: dict | None = None) -> str:
    try:
        out = subprocess.run(
            cmd, capture_output=True, text=True, timeout=30, env=env
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    text = (out.stdout or out.stderr).strip()
    return text.splitlines()[0] if out.returncode == 0 and text else "unknown"


def cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def host_record(root: str) -> dict:
    import pyspark

    java = "unknown"
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
        lines = (out.stderr or out.stdout).strip().splitlines()
        java = next(ln for ln in lines if not ln.startswith("Picked up"))
    except (OSError, subprocess.TimeoutExpired, StopIteration):
        pass
    # the benchmark checkout need not be a git repository; never let git
    # walk up into a parent directory's repository
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
    return {
        "nproc": cores(),
        "mem_total_kb": mem_total_kb(),
        "cpu_model": cpu_model(),
        "java": java,
        "pyspark": pyspark.__version__,
        "git_commit": _first_line(["git", "-C", root, "rev-parse", "HEAD"], env),
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
    }

"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; on a real cluster the same settings
apply except master/memory come from spark-submit. AQE is always on so
runtime stats re-plan shuffles (skew-join splitting, partition coalescing)
— required at 100 TB where static planning guesses wrong.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults chosen for scale: AQE on (runtime re-planning), Arrow on
#: (DataFrame <-> pandas transfer and the pandas UDFs of the gate queries
#: and operators; the pipeline plan has none), UTC timestamps everywhere,
#: ANSI off so malformed log data degrades to NULL instead of failing a
#: 1000-executor job 6 hours in (we use try_* semantics throughout anyway).
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.ansi.enabled": "false",
    "spark.ui.enabled": "false",
    "spark.driver.extraJavaOptions": "-Djava.net.preferIPv4Stack=true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # The fused parse+enrich stage generates a lot of code; smaller split
    # methods JIT-compile sooner (measured: steady-state per-group wall
    # reached 1 job earlier, ~15% total win on a 4-group run).
    "spark.sql.codegen.methodSplitThreshold": "256",
    # Transcript text compresses ~5× in parquet and the per-row parse work
    # is heavy, so default 128MB splits starve wide machines (measured:
    # 6/32 cores busy on a 250MB input). 16MB keeps scan parallelism ≈
    # cores even on small-ish inputs; post-shuffle AQE advisory to match.
    # On a 100TB cluster the input dwarfs the core count and these could
    # return to defaults.
    "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(16 * 1024 * 1024),
    # Sink compression: zstd level 1 instead of snappy. Measured on the
    # pinned pipeline (round 5, interleaved reps under host noise):
    # local[32]@16M ~101s vs ~108s snappy, local[2]@4M ~210s vs ~227s —
    # faster at BOTH core counts, because zstd-1 compresses ~30-40%
    # smaller at near-snappy speed, and fewer bytes through the sink is
    # less traffic on the shared memory bus (the saturated-pair
    # bottleneck) and less I/O on a real cluster. Level 1 explicitly:
    # parquet's default level 3 pays more compression CPU for little
    # extra ratio on this data. (zstd SHUFFLE codec and ParallelGC were
    # also screened and measured slower; dictionary-off was worse.)
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.hadoop.parquet.compression.codec.zstd.level": "1",
    # InferFiltersFromConstraints explodes combinatorially on the staged
    # alias chains feeding the CIDR range joins (driver pinned for minutes
    # hashing constraint trees — measured 22s→175s per added join). The
    # inferred not-null filters are worthless here (broadcast lookups),
    # so turn constraint propagation off.
    "spark.sql.constraintPropagation.enabled": "false",
    # Dynamic partition pruning's probe (PartitionPruning.trimAliases)
    # recursively INLINES every projection alias below a join —
    # exponential on the staged extraction alias chain (thread-dumped:
    # driver pinned >7 min in trimAliases on a 3000-row input). Any plan
    # with the extraction chain below the broadcast joins pays it, batch
    # or stream: the scan need not be partitioned, and the salted
    # exchange between extraction and joins is no barrier (measured on
    # 4 cores with the rule on vs off, warm: run_pipeline over the
    # unpartitioned sf0.01 parquet 266 s vs 12 s, the stream gate
    # t_stream_pipeline 67 s vs 6 s, and out of heap with the rule on in
    # a 2g driver). DPP can never fire for this engine: the commit-group
    # partition column is never a join key (lookups join on
    # _join_ip/_join_v4), so the rule is pure planning cost here.
    "spark.sql.optimizer.dynamicPartitionPruning.enabled": "false",
}


#: cap on the default driver heap, whatever the host's memory
_MAX_DRIVER_MB = 48 * 1024


def default_cores() -> int:
    """$SPARK_GRAFT_CPUS, else the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def default_driver_memory() -> str:
    """$SPARK_DRIVER_MEMORY, else 3/8 of physical memory (``MemTotal``),
    capped at 48g. Local mode runs every executor inside the driver JVM,
    whose resident set grows well past its heap (off-heap buffers, code
    cache) next to the Python workers, so a heap near ``MemTotal`` gets
    the JVM OOM-killed."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration):
        total_kb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 1024
    return f"{min(total_kb * 3 // 8 // 1024, _MAX_DRIVER_MB)}m"


def get_spark(
    app_name: str = "logboost_spark",
    cores: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the session; ``extra_conf`` entries override the
    defaults.

    ``cores`` defaults to :func:`default_cores`, the driver heap to
    :func:`default_driver_memory`. Shuffle partitions are 2× cores (at
    least 8) — on a real cluster you would size this to total-cores × 2-3
    and let AQE coalesce.
    """
    if cores is None:
        cores = default_cores()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(2 * cores, 8)))
        .config("spark.driver.memory", default_driver_memory())
    )
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""Per-partition lineage + resumable commits (the north_rule checkpoint).

The reference has no resume story — a killed run restarts from zero.
Here the fact table is hash-bucketed on conv_id into ``n_groups`` commit
groups; each group is processed by one Spark job that (1) overwrites that
group's own output directory (idempotent — a re-run of a half-written
group replaces it) and (2) only then writes a manifest JSON recording the
group's lineage: bucket range, per-sink row counts, input rows, wall
time. A restarted run skips every group whose manifest exists, so
committed partitions are never reprocessed; a crashed group's partial
parquet is overwritten on retry. This is batch Iceberg-commit semantics
(write-then-swap) expressed on a plain file sink — on a real cluster the
same structure maps 1:1 onto `writeTo(...).overwritePartitions()` with
snapshot isolation.

Metrics ride on ``df.observe`` (zero extra passes over the data).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .route import SINKS, salted_repartition

MANIFEST_DIR = "_manifest"


def _manifest_path(out_dir: str, group: int) -> str:
    return os.path.join(out_dir, MANIFEST_DIR, f"group-{group:04d}.json")


def _write_manifest(path: str, entry: dict) -> None:
    """Atomically commit ``entry`` at ``path``: write and fsync a ``.tmp``
    sibling, then rename it into place. A crash leaves either no manifest
    or a whole one, never torn JSON; a leftover ``.tmp`` is not a
    manifest (readers take ``*.json`` only)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(entry, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def committed_groups(out_dir: str, n_groups: int | None = None) -> set[int]:
    """Groups with a committed manifest. When ``n_groups`` is given,
    REFUSES manifests written under a different bucketing: group
    membership is pmod(xxhash64(conv_id), n_groups), so resuming with a
    changed group count would silently skip or double-write
    conversations."""
    mdir = os.path.join(out_dir, MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return set()
    out = set()
    for name in os.listdir(mdir):
        if name.startswith("group-") and name.endswith(".json"):
            g = int(name[6:-5])
            if n_groups is not None:
                with open(os.path.join(mdir, name)) as f:
                    entry = json.load(f)
                rec = entry.get("n_groups")
                if rec is not None and rec != n_groups:
                    raise ValueError(
                        f"{out_dir}: manifest group-{g:04d} was committed with "
                        f"n_groups={rec}, resume requested n_groups={n_groups} — "
                        "refusing (bucketing mismatch would skip/double-write "
                        "conversations); use the original group count or a "
                        "fresh out_dir"
                    )
            out.add(g)
    return out


def _adaptive_partitions_per_group(routed: DataFrame, n_groups: int) -> int:
    """Scale-adaptive post-shuffle partition count for one commit group.

    floor = defaultParallelism (each group job fills the cluster once);
    above that, grow with estimated input bytes per group so partitions
    stay near the session's advisory size instead of ballooning at
    larger scale factors. Derived from runtime stats + conf — no
    constant tuned to local[32] (guide §2: make partitioning
    scale-adaptive, not a constant)."""
    spark = routed.sparkSession
    floor = spark.sparkContext.defaultParallelism
    try:
        total = int(
            str(routed._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        advisory = int(
            spark.conf.get(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", str(64 * 1024 * 1024)
            )
        )
        need = (total // max(n_groups, 1)) // max(advisory, 1) + 1
    except Exception:
        need = 0
    return max(floor, need)


def write_routed(
    routed: DataFrame,
    out_dir: str,
    n_groups: int = 8,
    resume: bool = False,
    partitions_per_group: int | None = None,
    salt_buckets: int = 64,
    reuse_plan: bool = False,
    group_col_name: str | None = None,
    post_shuffle=None,
    routed_factory=None,
) -> list[dict]:
    """Write a routed DataFrame to per-sink parquet with group commits.

    Each commit group is its own Spark job (that's what makes the commit
    granular and the run resumable), so naively the upstream plan runs
    n_groups times. ``reuse_plan`` persists the routed frame once and
    lets every group job read from it — measured NET-NEGATIVE here
    (map-column rows blow up the heap and GC costs more than the
    recompute saves), so it defaults off.

    The production path is ``group_col_name``: when the SOURCE layout is
    bucket-partitioned by commit group (Iceberg `bucket(conv_id)` — or a
    parquet partition column locally), pass that column's name and each
    group job's filter can become partition PRUNING at the scan, so the
    n_groups jobs touch each input row exactly once overall. Pruning
    reaches the scan when no barrier sits between scan and filter — with
    enrich's default extraction localCheckpoint (a LogicalRDD the filter
    cannot push below) the input is instead touched once via the
    checkpoint cache; pass ``barrier=False`` to enrich (or use the
    Iceberg layout, where the filter prunes at snapshot planning) for
    true scan-level pruning. Either way each input row is read once.
    The column must hold pmod(xxhash64(conv_id), n_groups) (conv_id
    never straddles groups); the fallback computes exactly that
    expression on the fly for unpartitioned sources — same values, just
    no pruning. The stored column's range is VALIDATED against this
    run's n_groups before any group job: a source partitioned with more
    groups than the run (e.g. written with pmod(...,8) but n_groups=4)
    would otherwise silently drop every row with group >= n_groups from
    all sinks while manifests still commit.

    ``post_shuffle`` is the byte-diet hook (guide §2.3 / §8: decide
    placement with small rows, move heavy formatting after the
    exchange): when given, ``routed`` carries only slim pre-format
    columns, the salted exchange moves THOSE, and ``post_shuffle(df)``
    (broadcast joins / parse / sentinel formatting — must be
    deterministic, per-row, and must produce the ``sink`` column) runs
    on the shuffled partitions; the (sink, conv_id, turn_idx) sort then
    runs directly above the write so the dynamic-partition writer sees
    sorted input either way. Row-for-row identical output, ~40% fewer
    shuffle bytes for the transcript pipeline.

    ``routed_factory`` (no-arg → DataFrame equivalent to ``routed``):
    REQUIRED for correct results when group jobs overlap and ``routed``
    carries non-trivial expressions. Spark expression trees hold mutable
    evaluation state, and two concurrently executing jobs built from the
    SAME driver-side tree instances produce cross-row value bleed
    (reproduced: ~1 corrupted row per 2k-row run with the extraction
    expressions shared between 2 in-flight group jobs; 0 in 25 runs with
    per-job trees). Each concurrent group job therefore derives its own
    fresh tree from the factory; without a factory, overlapping is
    disabled and groups run sequentially.

    Returns the manifest entries written this run.
    """
    os.makedirs(os.path.join(out_dir, MANIFEST_DIR), exist_ok=True)
    done = committed_groups(out_dir, n_groups=n_groups) if resume else set()
    if group_col_name and len(done) < n_groups:
        gc = F.col(group_col_name).cast("bigint")
        bad = (
            routed.filter(gc.isNull() | (gc < 0) | (gc >= n_groups))
            .select(group_col_name)
            .limit(1)
            .collect()
        )
        # cheap: on a group-partitioned source this filter IS partition
        # pruning, so a clean layout lists zero files; early-exit limit(1)
        # bounds the dirty case
        if bad:
            raise ValueError(
                f"{group_col_name}={bad[0][0]!r} is outside this run's "
                f"n_groups={n_groups} bucketing — the source was partitioned "
                "with a different group count; rows outside [0, n_groups) "
                "would be silently dropped from every sink. Re-run with the "
                "source's original group count or re-bucket the source."
            )
    if reuse_plan and len(done) < n_groups:
        routed = routed.persist()
    if post_shuffle is not None and partitions_per_group is None:
        partitions_per_group = _adaptive_partitions_per_group(routed, n_groups)

    def _run_group(g: int) -> dict:
        # fresh per-job lineage (see routed_factory note above) + a
        # per-job group-col expression: no tree instance is shared with
        # another in-flight job
        # reuse_plan pins the persisted shared frame, so it stays on the
        # sequential path (see the concurrency condition below)
        src = (
            routed_factory()
            if routed_factory is not None and not reuse_plan
            else routed
        )
        gcol = (
            F.col(group_col_name).cast("bigint")
            if group_col_name
            else F.pmod(F.xxhash64("conv_id"), F.lit(n_groups))
        )
        sub = src.filter(gcol == g)
        if group_col_name:
            sub = sub.drop(group_col_name)
        obs = Observation(f"group-{g}")
        counters = [F.count(F.lit(1)).alias("rows")] + [
            F.sum(F.when(F.col("sink") == s, 1).otherwise(0)).alias(f"rows_{s}")
            for s in SINKS
        ]
        if post_shuffle is None:
            sub = sub.observe(obs, *counters)
            sub = salted_repartition(
                sub, partitions_per_group, salt_buckets,
                sort_cols=("sink", "conv_id", "turn_idx"),
            )
        else:
            sub = salted_repartition(
                sub, partitions_per_group, salt_buckets, sort_cols=None
            )
            sub = post_shuffle(sub)
            sub = sub.observe(obs, *counters)
            sub = sub.sortWithinPartitions("sink", "conv_id", "turn_idx")
        t0 = time.time()
        target = os.path.join(out_dir, "data", f"group={g}")
        sub.write.partitionBy("sink").mode("overwrite").parquet(target)
        try:
            metrics = dict(obs.get.items())
        except Exception:
            # Observation.get asserts when an all-empty group's plan
            # collapses to a zero-task LocalTableScan under AQE (the
            # observe node never fires) — but a listener race/timeout
            # raises the same way for a group whose data WAS written, and
            # blindly zero-filling would corrupt sink_counts downstream.
            # Recount from the parquet just committed: exact (sink is a
            # partition column of the written layout) and only ever paid
            # on this exceptional path. An empty group has no data files,
            # so the read itself fails → genuine zeros.
            try:
                agg = (
                    sub.sparkSession.read.parquet(target)
                    .groupBy("sink")
                    .count()
                    .collect()
                )
                per = {f"rows_{s}": 0 for s in SINKS}
                for r in agg:
                    per[f"rows_{r['sink']}"] = int(r["count"])
                metrics = {"rows": sum(per.values()), **per}
            except Exception:
                metrics = {"rows": 0, **{f"rows_{s}": 0 for s in SINKS}}
        entry = {
            "group": g,
            "n_groups": n_groups,
            "salt_buckets": salt_buckets,
            "path": target,
            "wall_sec": round(time.time() - t0, 3),
            **metrics,
        }
        # manifest write is the commit point — crash before this line
        # leaves the group uncommitted and it is redone (overwrite) on resume
        _write_manifest(_manifest_path(out_dir, g), entry)
        return entry

    # Overlap independent group jobs (guide §2.6): commit groups touch
    # disjoint inputs (partition pruning / disjoint hash buckets) and
    # disjoint output dirs, so 2 in flight lets the next group's tasks
    # back-fill executors idled by the current group's straggler tail
    # (FIFO scheduling = exactly that back-fill). Commit semantics are
    # unchanged — each group still writes its own manifest only after
    # its own write completes; a crash leaves at most the in-flight
    # groups uncommitted and resume redoes them.
    todo = [g for g in range(n_groups) if g not in done]
    manifests: list[dict] = []
    if len(todo) > 1 and routed_factory is not None and not reuse_plan:
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        spark = routed.sparkSession
        target_fn = inheritable_thread_target(spark)(_run_group)
        with ThreadPoolExecutor(max_workers=2) as pool:
            manifests = list(pool.map(target_fn, todo))
    else:
        manifests = [_run_group(g) for g in todo]
    if reuse_plan:
        routed.unpersist()
    return manifests


def read_sinks(spark, out_dir: str) -> DataFrame:
    """Read everything committed so far (partition columns group, sink)."""
    return spark.read.option("basePath", os.path.join(out_dir, "data")).parquet(
        os.path.join(out_dir, "data", "group=*", "sink=*")
    )


def sink_counts(spark, out_dir: str) -> dict[str, int]:
    """Aggregate per-sink row counts from the lineage manifests alone —
    no data re-scan (the A3-style verified aggregate)."""
    mdir = os.path.join(out_dir, MANIFEST_DIR)
    totals: dict[str, int] = {s: 0 for s in SINKS}
    for name in sorted(os.listdir(mdir)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(mdir, name)) as f:
            e = json.load(f)
        for s in SINKS:
            totals[s] += int(e.get(f"rows_{s}", 0) or 0)
    return totals

"""Per-partition lineage + resumable commits (the north_rule checkpoint).

The reference has no resume story — a killed run restarts from zero.
Here every write goes through one committer, :func:`commit_chunk`,
which writes a chunk of commit groups with one Spark job. The batch
pipeline (:func:`write_routed`) hash-buckets the fact table on conv_id
into ``n_groups`` groups and commits the pending ones
``GROUPS_PER_JOB`` at a time, one job at a time; the stream
(``plans.streaming``) commits micro-batch N as group N. Each job (1)
removes its groups' manifests, (2) deletes their output directories
(idempotent — a re-run of a half-written group replaces it), (3) writes
their rows under ``data/group=g/sink=s``, and (4) only then writes one
manifest JSON per group recording its lineage: group, bucketing, rows
written per sink, wall time. The manifest is the per-group commit
point: a restarted batch run skips every group whose manifest exists,
so committed groups are never reprocessed, and a kill loses at most the
``GROUPS_PER_JOB`` groups of the job in flight. Readers see committed
groups only (:func:`read_sinks`, :func:`sink_counts`). This is batch
Iceberg-commit semantics (write-then-swap) expressed on a plain file
sink — on a real cluster the same structure maps 1:1 onto
`writeTo(...).overwritePartitions()` with snapshot isolation.

Metrics ride on ``df.observe`` (zero extra passes over the data).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .route import SALT_BUCKETS, SINKS, salt

MANIFEST_DIR = "_manifest"
#: commit groups written by one Spark job: each job costs its planning,
#: broadcasts, task deserialization and file commit whatever its rows, so
#: fewer jobs is less CPU; it is also how many groups a kill can lose
GROUPS_PER_JOB = 2


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


def read_manifests(out_dir: str) -> dict[int, dict]:
    """Committed group -> its manifest entry."""
    mdir = os.path.join(out_dir, MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return {}
    out = {}
    for name in os.listdir(mdir):
        if name.startswith("group-") and name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                out[int(name[6:-5])] = json.load(f)
    return out


def committed_groups(out_dir: str, n_groups: int | None = None) -> set[int]:
    """Groups with a committed manifest. When ``n_groups`` is given (a
    resume), REFUSES any manifest not written under that bucketing: one
    with another ``n_groups``, or with none (a ``--stream`` output, whose
    groups are micro-batches). Group membership is
    pmod(xxhash64(conv_id), n_groups), so resuming over another bucketing
    would silently skip or double-write conversations."""
    entries = read_manifests(out_dir)
    for g, entry in sorted(entries.items()):
        if n_groups is not None and entry.get("n_groups") != n_groups:
            raise ValueError(
                f"{out_dir}: manifest group-{g:04d} was committed with "
                f"n_groups={entry.get('n_groups')}, resume requested "
                f"n_groups={n_groups} — refusing (bucketing mismatch would "
                "skip/double-write conversations); use the original group "
                "count or a fresh out_dir"
            )
    return set(entries)


def _uncommit(out_dir: str, groups: list[int]) -> None:
    """Remove the groups' manifests, then their data: from the first
    step on, readers skip these groups instead of reading half-deleted
    data under a committed manifest."""
    for g in groups:
        if os.path.exists(path := _manifest_path(out_dir, g)):
            os.remove(path)
    for g in groups:
        shutil.rmtree(os.path.join(out_dir, "data", f"group={g}"), ignore_errors=True)


def _adaptive_partitions_per_group(
    routed: DataFrame, n_groups: int, groups_in_job: int
) -> int:
    """Scale-adaptive post-shuffle partition count for each group of a
    commit job that writes ``groups_in_job`` groups.

    floor = ceil(defaultParallelism / groups_in_job) (each job's tasks
    fill the cluster once; defaultParallelism per group would give a
    2-group job two waves of tasks and twice the files per sink);
    above that, grow with estimated input bytes per group so partitions
    stay near the session's advisory size instead of ballooning at
    larger scale factors. Derived from runtime stats + conf — no
    constant tuned to local[32] (guide §2: make partitioning
    scale-adaptive, not a constant)."""
    spark = routed.sparkSession
    floor = -(-spark.sparkContext.defaultParallelism // groups_in_job)
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


def _recount(spark, target: str) -> dict:
    """Per-sink counts of one group read back from its written parquet
    (``sink`` is a partition column of the layout); zeros when the group
    wrote no data, i.e. ``target`` does not exist. A read-back that fails
    raises, so the group is not committed and is redone on resume."""
    per = {f"rows_{s}": 0 for s in SINKS}
    if os.path.isdir(target):
        for r in spark.read.parquet(target).groupBy("sink").count().collect():
            per[f"rows_{r['sink']}"] = int(r["count"])
    return {"rows": sum(per.values()), **per}


def commit_chunk(
    sub: DataFrame,
    out_dir: str,
    chunk: list[int],
    parts: int,
    post_shuffle: Callable[[DataFrame], DataFrame],
    n_groups: int | None = None,
) -> list[dict]:
    """Commit the groups ``chunk`` of ``sub`` (only their rows, with an
    int ``group`` column) with ONE Spark job. Rows are placed with
    ``repartitionById``: partition ``slot * parts + pmod(hash(conv_id,
    salt), parts)``, ``slot`` being the group's index in ``chunk``, so
    every task holds one group and a hot conversation still spreads over
    ``parts`` tasks. ``parts`` is sized to the job
    (``_adaptive_partitions_per_group(..., len(chunk))``): each job's
    ``len(chunk) * parts`` tasks fill the cluster once. Then
    ``post_shuffle`` runs, one ``observe`` counts rows per (group, sink),
    and the rows are sorted by (group, sink, conv_id, turn_idx) and
    appended ``partitionBy("group", "sink")`` into ``data/``. Each
    group's manifest is removed before its data is touched and written
    after the data landed. ``n_groups`` (the hash bucketing) is recorded
    in the manifests when given.

    ``post_shuffle`` is the byte-diet hook (guide §2.3 / §8: decide
    placement with small rows, move heavy formatting after the
    exchange): ``sub`` carries only slim pre-format columns, the salted
    exchange moves THOSE, and ``post_shuffle(df)`` (broadcast joins /
    parse / sentinel formatting — must be deterministic, per-row, must
    keep the ``group`` column and must produce the ``sink`` column) runs
    on the shuffled partitions; the sort then runs directly above the
    write so the dynamic-partition writer sees sorted input and keeps
    the (conv_id, turn_idx) order inside every file.

    Returns the manifest entries written.
    """
    data_dir = os.path.join(out_dir, "data")
    group = F.col("group")
    slot = F.lit(0)
    for i, g in enumerate(chunk[1:], 1):
        slot = F.when(group == g, i).otherwise(slot)
    # pmod(hash(...), P) is exactly the partition id repartition(P,
    # conv_id, salt) assigns, so each group's rows are placed as that
    # repartition would place them in a job of their own
    in_group = F.pmod(F.hash("conv_id", salt(SALT_BUCKETS)), F.lit(parts))
    sub = sub.repartitionById(len(chunk) * parts, slot * parts + in_group)
    sub = post_shuffle(sub)
    obs = Observation(f"groups-{'-'.join(map(str, chunk))}")
    fields = {"rows": F.lit(True)}
    fields.update({f"rows_{s}": F.col("sink") == s for s in SINKS})
    counters = [
        F.count(F.when((group == g) & cond, 1)).alias(f"g{g}_{k}")
        for g in chunk
        for k, cond in fields.items()
    ]
    sub = sub.observe(obs, *counters).sortWithinPartitions(
        "group", "sink", "conv_id", "turn_idx"
    )
    # uncommit first: until the new manifest lands, readers skip these
    # groups instead of reading half-written data. A killed earlier
    # attempt may have left their files, or committed task output under
    # _temporary that the next append's job commit would merge; only
    # one job writes data/ at a time
    os.makedirs(os.path.join(out_dir, MANIFEST_DIR), exist_ok=True)
    _uncommit(out_dir, chunk)
    shutil.rmtree(os.path.join(data_dir, "_temporary"), ignore_errors=True)
    t0 = time.time()
    sub.write.partitionBy("group", "sink").mode("append").parquet(data_dir)
    wall = round(time.time() - t0, 3)
    try:
        got = obs.get
        metrics = {g: {k: got[f"g{g}_{k}"] for k in fields} for g in chunk}
    except Exception:
        # Observation.get asserts when an all-empty chunk's plan
        # collapses to a zero-task LocalTableScan under AQE (the
        # observe node never fires) — but a listener race/timeout
        # raises the same way for a chunk whose data WAS written, and
        # blindly zero-filling would corrupt sink_counts downstream.
        # Recount from the parquet just written: exact, and only ever
        # paid on this exceptional path. A recount that cannot read the
        # data raises before any manifest of the chunk is written.
        metrics = {
            g: _recount(sub.sparkSession, os.path.join(data_dir, f"group={g}"))
            for g in chunk
        }
    entries = []
    for g in chunk:
        entry = {
            "group": g,
            **({} if n_groups is None else {"n_groups": n_groups}),
            "salt_buckets": SALT_BUCKETS,
            "path": os.path.join(data_dir, f"group={g}"),
            "wall_sec": wall,
            **metrics[g],
        }
        # manifest write is the commit point — a crash before this
        # line leaves the group uncommitted and it is redone on resume
        _write_manifest(_manifest_path(out_dir, g), entry)
        entries.append(entry)
    return entries


def write_routed(
    routed: DataFrame,
    out_dir: str,
    post_shuffle: Callable[[DataFrame], DataFrame],
    n_groups: int = 8,
    resume: bool = False,
    group_col_name: str | None = None,
) -> list[dict]:
    """Write a routed DataFrame to per-sink parquet with group commits.

    The pending groups are taken ``GROUPS_PER_JOB`` at a time and each
    chunk, ``routed`` filtered to its groups, is written by ONE Spark job
    (:func:`commit_chunk`), so the upstream plan runs once per chunk.
    Each group gets ``_adaptive_partitions_per_group(routed, n_groups,
    len(chunk))`` partitions, so each job's tasks fill the cluster once:
    a 2-group chunk gets half the partitions per group of a 1-group tail
    chunk.
    Jobs run one at a time: no expression tree is shared between jobs.

    The production path is ``group_col_name``: when the SOURCE layout is
    bucket-partitioned by commit group (Iceberg `bucket(conv_id)` — or a
    parquet partition column locally), pass that column's name and each
    job's filter becomes partition PRUNING at the scan, so the jobs
    touch each input row exactly once overall. That holds because
    ``routed`` is the scan plus row-wise extraction columns
    (``enrich_extract``), with no lineage cut the filter cannot push
    below. The column must hold
    pmod(xxhash64(conv_id), n_groups) (conv_id never straddles groups);
    the fallback computes exactly that expression on the fly for
    unpartitioned sources — same values, just no pruning. The stored
    column's range is VALIDATED against this run's n_groups before any
    group job: a source partitioned with more groups than the run (e.g.
    written with pmod(...,8) but n_groups=4) would otherwise silently
    drop every row with group >= n_groups from all sinks while manifests
    still commit.

    One output holds one bucketing: a resume refuses manifests of
    another (:func:`committed_groups`), and a run without ``resume``
    uncommits the groups >= ``n_groups`` of an earlier, larger bucketing
    before its first job (it rewrites every other group).

    Returns the manifest entries written this run; ``wall_sec`` is the
    wall time of the job that wrote the group.
    """
    if resume:
        done = committed_groups(out_dir, n_groups=n_groups)
    else:
        done = set()
        _uncommit(out_dir, [g for g in committed_groups(out_dir) if g >= n_groups])
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
    gcol = (
        F.col(group_col_name).cast("bigint")
        if group_col_name
        else F.pmod(F.xxhash64("conv_id"), F.lit(n_groups))
    )
    todo = [g for g in range(n_groups) if g not in done]
    manifests: list[dict] = []
    for i in range(0, len(todo), GROUPS_PER_JOB):
        chunk = todo[i : i + GROUPS_PER_JOB]
        sub = routed.filter(gcol.isin(*chunk)).withColumn("group", gcol.cast("int"))
        if group_col_name and group_col_name != "group":
            sub = sub.drop(group_col_name)
        parts = _adaptive_partitions_per_group(routed, n_groups, len(chunk))
        manifests += commit_chunk(sub, out_dir, chunk, parts, post_shuffle, n_groups)
    return manifests


def read_sinks(spark, out_dir: str) -> DataFrame:
    """Read the committed groups (partition columns group, sink). Data of
    a group without a manifest — a kill between its write and its commit —
    is not part of the snapshot."""
    data_dir = os.path.join(out_dir, "data")
    paths = [
        p
        for g in sorted(committed_groups(out_dir))
        if os.path.isdir(p := os.path.join(data_dir, f"group={g}"))
    ]
    return spark.read.option("basePath", data_dir).parquet(*paths)


def sink_counts(out_dir: str) -> dict[str, int]:
    """Aggregate per-sink row counts from the lineage manifests alone —
    no data re-scan (the A3-style verified aggregate)."""
    totals: dict[str, int] = {s: 0 for s in SINKS}
    for e in read_manifests(out_dir).values():
        for s in SINKS:
            totals[s] += int(e.get(f"rows_{s}", 0) or 0)
    return totals

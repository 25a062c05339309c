"""Group commits under failure: a run killed after a chunk's data landed,
or between the two manifests of a chunk, resumes to exactly the output of
an uninterrupted run; readers see committed groups only; every write
task holds one commit group, and a chunk job's tasks fill the cluster
once. A lost observation is recounted from the written data, and a
recount that cannot read it commits nothing. A CLI process killed
mid-write, or between the two manifests of a chunk, resumes on another
core count."""

import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import Observation

from logboost_spark.fixtures import transcripts as TR
from logboost_spark.plans import checkpoint
from logboost_spark.plans.checkpoint import committed_groups, read_sinks, sink_counts
from logboost_spark.plans.pipeline import run_pipeline

N_GROUPS = 4
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(spark, sdf, lookups, out, resume=False, n_groups=N_GROUPS):
    return run_pipeline(
        sdf, lookups, out, n_groups=n_groups, resume=resume,
        use_whois=False, use_idb=False,
    )


def _files_per_dir(out):
    """{(group, sink dir): parquet files in data/group=g/sink=s}."""
    dirs = glob.glob(os.path.join(out, "data", "group=*", "sink=*"))
    return {
        (int(d.split(os.sep)[-2][6:]), d.split(os.sep)[-1]): len(
            glob.glob(os.path.join(d, "*.parquet"))
        )
        for d in dirs
    }


def _parts(spark, groups_in_job):
    """The P write_routed derives for each group of a job of
    ``groups_in_job`` groups: ceil(defaultParallelism / groups_in_job),
    as 2000 rows are far below the advisory partition size."""
    return -(-spark.sparkContext.defaultParallelism // groups_in_job)


def _snapshot(spark, out):
    rows = [
        tuple(r)
        for r in read_sinks(spark, out).select("conv_id", "turn_idx", "sink").collect()
    ]
    assert len(rows) == len(set(rows)), "a turn was written twice"
    return sink_counts(out), set(rows)


def _manifest_counts(out):
    """{group: the row counts of its manifest}."""
    counts = {}
    for path in glob.glob(os.path.join(out, checkpoint.MANIFEST_DIR, "*.json")):
        with open(path) as f:
            entry = json.load(f)
        counts[entry["group"]] = {k: v for k, v in entry.items() if k.startswith("rows")}
    return counts


def _lose_observation(monkeypatch, before=lambda: None):
    """Make every ``Observation.get`` fail after running ``before``, so
    commit_chunk recounts each chunk from the parquet it just wrote."""

    def get(self):
        before()
        raise AssertionError("observation lost")

    monkeypatch.setattr(Observation, "get", property(get))


@pytest.fixture(scope="module")
def source(spark):
    return spark.createDataFrame(TR.gen_pandas(2000))


@pytest.fixture(scope="module")
def reference(spark, lookups, source, tmp_path_factory):
    """An uninterrupted run: its output dir and its snapshot."""
    out = str(tmp_path_factory.mktemp("ref") / "sinks")
    _run(spark, source, lookups, out)
    return out, _snapshot(spark, out)


@pytest.fixture(scope="module")
def three_groups(spark, lookups, source, tmp_path_factory):
    """A run with n_groups=3, chunks (0, 1) and the tail (2,): its output
    dir and, per chunk, the task count of the stage that writes it (the
    result stage of the chunk's last job, the repartitionById's reduce
    side)."""
    sc = spark.sparkContext
    commit = checkpoint.commit_chunk
    tasks = {}

    def counted(sub, out_dir, chunk, *args, **kwargs):
        gid = "chunk-" + "-".join(map(str, chunk))
        sc.setJobGroup(gid, gid)
        try:
            return commit(sub, out_dir, chunk, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            st = sc.statusTracker()
            last = st.getJobInfo(max(st.getJobIdsForGroup(gid)))
            tasks[tuple(chunk)] = st.getStageInfo(max(last.stageIds)).numTasks

    out = str(tmp_path_factory.mktemp("three") / "sinks")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(checkpoint, "commit_chunk", counted)
        _run(spark, source, lookups, out, n_groups=3)
    return out, tasks


def test_every_task_holds_one_group(spark, reference):
    """Two groups share a job but never a task: with P partitions per
    group, each group=g/sink=s dir has at most P files (a task holding
    both groups of a chunk would leave up to 2P)."""
    out, _ = reference
    # chunks (0, 1) and (2, 3) both hold two groups
    parts = _parts(spark, 2)
    files = _files_per_dir(out)
    assert {g for g, _ in files} == set(range(N_GROUPS))
    for d, n in files.items():
        assert 1 <= n <= parts, d


def test_tail_chunk_holds_one_group(spark, three_groups):
    """With an odd group count the tail chunk (group 2) writes alone and
    gets the one-group P, defaultParallelism; groups 0-1 keep the
    two-group P."""
    out, _ = three_groups
    files = _files_per_dir(out)
    assert {g for g, _ in files} == {0, 1, 2}
    for (g, sink), n in files.items():
        assert 1 <= n <= _parts(spark, 1 if g == 2 else 2), (g, sink)


def test_chunk_job_tasks_fill_the_cluster_once(spark, three_groups):
    """A chunk job writes with len(chunk) * P tasks, P = ceil(
    defaultParallelism / len(chunk)): one wave of tasks for a 2-group
    chunk, as for a 1-group chunk."""
    _, tasks = three_groups
    assert tasks == {(0, 1): 2 * _parts(spark, 2), (2,): _parts(spark, 1)}


def test_read_sinks_skips_uncommitted_group(spark, reference, tmp_path):
    """Data of a group whose manifest never landed is not returned."""
    src, _ = reference
    out = str(tmp_path / "sinks")
    shutil.copytree(src, out)
    with open(checkpoint._manifest_path(out, 3)) as f:
        rows_3 = json.load(f)["rows"]
    os.remove(checkpoint._manifest_path(out, 3))
    assert os.path.isdir(os.path.join(out, "data", "group=3"))
    got = read_sinks(spark, out)
    assert {r.group for r in got.select("group").distinct().collect()} == {0, 1, 2}
    assert got.count() == 2000 - rows_3


def test_kill_after_data_write_then_resume(spark, lookups, source, reference, tmp_path, monkeypatch):
    """The second chunk's data lands, then the run dies before its
    manifests: groups 2 and 3 stay uncommitted and invisible, and resume
    rewrites them to the uninterrupted result."""
    out = str(tmp_path / "sinks")
    writer = type(source.write)
    write = writer.parquet
    writes = []

    def landed_then_killed(self, path, *args, **kwargs):
        write(self, path, *args, **kwargs)
        writes.append(path)
        if len(writes) == 2:
            raise RuntimeError("killed after the data write")

    monkeypatch.setattr(writer, "parquet", landed_then_killed)
    with pytest.raises(RuntimeError, match="killed after the data write"):
        _run(spark, source, lookups, out)
    monkeypatch.undo()
    assert committed_groups(out) == {0, 1}
    for g in (2, 3):
        assert os.path.isdir(os.path.join(out, "data", f"group={g}"))
    seen = read_sinks(spark, out).select("group").distinct().collect()
    assert {r.group for r in seen} == {0, 1}

    redo = _run(spark, source, lookups, out, resume=True)
    assert [m["group"] for m in redo] == [2, 3]
    assert _snapshot(spark, out) == reference[1]


def test_kill_between_manifests_of_a_chunk_then_resume(spark, lookups, source, reference, tmp_path, monkeypatch):
    """The first chunk commits group 0, then the run dies writing group
    1's manifest: resume redoes groups 1-3, as chunks (1, 2) and (3), to
    the uninterrupted result."""
    out = str(tmp_path / "sinks")
    commit = checkpoint._write_manifest

    def killed_on_group_1(path, entry):
        if entry["group"] == 1:
            raise RuntimeError("killed writing the manifest")
        commit(path, entry)

    monkeypatch.setattr(checkpoint, "_write_manifest", killed_on_group_1)
    with pytest.raises(RuntimeError, match="killed writing the manifest"):
        _run(spark, source, lookups, out)
    monkeypatch.undo()
    assert committed_groups(out) == {0}

    redo = _run(spark, source, lookups, out, resume=True)
    assert [m["group"] for m in redo] == [1, 2, 3]
    assert _snapshot(spark, out) == reference[1]


def test_lost_observation_recounts_to_the_observed_manifests(spark, lookups, source, reference, tmp_path, monkeypatch):
    """Every chunk's observation fails after its data landed: the
    recount from the written parquet commits the same manifest counts as
    the observed run."""
    out = str(tmp_path / "sinks")
    _lose_observation(monkeypatch)
    _run(spark, source, lookups, out)
    monkeypatch.undo()
    assert _manifest_counts(out) == _manifest_counts(reference[0])
    assert _snapshot(spark, out) == reference[1]


def test_unreadable_recount_leaves_the_chunk_uncommitted(spark, lookups, source, reference, tmp_path, monkeypatch):
    """The first chunk's observation fails and a part file of group 0
    is truncated: the recount cannot read group 0, so the run raises
    with no group committed (not a manifest of zero rows), and resume
    redoes every group to the uninterrupted result."""
    out = str(tmp_path / "sinks")

    def truncate_group_0():
        parts = glob.glob(os.path.join(out, "data", "group=0", "sink=*", "*.parquet"))
        with open(sorted(parts)[0], "r+b") as f:
            f.truncate(8)

    _lose_observation(monkeypatch, truncate_group_0)
    with pytest.raises(Py4JJavaError, match="is not a Parquet file"):
        _run(spark, source, lookups, out)
    monkeypatch.undo()
    assert committed_groups(out) == set()

    redo = _run(spark, source, lookups, out, resume=True)
    assert [m["group"] for m in redo] == list(range(N_GROUPS))
    assert _snapshot(spark, out) == reference[1]


def test_cli_killed_mid_write_resumes_on_another_core_count(spark, tmp_path):
    """``main.py`` is SIGKILLed, with its JVM and Python workers, while a
    chunk job writes and after at least one group committed; a
    ``--resume`` run on 2 cores then gives the output of an uninterrupted
    run."""
    import main as M

    argv = [
        "--input", os.path.join(ROOT, "data", "transcripts_sf0.01.parquet"),
        "--groups", "8", "--no-whois", "--no-idb",
    ]
    out = str(tmp_path / "killed")
    manifests = os.path.join(out, checkpoint.MANIFEST_DIR)
    cli = [sys.executable, os.path.join(ROOT, "main.py"), *argv, "--output", out]
    with open(tmp_path / "killed.log", "w") as log:
        proc = subprocess.Popen(
            cli, stdout=log, stderr=subprocess.STDOUT, start_new_session=True
        )
        try:
            deadline = time.time() + 600
            while not (
                glob.glob(os.path.join(manifests, "*.json"))
                and os.path.isdir(os.path.join(out, "data", "_temporary"))
            ):
                assert proc.poll() is None, "the run ended before the kill"
                assert time.time() < deadline, "no chunk write seen in time"
                time.sleep(0.02)
        finally:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    assert 1 <= len(committed_groups(out)) < 8

    with open(tmp_path / "resumed.log", "w") as log:
        subprocess.run(
            [*cli, "--resume", "--cores", "2"],
            stdout=log, stderr=subprocess.STDOUT, check=True, timeout=900,
        )
    assert committed_groups(out) == set(range(8))

    ref = str(tmp_path / "uninterrupted")
    assert M.main([*argv, "--output", ref]) == 0
    assert _snapshot(spark, out) == _snapshot(spark, ref)


#: main.py's CLI, SIGKILLing its own process group (its JVM too) right
#: after the manifest of group argv[2] lands:
#: python -c _KILLED_AFTER_MANIFEST ROOT GROUP CLI-ARGS...
_KILLED_AFTER_MANIFEST = """
import os, signal, sys
sys.path.insert(0, sys.argv[1])
import main
from logboost_spark.plans import checkpoint

write, group = checkpoint._write_manifest, int(sys.argv[2])

def write_then_kill(path, entry):
    write(path, entry)
    if entry["group"] == group:
        os.killpg(os.getpgrp(), signal.SIGKILL)

checkpoint._write_manifest = write_then_kill
sys.exit(main.main(sys.argv[3:]))
"""


def test_cli_killed_between_manifests_resumes_on_another_core_count(spark, tmp_path):
    """A CLI process is SIGKILLed, with its JVM, right after the first
    manifest of chunk (2, 3) lands: exactly groups 0-2 are committed, and
    a ``--resume`` run on 2 cores rewrites group 3 to the output of an
    uninterrupted run."""
    import main as M

    argv = [
        "--input", os.path.join(ROOT, "data", "transcripts_sf0.001.parquet"),
        "--groups", "4", "--no-whois", "--no-idb",
    ]
    out = str(tmp_path / "killed")
    with open(tmp_path / "killed.log", "w") as log:
        killed = subprocess.run(
            [sys.executable, "-c", _KILLED_AFTER_MANIFEST, ROOT, "2", *argv, "--output", out],
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True, timeout=900,
        )
    assert killed.returncode == -signal.SIGKILL
    assert committed_groups(out) == {0, 1, 2}

    with open(tmp_path / "resumed.log", "w") as log:
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "main.py"), *argv, "--output", out,
             "--resume", "--cores", "2"],
            stdout=log, stderr=subprocess.STDOUT, check=True, timeout=900,
        )
    assert committed_groups(out) == set(range(4))

    ref = str(tmp_path / "uninterrupted")
    assert M.main([*argv, "--output", ref]) == 0
    assert _snapshot(spark, out) == _snapshot(spark, ref)

"""Group commits under failure: a run killed after a chunk's data landed,
or between the two manifests of a chunk, resumes to exactly the output of
an uninterrupted run; readers see committed groups only; every write
task holds one commit group."""

import glob
import json
import os
import shutil

import pytest

from logboost_spark.fixtures import transcripts as TR
from logboost_spark.plans import checkpoint
from logboost_spark.plans.checkpoint import committed_groups, read_sinks, sink_counts
from logboost_spark.plans.pipeline import run_pipeline

N_GROUPS = 4


def _run(spark, sdf, lookups, out, resume=False):
    return run_pipeline(
        spark, sdf, lookups, out, n_groups=N_GROUPS, resume=resume,
        use_whois=False, use_idb=False,
    )


def _snapshot(spark, out):
    rows = [
        tuple(r)
        for r in read_sinks(spark, out).select("conv_id", "turn_idx", "sink").collect()
    ]
    assert len(rows) == len(set(rows)), "a turn was written twice"
    return sink_counts(spark, out), set(rows)


@pytest.fixture(scope="module")
def source(spark):
    return spark.createDataFrame(TR.gen_pandas(2000))


@pytest.fixture(scope="module")
def reference(spark, lookups, source, tmp_path_factory):
    """An uninterrupted run: its output dir and its snapshot."""
    out = str(tmp_path_factory.mktemp("ref") / "sinks")
    _run(spark, source, lookups, out)
    return out, _snapshot(spark, out)


def test_every_task_holds_one_group(spark, reference):
    """Two groups share a job but never a task: with P partitions per
    group, each group=g/sink=s dir has at most P files (a task holding
    both groups of a chunk would leave up to 2P)."""
    out, _ = reference
    # the P write_routed derives: its floor, defaultParallelism, since
    # 2000 rows are far below the advisory partition size
    parts = spark.sparkContext.defaultParallelism
    dirs = glob.glob(os.path.join(out, "data", "group=*", "sink=*"))
    assert len({d.split(os.sep)[-2] for d in dirs}) == N_GROUPS
    for d in dirs:
        assert 1 <= len(glob.glob(os.path.join(d, "*.parquet"))) <= parts, d


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

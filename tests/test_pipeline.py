"""End-to-end pipeline: per-sink counts vs oracle, stable ordering,
resume-from-checkpoint semantics."""

import glob
import json
import os
import re
import shutil

from logboost_spark import oracle as O
from logboost_spark.fixtures import transcripts as TR
from logboost_spark.plans.checkpoint import committed_groups, read_sinks, sink_counts
from logboost_spark.plans.pipeline import run_pipeline


def _oracle_sink_counts(pdf):
    counts = {}
    for r in pdf.itertuples():
        e = O.enrich_text(r.text)
        s = O.route_category({**e, "role": r.role, "tool": r.tool})
        counts[s] = counts.get(s, 0) + 1
    return counts


def test_pipeline_counts_and_resume(spark, lookups, tmp_path):
    out = str(tmp_path / "sinks")
    pdf = TR.gen_pandas(3000)
    sdf = spark.createDataFrame(pdf)

    manifests = run_pipeline(
        sdf, lookups, out, n_groups=4,
        use_whois=False, use_idb=False,
    )
    assert len(manifests) == 4
    got = sink_counts(out)
    want = _oracle_sink_counts(pdf)
    assert {k: v for k, v in got.items() if v} == want

    # routed-row sets: every turn lands in exactly one sink, none lost
    allrows = read_sinks(spark, out)
    assert allrows.count() == 3000
    assert allrows.select("conv_id", "turn_idx").distinct().count() == 3000

    # --- stable (conv_id, turn_idx) order within every output file -------
    files = glob.glob(os.path.join(out, "data", "group=*", "sink=*", "*.parquet"))
    assert files
    import pandas as pd

    for f in files[:20]:
        part = pd.read_parquet(f, columns=["conv_id", "turn_idx"])
        key = list(zip(part["conv_id"], part["turn_idx"]))
        assert key == sorted(key), f

    # --- resume: nuke 2 groups' commits, rerun, content identical --------
    for g in [1, 3]:
        os.remove(os.path.join(out, "_manifest", f"group-{g:04d}.json"))
        shutil.rmtree(os.path.join(out, "data", f"group={g}"))
    assert committed_groups(out) == {0, 2}
    before = {
        g: os.path.getmtime(os.path.join(out, "_manifest", f"group-{g:04d}.json"))
        for g in [0, 2]
    }
    redo = run_pipeline(
        sdf, lookups, out, n_groups=4, resume=True,
        use_whois=False, use_idb=False,
    )
    assert sorted(m["group"] for m in redo) == [1, 3]  # committed groups skipped
    for g, mt in before.items():
        assert os.path.getmtime(os.path.join(out, "_manifest", f"group-{g:04d}.json")) == mt
    assert sink_counts(out) == got  # identical final counts
    assert read_sinks(spark, out).count() == 3000


def test_manifest_metrics(spark, lookups, tmp_path):
    out = str(tmp_path / "m")
    sdf = spark.createDataFrame(TR.gen_pandas(500))
    manifests = run_pipeline(
        sdf, lookups, out, n_groups=2,
        use_whois=False, use_idb=False,
    )
    total = sum(m["rows"] for m in manifests)
    assert total == 500
    for m in manifests:
        assert m["rows"] == sum(m[f"rows_{s}"] for s in ["threat", "internal", "noip", "tool_activity", "general"])
        assert "wall_sec" in m
        with open(os.path.join(out, "_manifest", f"group-{m['group']:04d}.json")) as f:
            assert json.load(f)["rows"] == m["rows"]


def test_resume_refuses_changed_group_count(spark, tmp_path):
    """Manifests record n_groups; resuming under different bucketing
    must refuse, not silently skip/double-write conversations."""
    import pytest
    from logboost_spark.fixtures.lookups import build_lookup_dfs
    from logboost_spark.fixtures.transcripts import gen_spark
    from logboost_spark.plans.pipeline import run_pipeline

    out = str(tmp_path / "sinks")
    df = gen_spark(spark, 400)
    lookups = build_lookup_dfs(spark)
    run_pipeline(df, lookups, out, n_groups=2, use_whois=False, use_idb=False)
    with pytest.raises(ValueError, match="n_groups"):
        run_pipeline(
            df, lookups, out, n_groups=4, resume=True,
            use_whois=False, use_idb=False,
        )
    # same count resumes cleanly as a no-op
    m = run_pipeline(
        df, lookups, out, n_groups=2, resume=True,
        use_whois=False, use_idb=False,
    )
    assert m == []


def test_group_partitioned_source_parity(spark, lookups, tmp_path):
    """The production path: a source laid out bucket-partitioned by commit
    group (Iceberg bucket(conv_id); a parquet partition column locally)
    with group_col_name= must produce byte-identical routed rows to the
    on-the-fly pmod(xxhash64(conv_id)) fallback, with the group filter
    arriving at the scan as a PartitionFilter (pruning, not a data scan)."""
    from pyspark.sql import functions as F

    pdf = TR.gen_pandas(2000)
    sdf = spark.createDataFrame(pdf)
    src = str(tmp_path / "src")
    (
        sdf.withColumn("cgroup", F.pmod(F.xxhash64("conv_id"), F.lit(3)))
        .repartition(4)
        .write.partitionBy("cgroup")
        .parquet(src)
    )
    part = spark.read.parquet(src)

    # pruning reaches the scan
    plan = (
        part.filter(F.col("cgroup").cast("bigint") == 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [(cgroup" in plan

    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    run_pipeline(
        part, lookups, out_a, n_groups=3, group_col_name="cgroup",
        use_whois=False, use_idb=False,
    )
    run_pipeline(
        sdf, lookups, out_b, n_groups=3,
        use_whois=False, use_idb=False,
    )
    assert sink_counts(out_a) == sink_counts(out_b)

    def canon(out):
        return read_sinks(spark, out).drop("group").withColumn(
            "fields",
            F.to_json(F.map_from_entries(F.array_sort(F.map_entries("fields")))),
        )

    a, b = canon(out_a), canon(out_b)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_group_col_modulus_mismatch_refused(spark, lookups, tmp_path):
    """A source partitioned with MORE groups than the run (pmod(...,8)
    column but n_groups=4) must raise before any group job — otherwise
    rows with group >= n_groups match no filter and silently vanish from
    every sink while manifests still commit."""
    import pytest
    from pyspark.sql import functions as F

    pdf = TR.gen_pandas(500)
    sdf = spark.createDataFrame(pdf)
    src = str(tmp_path / "src8")
    (
        sdf.withColumn("cgroup", F.pmod(F.xxhash64("conv_id"), F.lit(8)))
        .write.partitionBy("cgroup")
        .parquet(src)
    )
    part = spark.read.parquet(src)
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="outside this run's n_groups=4"):
        run_pipeline(
            part, lookups, out, n_groups=4, group_col_name="cgroup",
            use_whois=False, use_idb=False,
        )
    # nothing was committed
    assert committed_groups(out) == set()
    # matching modulus passes the validation and runs clean
    m = run_pipeline(
        part, lookups, out, n_groups=8, group_col_name="cgroup",
        use_whois=False, use_idb=False,
    )
    assert len(m) == 8
    assert read_sinks(spark, out).count() == 500


def test_group_pruning_reaches_scan_without_barrier(spark, tmp_path):
    """write_routed filters the enrich_extract output of a group-partitioned
    source to each job's groups; no lineage cut sits between that filter
    and the scan, so it is pushed down to the parquet scan as a
    PartitionFilter: real scan-level pruning, not a post-scan filter."""
    from pyspark.sql import functions as F

    from logboost_spark.operators.enrich import enrich_extract

    pdf = TR.gen_pandas(600)
    sdf = spark.createDataFrame(pdf)
    src = str(tmp_path / "srcp")
    (
        sdf.withColumn("cgroup", F.pmod(F.xxhash64("conv_id"), F.lit(3)))
        .write.partitionBy("cgroup")
        .parquet(src)
    )
    extracted = enrich_extract(spark.read.parquet(src))
    chunk = extracted.filter(F.col("cgroup").cast("bigint").isin(1, 2))
    plan = chunk._jdf.queryExecution().executedPlan().toString()
    scan = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    filters = scan.split("PartitionFilters: [")[1].split("]")[0]
    assert re.search(r"cgroup#\d+ IN \(1,2\)", filters), plan[:4000]


def test_concurrent_groups_no_cross_row_bleed(spark, lookups, tmp_path):
    """Regression guard for cross-row value bleed: when commit-group jobs
    ran concurrently on shared driver-side expression trees, ~1 row/2k
    per run carried lb_IP from another row. Group jobs now run one at a
    time, so no tree is shared between concurrent jobs by construction;
    this check stays as the end-to-end witness. The extracted lb_IP must
    always be a substring of the row's own text (or NoIP). The old race
    fired in ~1/3 of runs, so several runs are checked; any hit is a hard
    failure."""
    from pyspark.sql import functions as F

    sdf = spark.createDataFrame(TR.gen_pandas(2000))
    for trial in range(4):
        out = str(tmp_path / f"bleed{trial}")
        run_pipeline(
            sdf, lookups, out, n_groups=3,
            use_whois=False, use_idb=False,
        )
        bad = (
            read_sinks(spark, out)
            .filter(
                (F.col("lb_class") != "noip")
                & ~F.col("text").contains(F.col("lb_IP"))
            )
            .count()
        )
        assert bad == 0, f"trial {trial}: {bad} rows carry another row's lb_IP"


def test_leftover_manifest_tmp_is_ignored(tmp_path):
    """A crash mid-commit leaves at most a ``.tmp`` sibling of the manifest
    (written, fsynced, then renamed into place); readers skip it."""
    from logboost_spark.plans.checkpoint import _manifest_path, _write_manifest

    out = str(tmp_path / "sinks")
    os.makedirs(os.path.join(out, "_manifest"))
    entry = {"group": 0, "n_groups": 2, "rows": 3, "rows_general": 2, "rows_noip": 1}
    _write_manifest(_manifest_path(out, 0), entry)
    assert os.listdir(os.path.join(out, "_manifest")) == ["group-0000.json"]
    with open(_manifest_path(out, 1) + ".tmp", "w") as f:
        f.write('{"group": 1, "n_groups": 2, "rows": 5, "rows_gen')  # torn
    assert committed_groups(out, n_groups=2) == {0}
    counts = sink_counts(out)
    assert counts["general"] == 2 and counts["noip"] == 1
    assert sum(counts.values()) == 3


def test_resume_refuses_manifests_without_a_group_count(tmp_path):
    """A --stream output's manifests carry no n_groups (its groups are
    micro-batches): a batch resume over it must refuse, not skip the
    hash groups that share those numbers."""
    import pytest
    from logboost_spark.plans.checkpoint import _manifest_path, _write_manifest

    out = str(tmp_path / "sinks")
    os.makedirs(os.path.join(out, "_manifest"))
    _write_manifest(_manifest_path(out, 0), {"group": 0, "rows": 3, "rows_general": 3})
    assert committed_groups(out) == {0}
    with pytest.raises(ValueError, match="n_groups=None"):
        committed_groups(out, n_groups=2)


def test_rewrite_uncommits_groups_before_deleting_their_data(spark, lookups, tmp_path, monkeypatch):
    """A run without --resume into an existing output rewrites each
    group: killed after deleting the first chunk's data but before
    writing it, that chunk's groups are uncommitted, so the manifests
    and the committed-only reader still agree."""
    import pytest
    from pyspark.sql import functions as F

    out = str(tmp_path / "sinks")
    sdf = spark.createDataFrame(TR.gen_pandas(2000))
    kw = dict(n_groups=4, use_whois=False, use_idb=False)
    run_pipeline(sdf, lookups, out, **kw)
    writer = type(sdf.write)

    def killed(self, path, *args, **kwargs):
        raise RuntimeError("killed before the data write")

    monkeypatch.setattr(writer, "parquet", killed)
    with pytest.raises(RuntimeError, match="killed before the data write"):
        run_pipeline(sdf, lookups, out, **kw)
    monkeypatch.undo()
    assert not os.path.isdir(os.path.join(out, "data", "group=0"))
    assert committed_groups(out) == {2, 3}
    read = {
        r.sink: r.cnt
        for r in read_sinks(spark, out).groupBy("sink").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert {k: v for k, v in sink_counts(out).items() if v} == read

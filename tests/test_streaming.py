"""Structured Streaming face (plans/streaming.py): availableNow drain
must equal the batch pipeline exactly; the windowed agg must bucket by
event time. Kept at sf0.001 — streaming adds per-micro-batch overhead,
not per-row semantics."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from logboost_spark.fixtures.lookups import build_lookup_dfs
from logboost_spark.fixtures.transcripts import fixture_path
from logboost_spark.operators.enrich import enrich
from logboost_spark.plans import checkpoint
from logboost_spark.plans.checkpoint import read_sinks, sink_counts
from logboost_spark.plans.pipeline import run_pipeline
from logboost_spark.plans.route import SINKS, route_stage
from logboost_spark.plans.streaming import stream_pipeline, stream_windowed_counts


def test_stream_drain_equals_batch(spark, tmp_path):
    src = fixture_path("sf0.001")
    out = str(tmp_path / "stream_out")
    lookups = build_lookup_dfs(spark)
    stream_pipeline(spark, src, lookups, out, do_parse=False)
    got = {
        r.sink: r.cnt
        for r in spark.read.parquet(os.path.join(out, "data"))
        .groupBy("sink")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    batch = route_stage(
        enrich(
            spark.read.parquet(src), lookups, use_whois=False, use_idb=False
        )
    )
    want = {
        r.sink: r.cnt
        for r in batch.groupBy("sink").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert got == want
    # checkpointed exactly-once: a second availableNow drain of the SAME
    # input adds nothing (file-level WAL replays no committed file)
    stream_pipeline(spark, src, lookups, out, do_parse=False)
    again = spark.read.parquet(os.path.join(out, "data")).count()
    assert again == sum(want.values())


def test_stream_defaults_match_batch(spark, tmp_path):
    """With parse on and every enrich flag at its default, the stream
    writes the batch pipeline's columns, in the same order, and the same
    rows."""
    src = fixture_path("sf0.001")
    lookups = build_lookup_dfs(spark)
    stream_out, batch_out = str(tmp_path / "stream"), str(tmp_path / "batch")
    stream_pipeline(spark, src, lookups, stream_out)
    run_pipeline(spark.read.parquet(src), lookups, batch_out)
    stream = read_sinks(spark, stream_out)
    batch = read_sinks(spark, batch_out)
    assert stream.columns == batch.columns

    def counts(df):
        return {
            (r.sink, r.format): r.cnt
            for r in df.groupBy("sink", "format").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }

    assert counts(stream) == counts(batch)

    def turns(df):
        return {tuple(r) for r in df.select("conv_id", "turn_idx", "sink").collect()}

    assert turns(stream) == turns(batch)


def test_stream_windowed_counts(spark, tmp_path):
    """Production shape: enrich ONCE via the foreachBatch drain, then a
    second lightweight stream over the routed output feeds the
    watermarked window agg (its plan is just scan→window→agg — the
    heavy extraction trees never enter a streaming plan)."""
    src = fixture_path("sf0.001")
    lookups = build_lookup_dfs(spark)
    out = str(tmp_path / "routed")
    stream_pipeline(spark, src, lookups, out, do_parse=False)
    routed = (
        spark.readStream.schema("conv_id string, turn_idx int, ts timestamp")
        .option("recursiveFileLookup", "true")
        .parquet(os.path.join(out, "data"))
        .withColumn(
            "sink",
            F.regexp_extract(F.input_file_name(), r"sink=([^/]+)/", 1),
        )
    )
    win = stream_windowed_counts(routed, window="1 hour", watermark="2 hours")
    q = (
        win.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM wincounts").collect()
    assert rows
    # equivalence to the batch tumbling-window aggregate
    batch = route_stage(
        enrich(spark.read.parquet(src), lookups, use_whois=False, use_idb=False)
    )
    want = {
        (r.window_start, r.sink): r.rows
        for r in batch.groupBy(F.window("ts", "1 hour").alias("w"), "sink")
        .agg(F.count(F.lit(1)).alias("rows"))
        .select(F.col("w.start").alias("window_start"), "sink", "rows")
        .collect()
    }
    got = {(r.window_start, r.sink): r.rows for r in rows}
    assert got == want
    # every window spans exactly one hour
    assert all((r.window_end - r.window_start).total_seconds() == 3600 for r in rows)


def test_cli_stream_mode(spark, tmp_path, capsys):
    """--stream drains the parquet input via Structured Streaming and
    reports per-sink counts equal to the batch CLI run."""
    import json as J

    import main as M

    src = fixture_path("sf0.001")
    out_s = str(tmp_path / "stream_sinks")
    rc = M.main([
        "--input", src, "--output", out_s, "--stream",
        "--no-whois", "--no-idb", "--no-parse",
    ])
    assert rc == 0
    res = J.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["streamed"] is True
    out_b = str(tmp_path / "batch_sinks")
    rc = M.main([
        "--input", src, "--output", out_b,
        "--no-whois", "--no-idb", "--no-parse", "--groups", "2",
    ])
    assert rc == 0
    batch = J.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["sink_counts"] == batch["sink_counts"]
    # --stream rejects logs-mode input
    assert M.main([
        "--input", src, "--output", out_s, "--stream",
        "--input-format", "logs",
    ]) == 2


def test_stream_sessionize_equals_batch(spark, tmp_path):
    """applyInPandasWithState sessionization drained with availableNow
    must produce the SAME closed sessions as the batch window-function
    sessionizer. A far-future sentinel event pushes the watermark past
    every real session's timeout so all open state flushes before the
    stream stops; the sentinel's own session is excluded."""
    import datetime as dt
    import shutil

    from pyspark.sql import Window
    from logboost_spark.plans.streaming import stream_sessionize

    src_dir = tmp_path / "events_src"
    src_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", src_dir / "events.parquet")
    sentinel = spark.createDataFrame(
        [(999999, dt.datetime(2030, 1, 1), -1, "sentinel", 0.0, "{}")],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    )
    sentinel.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "zz_sentinel"))

    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(str(src_dir))
    )
    sess = stream_sessionize(stream)
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM sessions").collect()
        if r.user_id != -1
    }

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sid = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in ev.withColumn("sid", sid)
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .collect()
    }
    assert got == want
    assert len(got) > 20  # real multi-session corpus, not a trivial pass


def test_stream_exact_dedup_bounded_state(spark, tmp_path):
    """Ingest-time dedup drops within-batch and cross-batch duplicates
    while keeping all distinct texts; the plan carries a watermark so
    state is horizon-bounded, not stream-length-bounded."""
    import datetime as dt

    from logboost_spark.plans.streaming import stream_exact_dedup

    d = tmp_path / "docs_src"
    d.mkdir()
    t0 = dt.datetime(2024, 1, 1, 10, 0)
    ddl = "doc_id bigint, ts timestamp, text string"
    spark.createDataFrame(
        [(1, t0, "alpha"), (2, t0, "beta"), (3, t0, "alpha")], ddl  # in-batch dup
    ).coalesce(1).write.parquet(str(d / "f1"))
    spark.createDataFrame(
        [(4, t0 + dt.timedelta(minutes=30), "alpha"),  # cross-batch dup
         (5, t0 + dt.timedelta(minutes=30), "gamma")], ddl
    ).coalesce(1).write.parquet(str(d / "f2"))
    stream = (
        spark.readStream.schema(ddl)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = stream_exact_dedup(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM dedup_stream").collect()
    texts = sorted(r.text for r in rows)
    assert texts == ["alpha", "beta", "gamma"]
    # exactly one survivor per text, all columns intact
    assert {r.text: r.doc_id for r in rows}["beta"] == 2


def test_stream_pipeline_crash_rerun_idempotent(spark, tmp_path):
    """Exactly-once END TO END: simulate a crash in the window between
    the manifest and the checkpoint commit (delete the batch's commit
    marker, keep its offsets entry, its written files and its manifest),
    then restart. Spark re-executes the batch; the committer must
    replace group N with identical content — zero duplicate rows, and
    the manifests and the committed-only reader agree with the
    uninterrupted run."""
    # tmp_path (pytest-managed, bounded retention): a mkdtemp here leaked
    # /tmp/lb_stream_crash_* whenever an assert fired before the trailing
    # rmtree (VERDICT r05 nit)
    src = fixture_path("sf0.001")
    out = str(tmp_path / "crash_out")
    lookups = build_lookup_dfs(spark)
    stream_pipeline(spark, src, lookups, out, do_parse=False)
    data = os.path.join(out, "data")
    want = spark.read.parquet(data).count()
    want_sinks = {
        r.sink: r.cnt
        for r in spark.read.parquet(data)
        .groupBy("sink").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    want_counts = sink_counts(out)
    want_read = read_sinks(spark, out).count()

    commits = os.path.join(out, "_checkpoint", "commits")
    markers = [f for f in os.listdir(commits) if not f.startswith(".")]
    assert markers, "expected at least one committed batch"
    last = max(markers, key=int)
    os.remove(os.path.join(commits, last))
    # also drop the local-FS checksum shadow, else Hadoop treats the
    # commit rewrite as a conflicting concurrent writer
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    redo = stream_pipeline(spark, src, lookups, out, do_parse=False)
    assert [m["group"] for m in redo] == [int(last)]
    got = spark.read.parquet(data).count()
    got_sinks = {
        r.sink: r.cnt
        for r in spark.read.parquet(data)
        .groupBy("sink").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert got == want and got_sinks == want_sinks
    assert sink_counts(out) == want_counts
    assert read_sinks(spark, out).count() == want_read == want


def test_stream_refuses_a_batch_output(spark, lookups, tmp_path):
    """Micro-batch N commits as group N: over a batch output, whose
    manifests carry n_groups, the stream refuses before writing instead
    of overwriting hash groups 0..N."""
    src = fixture_path("sf0.001")
    out = str(tmp_path / "sinks")
    kw = dict(do_parse=False, use_whois=False, use_idb=False)
    run_pipeline(spark.read.parquet(src), lookups, out, n_groups=2, **kw)
    want = sink_counts(out)
    with pytest.raises(ValueError, match="n_groups"):
        stream_pipeline(spark, src, lookups, out, **kw)
    assert checkpoint.committed_groups(out, n_groups=2) == {0, 1}
    assert sink_counts(out) == want
    assert read_sinks(spark, out).count() == spark.read.parquet(src).count()
    assert not os.path.exists(os.path.join(out, "_checkpoint"))


def test_stream_batch_without_manifest_is_not_read(spark, tmp_path, monkeypatch):
    """A micro-batch whose data landed but whose manifest write raised
    is not committed: read_sinks and sink_counts leave it out, and the
    next drain re-runs that batch and commits it."""
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    shutil.copy(fixture_path("sf0.001"), src_dir / "a.parquet")
    out = str(tmp_path / "sinks")
    lookups = build_lookup_dfs(spark)
    first = stream_pipeline(spark, str(src_dir), lookups, out, do_parse=False)
    assert [m["group"] for m in first] == [0]
    want_counts = sink_counts(out)

    shutil.copy(fixture_path("sf0.001"), src_dir / "b.parquet")
    commit = checkpoint._write_manifest

    def killed_on_group_1(path, entry):
        if entry["group"] == 1:
            raise RuntimeError("killed writing the manifest")
        commit(path, entry)

    monkeypatch.setattr(checkpoint, "_write_manifest", killed_on_group_1)
    with pytest.raises(Exception, match="killed writing the manifest"):
        stream_pipeline(spark, str(src_dir), lookups, out, do_parse=False)
    monkeypatch.undo()
    assert os.path.isdir(os.path.join(out, "data", "group=1"))
    got = read_sinks(spark, out)
    assert {r.group for r in got.select("group").distinct().collect()} == {0}
    assert got.count() == 2000
    assert sink_counts(out) == want_counts

    redo = stream_pipeline(spark, str(src_dir), lookups, out, do_parse=False)
    assert [m["group"] for m in redo] == [1]
    assert read_sinks(spark, out).count() == 4000
    assert sink_counts(out) == {s: 2 * n for s, n in want_counts.items()}


def test_stream_single_file_name_with_glob_characters(spark, tmp_path):
    """A single-file input is read through a file-name filter, which is
    a Hadoop glob, from its directory, which the readers glob too: a
    directory and a file name holding glob metacharacters are matched
    literally, and a rerun over the same checkpoint reads nothing."""
    src_dir = tmp_path / "s[rc]"
    src_dir.mkdir()
    src = str(src_dir / "t[1].parquet")
    shutil.copy(fixture_path("sf0.001"), src)
    out = str(tmp_path / "sinks")
    lookups = build_lookup_dfs(spark)
    drained = stream_pipeline(spark, src, lookups, out, do_parse=False)
    assert sum(m["rows"] for m in drained) == 2000
    assert read_sinks(spark, out).count() == 2000
    assert stream_pipeline(spark, src, lookups, out, do_parse=False) == []


def test_cli_stream_ipcol_matches_batch(spark, tmp_path, capsys):
    """--stream reads the input with its own schema, so --ipcol names a
    column the fixed transcript schema did not have; the counts equal
    the batch CLI's."""
    import json as J

    import main as M

    src = str(tmp_path / "src")
    ip = F.col("turn_idx") % 3
    spark.read.parquet(fixture_path("sf0.001")).withColumn(
        "src_ip",
        F.when(ip == 0, F.lit("198.51.100.7")).when(ip == 1, F.lit("10.0.0.1")),
    ).write.parquet(src)
    res = {}
    for mode in ("stream", "batch"):
        rc = M.main([
            "--input", src, "--output", str(tmp_path / mode), "--ipcol", "src_ip",
            "--no-whois", "--no-idb", "--no-parse",
            *(["--stream"] if mode == "stream" else []),
        ])
        assert rc == 0
        res[mode] = J.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["stream"]["streamed"] is True
    assert res["stream"]["sink_counts"] == res["batch"]["sink_counts"]
    assert sum(res["batch"]["sink_counts"].values()) == 2000


def test_stream_sessionize_out_of_order_across_batches(spark, tmp_path):
    """A cross-batch out-of-order event (earlier than the stored `last`,
    still within the watermark) must extend the open session without
    moving its bounds backwards — the next on-time event would otherwise
    falsely split the session (ADVICE r04)."""
    import datetime as dt
    import time as _time

    from logboost_spark.plans.streaming import stream_sessionize

    d = tmp_path / "src"
    d.mkdir()
    ddl = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    )
    t0 = dt.datetime(2024, 3, 1, 12, 0)

    def mk(name, rows):
        spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(str(d / name))
        _time.sleep(0.05)  # distinct mtimes -> deterministic batch order

    mk("f1", [(1, t0, 7, "a", 0.0, "{}"),
              (2, t0 + dt.timedelta(minutes=10), 7, "a", 0.0, "{}")])
    # out-of-order: 25 min BEFORE the session start, within the huge watermark
    mk("f2", [(3, t0 - dt.timedelta(minutes=25), 7, "a", 0.0, "{}")])
    # on-time: 20 min after the stored last (t0+10) -> same session; with
    # the buggy "last = t" this looked like a 45-min gap and split
    mk("f3", [(4, t0 + dt.timedelta(minutes=30), 7, "a", 0.0, "{}")])
    mk("f4", [(9, dt.datetime(2030, 1, 1), 999, "sentinel", 0.0, "{}")])

    stream = (
        spark.readStream.schema(ddl)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        stream_sessionize(stream)
        .writeStream.format("memory")
        .queryName("sess_ooo")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM sess_ooo WHERE user_id = 7").collect()
    assert len(rows) == 1, [tuple(r) for r in rows]
    r = rows[0]
    assert r.n_events == 4
    assert r.session_start == t0 - dt.timedelta(minutes=25)
    assert r.session_end == t0 + dt.timedelta(minutes=30)


def test_cli_stream_dates_and_combine_match_batch(spark, tmp_path, capsys):
    """--stream must honor --startdate/--enddate (applied per micro-batch
    via the pre_enrich hook — previously silently ignored) and --combine
    (combined union written from the drained data)."""
    import json as J

    import main as M

    src = fixture_path("sf0.001")
    lo = spark.read.parquet(src).agg(F.min("ts").alias("lo")).collect()[0].lo
    day = lo.date().isoformat()
    out_s = str(tmp_path / "stream_sinks")
    rc = M.main([
        "--input", src, "--output", out_s, "--stream",
        "--no-whois", "--no-idb", "--no-parse",
        "--startdate", day, "--enddate", day, "--combine",
    ])
    assert rc == 0
    res = J.loads(capsys.readouterr().out.strip().splitlines()[-1])
    out_b = str(tmp_path / "batch_sinks")
    rc = M.main([
        "--input", src, "--output", out_b,
        "--no-whois", "--no-idb", "--no-parse", "--groups", "2",
        "--startdate", day, "--enddate", day,
    ])
    assert rc == 0
    batch = J.loads(capsys.readouterr().out.strip().splitlines()[-1])
    got = {k: v for k, v in res["sink_counts"].items() if v}
    want = {k: v for k, v in batch["sink_counts"].items() if v}
    assert got == want and sum(want.values()) > 0
    # the date window excluded something (else the filter proved nothing)
    full = spark.read.parquet(src).count()
    assert sum(want.values()) < full
    assert os.path.exists(os.path.join(out_s, "combined"))

    # a window matching NOTHING must exit 0 with every sink at zero, as
    # the batch path reports it, and --combine has nothing to union
    empty = {}
    for mode in ("stream", "batch"):
        rc = M.main([
            "--input", src, "--output", str(tmp_path / f"{mode}_empty"),
            "--no-whois", "--no-idb", "--no-parse", "--combine",
            "--startdate", "1999-01-01", "--enddate", "1999-01-02", "--groups", "2",
            *(["--stream"] if mode == "stream" else []),
        ])
        assert rc == 0
        empty[mode] = J.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert empty["stream"]["sink_counts"] == empty["batch"]["sink_counts"]
    assert empty["batch"]["sink_counts"] == {s: 0 for s in SINKS}

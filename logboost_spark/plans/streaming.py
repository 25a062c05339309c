"""Structured Streaming face of the pipeline — a capability the batch
reference lacks, free on Spark because every enrichment stage is
stateless (map expressions + broadcast hash joins against static lookup
DataFrames).

Shapes:

* :func:`stream_pipeline` — readStream over a transcript file or
  directory → per micro-batch, inside ``foreachBatch``, the batch
  pipeline's extraction, row stage and group committer: micro-batch N
  is commit group N (``data/group=N/sink=s``, ``_manifest/group-NNNN.json``).
  ``trigger(availableNow=True)`` drains everything present and stops:
  deterministic, so its output equals the batch pipeline's (the gate
  asserts exactly that via the batch DuckDB oracle); a rerun over the
  same checkpoint picks up only new files.
* :func:`stream_windowed_counts` — event-time tumbling-window sink
  counts with a watermark: the late-data-tolerant monitoring aggregate
  (reference has no analog; its summaries are all post-hoc batch).

Scale notes: each micro-batch is written with the batch plan's shape —
one salted exchange of the slim extraction output, broadcast-only
lookups after it (rebroadcast per micro-batch is tens of MBs) — and the
windowed agg shuffles only (window, sink) keys with state bounded by
the watermark horizon.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.enrich import enrich_extract
from ..sources.readers import glob_escape
from .checkpoint import _adaptive_partitions_per_group, commit_chunk, read_manifests
from .pipeline import extract_flags, row_stage

#: inactivity that closes a session of :func:`stream_sessionize`
SESSION_GAP_MINUTES = 30


def _source_stream(spark: SparkSession, input_path: str) -> DataFrame:
    """The raw transcript readStream (plan contains ONLY the source),
    with the input's own schema, so its columns come in the batch
    read's order."""
    opts = {}
    if os.path.isfile(input_path):
        # FileStreamSource watches a DIRECTORY: watch the file's own
        # directory, filtered to its name (escaped, as the filter is a
        # Hadoop glob). Without partition discovery, a partitioned
        # sibling directory (say this run's own output) cannot clash
        # with the file's layout.
        input_path, name = os.path.split(os.path.abspath(input_path))
        opts = {
            "pathGlobFilter": glob_escape(name),
            "recursiveFileLookup": "true",
        }
    # both readers glob their path: escaped, d[1]/ names itself
    input_path = glob_escape(input_path)
    schema = spark.read.options(**opts).parquet(input_path).schema
    return spark.readStream.schema(schema).options(**opts).parquet(input_path)


def stream_pipeline(
    spark: SparkSession,
    input_path: str,
    lookups: dict[str, DataFrame],
    out_dir: str,
    do_parse: bool = True,
    pre_enrich=None,
    kv_separator: str = "=",
    kv_delimiter: str = ",",
    **enrich_flags,
) -> list[dict]:
    """Drain the input (``trigger(availableNow=True)``) into per-sink
    parquet with file-level checkpointing; returns the manifest entries
    written, as ``run_pipeline`` does, when the drain ends.

    The streaming plan is just the source passthrough. Each micro-batch
    arrives in ``foreachBatch`` as a BATCH DataFrame and is written as
    the batch pipeline writes a chunk: ``enrich_extract``, then
    ``checkpoint.commit_chunk`` with ``pipeline.row_stage`` after its
    salted exchange, micro-batch N as commit group N. Its manifests
    carry no ``n_groups``: the groups are micro-batches, not buckets. So
    it refuses an output whose manifests carry one (a batch run's hash
    buckets, which micro-batch N would overwrite).

    Exactly-once, END TO END: the checkpoint's source WAL guarantees a
    committed micro-batch is never re-fed, and micro-batch N owns
    ``data/group=N`` and ``_manifest/group-NNNN.json``. A crash between
    manifest N and the checkpoint commit re-runs batch N over the same
    WAL'd file set: the committer removes manifest N, replaces
    ``data/group=N`` with identical content (the row stage is
    deterministic) and commits it again, instead of appending
    duplicates. A crash before manifest N leaves group N uncommitted,
    so ``read_sinks``/``sink_counts`` leave its data out until the
    re-run commits it: Delta/Iceberg overwrite-by-batch-id, expressed
    in plain partitioned parquet.

    ``pre_enrich``: optional callable(DataFrame) → DataFrame applied to
    each micro-batch before enrichment — the hook the CLI uses to apply
    the --startdate/--enddate filter on the stream path.
    """
    bucketed = sorted(g for g, e in read_manifests(out_dir).items() if "n_groups" in e)
    if bucketed:
        raise ValueError(
            f"{out_dir}: groups {bucketed} are the hash buckets of a batch "
            "run (their manifests carry n_groups); the stream commits "
            "micro-batch N as group N — refusing to mix the two, use a "
            "fresh out_dir"
        )
    src = _source_stream(spark, input_path)
    extract_kw = extract_flags(enrich_flags)
    stage = row_stage(
        lookups, do_parse, kv_separator=kv_separator, kv_delimiter=kv_delimiter,
        **enrich_flags,
    )
    manifests: list[dict] = []

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if pre_enrich is not None:
            batch_df = pre_enrich(batch_df)
        sub = enrich_extract(batch_df, **extract_kw).withColumn(
            "group", F.lit(batch_id)
        )
        parts = _adaptive_partitions_per_group(sub, 1, 1)
        manifests.extend(commit_chunk(sub, out_dir, [batch_id], parts, stage))

    writer = src.writeStream.foreachBatch(_process).option(
        "checkpointLocation", os.path.join(out_dir, "_checkpoint")
    )
    writer.trigger(availableNow=True).start().awaitTermination()
    return manifests


def stream_sessionize(events: DataFrame) -> DataFrame:
    """Streaming gap-sessionization — the custom STATEFUL operator the
    windowed builtins can't express (session windows keyed per user,
    closed by inactivity): ``applyInPandasWithState`` keeps one open
    session per user in the state store; events extend it or close it
    (gap strictly > ``SESSION_GAP_MINUTES``, matching the batch
    sessionizer);
    an event-time timeout at ``last + gap`` flushes idle sessions once
    the watermark passes — so state is bounded by the ACTIVE-user count,
    not the stream length.

    Emits one row per CLOSED session (append mode): (user_id,
    session_start, session_end, n_events). In-batch closures emit
    immediately; the final open session of each user emits when its
    timeout fires (Spark's end-of-stream no-data micro-batch advances
    the watermark under availableNow, draining remaining state).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_s = SESSION_GAP_MINUTES * 60
    out_schema = (
        "user_id bigint, session_start timestamp, "
        "session_end timestamp, n_events bigint"
    )
    state_schema = "start timestamp, last timestamp, n bigint"

    def fn(key, pdf_iter, state: GroupState):
        uid = key[0]
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [uid],
                    "session_start": [start],
                    "session_end": [last],
                    "n_events": [n],
                }
            )
            return
        parts = [pdf["ts"] for pdf in pdf_iter]
        ts = pd.concat(parts).sort_values().tolist()
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        closed = []
        for t in ts:
            if start is None:
                start, last, n = t, t, 1
            elif (t - last).total_seconds() > gap_s:
                closed.append((start, last, n))
                start, last, n = t, t, 1
            else:
                # a cross-batch out-of-order event (t < stored last but
                # still within the watermark) EXTENDS the session; it
                # must never move the session bounds backwards, or the
                # next on-time event could falsely split the session
                if t < start:
                    start = t
                last, n = max(last, t), n + 1
        state.update((start, last, n))
        state.setTimeoutTimestamp(int(last.timestamp() * 1000) + gap_s * 1000)
        if closed:
            yield pd.DataFrame(
                [
                    {
                        "user_id": uid,
                        "session_start": s,
                        "session_end": e,
                        "n_events": c,
                    }
                    for s, e, c in closed
                ]
            )

    return (
        events.withWatermark("ts", f"{SESSION_GAP_MINUTES} minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_exact_dedup(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Ingest-time exact dedup of ``text``: full-md5 content key +
    ``dropDuplicatesWithinWatermark`` — state is bounded by the
    watermark horizon instead of growing with the stream (an unbounded
    ``dropDuplicates`` would OOM a long-running ingest). Web-crawl
    duplicates cluster in time, so a horizon catches the bulk at
    ingest; the batch ``exact_dedup`` pass remains the cross-horizon
    authority. A key's state lives until the watermark passes its FIRST
    sighting + delay, so a re-sighting inside that window is dropped
    even if it arrives hours later by event time."""
    return (
        stream.withColumn("_h", F.md5(F.col("text")))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["_h"])
        .drop("_h")
    )


def stream_windowed_counts(
    routed: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time tumbling-window per-sink row counts, tolerating late
    rows up to the watermark (state for a window is dropped once the
    event-time high-water mark passes window_end + watermark — bounded
    memory at any stream length)."""
    return (
        routed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("sink"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "sink",
            "rows",
        )
    )

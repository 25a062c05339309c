"""Structured Streaming face of the pipeline — a capability the batch
reference lacks, free on Spark because every enrichment stage is
stateless (map expressions + broadcast hash joins against static lookup
DataFrames).

Shapes:

* :func:`stream_pipeline` — readStream over a transcript table/directory
  → the SAME parse/enrich/route stages as ``plans.pipeline``, run per
  micro-batch inside ``foreachBatch`` → partitioned parquet sinks with a
  write-ahead checkpoint. ``trigger(availableNow=True)`` drains everything
  present and stops: deterministic, so its output is byte-comparable to
  the batch pipeline (the gate asserts exactly that via the batch DuckDB
  oracle); a rerun over the same checkpoint picks up only new files.
* :func:`stream_windowed_counts` — event-time tumbling-window sink
  counts with a watermark: the late-data-tolerant monitoring aggregate
  (reference has no analog; its summaries are all post-hoc batch).

Scale notes: each micro-batch inherits the batch plan's properties —
zero fact-side shuffles before the routed write, broadcast-only lookups
(rebroadcast per micro-batch is tens of MBs) — and the windowed agg
shuffles only (window, sink) keys with state bounded by the watermark
horizon. Enrichment runs on the micro-batch, not in the streaming plan,
because enrich's localCheckpoint lineage cut is illegal in a streaming
plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.enrich import enrich
from ..parsers.formats import parse_stage
from .route import route_stage

#: transcript source schema (readStream cannot infer)
TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, ts timestamp, role string, "
    "tool string, text string"
)


def _source_stream(spark: SparkSession, input_path: str) -> DataFrame:
    """The raw transcript readStream (plan contains ONLY the source)."""
    if os.path.isfile(input_path):
        # FileStreamSource watches a DIRECTORY; for a single-file input
        # (the committed fixtures) expose it through a symlink dir. The
        # dir is DETERMINISTIC per input path so a restarted query's
        # checkpoint (which records seen file URIs) still recognizes the
        # file. Production always points at a directory / table location.
        import hashlib
        import tempfile

        ap = os.path.abspath(input_path)
        d = os.path.join(
            tempfile.gettempdir(),
            "lb_stream_src_" + hashlib.md5(ap.encode()).hexdigest()[:16],
        )
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, os.path.basename(input_path))
        # concurrent sessions race on the same deterministic path: both can
        # pass an exists-check, so create first and treat FileExistsError as
        # "the other session won" — then VALIDATE the winner actually is a
        # symlink to our file (a stale regular file here would silently feed
        # the stream wrong data)
        try:
            os.symlink(ap, link)
        except FileExistsError:
            pass
        if not (os.path.islink(link) and os.readlink(link) == ap):
            raise RuntimeError(
                f"stream source shim {link!r} exists but is not a symlink to "
                f"{ap!r} — remove the stale entry (shared tempdir collision)"
            )
        input_path = d
    return spark.readStream.schema(TRANSCRIPT_DDL).parquet(input_path)


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
):
    """Drain the input (``trigger(availableNow=True)``) into per-sink
    parquet with file-level checkpointing; returns when the drain ends.

    The enrichment runs inside ``foreachBatch``, NOT in the streaming
    plan: each micro-batch arrives as a BATCH DataFrame where enrich's
    localCheckpoint analysis barrier is legal, so Catalyst analyzes the
    big extraction expression trees once per batch instead of re-walking
    them per join inside the streaming plan (measured: the in-plan
    variant spent ~170 s of pure driver analysis per drain at sf0.001;
    foreachBatch is ~15 s). The streaming plan itself is just the source
    passthrough.

    Exactly-once, END TO END: the checkpoint's source WAL guarantees a
    committed micro-batch is never re-fed, and the sink writes each
    batch to its OWN partition directory ``data/batch_id=N`` with
    ``mode("overwrite")`` — a crash between the sink write and the
    checkpoint commit re-runs batch N, which (enrichment being
    deterministic over the WAL'd file set) overwrites the same
    directory with identical content instead of appending duplicates.
    This is the same idempotence contract as Delta/Iceberg
    overwrite-by-batch-id, expressed in plain partitioned parquet;
    readers see ``batch_id`` as an ordinary partition column.

    ``pre_enrich``: optional callable(DataFrame) → DataFrame applied to
    each micro-batch before enrichment — the hook the CLI uses to apply
    the --startdate/--enddate filter on the stream path.
    """
    src = _source_stream(spark, input_path)
    data_dir = os.path.join(out_dir, "data")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if pre_enrich is not None:
            batch_df = pre_enrich(batch_df)
        # NOTE: every stage in here (enrich broadcast joins, parse
        # when-cascade, route) must stay DETERMINISTIC over the replayed
        # file set — the overwrite-by-batch_id sink's exactly-once
        # contract (docstring above) depends on a crash-rerun of batch N
        # producing byte-identical content. Adding a nondeterministic
        # stage (sampling, now()-style timestamps,
        # monotonically_increasing_id) here silently weakens the replay
        # to same-cardinality-different-rows.
        df = enrich(batch_df, lookups, **enrich_flags)
        if do_parse:
            df = parse_stage(df, kv_separator=kv_separator, kv_delimiter=kv_delimiter)
        route_stage(df).write.mode("overwrite").partitionBy("sink").parquet(
            os.path.join(data_dir, f"batch_id={batch_id}")
        )

    writer = src.writeStream.foreachBatch(_process).option(
        "checkpointLocation", os.path.join(out_dir, "_checkpoint")
    )
    writer.trigger(availableNow=True).start().awaitTermination()


def stream_sessionize(
    events: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """Streaming gap-sessionization — the custom STATEFUL operator the
    windowed builtins can't express (session windows keyed per user,
    closed by inactivity): ``applyInPandasWithState`` keeps one open
    session per user in the state store; events extend it or close it
    (gap strictly > ``gap_minutes``, matching the batch sessionizer);
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

    gap_s = gap_minutes * 60
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
        events.withWatermark("ts", f"{gap_minutes} minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Ingest-time exact dedup: full-md5 content key +
    ``dropDuplicatesWithinWatermark`` — state is bounded by the
    watermark horizon instead of growing with the stream (an unbounded
    ``dropDuplicates`` would OOM a long-running ingest). Web-crawl
    duplicates cluster in time, so a horizon catches the bulk at
    ingest; the batch ``exact_dedup`` pass remains the cross-horizon
    authority. A key's state lives until the watermark passes its FIRST
    sighting + delay, so a re-sighting inside that window is dropped
    even if it arrives hours later by event time."""
    return (
        stream.withColumn("_h", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
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

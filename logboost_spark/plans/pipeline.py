"""End-to-end pipeline: parse → (date filter) → enrich → route → sinks → agg.

The Spark shape of the reference's per-file goroutine pipeline
(main.go:487 → enrichLogs → processFile → Parse* → ProcessRecords →
enrichRecord → ListenOnWriteChannel): one declarative plan, Catalyst
schedules everything, the three goroutine tiers collapse into partition
parallelism (SURVEY.md §3.1).
"""

from __future__ import annotations

from typing import Callable, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.goformat import go_layout_to_jvm
from ..parsers.formats import parse_stage
from .checkpoint import write_routed
from .route import route_stage


def date_filter(
    df: DataFrame,
    date_col: str,
    go_layout: str | None,
    start: str,
    end: str,
) -> DataFrame:
    """F1 semantics (helpers/helpers.go:253-265): keep start ≤ ts ≤ end
    (inclusive both ends); rows whose timestamp fails to parse are KEPT."""
    col = F.col(date_col)
    ts = (
        F.to_timestamp(col)
        if go_layout is None
        else F.try_to_timestamp(col.cast("string"), F.lit(go_layout_to_jvm(go_layout)))
    )
    keep = ts.isNull() | ts.between(F.lit(start).cast("timestamp"), F.lit(end).cast("timestamp"))
    return df.filter(keep)


def extract_flags(enrich_flags: dict) -> dict:
    """Pop enrich_extract's options (-ipcol/-jsoncol) out of ``enrich_flags``."""
    keys = ("ip_col_name", "json_col_name")
    return {k: enrich_flags.pop(k) for k in keys if k in enrich_flags}


def row_stage(
    lookups: Mapping[str, DataFrame],
    do_parse: bool = True,
    raw_fallthrough: bool = True,
    kv_separator: str = "=",
    kv_delimiter: str = ",",
    full_keys: list[str] | None = None,
    **join_flags,
) -> Callable[[DataFrame], DataFrame]:
    """The ``post_shuffle`` row stage of the batch pipeline and the
    stream, over rows carrying the ``enrich_extract`` columns:
    ``enrich_joins`` → parse → raw filter → ``-fullparse`` projection
    (over ``full_keys``) → route.

    CONTRACT: every step is deterministic over its input rows (broadcast
    lookups are fixed tables; no sampling, no wall-clock reads, no
    monotonically_increasing_id). The stream's exactly-once replay
    depends on this: a crash-rerun of micro-batch N must rewrite group
    N with identical rows, not just as many.
    """
    from ..operators.enrich import enrich_joins

    def stage(part: DataFrame) -> DataFrame:
        out = enrich_joins(part, lookups, **join_flags)
        if do_parse:
            out = parse_stage(
                out, kv_separator=kv_separator, kv_delimiter=kv_delimiter
            )
            if not raw_fallthrough:
                # reference main.go:442: content with no recognized
                # parser is processed as raw ONLY under -getall/-rawtxt;
                # otherwise it is skipped (per-file there, per-line in
                # this engine's model)
                out = out.filter(F.col("format") != "raw")
            if full_keys is not None:
                from ..parsers.extra_keys import shallow_project

                out = shallow_project(out, full_keys)
        return route_stage(out)

    return stage


def run_pipeline(
    transcripts: DataFrame,
    lookups: dict[str, DataFrame],
    out_dir: str,
    resume: bool = False,
    n_groups: int = 8,
    do_parse: bool = True,
    raw_fallthrough: bool = True,
    group_col_name: str | None = None,
    kv_separator: str = "=",
    kv_delimiter: str = ",",
    full_parse: bool = False,
    **enrich_flags,
) -> list[dict]:
    """Full run; returns the lineage manifest entries written.

    The plan is built once: the slim enrich extraction feeds
    :func:`write_routed`'s salted exchange, and the enrich joins, parse
    (and the ``-fullparse`` projection) and routing run after it as
    ``post_shuffle``. ``write_routed`` runs one Spark job per
    ``GROUPS_PER_JOB`` commit groups, one job at a time. Date filtering
    is the caller's (:func:`date_filter` on ``transcripts``).
    """
    # BYTE-DIET SHAPE (guide §2.3/§8, SURVEY §1.1): the salted
    # exchange moves only the raw columns + the slim extraction output
    # (_ip/_cls/_join keys ≈ 30 B/row); the broadcast join pyramid, the
    # fields map and every lb_* sentinel string are computed AFTER the
    # shuffle, directly above the sink write — measured ~40% fewer
    # shuffle bytes and the exchange doubles as the codegen barrier the
    # old extraction localCheckpoint provided (fusing the extraction
    # regexes with the join stage measured 3-20× slower). Every
    # post-shuffle op is per-row deterministic, so output rows are
    # identical; ORDER STILL MATTERS: parse after enrich so the
    # map<string,string> never rides a join's row copy.
    from ..operators.enrich import enrich_extract

    if full_parse and not do_parse:
        raise ValueError(
            "full_parse=True requires do_parse=True: the -fullparse "
            "projection is over the parsed fields map (ADVICE r06)"
        )
    extract_kw = extract_flags(enrich_flags)

    full_keys: list[str] | None = None
    if do_parse and full_parse:
        # -fullparse (main.go:56): one column per key seen ANYWHERE in
        # the input. The key union must be GLOBAL (a per-group union
        # would give groups different schemas), so run the two-pass
        # aggregation over the whole input up front — fields depend only
        # on text, so this prunes to a text-only scan (the reference's
        # first full-file scan, parsers/extra_keys.deep_keys).
        from ..parsers.extra_keys import deep_keys

        keyed = parse_stage(
            transcripts, kv_separator=kv_separator, kv_delimiter=kv_delimiter
        )
        if not raw_fallthrough:
            keyed = keyed.filter(F.col("format") != "raw")
        full_keys = deep_keys(keyed)

    return write_routed(
        enrich_extract(transcripts, **extract_kw),
        out_dir,
        row_stage(
            lookups, do_parse, raw_fallthrough, kv_separator, kv_delimiter,
            full_keys, **enrich_flags,
        ),
        n_groups=n_groups,
        resume=resume,
        group_col_name=group_col_name,
    )

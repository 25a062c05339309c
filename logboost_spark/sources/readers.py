"""File sources. Spark reads .gz transparently (S2 is free); these wrap
the reference's reader quirks.

* CSV with LazyQuotes (helpers/helpers.go:113-118) → PERMISSIVE mode.
* Line-text (S4) → spark.read.text.
* Multi-line JSON (P4) → multiLine reader + explode, replacing the
  rune-by-rune brace tokenizer (parse_json_multi.go:94-156).
* CSV with an embedded JSON blob column (-jsoncol, parse_csv.go:55-67).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def glob_escape(path: str) -> str:
    """``path`` with the Hadoop glob metacharacters ``\\ * ? [ ] { } ,``
    escaped, so a reader or a ``pathGlobFilter`` that globs its path
    matches exactly this name (``t[1].parquet`` is otherwise a pattern
    that matches ``t1.parquet`` only)."""
    return re.sub(r"([\\*?\[\]{},])", r"\\\1", path)


def read_csv(spark, path: str, **options) -> DataFrame:
    opts = {"header": "true", "mode": "PERMISSIVE", "multiLine": "true", "escape": '"'}
    opts.update(options)
    return spark.read.options(**opts).csv(path)


def read_text(spark, path: str) -> DataFrame:
    return spark.read.text(path).withColumnRenamed("value", "line")


def read_multiline_json(spark, path: str) -> DataFrame:
    """CloudTrail-style {"Records":[...]} → one row per record."""
    df = spark.read.option("multiLine", "true").json(path)
    return df.select(F.explode(F.col("Records")).alias("record")).select("record.*")


def read_iis_w3c(spark, path: str) -> DataFrame:
    """IIS/W3C file source: the ``#Fields:`` directive (searched in the
    first 8 lines, parse_iis_w3c.go:15-54) names the columns; comma after
    ``#Fields`` = IIS style, space = W3C. Directive/comment lines (#
    prefix) are skipped; each data row splits into one column per field.

    The header probe is a driver-side read of ≤8 lines (metadata, like
    any schema inference); the data scan is fully distributed and rows
    whose field count mismatches the header are dropped, mirroring the
    reference's per-row guard (parse_iis_w3c.go:101-108).
    """
    lines = spark.read.text(path)
    head = [r.value for r in lines.limit(8).collect()]
    fields_line = next(
        (l for l in head if l.lower().startswith("#fields:")), None
    )
    if fields_line is None:
        raise ValueError(f"{path}: no #Fields directive in the first 8 lines")
    field_data = fields_line.split("#Fields:", 1)[-1].strip()
    iis_style = len(fields_line.split(" ")) == 2  # one space → comma-delimited
    headers = field_data.split(",") if iis_style else field_data.split(" ")
    delim = "," if iis_style else " "
    data = lines.filter(~F.col("value").startswith("#"))
    parts = F.split(F.col("value"), delim)
    data = data.filter(F.size(parts) == len(headers))
    return data.select(
        *[F.get(parts, i).alias(h) for i, h in enumerate(headers)]
    )


# --- S1: directory discovery (reference findLogsToProcess) -------------------

LOG_EXTS = (".csv", ".log", ".txt")


def find_logs_to_process(input_dir: str, getall: bool = False) -> list[str]:
    """Recursive log-file discovery (reference main.go:144-171): walk the
    tree collecting files whose extension is .csv/.log/.txt — their .gz
    variants included (Spark reads gzip transparently, S2) — and with
    ``getall`` EVERY file regardless of extension (the -getall
    fall-through). Deterministic sorted order."""
    import os

    out = []
    for root, _dirs, files in os.walk(input_dir):
        for fn in files:
            base = fn[:-3] if fn.endswith(".gz") else fn
            if getall or base.lower().endswith(LOG_EXTS):
                out.append(os.path.join(root, fn))
    return sorted(out)


def read_log_directory(spark, input_dir: str, getall: bool = False) -> DataFrame:
    """Mixed log directory → transcript-shaped frame
    (conv_id, turn_idx, ts, role, tool, text).

    The reference's per-file model (one goroutine set and one output per
    input file, main.go:487) maps to: conv_id = the file's path RELATIVE
    to ``input_dir`` (unique per input file — the reference keys every
    output on the full path, so two ``a.log`` in different subdirs, or
    ``a.log`` beside ``a.log.gz``, must stay distinct conversations),
    turn_idx = the row's sequence inside its file. CSV files go through
    the LazyQuotes reader and each row becomes a JSON text blob
    (IP/indicator extraction scans it like any text); .log/.txt are line
    sources. Gzip handled transparently.

    Scale: per-file sequencing is computed per SPLIT, not per file — a
    window over (file, ``_metadata.file_block_start``) numbers rows
    inside each ~128 MB split in parallel, and a tiny per-split count
    aggregate (one row per split) provides the running offset that is
    broadcast-joined back. A single 100 GB text file therefore fans out
    across ~800 tasks instead of serializing into one. Row order inside
    a split is the file order Spark's line reader delivers, so
    offset + within-split rank reproduces the exact per-file sequence.
    (Gzip members are unsplittable → single split, same result.)
    """
    import os
    import re

    from pyspark.sql import Window

    from ..semantics import SOURCE_FILE_COL

    paths = find_logs_to_process(input_dir, getall=getall)
    if not paths:
        raise ValueError(f"{input_dir}: no log files found (getall={getall})")

    def is_csv(p: str) -> bool:
        return p.endswith(".csv") or p.endswith(".csv.gz")

    frames = []
    csvs = [p for p in paths if is_csv(p)]
    if csvs:
        from ..operators.combine import combine_files

        c = combine_files(spark, csvs, fmt="csv")
        data_cols = [x for x in c.columns if x != SOURCE_FILE_COL]
        frames.append(
            c.select(
                F.col(SOURCE_FILE_COL),
                # multiLine CSV parses whole-file (never split) → block 0
                F.lit(0).cast("long").alias("_blk"),
                F.to_json(F.struct(*data_cols)).alias("text"),
            )
        )
    others = [p for p in paths if not is_csv(p)]
    if others:
        t = spark.read.text(others).select(
            F.input_file_name().alias(SOURCE_FILE_COL),
            F.col("_metadata.file_block_start").alias("_blk"),
            F.col("value").alias("text"),
        )
        frames.append(t)

    from ..operators.combine import combine

    df = combine(frames)
    # conv_id: strip everything through the normalized input dir. The
    # SOURCE_FILE_COL is a file: URI, so its path component is
    # percent-ENCODED (a space is %20) while ``input_dir`` is a raw
    # filesystem path — decode the URI before stripping or any input dir
    # / filename with encodable characters falls back to the full URI.
    # url_decode treats '+' as a space (form encoding); a URI path never
    # contains a raw space, so a literal '+' is re-escaped to %2B first.
    prefix = re.escape(os.path.abspath(input_dir).rstrip("/") + "/")
    decoded = F.url_decode(F.regexp_replace(F.col(SOURCE_FILE_COL), r"\+", "%2B"))
    conv = F.regexp_replace(decoded, f"^.*{prefix}", "")
    w_split = Window.partitionBy(SOURCE_FILE_COL, "_blk").orderBy(
        F.monotonically_increasing_id()
    )
    df = df.withColumn("_i", F.row_number().over(w_split) - 1)
    # running row-offset per split: one row per (file, split) — tiny
    w_off = (
        Window.partitionBy(SOURCE_FILE_COL)
        .orderBy("_blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        df.groupBy(SOURCE_FILE_COL, "_blk")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            SOURCE_FILE_COL,
            "_blk",
            F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"),
        )
    )
    df = df.join(F.broadcast(offs), [SOURCE_FILE_COL, "_blk"])
    return df.select(
        conv.alias("conv_id"),
        (F.col("_off") + F.col("_i")).cast("int").alias("turn_idx"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit("log").alias("role"),
        F.lit("none").alias("tool"),
        F.col("text"),
    )

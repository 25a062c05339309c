"""spark-submit entry point — the CLI face of the engine.

Mirrors the reference's flag surface (main.go:24-105) on Spark terms:

    spark-submit --py-files logboost_spark.zip main.py \
        --input  /path/to/transcripts_parquet_or_iceberg \
        --output /path/to/sinks \
        --startdate 2023-06-01 --enddate 2023-06-02 \
        --ipcol lb_src --jsoncol AuditData \
        --no-ti --no-dns --no-whois --no-idb \
        --groups 16 --resume --combine

Reference-flag mapping: -logdir→--input, -outputdir→--output,
-startdate/-enddate/-datecol/-dateformat→same names, -useti/-usedns/
-usewhois/-useidb→--no-* inverses (enrichments default ON here),
-ipcol/-jsoncol→same, -combine→--combine, -separator/-delimiter→
--kvseparator/--kvdelimiter, -fullparse→--fullparse,
-summarizeti/-tifeeds/-ip→same names (report modes). Concurrency knobs
(-maxgoperfile/-batchsize/-concurrentfiles/-writebuffer) have no
equivalent: Spark's scheduler owns parallelism.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="logboost_spark pipeline")
    p.add_argument(
        "--input",
        default=None,
        help="transcript table path (parquet), or with --input-format logs a "
        "directory of raw .csv/.log/.txt(.gz) files (recursive discovery, "
        "reference findLogsToProcess main.go:144-171); required unless a "
        "report flag (--summarizeti/--tifeeds/--ip) is used",
    )
    p.add_argument(
        "--input-format",
        choices=["parquet", "logs"],
        default="parquet",
        help="'logs' = recursive mixed-file discovery + per-file readers",
    )
    p.add_argument(
        "--getall",
        action="store_true",
        help="with --input-format logs: take EVERY discovered file "
        "regardless of extension AND process unrecognized content as raw "
        "(reference -getall)",
    )
    p.add_argument(
        "--rawtxt",
        action="store_true",
        help="with --input-format logs: keep extension-filtered discovery "
        "but process content with no recognized format as a raw line "
        "(reference -rawtxt, main.go:43,442); without this or --getall, "
        "unrecognized content is skipped",
    )
    p.add_argument("--output", default=None,
                   help="sink root directory (required unless a report flag is used)")
    p.add_argument("--startdate", default=None)
    p.add_argument("--enddate", default=None)
    p.add_argument("--datecol", default="ts")
    p.add_argument("--dateformat", default=None, help="Go layout (translated to JVM)")
    p.add_argument("--ipcol", default=None)
    p.add_argument("--jsoncol", default=None)
    p.add_argument("--no-ti", action="store_true")
    p.add_argument("--no-dns", action="store_true")
    p.add_argument("--no-whois", action="store_true")
    p.add_argument("--no-idb", action="store_true")
    p.add_argument("--no-parse", action="store_true")
    p.add_argument(
        "--kvseparator",
        default="=",
        help="KV separator between key and value (reference -separator, "
        "main.go:33; e.g. ':' for 'k1:v1;k2:v2' logs)",
    )
    p.add_argument(
        "--kvdelimiter",
        default=",",
        help="KV delimiter between pairs (reference -delimiter, main.go:34; "
        "e.g. ';' for 'k1:v1;k2:v2' logs)",
    )
    p.add_argument(
        "--fullparse",
        action="store_true",
        help="scan the whole input for the key union and project the parsed "
        "fields map to one column per key (reference -fullparse, main.go:56); "
        "without it sinks keep the fields map column",
    )
    p.add_argument(
        "--buildti",
        action="store_true",
        help="TI-build entry point (reference -buildti, main.go:503-515 → "
        "BuildThreatDB): ingest every *.txt feed under --feeddir (feed_name "
        "= file stem, category = containing subdir, else 'unknown') into "
        "--output/ti.parquet, then print the summary report",
    )
    p.add_argument(
        "--updateti",
        action="store_true",
        help="like --buildti but insert-or-ignore MERGES into an existing "
        "--output/ti.parquet (reference -updateti)",
    )
    p.add_argument("--feeddir", default=None, help="feed directory for --buildti/--updateti")
    p.add_argument(
        "--summarizeti",
        action="store_true",
        help="report mode: print distinct-indicator count of the TI table as "
        "JSON and exit (reference -summarizeti, main.go:547-555)",
    )
    p.add_argument(
        "--tifeeds",
        action="store_true",
        help="report mode: print per-feed indicator counts as JSON and exit "
        "(reference -tifeeds, main.go:557-565)",
    )
    p.add_argument(
        "--ip",
        default=None,
        help="ad-hoc mode: extract and print the first public (else first) IP "
        "from the given string via the pipeline's F2 extraction, then exit "
        "(reference -ip, main.go:588-598)",
    )
    p.add_argument("--groups", type=int, default=8, help="commit groups (resume units)")
    p.add_argument(
        "--group-col",
        default=None,
        help="source partition column holding pmod(xxhash64(conv_id), --groups) "
        "(Iceberg bucket layout) — enables per-group partition PRUNING at the scan",
    )
    p.add_argument(
        "--intelfile",
        default=None,
        help="local text file of custom indicators to merge into the TI "
        "table before enrichment (reference -intelfile, main.go:516-545; "
        "requires --intelname and --inteltype)",
    )
    p.add_argument("--intelname", default=None, help="feed name/tag for --intelfile")
    p.add_argument("--inteltype", default=None, help="category label for --intelfile")
    p.add_argument("--resume", action="store_true")
    p.add_argument(
        "--stream",
        action="store_true",
        help="run the pipeline as a checkpointed Structured Streaming "
        "availableNow drain: micro-batch N is committed as commit group N "
        "(--groups/--group-col/--resume do not apply); parquet input only",
    )
    p.add_argument("--combine", action="store_true", help="write combined union of all sinks")
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] cores (default: SPARK_GRAFT_CPUS, else the CPU affinity count)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from logboost_spark.session import get_spark
    from logboost_spark.fixtures.lookups import build_lookup_dfs
    from logboost_spark.plans.pipeline import run_pipeline, date_filter
    from logboost_spark.plans.checkpoint import read_sinks, sink_counts
    from logboost_spark.sources.readers import glob_escape, read_log_directory, read_text

    report_mode = args.summarizeti or args.tifeeds or args.ip is not None
    ti_build_mode = args.buildti or args.updateti
    if ti_build_mode and (args.feeddir is None or args.output is None):
        print("--buildti/--updateti require --feeddir and --output", file=sys.stderr)
        return 2
    if not report_mode and not ti_build_mode and (args.input is None or args.output is None):
        print("--input and --output are required", file=sys.stderr)
        return 2
    if args.stream and args.input_format != "parquet":
        print("--stream requires --input-format parquet", file=sys.stderr)
        return 2
    if args.groups < 1:
        print("--groups must be at least 1", file=sys.stderr)
        return 2
    if args.fullparse and (args.stream or args.no_parse):
        # fail loudly instead of silently writing the fields-map schema
        # the user asked to have projected away (round-6 self-review)
        print("--fullparse requires the batch parse path "
              "(not --stream / --no-parse)", file=sys.stderr)
        return 2
    spark = get_spark(app_name="logboost_spark_cli", cores=args.cores)
    if args.ip is not None:
        # reference main.go:588-598: validate/extract via the SAME F2
        # extraction the pipeline uses (RegexFirstPublicIPFromString),
        # echo the IP, exit; invalid input is an error
        from logboost_spark.functions.ip import ip_extract_stage

        row = ip_extract_stage(
            spark.createDataFrame([(args.ip,)], "text string")
        ).select("_ip", "_cls").first()
        if row["_cls"] == "noip":
            print(f"Invalid IP Address: {args.ip}", file=sys.stderr)
            return 2
        print(row["_ip"])
        return 0
    if ti_build_mode:
        # reference BuildThreatDB (threatIntel.go:117-156): per feed file,
        # IngestFile line semantics (comment/blank skip, first IPv4,
        # private filter, insert-or-ignore). HTTP download is replaced by
        # the local --feeddir per the offline design (SURVEY §1.4); the
        # SQLite star schema is the flat (ip, feed_name, category) table.
        import glob

        from logboost_spark.operators.ti_build import build_ti_table, summarize_ti

        feed_files = sorted(
            glob.glob(os.path.join(args.feeddir, "**", "*.txt"), recursive=True)
        )
        if not feed_files:
            print(f"no *.txt feeds under {args.feeddir}", file=sys.stderr)
            return 2
        feeds = []
        for path in feed_files:
            name = os.path.splitext(os.path.basename(path))[0]
            parent = os.path.dirname(os.path.abspath(path))
            cat = (
                os.path.basename(parent)
                if parent != os.path.abspath(args.feeddir)
                else "unknown"
            )
            feeds.append((name, cat, read_text(spark, path)))
        ti = build_ti_table(feeds)
        out_path = os.path.join(args.output, "ti.parquet")
        if args.updateti and os.path.exists(out_path):
            ti = (
                spark.read.parquet(out_path)
                .unionByName(ti)
                .dropDuplicates(["ip", "feed_name", "category"])
            )
        # materialize before overwriting a path the plan may read from
        ti = ti.localCheckpoint(eager=True)
        ti.write.mode("overwrite").parquet(out_path)
        n_rows = ti.count()
        n_ips = summarize_ti(ti).first()["distinct_ips"]
        print(json.dumps({
            "ti_path": out_path, "feeds_ingested": len(feeds),
            "rows": n_rows, "distinct_ips": n_ips,
        }))
        return 0
    # build_lookup_dfs returns a read-only mapping shared by the session;
    # the --intelfile path below replaces entries in this copy
    lookups = dict(build_lookup_dfs(spark))
    intel_flags = [args.intelfile, args.intelname, args.inteltype]
    if any(intel_flags):
        if not all(intel_flags):
            # reference main.go:107-108: the three flags travel together
            print("Must use --intelfile, --intelname and --inteltype together",
                  file=sys.stderr)
            return 2
        from logboost_spark.operators.ti_build import ingest_intel_lines

        custom = ingest_intel_lines(
            read_text(spark, args.intelfile), args.intelname, args.inteltype
        )
        lookups["ti"] = lookups["ti"].unionByName(custom).dropDuplicates(
            ["ip", "feed_name", "category"]
        )
    if args.summarizeti:
        # reference -summarizeti (main.go:547-555 → SummarizeThreatDB):
        # distinct indicator count over the TI table (+ any --intelfile)
        from logboost_spark.operators.ti_build import summarize_ti, ti_category_counts

        n = summarize_ti(lookups["ti"]).first()["distinct_ips"]
        cats = {
            r.category: r.cnt for r in ti_category_counts(lookups["ti"]).collect()
        }
        print(json.dumps({"distinct_ips": n, "category_counts": cats},
                         sort_keys=True))
        return 0
    if args.tifeeds:
        # reference -tifeeds (main.go:557-565 → SummarizeThreatFeeds)
        from logboost_spark.operators.ti_build import ti_feed_listing

        feeds = [
            {"feed_name": r.feed_name, "distinct_ips": r.distinct_ips,
             "rows": r.rows}
            for r in ti_feed_listing(lookups["ti"])
            .orderBy("feed_name").collect()
        ]
        print(json.dumps({"feeds": feeds}))
        return 0
    if any(intel_flags):
        # the committed ip_combined carries the fixture TI: re-derive it
        # over the merged TI, materialized once for every group job
        from logboost_spark.fixtures.lookups import base_lookup_dfs
        from logboost_spark.operators.enrich import derive_lookups

        derived = derive_lookups({**base_lookup_dfs(spark), "ti": lookups["ti"]})
        lookups["ip_combined"] = derived["ip_combined"].localCheckpoint()

    def in_window(df):
        if args.startdate and args.enddate:
            return date_filter(
                df, args.datecol, args.dateformat, args.startdate, args.enddate
            )
        return df

    flags = dict(
        do_parse=not args.no_parse,
        kv_separator=args.kvseparator,
        kv_delimiter=args.kvdelimiter,
        use_ti=not args.no_ti,
        use_dns=not args.no_dns,
        use_whois=not args.no_whois,
        use_idb=not args.no_idb,
        ip_col_name=args.ipcol,
        json_col_name=args.jsoncol,
    )
    if args.stream:
        from logboost_spark.plans.streaming import stream_pipeline

        # the stream reads args.input itself: the date window applies to
        # each micro-batch
        manifests = stream_pipeline(
            spark, args.input, lookups, args.output, pre_enrich=in_window, **flags
        )
    else:
        if args.input_format == "logs":
            transcripts = read_log_directory(spark, args.input, getall=args.getall)
        else:
            # a plain path, not a Hadoop glob: t[1].parquet names itself
            transcripts = spark.read.parquet(glob_escape(args.input))
        manifests = run_pipeline(
            in_window(transcripts),
            lookups,
            args.output,
            resume=args.resume,
            n_groups=args.groups,
            group_col_name=args.group_col,
            full_parse=args.fullparse,
            raw_fallthrough=(
                args.input_format != "logs" or args.getall or args.rawtxt
            ),
            **flags,
        )
    counts = sink_counts(args.output)
    # with no row committed there is no file to union (nor a schema)
    if args.combine and any(counts.values()):
        from pyspark.sql import functions as F

        # the file's path relative to --output, data/group=g/sink=s/part-…:
        # the same bytes wherever the output sits
        rel = F.regexp_extract(F.input_file_name(), r"data/group=[^/]*/sink=[^/]*/[^/]*$", 0)
        read_sinks(spark, args.output).withColumn("SourceFile", rel).write.mode(
            "overwrite"
        ).parquet(os.path.join(args.output, "combined"))
    streamed = {"streamed": True} if args.stream else {}
    print(json.dumps(
        {**streamed, "groups_written": len(manifests), "sink_counts": counts}
    ))
    return 0


if __name__ == "__main__":
    sys.exit(main())

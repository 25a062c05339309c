"""Dump .explain("formatted") for the bench queries + pipeline stages.

Usage: python tools/plan_dump.py <outdir> [query ...]
Writes <outdir>/<name>_<tag>.txt for each query (tag from $PLAN_TAG,
default "before").
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TAG = os.environ.get("PLAN_TAG", "before")

BENCH_QUERIES = [
    "t_route_counts",
    "q1_pricing_summary",
    "q5_region_volume",
    "events_sessionize",
    "doc_minhash_lsh",
    "doc_simhash",
    "ann_topk_bruteforce",
    "doc_bpe_token_count",
    "doc_decontaminate",
    "corpus_health_report",
]


def fmt_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main():
    outdir = sys.argv[1]
    only = set(sys.argv[2:])
    os.makedirs(outdir, exist_ok=True)

    from logboost_spark.session import get_spark
    from logboost_spark import entry_queries as Q
    from logboost_spark.fixtures.lookups import build_lookup_dfs

    spark = get_spark(app_name="plan_dump")

    for name in BENCH_QUERIES:
        if only and name not in only:
            continue
        df = Q.QUERIES[name](spark, SF_DIR)
        with open(os.path.join(outdir, f"{name}_{TAG}.txt"), "w") as f:
            f.write(fmt_plan(df))
        print("wrote", name, flush=True)

    if not only or "pipeline_routed" in only:
        # ONE commit group's pre-write plan in the r07 byte-diet shape
        # (scan(pruned) -> extract -> salted exchange of slim rows ->
        # joins + parse + route -> sort); write_routed writes two groups
        # per job, placed with repartitionById instead of repartition
        from logboost_spark.operators.enrich import enrich_extract, enrich_joins
        from logboost_spark.parsers.formats import parse_stage
        from logboost_spark.plans.route import route_stage, salted_repartition

        cache = os.path.join(ROOT, "data", "bench_transcripts_2000000_g4")
        tr = spark.read.parquet(cache)
        lookups = build_lookup_dfs(spark)
        from pyspark.sql import functions as F

        prepared = enrich_extract(tr)
        sub = prepared.filter(F.col("cgroup").cast("bigint") == 0).drop("cgroup")
        sub = salted_repartition(sub, 32, 64, sort_cols=None)
        sub = route_stage(
            parse_stage(enrich_joins(sub, lookups, use_whois=False, use_idb=False))
        )
        shuf = sub.sortWithinPartitions("sink", "conv_id", "turn_idx")
        with open(os.path.join(outdir, f"pipeline_routed_{TAG}.txt"), "w") as f:
            f.write(fmt_plan(shuf))
        print("wrote pipeline_routed", flush=True)


if __name__ == "__main__":
    main()

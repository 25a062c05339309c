"""Plan-shape regression tests: the physical plans we designed for scale
must stay that way (broadcast joins, pushed filters, no nested loops)."""

from pyspark.sql import functions as F

from logboost_spark.fixtures.transcripts import fixture_path
from logboost_spark.operators.enrich import enrich


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_enrich_all_joins_broadcast(spark, lookups):
    tr = spark.read.parquet(fixture_path("sf0.001"))
    plan = _plan(enrich(tr, lookups))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # fact side must never shuffle
    # ONE merged geo range join (carrying is_dc) + ONE ip-keyed join
    # against the committed ip_combined table (ti/dns/whois-domain/
    # whois-ip/idb, pre-joined offline — no lookup-side join or
    # aggregation in per-query plans): exactly 2 fact-side broadcast
    # probes with every flag on
    assert plan.count("BroadcastHashJoin") == 2


def test_parquet_filter_pushdown(spark):
    tr = spark.read.parquet(fixture_path("sf0.001"))
    q = tr.filter(F.col("conv_id") == "conv-00000001").select("conv_id", "turn_idx")
    plan = _plan(q)
    # (no IsNotNull: constraint propagation is disabled, see session.py)
    assert "EqualTo(conv_id,conv-00000001)" in plan.split("PushedFilters: ")[1]
    # column pruning: text must not be read
    assert "ReadSchema" in plan and "text" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_ann_bruteforce_broadcasts_queries(spark):
    from logboost_spark.operators.similarity import cosine_topk_bruteforce

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(50)], "vec_id bigint, embedding array<float>"
    )
    plan = _plan(cosine_topk_bruteforce(emb, emb.filter(F.col("vec_id") < 2), k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_minhash_no_cartesian(spark):
    from logboost_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame([(i, f"tok{i} common words") for i in range(20)], "doc_id bigint, text string")
    plan = _plan(minhash_lsh_pairs(docs))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_pipeline_prewrite_has_no_fact_shuffle(spark, lookups):
    """The enrich→parse→route chain must reach the write stage without a
    single fact-side Exchange: every lookup is broadcast, parse/route are
    narrow maps — the salted repartition before the sink is the ONLY wide
    shuffle in the whole pipeline (BroadcastExchange of dimension tables
    is allowed; hash/range exchanges of the fact table are not)."""
    from logboost_spark.fixtures.transcripts import fixture_path
    from logboost_spark.parsers.formats import parse_stage
    from logboost_spark.plans.route import route_stage

    import re

    tr = spark.read.parquet(fixture_path("sf0.001"))
    routed = route_stage(parse_stage(enrich(tr, lookups)))
    plan = _plan(routed)
    # hash exchanges may appear only on LOOKUP keys (_ipk/ip: the
    # dimension pre-joins inside the broadcast build — dimension-sized,
    # once per broadcast); never on a fact column
    for m in re.finditer(r"Exchange hashpartitioning\(([A-Za-z_]+)", plan):
        assert m.group(1) in {"_ipk", "ip"}, m.group(0)
    assert "Exchange rangepartitioning" not in plan, plan[:3000]
    assert not re.search(
        r"Exchange hashpartitioning\((conv_id|turn_idx|text|sink|ts|role|tool)", plan
    )
    assert "BroadcastExchange" in plan  # the lookups DO broadcast

"""Golden test: Spark enrichment equals the pure-Python reference oracle
cell-for-cell on generated transcripts (SURVEY.md §5 plan item 3)."""

import pandas as pd
import pytest

from logboost_spark import oracle as O
from logboost_spark.fixtures import transcripts as TR
from logboost_spark.operators.enrich import enrich


def test_enrich_matches_oracle(spark, lookups):
    pdf = TR.gen_pandas(2000)
    sdf = spark.createDataFrame(pdf)
    eng = (
        enrich(sdf, lookups)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    base = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    ora = pd.DataFrame([O.enrich_text(t) for t in base["text"]])
    for c in ora.columns:
        neq = eng[c].astype(str) != ora[c].astype(str)
        assert not neq.any(), f"{c}: {int(neq.sum())} mismatches, e.g. {base.loc[neq[neq].index[0], 'text']!r}"


def test_enrich_flags_gate_columns(spark, lookups):
    pdf = TR.gen_pandas(50)
    sdf = spark.createDataFrame(pdf)
    cols = enrich(sdf, lookups, use_whois=False, use_idb=False).columns
    assert not any(c.startswith("lb_IPWhois") or c.startswith("lb_IDB") for c in cols)
    assert "lb_ThreatFeeds" in cols and "lb_Domains" in cols


def test_route_matches_oracle(spark, lookups):
    from pyspark.sql import functions as F

    from logboost_spark.plans.route import route_category

    pdf = TR.gen_pandas(1500)
    sdf = spark.createDataFrame(pdf)
    eng = (
        enrich(sdf, lookups)
        .withColumn("sink", route_category())
        .select("conv_id", "turn_idx", "sink")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    base = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    want = [
        O.route_category({**O.enrich_text(r.text), "role": r.role, "tool": r.tool})
        for r in base.itertuples()
    ]
    assert list(eng["sink"]) == want


#: adversarial lines through the same public surface: (id, text)
PROBES = [
    ("empty", ""),
    ("null", None),
    ("whitespace", "   \t  "),
    ("long_line", "ip 8.8.8.8 " * 500),  # 5.5k chars, 500 repeated IPs
    ("garbage_malformed_v6", "999.999.999.999 then fe80::zzz then 10.0.0.5"),
    ("special_privates", "0.0.0.0 and 255.255.255.255 only"),
    ("unknown_v6", "deadbeef:cafe:babe:face:feed:f00d:dead:beef"),
    ("unicode", "«🦀» unicode 8.8.4.4 emoji"),
]


@pytest.fixture(scope="module")
def probe_rows(spark, lookups):
    rows = [
        (f"p{i}", i, "user", text, "none") for i, (_, text) in enumerate(PROBES)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )
    return {r.turn_idx: r for r in enrich(df, lookups).collect()}


@pytest.mark.parametrize("i", range(len(PROBES)), ids=[p[0] for p in PROBES])
def test_enrich_probe_matches_oracle(probe_rows, i):
    text = PROBES[i][1]
    got = probe_rows[i]
    if text is None:
        want = ("noip", "NoIP")
    else:
        o = O.enrich_text(text)
        want = (o["lb_class"], o["lb_IP"])
    assert (got.lb_class, got.lb_IP) == want

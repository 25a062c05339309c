"""The enrichment stage: LogBoost's ``enrichRecord`` as broadcast joins.

Reference flow (helpers/helpers.go:295-480): extract IP from the row →
classify (none / invalid / private / public) → for public IPs, look up
geo-ASN, geo-city, threat intel (+ datacenter-ASN merge), reverse DNS,
TLD, WHOIS (domain + IP), Shodan InternetDB — appending the fixed
``lb_*`` column suffix with string sentinels on each miss path.

Spark shape: ONE pass over the fact table with at most two broadcast
probes, both against tables derived offline by :func:`derive_lookups`:
  * one prefix-bucketed broadcast range join against ``geo_merged`` (geo
    ASN + city merged into one disjoint interval table, carrying the
    datacenter-ASN flag ``is_dc``),
  * one broadcast hash left join against ``ip_combined`` (one row per
    IP: threat intel with its datacenter variants, reverse DNS + TLD,
    domain WHOIS pre-joined through that TLD, IP WHOIS, InternetDB).
No fact-side shuffle and no Python anywhere; every lookup side is a
plain scan of a committed table. Private / no-IP rows carry null join
keys, so they fall through every join for free and get sentinel-filled
at the end (the reference's early-exit, expressed declaratively).

Two phases: :func:`enrich_extract` (IP extraction, the only part that
reads ``text``) and :func:`enrich_joins` (the probes and ``lb_*``
columns). :func:`enrich` runs both with a lineage cut between them; the
batch pipeline runs them on either side of its salted exchange instead.

Sentinel matrix (see semantics.py for the ragged-row normalization note):
  no IP found / unparseable  → lb_IP="NoIP", every enrich col "NoIP"
  private IP                 → lb_IP=ip,    every enrich col "PVT"
  public, geo miss           → ""           (helpers/helpers.go:373-389)
  public, TI miss            → none/0/none  (helpers/threatIntel.go:403)
  public, DNS miss           → "none"/"none" (helpers/helpers.go:499-509)
  public, WHOIS/IDB miss     → "err"×4/×8/×5 (lookup attempted, no data)
  public, DNS hit but TLD=none → domain-WHOIS "NA"×4 (helpers.go:469-473)
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ip import ip_extract_stage
from ..semantics import (
    IDB_FIELDS,
    WHOIS_DOMAIN_FIELDS,
    WHOIS_IP_FIELDS,
)
from .geo_join import range_lookup_join

_DC_CATEGORY = "dc"
_DC_FEED = "internal datacenter list"

#: ``ip_combined`` columns per enrichment, in output order
_TI_COLS = [
    "ti_categories", "ti_feed_count", "ti_feeds",
    "ti_categories_dc", "ti_feed_count_dc", "ti_feeds_dc",
]
_DNS_COLS = ["domains_joined", "tld"]
_WD_SRC = ["created", "updated", "country", "org"]
_WI_SRC = ["cidr", "netname", "nettype", "org", "created", "updated", "country", "parent"]
_WD_COLS = [f"wd_{c}" for c in _WD_SRC]
_WI_COLS = [f"wi_{c}" for c in _WI_SRC]
_IDB_COLS = ["idb_cpes", "idb_hostnames", "idb_ports", "idb_tags", "idb_vulns"]

_GEO_ATTRS = ["asn_org", "asn_number", "country", "city"]


def ti_by_ip(ti: DataFrame) -> DataFrame:
    """Pre-aggregate (ip, feed_name, category) rows to one row per IP,
    with the output strings FULLY precomputed lookup-side.

    Mirrors CheckIPinTI's dedupe+sort (helpers/threatIntel.go:381-423,
    helpers/helpers.go:1111-1122): both lists sorted, distinct; the feed
    count is the number of distinct feeds. Done once on the tiny lookup
    side, so the fact-side join stays 1:1 (no row explosion).

    Besides the plain joined strings, the datacenter-ASN variants
    (category/feed lists with the DC entry merged in, helpers.go:448-455)
    are also precomputed here: the fact side then just picks a string by
    the per-row ``_is_dc`` flag instead of running
    array_sort∘array_distinct∘concat∘array_join on EVERY row — per-row
    output-expression work measured as the marginal cost of enrich.
    """
    base = ti.groupBy("ip").agg(
        F.array_sort(F.collect_set("category")).alias("_c"),
        F.array_sort(F.collect_set("feed_name")).alias("_f"),
    )
    dc_c = F.array_sort(
        F.array_distinct(F.concat(F.col("_c"), F.array(F.lit(_DC_CATEGORY))))
    )
    dc_f = F.array_sort(
        F.array_distinct(F.concat(F.col("_f"), F.array(F.lit(_DC_FEED))))
    )
    return base.select(
        "ip",
        F.array_join("_c", "|").alias("ti_categories"),
        F.size("_f").cast("string").alias("ti_feed_count"),
        F.array_join("_f", "|").alias("ti_feeds"),
        F.array_join(dc_c, "|").alias("ti_categories_dc"),
        F.size(dc_f).cast("string").alias("ti_feed_count_dc"),
        F.array_join(dc_f, "|").alias("ti_feeds_dc"),
    )


def derive_lookups(base: Mapping[str, DataFrame]) -> dict[str, DataFrame]:
    """The two tables enrich probes, derived from the base dimension tables
    (``fixtures.lookups.DERIVATION_INPUTS``).

    * ``geo_merged``: the merged ASN+City interval table plus ``is_dc``
      (its ASN is in ``dc_asn``), so the datacenter test rides on the geo
      range join instead of a per-row literal membership test.
    * ``ip_combined``: one row per IP key across ti, dns_ptr, whois_ip and
      shodan_idb, each source LEFT-joined onto the key union. Dimension
      tables have unique ip keys, so one fact-side LEFT join against this
      table is row-for-row identical to one join per source. The domain
      WHOIS fields are joined here through the row's TLD (only when it is
      neither null nor ``none``): the TLD is a function of the IP (first
      PTR domain → public suffix), so the fact side needs no TLD-keyed
      probe of its own.

    A pure DataFrame function: ``tools/build_fixtures.py`` runs it once to
    write the committed tables, and ``main.py --intelfile`` re-runs it
    over the merged TI table.
    """
    dc = base["dc_asn"].select("asn_number").distinct().withColumn("_dc", F.lit(True))
    geo = (
        base["geo_merged"]
        .select("net_start", "net_end", *_GEO_ATTRS)
        .join(dc, "asn_number", "left")
        .select(
            "net_start", "net_end", *_GEO_ATTRS,
            F.coalesce(F.col("_dc"), F.lit(False)).alias("is_dc"),
        )
    )

    dns = base["dns_ptr"].select("ip", *_DNS_COLS)
    wd = base["whois_domain"].select(
        F.col("domain").alias("_wd_domain"),
        *[F.col(c).alias(f"wd_{c}") for c in _WD_SRC],
    )
    has_domain = F.col("tld").isNotNull() & (F.col("tld") != "none")
    dns = dns.join(
        wd, F.when(has_domain, F.col("tld")) == F.col("_wd_domain"), "left"
    ).drop("_wd_domain")
    wi = base["whois_ip"].select(
        "ip", *[F.col(c).alias(f"wi_{c}") for c in _WI_SRC]
    )
    idb = base["shodan_idb"].select(
        "ip",
        F.array_join("cpes", "|").alias("idb_cpes"),
        F.array_join("hostnames", "|").alias("idb_hostnames"),
        F.array_join(F.transform("ports", lambda x: x.cast("string")), "|").alias(
            "idb_ports"
        ),
        F.array_join("tags", "|").alias("idb_tags"),
        F.array_join("vulns", "|").alias("idb_vulns"),
    )
    sources = [ti_by_ip(base["ti"]), dns, wi, idb]
    keys = sources[0].select("ip")
    for s in sources[1:]:
        keys = keys.union(s.select("ip"))
    combined = keys.distinct()
    for s in sources:
        combined = combined.join(s, "ip", "left")
    combined = combined.select(
        "ip", *_TI_COLS, *_DNS_COLS, *_WD_COLS, *_WI_COLS, *_IDB_COLS
    )
    return {"geo_merged": geo, "ip_combined": combined}


def enrich_extract(
    df: DataFrame,
    ip_col_name: str | None = None,
    json_col_name: str | None = None,
) -> DataFrame:
    """Phase 1 of enrich: IP extraction + join-key columns.

    Appends ``_ip``/``_cls`` (ip_extract_stage) plus the public-only
    join keys ``_join_ip`` (string) and ``_join_v4`` (int form). This is
    the only part of enrich that reads ``text``; everything downstream
    (enrich_joins) references these slim attributes — which is what lets
    the pipeline shuffle extraction output instead of formatted rows.
    """
    df = ip_extract_stage(df, ip_col_name=ip_col_name, json_col_name=json_col_name)
    pub = F.col("_cls") == "pub"
    df = df.withColumn("_join_ip", F.when(pub, F.col("_ip")))
    return df.withColumn("_join_v4", F.when(pub, F.col("_v4l"))).drop("_v4l")


def enrich(
    df: DataFrame,
    lookups: Mapping[str, DataFrame],
    use_whois: bool = True,
    use_idb: bool = True,
) -> DataFrame:
    """Append the lb_* enrichment suffix, TI and DNS included. Flags
    mirror -usewhois/-useidb; column order is fixed (vars/vars.go:51-56).

    The plan lineage is always cut between the extraction stage and the
    join pyramid with a lazy localCheckpoint: the Catalyst analyzer
    otherwise re-walks the big extraction expression trees once per
    join, superlinearly — measured 20s → 120s → minutes of pure driver
    time as joins accumulate. The cut also materializes the extraction
    once, so multi-action consumers don't recompute it, and pins
    filters on enrich output above a materialized ``_cls`` attribute.
    On a cluster with unreliable local disks prefer
    `spark.checkpoint.dir` + .checkpoint(), or stage the extraction to a
    table. Neither the batch pipeline nor the stream calls this
    function: both run :func:`enrich_extract` and :func:`enrich_joins` on
    either side of the salted exchange, which materializes the slim
    extraction output as shuffle files instead (their determinism
    contract is on ``plans.pipeline.row_stage``).
    """
    return enrich_joins(
        enrich_extract(df).localCheckpoint(eager=False),
        lookups,
        use_whois=use_whois,
        use_idb=use_idb,
    )


def enrich_joins(
    df: DataFrame,
    lookups: Mapping[str, DataFrame],
    use_ti: bool = True,
    use_dns: bool = True,
    use_whois: bool = True,
    use_idb: bool = True,
) -> DataFrame:
    """Phase 2 of enrich: two broadcast probes + lb_* output columns.

    Expects the enrich_extract columns (``_ip``/``_cls``/``_join_ip``/
    ``_join_v4``) as real attributes on ``df``, and the derived
    ``geo_merged`` and ``ip_combined`` tables (:func:`derive_lookups`) in
    ``lookups``.
    """
    out_cols = [*df.columns]

    # --- geo + datacenter ASN: ONE prefix-bucketed broadcast range join --
    # geo_asn + geo_city are outer-merged offline into a single disjoint
    # interval table (segments carry asn attrs, city attrs, or both), so
    # the fact table is range-joined — and its rows re-copied — once
    # instead of twice; row-for-row identical to two sequential left
    # joins (merge_disjoint_interval_tables docstring). ``is_dc`` rides
    # along: a geo miss has no ASN, so it is not a datacenter.
    df = range_lookup_join(
        df,
        F.col("_join_v4"),
        lookups["geo_merged"],
        [*_GEO_ATTRS, "is_dc"],
        prefix="_g_",
    )

    # --- ONE broadcast join for every ip-keyed lookup --------------------
    # TI, DNS + TLD, domain WHOIS, IP WHOIS and IDB all live in the
    # offline ip_combined table; only the columns the flags need are read.
    # Every string is precomputed there, so per fact row this is a probe
    # plus coalesces.
    need = []
    if use_ti:
        need += _TI_COLS
    if use_dns:
        need += _DNS_COLS
    if use_whois and use_dns:
        need += _WD_COLS
    if use_whois:
        need += _WI_COLS
    if use_idb:
        need += _IDB_COLS
    if need:
        combined = lookups["ip_combined"].select(
            F.col("ip").alias("_ipk"), *[F.col(c).alias(f"_{c}") for c in need]
        )
        df = df.join(
            F.broadcast(combined), df["_join_ip"] == combined["_ipk"], "left"
        ).drop("_ipk")

    def _sentinel(col):
        return (
            F.when(F.col("_cls") == "noip", F.lit("NoIP"))
            .when(F.col("_cls") == "pvt", F.lit("PVT"))
            .otherwise(col)
        )

    # --- geo output columns ---------------------------------------------
    geo_out = [
        # lb_IP on the PVT path carries the extracted private IP
        # (helpers.go:349)
        F.when(F.col("_cls") == "noip", F.lit("NoIP"))
        .otherwise(F.col("_ip"))
        .alias("lb_IP"),
        _sentinel(F.coalesce(F.col("_g_asn_org"), F.lit(""))).alias("lb_ASN"),
        _sentinel(
            F.coalesce(F.col("_g_asn_number").cast("string"), F.lit(""))
        ).alias("lb_ASN_Number"),
        _sentinel(F.coalesce(F.col("_g_country"), F.lit(""))).alias("lb_Country"),
        _sentinel(F.coalesce(F.col("_g_city"), F.lit(""))).alias("lb_City"),
    ]

    # --- threat intel (+ datacenter merge) ---------------------------------
    ti_out = []
    if use_ti:
        # every array op happened lookup-side in ti_by_ip; per fact row
        # this is just a flag-picked string coalesce. Semantics preserved:
        # dc + ti-hit → merged lists; dc + no-hit → the DC entry alone;
        # no-dc + no-hit → none/0.
        is_dc = F.coalesce(F.col("_g_is_dc"), F.lit(False))
        for name, plain, miss, dc_miss in zip(
            ["lb_ThreatCategories", "lb_ThreatFeedCount", "lb_ThreatFeeds"],
            _TI_COLS[:3],
            ["none", "0", "none"],
            [_DC_CATEGORY, "1", _DC_FEED],
        ):
            ti_out.append(
                _sentinel(
                    F.when(
                        is_dc, F.coalesce(F.col(f"_{plain}_dc"), F.lit(dc_miss))
                    ).otherwise(F.coalesce(F.col(f"_{plain}"), F.lit(miss)))
                ).alias(name)
            )

    # --- DNS + TLD -----------------------------------------------------------
    dns_out = []
    if use_dns:
        dns_out = [
            _sentinel(
                F.coalesce(F.col("_domains_joined"), F.lit("none"))
            ).alias("lb_Domains"),
            _sentinel(F.coalesce(F.col("_tld"), F.lit("none"))).alias("lb_TLD"),
        ]

    # --- WHOIS domain ----------------------------------------------------------
    wd_out = []
    if use_whois and use_dns:
        # valid domain + lookup miss → "err" (live lookup failed);
        # no domain at all → "NA" (lookup skipped, helpers.go:469-473)
        has_domain = F.col("_tld").isNotNull() & (F.col("_tld") != "none")
        for src, name in zip(_WD_COLS, WHOIS_DOMAIN_FIELDS):
            wd_out.append(
                _sentinel(
                    F.when(~has_domain, F.lit("NA")).otherwise(
                        F.coalesce(F.col(f"_{src}"), F.lit("err"))
                    )
                ).alias(name)
            )

    # --- WHOIS IP + Shodan InternetDB ----------------------------------------
    wi_out = []
    if use_whois:
        for src, name in zip(_WI_COLS, WHOIS_IP_FIELDS):
            wi_out.append(
                _sentinel(F.coalesce(F.col(f"_{src}"), F.lit("err"))).alias(name)
            )
    idb_out = []
    if use_idb:
        for src, name in zip(_IDB_COLS, IDB_FIELDS):
            idb_out.append(
                _sentinel(F.coalesce(F.col(f"_{src}"), F.lit("err"))).alias(name)
            )

    keep = [c for c in out_cols if not c.startswith("_") and c != "domains"]
    return df.select(
        *keep,
        F.col("_cls").alias("lb_class"),
        *geo_out,
        *ti_out,
        *dns_out,
        *wd_out,
        *wi_out,
        *idb_out,
    )

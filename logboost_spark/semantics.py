"""Reference-parity constants: enrichment column names, sentinels, ordering.

The reference appends a fixed suffix schema gated by flags
(vars/vars.go:51-56, helpers/helpers.go:194-214) and emits string
sentinels instead of NULLs (helpers/helpers.go:301-303,399,403).

One documented deviation: for NoIP/PVT early-exit rows the reference
appends *fewer* cells than its own header declares (helpers/helpers.go:
306-352 appends 3 or 4 cells against 5 geo header columns), producing
ragged CSV rows. A columnar engine cannot emit ragged rows, so we
normalize: early-exit rows carry their path sentinel (``NoIP``/``PVT``/
``NA``) in every enrichment column of the stages that were skipped. The
pure-Python oracle in tests encodes the same normalization.
"""

from __future__ import annotations

# Enrichment column groups, in the exact order the reference appends them
# (vars/vars.go:51-56).
GEO_FIELDS = ["lb_IP", "lb_ASN", "lb_ASN_Number", "lb_Country", "lb_City"]
THREAT_FIELDS = ["lb_ThreatCategories", "lb_ThreatFeedCount", "lb_ThreatFeeds"]
DNS_FIELDS = ["lb_Domains", "lb_TLD"]
WHOIS_DOMAIN_FIELDS = [
    "lb_DomainWhois_CreatedDate",
    "lb_DomainWhois_UpdatedDate",
    "lb_DomainWhois_Country",
    "lb_DomainWhois_Organization",
]
WHOIS_IP_FIELDS = [
    "lb_IPWhois_CIDR",
    "lb_IPWhois_NetName",
    "lb_IPWhois_NetType",
    "lb_IPWhois_Organization",
    "lb_IPWhois_Created",
    "lb_IPWhois_Updated",
    "lb_IPWhois_Country",
    "lb_IPWhois_Parent",
]
IDB_FIELDS = ["lb_IDB_cpes", "lb_IDB_hostnames", "lb_IDB_ports", "lb_IDB_tags", "lb_IDB_vulns"]

ALL_ENRICH_FIELDS = (
    GEO_FIELDS + THREAT_FIELDS + DNS_FIELDS + WHOIS_DOMAIN_FIELDS + WHOIS_IP_FIELDS + IDB_FIELDS
)

# Catch-all overflow column for unseen keys in shallow parse mode
# (vars/vars.go:12).
EXTRA_KEYS_COL = "EXTRA_KEYS"

# Column appended by the combine sink (helpers/helpers.go:802).
SOURCE_FILE_COL = "SourceFile"

# Columns the sink layout sets after parsing: the commit-group and route
# partition columns (plans/checkpoint.py, plans/route.py) and the combine
# sink's SourceFile. A parsed key of the same name must not take them.
LAYOUT_COLS = ("group", "sink", SOURCE_FILE_COL)

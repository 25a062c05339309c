"""The production IP extractor (``ip_extract_stage``) vs the reference's
own test vectors (helpers/network_test.go:21-35) and the precedence spec
(helpers/helpers.go:850-893)."""

from pyspark.sql import functions as F

from logboost_spark.functions.ip import ip_extract_stage, ipv4_to_long

PRIVATE = [
    "127.0.0.1", "192.168.3.5", "172.16.2.3", "255.255.255.255",
    "fe80::ffff:ffff:ffff:ffff", "::1",
    "fdff:ffff:ffff:ffff:ffff:ffff:ffff:ffff",
    "64:ff9b:1:ffff:ffff:ffff:ffff:ffcf",
    "0.0.0.0", "224.0.0.5", "169.254.1.1", "192.0.2.7", "192.0.0.9", "10.250.1.2",
]
PUBLIC = [
    "8.8.8.8", "32.3.54.1", "1.1.1.1",
    "2002:ffff:ffff:ffff:ffff:ffff:ffff:ffcf",
    "2001::ffff:ffff:ffff:ffff:ffff:fcff",
    "203.0.113.9", "100.64.3.1", "192.1.2.3", "172.32.0.1",
]


def _extract(spark, texts):
    """text → (_ip, _cls) through the pipeline's extraction stage."""
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    return {r.text: (r._ip, r._cls) for r in ip_extract_stage(df).collect()}


def test_is_private_reference_vectors(spark):
    """Each vector alone on a line is extracted whole and classified."""
    got = _extract(spark, PRIVATE + PUBLIC)
    want = {s: (s, "pvt") for s in PRIVATE} | {s: (s, "pub") for s in PUBLIC}
    assert got == want


def test_ipv4_to_long(spark):
    df = spark.createDataFrame(
        [("0.0.0.0", 0), ("255.255.255.255", 4294967295), ("8.8.8.8", 134744072)],
        "ip string, want bigint",
    )
    assert df.filter(ipv4_to_long(F.col("ip")) != F.col("want")).count() == 0
    # malformed → null
    df2 = spark.createDataFrame([("999.1.2.3",), ("a.b.c.d",), ("1.2.3",)], "ip string")
    assert df2.filter(ipv4_to_long(F.col("ip")).isNotNull()).count() == 0


def test_first_public_precedence(spark):
    cases = {
        "pre 192.168.1.5 then 8.8.8.8": ("8.8.8.8", "pub"),  # first public wins
        "only 10.0.0.1 then 172.16.2.3": ("10.0.0.1", "pvt"),  # else first v4
        "none here": (None, "noip"),
        "v6 2002:ffff:ffff:ffff:ffff:ffff:ffff:ffcf only": (
            "2002:ffff:ffff:ffff:ffff:ffff:ffff:ffcf", "pub"
        ),
        "compressed fe80::1 stays whole": ("fe80::1", "pvt"),
        "v4 beats v6 10.1.1.1 vs 2002::1": ("10.1.1.1", "pvt"),
    }
    assert _extract(spark, list(cases)) == cases


def test_v4_mapped_ipv6_privacy(spark):
    """::ffff:a.b.c.d classifies by the embedded quad (net.ParseIP
    resolves mapped forms to 4 bytes — helpers/network.go:29-52)."""
    from logboost_spark.functions.ip import is_private_ipv6_str
    import pyspark.sql.functions as F

    rows = [
        ("::ffff:10.0.0.1", True),
        ("::ffff:192.168.1.5", True),
        ("::ffff:8.8.8.8", False),
        ("::10.0.0.1", True),
        ("::ffff:0:172.16.0.9", True),
        ("2001:db8::1", False),
        ("fe80::1", True),
    ]
    df = spark.createDataFrame(rows, "ip string, want boolean")
    got = df.select("ip", "want", is_private_ipv6_str(F.col("ip")).alias("got")).collect()
    for r in got:
        assert r.got == r.want, r.ip

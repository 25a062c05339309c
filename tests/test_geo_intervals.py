"""flatten_intervals: longest-prefix-wins sweep vs a per-point oracle."""

import random

from logboost_spark.operators.geo_join import flatten_intervals


def _point_oracle(rows, x):
    """Narrowest interval covering x; ties to input order (mmdb trie)."""
    best = None
    for i, r in enumerate(rows):
        if r[0] <= x <= r[1]:
            key = (r[1] - r[0], i)
            if best is None or key < best[0]:
                best = (key, r[2:])
    return best[1] if best else None


def test_nested_cidr_longest_prefix_wins():
    rows = [
        (0, 255, "wide"),       # /24
        (64, 127, "narrow"),    # /26 inside
        (96, 99, "narrowest"),
    ]
    out = flatten_intervals(rows)
    assert _lookup(out, 50) == ("wide",)
    assert _lookup(out, 70) == ("narrow",)
    assert _lookup(out, 97) == ("narrowest",)
    assert _lookup(out, 200) == ("wide",)
    # disjoint + sorted
    for a, b in zip(out, out[1:]):
        assert a[1] < b[0]


def _lookup(out, x):
    for r in out:
        if r[0] <= x <= r[1]:
            return r[2:]
    return None


def test_property_random_intervals_match_oracle():
    rng = random.Random(42)
    for trial in range(20):
        rows = []
        for i in range(rng.randint(1, 40)):
            s = rng.randint(0, 1000)
            e = s + rng.randint(0, 300)
            rows.append((s, e, f"a{i}", i))
        out = flatten_intervals(rows)
        # disjoint + sorted
        for a, b in zip(out, out[1:]):
            assert a[1] < b[0], (trial, a, b)
        # coverage equals input union; winner = narrowest covering
        for x in range(0, 1350, 7):
            want = _point_oracle(rows, x)
            got = _lookup(out, x)
            assert got == want, (trial, x, got, want)


def test_empty_and_single():
    assert flatten_intervals([]) == []
    assert flatten_intervals([(5, 9, "only")]) == [(5, 9, "only")]


def test_merge_disjoint_interval_tables_vs_point_oracle():
    """Outer-merge of two disjoint interval tables == independent
    per-side point lookups, at every covered point (randomized)."""
    from logboost_spark.operators.geo_join import merge_disjoint_interval_tables

    rng = random.Random(7)
    for _ in range(30):
        def gen(tag, n):
            rows, x = [], 0
            for i in range(n):
                x += rng.randint(1, 8)          # gap (possibly none covered)
                s = x
                x += rng.randint(0, 12)
                rows.append((s, x, f"{tag}{i}", i))
                x += 1
            return rows

        a, b = gen("a", rng.randint(0, 6)), gen("b", rng.randint(0, 6))
        merged = merge_disjoint_interval_tables(a, b, n_a=2, n_b=2)

        # merged is disjoint + sorted
        for r1, r2 in zip(merged, merged[1:]):
            assert r1[1] < r2[0]

        def side(rows, x):
            for r in rows:
                if r[0] <= x <= r[1]:
                    return r[2:]
            return None

        hi = max([r[1] for r in a + b], default=0) + 3
        for x in range(hi):
            ra, rb = side(a, x), side(b, x)
            rm = side(merged, x)
            if ra is None and rb is None:
                assert rm is None, (x, rm)
            else:
                want = tuple(ra or (None, None)) + tuple(rb or (None, None))
                assert rm == want, (x, rm, want)


def test_merged_geo_join_matches_two_joins(spark):
    """The enrich-side contract: ONE range join against the merged
    geo table produces the same columns as the two sequential joins."""
    import os

    from pyspark.sql import functions as F

    from logboost_spark.fixtures.lookups import LOOKUP_PARQUET_DIR
    from logboost_spark.operators.geo_join import (
        merge_disjoint_interval_tables,
        range_lookup_join,
    )

    def rd(name, *cols):
        return spark.read.parquet(os.path.join(LOOKUP_PARQUET_DIR, f"{name}.parquet")).select(
            "net_start", "net_end", *cols
        )

    geo_asn = rd("geo_asn", "asn_org", "asn_number")
    geo_city = rd("geo_city", "country", "city")
    a_rows = flatten_intervals([tuple(r) for r in geo_asn.collect()])
    b_rows = flatten_intervals([tuple(r) for r in geo_city.collect()])
    merged = spark.createDataFrame(
        merge_disjoint_interval_tables(a_rows, b_rows),
        "net_start bigint, net_end bigint, asn_org string, "
        "asn_number bigint, country string, city string",
    )
    lo = min(r[0] for r in a_rows + b_rows)
    hi = max(r[1] for r in a_rows + b_rows)
    span = hi - lo
    fact = spark.range(4000).select(
        F.col("id"),
        (F.lit(lo - span // 10) + (F.col("id") * 2654435761) % int(span * 1.2)).alias("ipl"),
    )
    one = range_lookup_join(
        fact, F.col("ipl"), merged, ["asn_org", "asn_number", "country", "city"], prefix="g_"
    )
    two = range_lookup_join(
        fact, F.col("ipl"), geo_asn, ["asn_org", "asn_number"], prefix="g_"
    )
    two = range_lookup_join(two, F.col("ipl"), geo_city, ["country", "city"], prefix="g_")
    cols = ["id", "ipl", "g_asn_org", "g_asn_number", "g_country", "g_city"]
    assert one.select(cols).exceptAll(two.select(cols)).count() == 0
    assert two.select(cols).exceptAll(one.select(cols)).count() == 0

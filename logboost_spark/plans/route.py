"""Routed fan-out: category assignment + skew-defusing salted repartition.

The reference writes one CSV per input file (helpers/helpers.go:216-246);
the north-star pipeline routes turns to per-category sinks by
(threat-class, ip-class, role/tool). Conversations are heavy-tailed and
threat categories are hot, so the pre-write shuffle is salted: partition
key = (conv_id, pmod(hash(turn_idx), S)) — a hot conversation spreads
over S partitions instead of melting one task, while
sortWithinPartitions keeps the required stable (conv_id, turn_idx)
order *within* each output file. AQE's skew handling covers the join
side; this covers the write side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SINKS = ["threat", "internal", "noip", "tool_activity", "general"]

#: salt keys one conversation spreads over in the route exchange: the
#: commit writer's placement and salted_repartition's default
SALT_BUCKETS = 64


def route_category(threat: bool = True) -> Column:
    """f(threat-class, ip-class, role/tool) → sink name.

    ``threat=False`` drops the threat branch, for rows enriched without
    threat intel (no ``lb_ThreatFeeds`` column). Must stay in sync with
    oracle.route_category (tests enforce it).
    """
    rest = (
        F.when(F.col("lb_class") == "pvt", F.lit("internal"))
        .when(F.col("lb_class") == "noip", F.lit("noip"))
        .when((F.col("role") == "tool") | (F.col("tool") != "none"), F.lit("tool_activity"))
        .otherwise(F.lit("general"))
    )
    if not threat:
        return rest
    return F.when(
        (F.col("lb_class") == "pub") & (F.col("lb_ThreatFeeds") != "none"),
        F.lit("threat"),
    ).otherwise(rest)


def route_stage(df: DataFrame) -> DataFrame:
    return df.withColumn("sink", route_category(threat="lb_ThreatFeeds" in df.columns))


def salt(salt_buckets: int) -> Column:
    """Per-turn salt that spreads one conversation over ``salt_buckets``
    shuffle keys: pmod(xxhash64(turn_idx), salt_buckets)."""
    return F.pmod(F.xxhash64("turn_idx"), F.lit(salt_buckets))


def salted_repartition(
    df: DataFrame,
    num_partitions: int | None = None,
    salt_buckets: int = SALT_BUCKETS,
    sort_cols: tuple[str, ...] | None = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Shuffle by (conv_id, salt(turn_idx)) then restore in-partition order.

    ``sort_cols=None`` skips the in-partition sort — for callers that
    run further (order-agnostic) computation after the exchange and sort
    immediately before their write instead (plans/checkpoint.py's
    post-shuffle formatting path).

    Keep ``salt_buckets`` well above the partition count (≥4×): a hot
    conversation occupies only salt_buckets distinct shuffle keys, and
    with salt ≈ partitions balls-in-bins collisions leave 2-3× partition
    lumps (measured in tests/test_route_skew.py).

    When the caller will ``write.partitionBy(col)``, ``col`` must lead
    ``sort_cols``: the dynamic-partition writer re-sorts each task by its
    partition columns with an UNSTABLE sort unless the incoming ordering
    already satisfies it — leading with the partition column makes the
    writer's sort a no-op and preserves the (conv_id, turn_idx) order
    inside every output file.
    """
    parts = [F.col("conv_id"), salt(salt_buckets)]
    out = (
        df.repartition(num_partitions, *parts)
        if num_partitions
        else df.repartition(*parts)
    )
    if sort_cols is None:
        return out
    return out.sortWithinPartitions(*sort_cols)

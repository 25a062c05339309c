"""CIDR longest-prefix lookup as a prefix-bucketed broadcast range join.

The reference resolves IP → (ASN, org) / (country, city) with a per-row
mmdb trie lookup (helpers/helpers.go:369-391). The Spark-native shape is
a **broadcast range join**: the lookup table stores [net_start, net_end]
integer intervals; a naive `BETWEEN` join would be a nested-loop
(BroadcastNestedLoopJoin — O(rows × cidrs)), so we bucket both sides on
the top ``BUCKET_BITS`` of the address. Each interval is exploded into
the buckets it spans, making the join an **equi hash join on the bucket**
with a residual BETWEEN — O(rows × avg-intervals-per-bucket), and still
broadcast (no fact-side shuffle).

At 100 TB this matters: the fact table never moves; the exploded lookup
side for a full GeoLite2-style table (~500k mostly-/16-or-longer CIDRs,
16 bucket bits) stays ≪ 10 MB per executor.

Intervals must be disjoint (MaxMind trees flatten to disjoint ranges);
:func:`flatten_intervals` enforces longest-prefix-wins for arbitrary
inputs, driver-side, since lookup tables are small by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKET_BITS = 16


def bucketize_intervals(lookup: DataFrame) -> DataFrame:
    """Explode [net_start, net_end] intervals into covering buckets."""
    shift = 32 - BUCKET_BITS
    return lookup.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.shiftright(F.col("net_start"), shift),
                F.shiftright(F.col("net_end"), shift),
            )
        ),
    )


def flatten_intervals(rows: list[tuple]) -> list[tuple]:
    """Longest-prefix-wins flattening of possibly-overlapping intervals.

    ``rows``: (net_start, net_end, *attrs). The NARROWEST (most specific)
    interval covering a point wins — mmdb trie semantics; ties break to
    input order. Output intervals are disjoint, sorted, and cover exactly
    the union of the inputs.

    Sort-and-sweep, O(n log n): boundary events + a lazy-deletion min-heap
    keyed on (width, input order). Driver-side only — lookup tables are
    dimension-sized (a real GeoLite2 table is ~500k intervals: the old
    O(n²) hole-punching took hours there; this takes under a second).
    """
    import heapq

    if not rows:
        return []
    idx_rows = list(enumerate(rows))
    # boundary points where the active set can change
    bounds = sorted({r[0] for r in rows} | {r[1] + 1 for r in rows})
    by_start = sorted(idx_rows, key=lambda ir: ir[1][0])
    heap: list[tuple[int, int, int]] = []  # (width, input order, idx)
    out: list[list] = []
    si = 0
    for bi, x in enumerate(bounds[:-1]):
        while si < len(by_start) and by_start[si][1][0] <= x:
            i, r = by_start[si]
            heapq.heappush(heap, (r[1] - r[0], i, i))
            si += 1
        while heap and rows[heap[0][2]][1] < x:  # lazy-delete expired
            heapq.heappop(heap)
        if not heap:
            continue
        win = heap[0][2]
        seg_end = bounds[bi + 1] - 1
        attrs = list(rows[win][2:])
        if out and out[-1][1] == x - 1 and list(out[-1][2:]) == attrs:
            out[-1][1] = seg_end  # merge adjacent same-attr segments
        else:
            out.append([x, seg_end, *attrs])
    return [tuple(r) for r in out]


def merge_disjoint_interval_tables(
    a_rows: list[tuple],
    b_rows: list[tuple],
    n_a: int | None = None,
    n_b: int | None = None,
) -> list[tuple]:
    """Outer-merge two DISJOINT interval tables into ONE disjoint table.

    ``a_rows``/``b_rows``: (net_start, net_end, *attrs), each internally
    disjoint (run :func:`flatten_intervals` first otherwise). Output
    segments cover exactly the union of both inputs; each carries
    (*a_attrs-or-Nones, *b_attrs-or-Nones) from whichever side covers
    it. A point covered by neither side produces no segment, so a LEFT
    range join against the merged table is row-for-row identical to two
    sequential LEFT range joins against the originals — but the fact
    table is joined (and its rows re-copied) ONCE instead of twice.

    Driver-side sweep over dimension-sized lookups, O(n log n).
    """
    if not a_rows and not b_rows:
        return []
    import bisect

    # attr arity must be passed explicitly when a side can be empty —
    # an empty side still pads its Nones in the output
    n_a = (len(a_rows[0]) - 2 if a_rows else 0) if n_a is None else n_a
    n_b = (len(b_rows[0]) - 2 if b_rows else 0) if n_b is None else n_b
    a_sorted = sorted(a_rows)
    b_sorted = sorted(b_rows)
    a_starts = [r[0] for r in a_sorted]
    b_starts = [r[0] for r in b_sorted]

    def cover(sorted_rows, starts, x):
        i = bisect.bisect_right(starts, x) - 1
        if i >= 0 and sorted_rows[i][1] >= x:
            return sorted_rows[i]
        return None

    bounds = sorted(
        {r[0] for r in a_rows}
        | {r[1] + 1 for r in a_rows}
        | {r[0] for r in b_rows}
        | {r[1] + 1 for r in b_rows}
    )
    out: list[list] = []
    for bi in range(len(bounds) - 1):
        x, seg_end = bounds[bi], bounds[bi + 1] - 1
        ra = cover(a_sorted, a_starts, x)
        rb = cover(b_sorted, b_starts, x)
        if ra is None and rb is None:
            continue
        attrs = list(ra[2:] if ra else (None,) * n_a) + list(
            rb[2:] if rb else (None,) * n_b
        )
        if out and out[-1][1] == x - 1 and out[-1][2:] == attrs:
            out[-1][1] = seg_end  # merge adjacent same-attr segments
        else:
            out.append([x, seg_end, *attrs])
    return [tuple(r) for r in out]


def range_lookup_join(
    fact: DataFrame,
    ip_long: Column,
    lookup: DataFrame,
    attrs: list[str],
    prefix: str = "",
) -> DataFrame:
    """Left-join interval attributes onto ``fact`` keyed by an int IP column.

    Produces columns ``{prefix}{attr}`` (null on miss). The physical plan
    is BroadcastHashJoin on the bucket with the BETWEEN as join residual —
    verify with ``.explain()``.
    """
    shift = 32 - BUCKET_BITS
    b = bucketize_intervals(lookup)
    sel = [F.col("_bucket"), F.col("net_start"), F.col("net_end")] + [
        F.col(a).alias(f"{prefix}{a}") for a in attrs
    ]
    b = b.select(*sel)
    fact = fact.withColumn("_ip_long_join", ip_long)
    cond = (
        (F.shiftright(F.col("_ip_long_join"), shift) == b["_bucket"])
        & (F.col("_ip_long_join") >= b["net_start"])
        & (F.col("_ip_long_join") <= b["net_end"])
    )
    out = fact.join(F.broadcast(b), cond, "left")
    return out.drop("_bucket", "net_start", "net_end", "_ip_long_join")

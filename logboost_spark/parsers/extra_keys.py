"""Shallow-parse EXTRA_KEYS overflow (P3/P6/P9 shallow mode).

With ``-fullparse`` off, the reference fixes the column set to the FIRST
record's keys; later records' unseen keys overflow into one catch-all
``EXTRA_KEYS`` cell encoded ``"k:v, "`` (parsers/parse_json.go:62-67,
parse_kv.go:60-65, parse_cef.go:81-96; vars/vars.go:12).

Columnar equivalent: given the fields map and the known key list, split
it into known-key columns + an overflow string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..semantics import EXTRA_KEYS_COL, LAYOUT_COLS


def deep_keys(df: DataFrame) -> list[str]:
    """Full-parse key union (-fullparse two-pass, helpers/helpers.go:55-57,
    parsers/parse_json.go:62, parse_kv.go:33-69, parse_cef.go:97-114):
    the reference scans the whole file once to union every record's keys
    before parsing. Columnar equivalent: ONE distributed aggregation over
    the key sets — map-side collect_set keeps the shuffle tiny (distinct
    key arrays, not rows). Returned sorted: the reference's first-seen
    order is a single-scanner artifact with no distributed analog; a
    total order keeps the projected schema deterministic."""
    row = df.select(
        F.array_distinct(
            F.flatten(F.collect_set(F.map_keys(F.col("fields"))))
        ).alias("k")
    ).first()
    return sorted(row.k) if row and row.k else []


def shallow_project(df: DataFrame, known_keys: list[str]) -> DataFrame:
    """``fields`` map → one column per known key + EXTRA_KEYS overflow.

    Overflow encoding matches the reference: ``k:v, `` concatenation
    (parse_kv.go:193).
    """
    m = F.col("fields")
    known = F.array(*[F.lit(k) for k in known_keys])
    extra = F.map_filter(m, lambda k, _: ~F.array_contains(known, k))
    extra_str = F.concat_ws(
        "",
        F.transform(
            F.map_entries(extra),
            lambda e: F.concat(e["key"], F.lit(":"), e["value"], F.lit(", ")),
        ),
    )
    # a parsed key may collide with a pipeline column ('ts', 'role',
    # 'text', ... are common log keys) or with a column the sink layout
    # sets later ('group', 'sink', 'SourceFile'); suffix the PARSED side
    # so the projection never emits duplicate names and no later
    # withColumn/partition value overwrites a parsed value (the reference
    # has no collision space — its output holds only parsed headers)
    carried = [c for c in df.columns if c != "fields"]
    taken = set(carried) | {EXTRA_KEYS_COL, *LAYOUT_COLS}
    cols = []
    for k in known_keys:
        name = k if k not in taken else f"{k}_parsed"
        while name in taken:  # pathological: both k and k_parsed exist
            name += "_"
        taken.add(name)
        cols.append(m[k].alias(name))
    return df.select(*carried, *cols, extra_str.alias(EXTRA_KEYS_COL))

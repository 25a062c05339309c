"""Seeded benchmark inputs and their oracle counts, cached per (seed, size).

Rows come from the fixture generator's own row function
(``fixtures.transcripts.row_for``), so templates, IP pools and lookup hit
rates are the fixture's. The seed moves the row-id window and picks the
hot conversation; any integer is a valid seed. Conversations are renumbered ``conv-00000000``,
``conv-00000001``, ... in order of first appearance, so every seed draws
its ids from the same range. The program only ever sees the written
parquet: a source bucket-partitioned by
``grp = pmod(xxhash64(conv_id), groups)``, the layout ``--group-col``
expects. Spark computes that bucket once for every id in the range
(``harness.bucket_table``); it is passed in here as a function.

Expected per-sink counts come from the DuckDB oracle
(``entry_oracles.enriched_cte`` plus its ``routed`` CASE), an
implementation independent of the Spark engine.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

GROUP_COL = "grp"
#: conversation id of the k-th conversation of an input, as a printf
#: format that Python's ``%`` and Spark's ``format_string`` both read
CONV_FMT = "conv-%08d"
#: row-id window stride between seeds; far above any benchmark size
SEED_STRIDE = 1_000_000
#: number of row-id windows; a seed picks window ``seed % SEED_WINDOWS``.
#: The fixture stamps row i at its base epoch plus i seconds, so an
#: unbounded window would carry timestamps past year 9999 (any seed from
#: about 25_000 with the old stride) and the generator would raise
SEED_WINDOWS = 1_000


def _schema():
    import pyarrow as pa

    return pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
    ])


def hot_row(i: int, share: float) -> bool:
    """Deterministic ~``share`` of row ids, independent of the fixture's
    own hot-conversation hash."""
    return (i * 0x9E3779B1 >> 7) % 10_000 < int(share * 10_000)


def make_rows(seed: int, n: int, hot_share: float = 0.0):
    """The (seed, n) input as a pandas frame with the fixture's schema.

    With ``hot_share`` > 0, about that share of turns is moved into one
    conversation chosen by the seed, on top of the natural heavy tail.
    """
    import pandas as pd

    from logboost_spark.fixtures.transcripts import row_for

    base = (seed % SEED_WINDOWS) * SEED_STRIDE
    rows = [row_for(i) for i in range(base, base + n)]
    if hot_share > 0:
        # the seed picks which of the window's conversations turns hot
        hot = rows[(seed * 7919) % n]["conv_raw"]
        for i, r in zip(range(base, base + n), rows):
            if hot_row(i, hot_share):
                r["conv_raw"] = hot
    df = pd.DataFrame(rows)
    # dense per-conversation turn order, as the fixture's generators give it
    df["turn_idx"] = df.groupby("conv_raw").cumcount().astype("int32")
    codes, _ = pd.factorize(df["conv_raw"])
    df["conv_id"] = [CONV_FMT % k for k in codes]
    return df[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]


def bucketed_rows(seed: int, n: int, bucket, hot_share: float = 0.0,
                  fixed_groups: tuple = ()):
    """``make_rows`` plus the ``grp`` bucket column, where
    ``bucket(conv_ids)`` maps each conversation id to its bucket. Buckets
    listed in ``fixed_groups`` hold seed 0's rows whatever the seed, so
    output committed for them can be shared by every seed; a conversation
    lives in one bucket, so its turns still come from one seed."""
    import pandas as pd

    def with_bucket(df):
        buckets = bucket(sorted(set(df["conv_id"])))
        return df.assign(**{GROUP_COL: df["conv_id"].map(buckets).astype("int32")})

    df = with_bucket(make_rows(seed, n, hot_share))
    if not fixed_groups or seed == 0:
        return df
    fixed = with_bucket(make_rows(0, n, hot_share))
    return pd.concat([
        fixed[fixed[GROUP_COL].isin(fixed_groups)],
        df[~df[GROUP_COL].isin(fixed_groups)],
    ], ignore_index=True)


def table_bucket(table: list[int]):
    """``bucket`` for ``bucketed_rows`` from a table whose entry k is the
    bucket of ``CONV_FMT % k``."""
    return lambda conv_ids: {c: table[int(c.rsplit("-", 1)[1])] for c in conv_ids}


def oracle_counts(source: str, full: bool) -> dict[str, int]:
    """Per-sink routed counts from the DuckDB oracle over ``source``."""
    import duckdb

    from logboost_spark.entry_oracles import enriched_cte
    from logboost_spark.plans.route import SINKS

    glob = os.path.join(source, f"{GROUP_COL}=*", "*.parquet")
    sql = enriched_cte(glob, full=full) + " SELECT sink, count(*) FROM routed GROUP BY sink"
    con = duckdb.connect()
    try:
        got = dict(con.execute(sql).fetchall())
    finally:
        con.close()
    return {s: int(got.get(s, 0)) for s in SINKS}


def write_source(df, source: str) -> None:
    """Parquet bucket-partitioned on ``grp = pmod(xxhash64(conv_id), groups)``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = _schema().append(pa.field(GROUP_COL, pa.int32()))
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_to_dataset(table, source, partition_cols=[GROUP_COL])


def program_key(root: str, also: tuple = ()) -> str:
    """Short hash of the program's sources (``main.py`` and every file in
    ``logboost_spark/``) and of the files in ``also`` (the benchmark's own
    generator). Cached inputs, oracle counts and resume templates are kept
    under it, so a checkout of other program or generator code never
    reuses what this one built."""
    files = [os.path.join(root, "main.py"), *also]
    for d, dirs, names in os.walk(os.path.join(root, "logboost_spark")):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        files += [os.path.join(d, x) for x in sorted(names) if not x.endswith(".pyc")]
    h = hashlib.sha256()
    for path in files:
        h.update(os.path.relpath(path, root).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def input_key(seed: int, n: int, groups: int, hot_share: float, full: bool,
              fixed_groups: tuple = ()) -> str:
    fixed = "".join(map(str, fixed_groups))
    return f"s{seed}_n{n}_g{groups}_h{int(hot_share * 1000)}_f{int(full)}_x{fixed}"


def ensure_input(d: str, seed: int, n: int, hot_share: float, full: bool,
                 fixed_groups: tuple, bucket) -> tuple[str, dict[str, int]]:
    """(source path, oracle counts) for this seed and size, built once in
    ``d``; ``bucket`` as for ``bucketed_rows``."""
    source = os.path.join(d, "source")
    counts_path = os.path.join(d, "counts.json")
    if os.path.exists(counts_path):
        with open(counts_path) as f:
            return source, json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    df = bucketed_rows(seed, n, bucket, hot_share, fixed_groups)
    write_source(df, source)
    counts = oracle_counts(source, full)
    if sum(counts.values()) != len(df):
        raise RuntimeError(f"oracle routed {sum(counts.values())} of {len(df)} turns")
    with open(counts_path, "w") as f:
        json.dump(counts, f)
    return source, counts

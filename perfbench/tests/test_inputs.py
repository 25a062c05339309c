"""Seeded inputs, the cache key and host sizing."""

import zlib

import pytest

from host import driver_memory
from inputs import CONV_FMT, make_rows, program_key, table_bucket


def crc_bucket(conv_ids):
    """Stands in for Spark's pmod(xxhash64(conv_id), 4) in these tests."""
    return {c: zlib.crc32(c.encode()) % 4 for c in conv_ids}


def test_same_seed_same_rows_other_seed_other_rows():
    a, b, c = make_rows(1, 500), make_rows(1, 500), make_rows(2, 500)
    assert a.equals(b)
    assert not a["text"].equals(c["text"])


@pytest.mark.parametrize("seed", [-1, 30_000, 2**31 + 7, 10**18])
def test_any_integer_seed_gives_rows_with_valid_timestamps(seed):
    df = make_rows(seed, 200, hot_share=0.10)
    assert len(df) == 200 and df["ts"].dt.year.between(2023, 2060).all()
    assert df.equals(make_rows(seed, 200, hot_share=0.10))


def test_hot_conversation_and_dense_turn_order():
    df = make_rows(5, 4000, hot_share=0.10)
    sizes = df.groupby("conv_id").size()
    assert 0.09 < sizes.max() / len(df) < 0.13
    for _, g in df.groupby("conv_id"):
        assert sorted(g["turn_idx"]) == list(range(len(g)))
    # the seed picks the hot conversation among the window's conversations
    hot = {make_rows(s, 4000, hot_share=0.10).groupby("conv_id").size().idxmax()
           for s in range(5, 10)}
    assert len(hot) > 1


def test_conversations_are_numbered_in_order_of_first_appearance():
    df = make_rows(3, 2000)
    first = list(dict.fromkeys(df["conv_id"]))
    assert first == [CONV_FMT % k for k in range(len(first))]
    assert set(table_bucket([7, 8, 9])(["conv-00000002", "conv-00000000"]).items()) == {
        ("conv-00000002", 9), ("conv-00000000", 7)}


@pytest.mark.parametrize("kb,want", [
    (16_456_384, "2g"), (2_000_000, "1g"), (1024 * 1024 * 1024, "48g"),
])
def test_driver_memory_is_an_eighth_of_ram_within_limits(kb, want):
    assert driver_memory(kb) == want


def test_fixed_buckets_hold_seed_zero_rows_for_every_seed():
    from inputs import GROUP_COL, bucketed_rows

    a = bucketed_rows(7, 2000, crc_bucket, fixed_groups=(0, 1))
    b = bucketed_rows(8, 2000, crc_bucket, fixed_groups=(0, 1))
    fixed = [df[df[GROUP_COL].isin((0, 1))].reset_index(drop=True) for df in (a, b)]
    assert fixed[0].equals(fixed[1]) and len(fixed[0]) > 0
    moving = [set(df[~df[GROUP_COL].isin((0, 1))]["text"]) for df in (a, b)]
    assert moving[0] != moving[1]
    buckets = crc_bucket(set(a["conv_id"]))
    assert all(buckets[c] == g for c, g in zip(a["conv_id"], a[GROUP_COL]))


def test_program_key_follows_the_program_sources(tmp_path):
    pkg = tmp_path / "logboost_spark" / "plans"
    pkg.mkdir(parents=True)
    (tmp_path / "main.py").write_text("print(1)\n")
    (pkg / "route.py").write_text("A = 1\n")
    key = program_key(str(tmp_path))
    (pkg / "__pycache__").mkdir()
    (pkg / "__pycache__" / "route.cpython-311.pyc").write_bytes(b"x")
    assert program_key(str(tmp_path)) == key
    (pkg / "route.py").write_text("A = 2\n")
    assert program_key(str(tmp_path)) != key

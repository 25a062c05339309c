"""The output check: a wrong count anywhere must count as a failed operation."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import harness
from checks import check_output, column_bytes, mismatches

EXPECTED = {"threat": 3, "internal": 2, "noip": 1, "tool_activity": 0, "general": 1}


def test_matching_counts_pass():
    assert mismatches(EXPECTED, dict(EXPECTED), dict(EXPECTED)) == []


@pytest.mark.parametrize("where", ["printed", "on_disk"])
def test_a_corrupted_count_is_caught(where):
    counts = {"printed": dict(EXPECTED), "on_disk": dict(EXPECTED)}
    counts[where]["internal"] += 1
    bad = mismatches(EXPECTED, counts["printed"], counts["on_disk"])
    assert len(bad) == 1 and "internal" in bad[0]


def test_missing_and_unexpected_sinks_are_caught():
    printed = {k: v for k, v in EXPECTED.items() if k != "noip"} | {"bogus": 0}
    bad = mismatches(EXPECTED, printed, dict(EXPECTED))
    assert any("noip" in b for b in bad) and any("bogus" in b for b in bad)


def test_combined_rows_must_equal_input_turns():
    assert mismatches(EXPECTED, EXPECTED, EXPECTED, combined_rows=7, turns=7) == []
    assert mismatches(EXPECTED, EXPECTED, EXPECTED, combined_rows=6, turns=7)


def _write_sinks(out, counts):
    for sink, n in counts.items():
        if not n:
            continue
        d = os.path.join(out, "data", "group=0", f"sink={sink}")
        os.makedirs(d)
        pq.write_table(pa.table({"text": ["x"] * n, "lb_IP": ["ip"] * n}),
                       os.path.join(d, "part-0.parquet"))


def test_check_output_counts_rows_in_the_sink_parquet(tmp_path):
    _write_sinks(str(tmp_path), EXPECTED)
    assert check_output(str(tmp_path), EXPECTED, dict(EXPECTED), 7, combine=False) == []
    extra = tmp_path / "data" / "group=1" / "sink=threat"
    extra.mkdir(parents=True)
    pq.write_table(pa.table({"text": ["y"]}), str(extra / "part-0.parquet"))
    bad = check_output(str(tmp_path), EXPECTED, dict(EXPECTED), 7, combine=False)
    assert bad == ["parquet rows[threat]=4 != oracle 3"]


def test_column_bytes_buckets(tmp_path):
    _write_sinks(str(tmp_path), {"threat": 5})
    f = str(tmp_path / "data" / "group=0" / "sink=threat" / "part-0.parquet")
    b = column_bytes([f])
    assert b["text"] > 0 and b["lb_cols"] > 0 and b["fields"] == b["other"] == 0


class _WrongOp:
    """Stands in for harness.Op: the CLI 'printed' a corrupted count."""

    def __init__(self, out):
        self.out, self.turns, self.combine = out, 7, False

    def reset(self, cold=False):
        pass

    def run(self):
        return 0.01, dict(EXPECTED, threat=EXPECTED["threat"] - 1)


class _RaisingOp(_WrongOp):
    def run(self):
        raise RuntimeError("boom")


def test_wrong_or_raising_operations_count_as_failed(tmp_path):
    _write_sinks(str(tmp_path), EXPECTED)
    log = []
    harness.timed_op(_WrongOp(str(tmp_path)), EXPECTED, log, 0)
    harness.timed_op(_RaisingOp(str(tmp_path)), EXPECTED, log, 0)
    assert [bool(e["errors"]) for e in log] == [True, True]
    assert all(e["wall_s"] >= 0 and e["cpu_s"] >= 0 for e in log)

"""Output checks and byte accounting, read straight from the parquet footers.

Every timed operation is checked three ways against the oracle's routed
counts: the counts the CLI printed (``sink_counts``), the rows actually in
the committed sink parquet, and, with ``--combine``, the rows of the
combined table against the input turns.
"""

from __future__ import annotations

import glob
import os

#: column buckets for the per-column sink byte breakdown
_BUCKETS = ("lb_cols", "fields", "text", "other")


def _files(pattern: str) -> list[str]:
    return sorted(glob.glob(pattern))


def sink_files(out_dir: str, sink: str) -> list[str]:
    return _files(os.path.join(out_dir, "data", "group=*", f"sink={sink}", "*.parquet"))


def combined_files(out_dir: str) -> list[str]:
    return _files(os.path.join(out_dir, "combined", "*.parquet"))


def footer_rows(files: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def file_bytes(files: list[str]) -> int:
    return sum(os.path.getsize(f) for f in files)


def column_bucket(path: str) -> str:
    top = path.split(".", 1)[0]
    if top.startswith("lb_"):
        return "lb_cols"
    if top in ("fields", "text"):
        return top
    return "other"


def column_bytes(files: list[str]) -> dict[str, int]:
    """Compressed column-chunk bytes per bucket, summed over row groups."""
    import pyarrow.parquet as pq

    out = dict.fromkeys(_BUCKETS, 0)
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for c in range(g.num_columns):
                col = g.column(c)
                out[column_bucket(col.path_in_schema)] += col.total_compressed_size
    return out


def mismatches(expected: dict[str, int], printed: dict, on_disk: dict[str, int],
               combined_rows: int | None = None, turns: int | None = None) -> list[str]:
    """Every way this operation's output disagrees with the oracle."""
    bad = []
    for sink, want in expected.items():
        if printed.get(sink) != want:
            bad.append(f"sink_counts[{sink}]={printed.get(sink)} != oracle {want}")
        if on_disk.get(sink) != want:
            bad.append(f"parquet rows[{sink}]={on_disk.get(sink)} != oracle {want}")
    extra = set(printed) - set(expected)
    if extra:
        bad.append(f"unexpected sinks {sorted(extra)}")
    if combined_rows is not None and combined_rows != turns:
        bad.append(f"combined rows {combined_rows} != input turns {turns}")
    return bad


def check_output(out_dir: str, expected: dict[str, int], printed: dict,
                 turns: int, combine: bool) -> list[str]:
    on_disk = {s: footer_rows(sink_files(out_dir, s)) for s in expected}
    combined = footer_rows(combined_files(out_dir)) if combine else None
    return mismatches(expected, printed, on_disk, combined, turns)

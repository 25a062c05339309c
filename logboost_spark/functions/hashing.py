"""Cross-engine deterministic hashing.

``xxhash64``/``hash`` differ between Spark and DuckDB, so operators whose
results must be verifiable by the DuckDB oracle hash through md5: take
the first 15 hex chars → 60-bit non-negative BIGINT. Identical in
Spark (``conv(substr(md5(s),1,15),16,10)``) and DuckDB
(``('0x'||substr(md5(s),1,15))::BIGINT``).

Spark-only code paths (internal salting, bucketing) should keep using
``xxhash64`` — it's far cheaper; md5 is reserved for oracle-checked
results.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Mersenne prime 2^31-1: (a*(h%P)+b) stays < 2^62, no BIGINT overflow.
MERSENNE_P = 2_147_483_647


def md5_long(col: Column) -> Column:
    """60-bit deterministic hash of a string column (oracle-safe)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for k minhash functions (seed 42)."""
    params = []
    a, b = 42 * 2 + 1, 42 + 7
    for _ in range(k):
        a = (a * 1_103_515_245 + 12_345) % MERSENNE_P
        b = (b * 69_069 + 1) % MERSENNE_P
        params.append((a | 1, b))
    return params

"""Cross-engine deterministic hashing primitives.

Every near-dup / fingerprint operator needs a string->int hash that Spark
and the DuckDB oracle compute identically. Neither engine's native hash()
is portable (Spark = Murmur3 with seed 42, DuckDB = its own), so we derive
integers from md5 hex prefixes — md5 is bit-identical everywhere:

- hash32(s): first 8 hex chars of md5 -> unsigned 32-bit int (fits BIGINT).
- hash60(s): first 15 hex chars -> 60-bit int (fits BIGINT, leaves headroom
  for bit ops; 16 chars could overflow the signed 64-bit range).

The MinHash parameter set is generated from a pinned PRNG seed so the Spark
expressions and the oracle SQL embed the same literals. `a` is bounded by
2^29 so `a * sid` (sid < 2^32) stays well under 2^63 — the permutation
arithmetic is exact signed-64 in both engines.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = 2_147_483_647  # 2^31 - 1, modulus for minhash permutations
FINGERPRINT_MOD = 1_000_000_007  # rolling-hash modulus
FINGERPRINT_MULT = 31


def hash32_col(c: Column) -> Column:
    """Unsigned 32-bit int from md5(s) — Spark Column form."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def hash32_sql_duck(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 8) AS BIGINT)"


def minhash_params(k: int = 32, seed: int = 42) -> list[tuple[int, int]]:
    """K pinned (a, b) pairs for h_j(x) = (a*x + b) mod (2^31-1)."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 29) | 1, rng.randrange(0, MERSENNE_P))
        for _ in range(k)
    ]

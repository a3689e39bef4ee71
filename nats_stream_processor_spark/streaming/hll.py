"""Per-bucket HLL sketch state for streaming distinct counts.

The streaming half of the mergeable-sketch story:
``events_sliding_distinct_hll`` (queries/llm_ext9.py) is the BATCH
twin — one Datasketches HLL per base hour, sliding windows as unions
over the hourly sketch binaries. A streaming job keeps the same hourly
sketches as MANAGED STATE: each micro-batch folds its rows into the
hour bucket's registers through ``stateful.keyed_state`` and emits
the updated sketch + estimate per touched hour. Sliding windows then
union <= W hourly register arrays — sketch rows, never events — the
identical fan-out law the batch operator certifies.

The sketch here is a self-contained pure-Python HLL (md5-derived
bucket/rho, classic Flajolet et al. estimator with the small-range
linear-counting correction) rather than Spark's JVM Datasketches
binary: the streaming state lives Python-side, and byte-for-byte
determinism between the BATCH and STREAMING paths is the whole proof
obligation — tests/test_streaming.py asserts final streaming registers
== the registers the same operator computes on the static frame of the
same rows (one step per hour, ``keyed_state``'s static mode), so
window unions and estimates agree exactly, and the estimates sit
within the batch operator's 5% tolerance of the exact counts.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .stateful import hour_col, keyed_state

HLL_PY_LG_K = 12                 # 4096 registers (~1.6% rel. std. error)
HLL_PY_M = 1 << HLL_PY_LG_K

HLL_OUT_SCHEMA = "h long, n_events long, regs binary, estimate double"


def _hash64(value: str) -> int:
    """Deterministic 64-bit hash (md5 low quadword) — portable across
    engines/processes, the same determinism license as the md5-derived
    hash32 used throughout functions/hashing.py."""
    return int.from_bytes(hashlib.md5(value.encode()).digest()[:8], "big")


def hll_update(regs: bytearray, values) -> None:
    """Fold string values into the register array in place."""
    for v in values:
        h = _hash64(str(v))
        idx = h & (HLL_PY_M - 1)
        w = h >> HLL_PY_LG_K  # remaining 64 - lg_k bits
        # rho = leading-zero count of w within its 52-bit lane, + 1
        rho = (64 - HLL_PY_LG_K) - w.bit_length() + 1
        if rho > regs[idx]:
            regs[idx] = rho


def hll_merge(a: bytes, b: bytes) -> bytes:
    """Union = register-wise max (the mergeability law)."""
    return bytes(max(x, y) for x, y in zip(a, b))


def hll_estimate(regs: bytes) -> float:
    """Classic HLL estimator with the small-range linear-counting
    correction (the regime the hourly fixtures live in)."""
    m = len(regs)
    alpha = 0.7213 / (1 + 1.079 / m)
    raw = alpha * m * m / sum(2.0 ** -r for r in regs)
    zeros = regs.count(0) if isinstance(regs, (bytes, bytearray)) \
        else sum(1 for r in regs if r == 0)
    if raw <= 2.5 * m and zeros:
        return m * math.log(m / zeros)
    return raw


def _hour_step(key, state: bytes | None, rows: pd.DataFrame):
    regs = bytearray(state) if state else bytearray(HLL_PY_M)
    hll_update(regs, rows["uid"])
    return bytes(regs), pd.DataFrame({
        "h": [key[0]], "n_events": [len(rows)],
        "regs": [bytes(regs)], "estimate": [hll_estimate(regs)],
    })


def hourly_distinct_hll(df: DataFrame, ts_col: str = "ts",
                        id_col: str = "user_id") -> DataFrame:
    """Per-hour HLL sketch state. Each micro-batch emits the updated
    (sketch, estimate) for every hour it touched (update mode); the
    last emit per hour is the final sketch. State is partitioned by the
    hour key — horizontal scale is |hours| x register-array bytes, never
    event volume — and survives restarts via the checkpoint. On a
    static frame: one row per hour over all its rows."""
    rows = df.select(hour_col(ts_col),
                     F.col(id_col).cast("string").alias("uid"))
    return keyed_state(rows, ["h"], _hour_step, HLL_OUT_SCHEMA)

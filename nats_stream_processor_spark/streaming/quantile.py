"""Per-hour value-histogram state for streaming quantiles.

The streaming half of the mergeable-quantile story:
``events_sliding_quantile_hist`` (queries/llm_ext10.py) is the BATCH
twin — one fixed-width value histogram per base hour, sliding-window
p50/p95 as merges over the hourly bucket counts. A streaming job
keeps the same hourly histograms as MANAGED STATE: each micro-batch
folds its rows' bucket counts into the hour's histogram through
``stateful.keyed_state`` (the streaming/hll.py pattern) and emits the
updated histogram plus the hour-level quantile estimates per touched
hour. Sliding windows then merge <= SW_HOURS hourly bucket dicts —
histogram rows, never events — the identical fan-out law the batch
operator certifies.

Determinism discipline: bucketing happens JVM-SIDE with the batch
operator's own expression (floor(value / SQ_W), SQ_W a power of two so
the division is exact binary), so the Python kernel only ever counts
integer bucket ids; the state is the canonical byte encoding of the
sorted (bucket, count) pairs (``stateful.pairs_encode``), making
byte-for-byte equality between the STATIC and STREAMING paths the
proof obligation — tests/test_streaming.py asserts final streaming
state == the state the same operator computes on the static frame of
the same rows, and that sliding-window estimates composed from the
streaming state equal the certified batch operator's estimates EXACTLY
(integer k arithmetic, `div` truncation toward zero on both paths).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .stateful import hour_col, keyed_state, pairs_decode, pairs_encode

HIST_OUT_SCHEMA = ("h long, n_events long, hist binary, "
                   "est_p50 long, est_p95 long")


def hist_merge(a: dict[int, int], b: dict[int, int]) -> dict[int, int]:
    """Union = per-bucket count addition (the mergeability law)."""
    out = dict(a)
    for bk, cnt in b.items():
        out[bk] = out.get(bk, 0) + cnt
    return out


def hist_quantiles(hist: dict[int, int], sq_w: int) -> tuple[int, int, int]:
    """(n_events, est_p50, est_p95) with the batch operator's exact
    integer k arithmetic: k50 = (n+1) div 2, k95 = (19n+19) div 20,
    estimate = lowest bucket whose cumulative count reaches k, scaled
    back to value units."""
    n = sum(hist.values())
    if n == 0:
        return 0, 0, 0
    k50 = (n + 1) // 2
    k95 = (19 * n + 19) // 20
    cum = 0
    est50 = est95 = None
    for bk in sorted(hist):
        cum += hist[bk]
        if est50 is None and cum >= k50:
            est50 = bk * sq_w
        if est95 is None and cum >= k95:
            est95 = bk * sq_w
    return n, est50, est95


def _hour_step(key, state: bytes | None, rows: pd.DataFrame):
    from ..queries.llm_ext10 import SQ_W
    hist = pairs_decode(state) if state else {}
    for bk, cnt in rows["bk"].value_counts().items():
        hist[int(bk)] = hist.get(int(bk), 0) + int(cnt)
    blob = pairs_encode(hist)
    n, est50, est95 = hist_quantiles(hist, SQ_W)
    return blob, pd.DataFrame({
        "h": [key[0]], "n_events": [n], "hist": [blob],
        "est_p50": [est50], "est_p95": [est95],
    })


def hourly_value_hist(df: DataFrame, ts_col: str = "ts",
                      value_col: str = "value") -> DataFrame:
    """Per-hour value-histogram state. Each micro-batch emits the
    updated (histogram, running total, hour-level p50/p95 estimates)
    for every hour it touched (update mode); the last emit per hour is
    the final histogram. State is partitioned by the hour key —
    horizontal scale is |hours| x |occupied buckets| pairs, never event
    volume — and survives restarts via the checkpoint. On a static
    frame: one row per hour over all its rows."""
    from ..queries.llm_ext10 import SQ_W
    # Same value bucketing as the batch operator
    # (queries/llm_ext10.q_sliding_quantile_hist): floor(value / SQ_W)
    # is exact for the power-of-two width. Bucketing stays JVM-side so
    # the Python step never touches a float.
    rows = (df.filter(F.col(value_col).isNotNull())
            .select(hour_col(ts_col),
                    F.floor(F.col(value_col) / SQ_W)
                    .cast("long").alias("bk")))
    return keyed_state(rows, ["h"], _hour_step, HIST_OUT_SCHEMA)

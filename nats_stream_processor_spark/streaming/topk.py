"""Per-hour frequent-items summary state for streaming top-k.

The streaming half of the mergeable TOP-K story, completing the
batch+stream matrix for every mergeable sliding-window axis
(cardinality: streaming/hll.py; quantiles: streaming/quantile.py;
moments: the stateful power-sum aggregation; top-k: THIS):
``events_sliding_topk`` (queries/llm_ext13.py) is the BATCH twin —
per-hour top-C (user, count) summaries plus the hour's truncation
bound, sliding windows merging summary rows under the frequent-items
containment prune. A streaming job maintains the same per-hour
summaries as MANAGED STATE: the state is the hour's FULL (user, count)
dict (a user outside today's top-C can rise in a later micro-batch, so
the summary itself is not sufficient state — per-hour scoping keeps the
state bounded by one hour's cardinality, never event volume), and each
micro-batch emits the hour's CURRENT top-C summary rows plus the
truncation-bound row (NULL user carrying e_h), exactly the relation the
batch operator's window layer consumes.

Determinism discipline: counting happens on integer user ids grouped
JVM-side per hour; the state is the canonical byte encoding of the
sorted (user, count) pairs (``stateful.pairs_encode``: equal dicts <=>
equal bytes); the emitted summary applies the batch operator's own
ordering (count desc, user asc) and width. tests/test_streaming.py
asserts final streaming state byte-identical to the full counts of the
same rows — DIRECTLY, by reading the persisted state back through
Spark's ``statestore`` data source and comparing each hour's blob to
``pairs_encode`` of the hour's recomputed full counts (checked on the
truncated planted corpus too, where the emitted summary alone could
not prove it) — AND that the emitted summaries match both the same
operator run on the static frame and the batch operator's kept/error
relation exactly — so any window-layer consumer (prune, verify,
fallback) sees identical inputs from either path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .stateful import hour_col, keyed_state, pairs_decode, pairs_encode

TK_OUT_SCHEMA = "h long, user_id long, cnt long"


def summary_rows(h: int, counts: dict[int, int],
                 c_width: int) -> pd.DataFrame:
    """The batch operator's summary relation for one hour: top-c_width
    (user, count) rows ordered (count desc, user asc), plus — when the
    hour was truncated — one NULL-user row carrying e_h (the
    c_width+1-th count), the freq-items error-bound convention."""
    ordered = sorted(counts.items(), key=lambda t: (-t[1], t[0]))
    rows = [(h, u, c) for u, c in ordered[:c_width]]
    if len(ordered) > c_width:
        rows.append((h, None, ordered[c_width][1]))
    return pd.DataFrame(rows, columns=["h", "user_id", "cnt"])


def _hour_step(key, state: bytes | None, rows: pd.DataFrame):
    from ..queries.llm_ext13 import SLT_C
    counts = pairs_decode(state) if state else {}
    for u, c in rows["user_id"].value_counts().items():
        counts[int(u)] = counts.get(int(u), 0) + int(c)
    return pairs_encode(counts), summary_rows(int(key[0]), counts, SLT_C)


def hourly_topk_summaries(df: DataFrame, ts_col: str = "ts",
                          id_col: str = "user_id") -> DataFrame:
    """Per-hour frequent-items summary state. Each micro-batch emits
    the touched hour's current top-C summary plus its truncation-bound
    row (update mode); the last emit per hour is the final summary —
    the exact relation events_sliding_topk's window layer (merge,
    prune, verify, fallback) consumes. State is partitioned by the hour
    key and bounded by one hour's user cardinality; it survives
    restarts via the checkpoint. On a static frame: one summary per
    hour over all its rows."""
    rows = df.select(hour_col(ts_col),
                     F.col(id_col).cast("long").alias("user_id"))
    return keyed_state(rows, ["h"], _hour_step, TK_OUT_SCHEMA)

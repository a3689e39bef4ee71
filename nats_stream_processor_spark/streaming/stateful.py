"""Keyed managed state for every stateful streaming operator —
SURVEY.md §2B "Arbitrary stateful ops".

An operator is one ``step(key, state, rows) -> (state, out)``: it folds
one group's rows into the group's state bytes and returns the rows to
emit. ``keyed_state`` runs that step on any frame, the way
``pipeline.enrich_stream`` serves static and streaming input alike:

- streaming: ``applyInPandasWithState`` (update mode, no timeout), the
  state one binary column that survives restarts via the checkpoint;
- static: ``applyInPandas`` with ``state=None``, once per group — the
  determinism oracle the streaming parity tests compare against (and the
  shape a backfill job uses).

Either way, a group's rows in one trigger reach ``step`` as one frame.
The RocksDB state store is a session conf
(``spark.sql.streaming.stateStore.providerClass``), which this API uses
unchanged.

running_label_counts reproduces the reference's label-partitioned running
counters (sentiment_predictions_total{sentiment} etc., reference:
src/metrics.py:5-39) as managed per-key state: each micro-batch emits the
updated cumulative count per key. State is partitioned by the key (scales
horizontally) and, unlike the Prometheus counters, survives restarts via
the checkpoint.
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

Step = Callable[[tuple, bytes | None, pd.DataFrame],
                tuple[bytes, pd.DataFrame]]

STATE_SCHEMA = "state binary"


def keyed_state(df: DataFrame, keys: list[str], step: Step,
                out_schema: str) -> DataFrame:
    """Group ``df`` by ``keys`` and run ``step`` per group (module
    comment above). Streaming output mode: update."""
    grouped = df.groupBy(*keys)
    if not df.isStreaming:
        return grouped.applyInPandas(
            lambda key, rows: step(key, None, rows)[1], out_schema)

    def run(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        blob, out = step(key, bytes(state.get[0]) if state.exists else None,
                         pd.concat(list(pdfs), ignore_index=True))
        state.update((blob,))
        yield out

    return grouped.applyInPandasWithState(
        run,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def pairs_encode(pairs: dict[int, int]) -> bytes:
    """Canonical state bytes for an int -> int map: sorted (key, value)
    int64 pairs. Equal maps <=> equal bytes."""
    return b"".join(struct.pack(">qq", k, pairs[k]) for k in sorted(pairs))


def pairs_decode(blob: bytes) -> dict[int, int]:
    return dict(struct.iter_unpack(">qq", blob))


def hour_col(ts_col: str) -> Column:
    """The hour bucket every hourly summary keys on (`div` truncates
    toward zero in both engines — tests/test_engine_semantics.py)."""
    return (F.expr(f"unix_micros({ts_col}) div 3600000000")
            .cast("long").alias("h"))


OUT_SCHEMA = "label string, n_total long, n_batch long"


def _count_step(key, state: bytes | None, rows: pd.DataFrame):
    (prev,) = struct.unpack(">q", state) if state else (0,)
    total = prev + len(rows)
    return struct.pack(">q", total), pd.DataFrame({
        "label": [key[0]], "n_total": [total], "n_batch": [len(rows)],
    })


def running_label_counts(df: DataFrame, label_col: str) -> DataFrame:
    """Per-label cumulative counts as a stateful stream transform. Output
    mode: update (one row per key per batch that saw the key)."""
    # rename before grouping: applyInPandasWithState can't resolve an
    # aliased grouping expression
    return keyed_state(df.select(df[label_col].alias("label")), ["label"],
                       _count_step, OUT_SCHEMA)

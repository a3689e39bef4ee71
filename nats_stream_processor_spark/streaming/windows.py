"""Streaming windowed aggregations — the same window expressions as the
batch twins in queries/events.py, applied to a streaming DataFrame with a
watermark. One transform, two modes (the Structured Streaming design).

M3 (20 s rate ticks), M4 (top topics), M5 (sentiment distribution) from
the reference's stats loop (src/service.py:174-253) become streaming
group-bys whose state is bounded by the watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(df: DataFrame, ts_col: str, window: str = "20 seconds",
                    watermark: str = "60 seconds",
                    extra_keys: list[str] | None = None) -> DataFrame:
    """M3: per-window processed counts (+rate). Append-mode-safe: results
    emit when the watermark passes the window end."""
    keys = [F.window(ts_col, window).alias("w")] + [
        F.col(k) for k in (extra_keys or [])
    ]
    out = (
        df.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(F.count("*").alias("n_processed"))
    )
    win_s = float(window.split()[0])
    return out.select(
        F.col("w.start").alias("tick_start"),
        *[F.col(k) for k in (extra_keys or [])],
        "n_processed",
        F.round(F.col("n_processed") / win_s, 6).alias("rate_per_s"),
    )


def session_counts(df: DataFrame, ts_col: str, key: str,
                   gap: str = "10 minutes",
                   watermark: str = "30 minutes") -> DataFrame:
    """Session windows per key with watermark-bounded state."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.col(key), F.session_window(ts_col, gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(key, F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events")
    )

"""Streaming observability (M1-M6, reference: src/metrics.py +
src/service.py:174-253) via Spark's native mechanisms:

- M1 counters: `df.observe` named aggregations — evaluated inside the
  stream, surfaced per micro-batch on the listener (no extra pass).
- M3 rate ticks: `inputRowsPerSecond` / `processedRowsPerSecond` straight
  from StreamingQueryProgress — what the reference's 20 s stats loop
  computes by diffing Prometheus counters.
- M6 consumer lag: sources[].numInputRows + backlog metrics when the
  source reports them.
- M2/M4/M5 (histogram / top-k topics / sentiment distribution): side
  aggregation queries on the same stream (windows.py) — label-partitioned
  streaming state, the analog of the reference's label-partitioned
  Prometheus counters.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from ..functions.text import extract_text_col, non_empty_text

# Reference bucket boundaries (src/metrics.py:48-53,
# processing_duration_seconds) — reused for the per-batch duration
# histogram, the closest Spark-native analog.
DURATION_BUCKETS = [0.01, 0.05, 0.1, 0.2, 0.5, 1.0, 2.0, 5.0]


def observe_pipeline_counters(df: DataFrame) -> DataFrame:
    """Attach the M1 input counters (processed, empty text — the same
    extracted text enrich_posts classifies) to a decoded post frame;
    values arrive in QueryProgress.observedMetrics["input"]."""
    has_text = non_empty_text(extract_text_col(set(df.columns)))
    return df.observe("input", F.count(F.lit(1)).alias("n_processed"),
                      F.count(F.when(~has_text, 1)).alias("n_empty_text"))


class MetricsListener(StreamingQueryListener):
    """Running totals over every micro-batch's progress — observed
    counters summed per key (M1), the last batch's rates (M3), the last
    batch's state-store totals over its stateful operators (rows, memory
    bytes, commit ms), and the batch-duration histogram (M2's timing
    histograms) as cumulative bucket counts plus sum and count — the
    Spark-native replacement for the reference's Prometheus registry +
    20 s stats loop. Its size is fixed however long the query runs;
    ``lock`` guards a consistent read against the listener thread."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.observed: dict[str, int] = {}
        self.batches = 0
        self.input_rows = 0
        self.input_rows_per_second = 0.0
        self.processed_rows_per_second = 0.0
        self.last_batch_duration_ms = 0
        self.state_rows = 0
        self.state_memory_bytes = 0
        self.state_commit_ms = 0
        self.duration_buckets = [0] * len(DURATION_BUCKETS)
        self.duration_sum_s = 0.0

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        observed = []
        try:
            for row in (p.observedMetrics or {}).values():
                observed += [(k, int(v)) for k, v in row.asDict().items()
                             if v is not None]
        except Exception:
            pass
        duration_ms = (p.durationMs or {}).get("triggerExecution", 0)
        duration_s = duration_ms / 1000.0
        states = p.stateOperators or []
        with self.lock:
            for k, v in observed:
                self.observed[k] = self.observed.get(k, 0) + v
            self.batches += 1
            self.input_rows += p.numInputRows
            self.input_rows_per_second = p.inputRowsPerSecond or 0.0
            self.processed_rows_per_second = p.processedRowsPerSecond or 0.0
            self.last_batch_duration_ms = duration_ms
            self.state_rows = sum(s.numRowsTotal for s in states)
            self.state_memory_bytes = sum(s.memoryUsedBytes for s in states)
            self.state_commit_ms = sum(s.commitTimeMs for s in states)
            for i, le in enumerate(DURATION_BUCKETS):
                if duration_s <= le:
                    self.duration_buckets[i] += 1
            self.duration_sum_s += duration_s

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

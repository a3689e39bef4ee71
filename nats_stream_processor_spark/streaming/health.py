"""Health / readiness / metrics surface (H1 + the Prometheus exposition
gap; reference: src/health.py:7-25 endpoints, src/metrics.py:5-70 metric
registry, src/service.py:174-253 stats loop).

The reference runs a FastAPI app with three endpoints backed by a
prometheus_client registry. Here the metric source is Spark's own
streaming telemetry — the ``MetricsListener`` running totals (rates,
batch durations, ``df.observe`` counters) — rendered into the public
Prometheus text exposition format 0.0.4 by hand, so no server-side
dependency beyond the stdlib is needed:

- ``/health``  -> ``{"status": "ok"}`` (liveness, reference health.py:11-14)
- ``/ready``   -> ``{"ready": bool}`` (readiness = the streaming query is
  active, the analog of the reference's nats_connected gauge,
  health.py:16-19)
- ``/metrics`` -> Prometheus text format with the reference's metric
  names (metrics.py:5-70): posts processed/published counters, the
  empty-text, gate and dedup drop counters, batch duration histogram,
  rate + lag gauges, and the last batch's state-store rows, memory and
  commit time.

Scale note: the listener runs on the driver and keeps running totals of
fixed size, so a scrape is O(1) at any uptime and never touches
executors.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .metrics import DURATION_BUCKETS, MetricsListener

_PREFIX = "stream_processor"


def snapshot(listener: MetricsListener, connected: bool = True) -> dict:
    """One coherent view of the pipeline's counters and gauges — the
    dict behind both /metrics and ad-hoc status queries."""
    with listener.lock:
        obs = listener.observed
        return {
            "posts_processed_total": obs.get("n_processed", 0),
            "posts_published_total": obs.get("n_published", 0),
            "posts_empty_text_total": obs.get("n_empty_text", 0),
            # Drops are the differences between adjacent observations:
            # start_enrichment_query observes rows after the gate, not the
            # rows each stage removes.
            "posts_gated_total": (obs.get("n_processed", 0)
                                  - obs.get("n_empty_text", 0)
                                  - obs.get("n_passed_gate", 0)),
            "posts_deduplicated_total": (obs.get("n_passed_gate", 0)
                                         - obs.get("n_published", 0)),
            "batches_total": listener.batches,
            "input_rows_total": listener.input_rows,
            "input_rows_per_second": listener.input_rows_per_second,
            "processed_rows_per_second": listener.processed_rows_per_second,
            "last_batch_duration_ms": listener.last_batch_duration_ms,
            "state_rows": listener.state_rows,
            "state_memory_bytes": listener.state_memory_bytes,
            "state_commit_ms": listener.state_commit_ms,
            "nats_connected": 1 if connected else 0,
            "duration_buckets": list(zip(DURATION_BUCKETS,
                                         listener.duration_buckets)),
            "duration_sum_s": listener.duration_sum_s,
        }


def prometheus_text(listener: MetricsListener, connected: bool = True) -> str:
    """Render the snapshot in Prometheus text exposition format 0.0.4,
    using the reference's metric names (src/metrics.py:5-70)."""
    s = snapshot(listener, connected)
    p = _PREFIX
    lines: list[str] = []

    def counter(name: str, help_: str, value) -> None:
        lines.append(f"# HELP {p}_{name} {help_}")
        lines.append(f"# TYPE {p}_{name} counter")
        lines.append(f"{p}_{name} {value}")

    def gauge(name: str, help_: str, value) -> None:
        lines.append(f"# HELP {p}_{name} {help_}")
        lines.append(f"# TYPE {p}_{name} gauge")
        lines.append(f"{p}_{name} {value}")

    counter("posts_processed_total",
            "Total posts processed for sentiment and topic analysis",
            s["posts_processed_total"])
    counter("posts_published_total",
            "Posts successfully published with sentiment and topics",
            s["posts_published_total"])
    counter("posts_empty_text_total",
            "Posts dropped by the empty-text filter",
            s["posts_empty_text_total"])
    counter("posts_gated_total",
            "Posts dropped by the confidence gate",
            s["posts_gated_total"])
    counter("posts_deduplicated_total",
            "Posts dropped as (uri, cid) duplicates",
            s["posts_deduplicated_total"])
    counter("batches_total", "Streaming micro-batches completed",
            s["batches_total"])
    counter("input_rows_total", "Total input rows across batches",
            s["input_rows_total"])
    gauge("nats_connected", "NATS connection status (1=connected)",
          s["nats_connected"])
    gauge("input_rows_per_second", "Source rate of the last batch",
          s["input_rows_per_second"])
    gauge("processed_rows_per_second", "Processing rate of the last batch",
          s["processed_rows_per_second"])
    gauge("state_rows", "State-store rows after the last batch",
          s["state_rows"])
    gauge("state_memory_bytes", "State-store memory after the last batch",
          s["state_memory_bytes"])
    gauge("state_commit_seconds",
          "State-store commit time of the last batch, summed over shards",
          s["state_commit_ms"] / 1000.0)

    # Histogram of per-batch trigger durations (reference
    # processing_duration_seconds shape, per-batch granularity).
    name = f"{p}_processing_duration_seconds"
    lines.append(f"# HELP {name} Micro-batch trigger durations")
    lines.append(f"# TYPE {name} histogram")
    for le, cumulative in s["duration_buckets"]:
        lines.append(f'{name}_bucket{{le="{le}"}} {cumulative}')
    lines.append(f'{name}_bucket{{le="+Inf"}} {s["batches_total"]}')
    lines.append(f"{name}_sum {s['duration_sum_s']}")
    lines.append(f"{name}_count {s['batches_total']}")
    return "\n".join(lines) + "\n"


class _Handler(BaseHTTPRequestHandler):
    server: "HealthServer"

    def do_GET(self) -> None:  # noqa: N802
        srv: HealthServer = self.server  # type: ignore[assignment]
        if self.path == "/health":
            self._reply(200, json.dumps({"status": "ok"}),
                        "application/json")
        elif self.path == "/ready":
            ready = bool(srv.ready_check())
            self._reply(200 if ready else 503,
                        json.dumps({"ready": ready}), "application/json")
        elif self.path == "/metrics":
            body = prometheus_text(srv.listener, connected=bool(srv.ready_check()))
            self._reply(200, body, "text/plain; version=0.0.4")
        else:
            self._reply(404, json.dumps({"error": "not found"}),
                        "application/json")

    def _reply(self, code: int, body: str, ctype: str) -> None:
        data = body.encode()
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, fmt: str, *args) -> None:  # silence stderr
        pass


class HealthServer(ThreadingHTTPServer):
    """stdlib HTTP server for /health /ready /metrics, fed by a
    MetricsListener. ``ready_check`` is any zero-arg callable — wire it
    to ``query.isActive`` for the streaming pipeline (the analog of the
    reference's nats_connected readiness gate)."""

    daemon_threads = True

    def __init__(self, listener: MetricsListener, port: int = 0,
                 ready_check=lambda: True) -> None:
        super().__init__(("127.0.0.1", port), _Handler)
        self.listener = listener
        self.ready_check = ready_check
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self.server_address[1]

    def start(self) -> "HealthServer":
        self._thread = threading.Thread(target=self.serve_forever,
                                        daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.shutdown()
        self.server_close()
        if self._thread:
            self._thread.join(timeout=5)

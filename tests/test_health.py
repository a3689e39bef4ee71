"""Health/readiness/metrics surface (H1; reference src/health.py:7-25,
src/metrics.py:5-70). Spark-free: the exposition renders from a
MetricsListener fed synthetic progress events."""

from __future__ import annotations

import json
import urllib.request
from types import SimpleNamespace

from pyspark.sql import Row

from nats_stream_processor_spark.streaming.health import (
    HealthServer,
    prometheus_text,
    snapshot,
)
from nats_stream_processor_spark.streaming.metrics import MetricsListener


def _progress(rows: int, in_rate: float, proc_rate: float,
              duration_ms: int, observed: dict,
              states: tuple = ()) -> SimpleNamespace:
    """A QueryProgressEvent stand-in with the fields the listener reads;
    ``states`` holds one (rows, memory bytes, commit ms) per stateful
    operator."""
    return SimpleNamespace(progress=SimpleNamespace(
        numInputRows=rows, inputRowsPerSecond=in_rate,
        processedRowsPerSecond=proc_rate,
        durationMs={"triggerExecution": duration_ms},
        observedMetrics={k: Row(**v) for k, v in observed.items()},
        stateOperators=[SimpleNamespace(numRowsTotal=r, memoryUsedBytes=m,
                                        commitTimeMs=c)
                        for r, m, c in states]))


def _listener() -> MetricsListener:
    lst = MetricsListener()
    lst.onQueryProgress(_progress(100, 50.0, 48.0, 120, {"pipeline": {
        "n_processed": 100, "n_empty_text": 3,
        "n_passed_gate": 82, "n_published": 80}}, states=[(80, 40_000, 300)]))
    # two stateful operators in the last batch: gauges sum them
    lst.onQueryProgress(_progress(60, 30.0, 29.0, 80, {"pipeline": {
        "n_processed": 60, "n_empty_text": 1,
        "n_passed_gate": 53, "n_published": 50}},
        states=[(130, 65_000, 250), (7, 2_048, 4)]))
    return lst


def test_snapshot_totals():
    s = snapshot(_listener())
    assert s["posts_processed_total"] == 160
    assert s["posts_published_total"] == 130
    assert s["posts_empty_text_total"] == 4
    # gate drops = processed - empty - passed gate; dedup drops = passed
    # gate - published
    assert s["posts_gated_total"] == 21
    assert s["posts_deduplicated_total"] == 5
    assert s["batches_total"] == 2
    assert s["input_rows_total"] == 160
    assert s["input_rows_per_second"] == 30.0
    assert s["last_batch_duration_ms"] == 80
    assert (s["state_rows"], s["state_memory_bytes"], s["state_commit_ms"]) \
        == (137, 67_048, 254)


def test_prometheus_exposition_format():
    text = prometheus_text(_listener())
    assert "# TYPE stream_processor_posts_processed_total counter" in text
    assert "stream_processor_posts_processed_total 160" in text
    assert "stream_processor_posts_published_total 130" in text
    assert "stream_processor_posts_gated_total 21\n" in text
    assert "# TYPE stream_processor_posts_deduplicated_total counter" in text
    assert "stream_processor_posts_deduplicated_total 5\n" in text
    assert "# TYPE stream_processor_nats_connected gauge" in text
    assert "stream_processor_nats_connected 1" in text
    # histogram: 0.08s and 0.12s both <= 0.2; only 0.08 <= 0.1
    assert 'stream_processor_processing_duration_seconds_bucket{le="0.1"} 1' in text
    assert 'stream_processor_processing_duration_seconds_bucket{le="0.2"} 2' in text
    assert 'stream_processor_processing_duration_seconds_bucket{le="+Inf"} 2' in text
    assert "# TYPE stream_processor_state_rows gauge" in text
    assert "stream_processor_state_rows 137\n" in text
    assert "stream_processor_state_memory_bytes 67048\n" in text
    assert "stream_processor_state_commit_seconds 0.254\n" in text
    assert "stream_processor_processing_duration_seconds_count 2" in text
    # every non-comment line is "name{labels} value" — parseable exposition
    for line in text.strip().splitlines():
        if line.startswith("#"):
            continue
        name, value = line.rsplit(" ", 1)
        assert name.startswith("stream_processor_")
        float(value)


def test_listener_state_is_constant_size():
    """The listener keeps running totals, not per-batch records: 10k
    more progress events leave every container it holds the same size,
    while the totals keep counting."""
    def footprint(lst):
        return {k: len(v) if hasattr(v, "__len__") else type(v)
                for k, v in vars(lst).items()}

    lst = _listener()
    before = footprint(lst)
    for i in range(10_000):
        lst.onQueryProgress(_progress(1, 1.0, 1.0, i, {
            "input": {"n_processed": 1, "n_empty_text": 0},
            "published": {"n_published": 1}}))
    assert footprint(lst) == before
    s = snapshot(lst)
    assert s["batches_total"] == 10_002
    assert s["posts_processed_total"] == 10_160
    assert s["posts_published_total"] == 10_130
    # durations 0..9999 ms: 5001 of them <= 5 s, plus the two above
    assert s["duration_buckets"][-1] == (5.0, 5_003)


def test_disconnected_gauge():
    text = prometheus_text(_listener(), connected=False)
    assert "stream_processor_nats_connected 0" in text


def test_http_endpoints():
    ready = {"v": True}
    srv = HealthServer(_listener(), port=0,
                       ready_check=lambda: ready["v"]).start()
    base = f"http://127.0.0.1:{srv.port}"
    try:
        with urllib.request.urlopen(f"{base}/health") as r:
            assert r.status == 200
            assert json.load(r) == {"status": "ok"}
        with urllib.request.urlopen(f"{base}/ready") as r:
            assert json.load(r) == {"ready": True}
        with urllib.request.urlopen(f"{base}/metrics") as r:
            assert r.headers["Content-Type"].startswith("text/plain")
            body = r.read().decode()
            assert "stream_processor_posts_processed_total 160" in body
        ready["v"] = False
        try:
            urllib.request.urlopen(f"{base}/ready")
            raise AssertionError("expected 503")
        except urllib.error.HTTPError as e:
            assert e.code == 503
            assert json.load(e) == {"ready": False}
    finally:
        srv.stop()


def test_cli_serves_health_endpoints(spark, tmp_path):
    """EP1+H1 end-to-end: `python -m ... --once --health-port 0` serves
    /health /ready /metrics while the streaming query drains the mem://
    broker (reference service wiring, src/service.py + src/health.py)."""
    import json as _json
    import threading
    import time

    from tests.brokers import seed_posts

    from nats_stream_processor_spark.sources.nats_transport import mem_reset
    import nats_stream_processor_spark.__main__ as cli
    from nats_stream_processor_spark.streaming.health import HealthServer

    server = "mem://cli-health-test"
    mem_reset(server)
    seed_posts(server, [
        {"uri": f"at://u/{i}", "cid": f"c{i}", "author": "did:plc:x",
         "text": f"lovely post number {i} about coffee and friends"}
        for i in range(10)])

    scraped: dict = {}

    def watch() -> None:
        for _ in range(240):
            time.sleep(0.25)
            if "port" in scraped:
                try:
                    for ep in ("/health", "/ready", "/metrics"):
                        with urllib.request.urlopen(
                                f"http://127.0.0.1:{scraped['port']}{ep}",
                                timeout=2) as r:
                            scraped[ep] = (r.status, r.read().decode())
                    return
                except Exception:
                    pass

    orig_start = HealthServer.start

    def patched_start(self):
        scraped["port"] = self.port
        return orig_start(self)

    # cli.main() ends with spark.stop(), which would kill the shared
    # session fixture (getOrCreate returns the same session) — no-op it.
    orig_stop = type(spark).stop
    HealthServer.start = patched_start
    type(spark).stop = lambda self: None
    try:
        t = threading.Thread(target=watch, daemon=True)
        t.start()
        rc = cli.main(["--servers", server,
                       "--checkpoint", str(tmp_path / "ckpt"),
                       "--once", "--health-port", "0"])
        t.join(timeout=10)
    finally:
        HealthServer.start = orig_start
        type(spark).stop = orig_stop

    assert rc == 0
    assert scraped["/health"][0] == 200
    assert _json.loads(scraped["/health"][1]) == {"status": "ok"}
    assert scraped["/ready"][0] == 200
    assert "stream_processor_posts_processed_total" in scraped["/metrics"][1]


def test_cli_honors_reference_env_vars(monkeypatch):
    """A reference deployment's environment (src/config.py Settings names)
    must configure this service unchanged."""
    import importlib

    import nats_stream_processor_spark.__main__ as cli

    monkeypatch.setenv("NATS_URL", "nats://broker:4222")
    monkeypatch.setenv("INPUT_STREAM", "in-s")
    monkeypatch.setenv("OUTPUT_STREAM", "out-s")
    monkeypatch.setenv("INPUT_SUBJECT", "custom.posts")
    monkeypatch.setenv("MAX_ACK_PENDING", "77")
    monkeypatch.setenv("HEALTH_CHECK_PORT", "8123")
    importlib.reload(cli)

    import argparse
    captured = {}
    orig = argparse.ArgumentParser.parse_args

    def spy(self, argv=None):
        ns = orig(self, argv)
        captured.update(vars(ns))
        raise SystemExit(0)  # stop before any Spark work

    argparse.ArgumentParser.parse_args = spy
    try:
        import pytest as _pytest
        with _pytest.raises(SystemExit):
            cli.main(["--checkpoint", "/tmp/x"])
    finally:
        argparse.ArgumentParser.parse_args = orig
    assert captured["servers"] == "nats://broker:4222"
    assert captured["input_stream"] == "in-s"
    assert captured["output_stream"] == "out-s"
    assert captured["subject_prefix"] == "custom.posts."
    assert captured["max_batch"] == 77
    assert captured["health_port"] == 8123


def test_json_logging_reference_shape(capsys):
    """LOG_FORMAT=json emits one JSON object per line with the
    reference's key shape (timestamp/level/message + bound context)."""
    import json as _json
    import logging

    from nats_stream_processor_spark.logging_setup import (
        configure_logging,
        get_logger,
    )

    configure_logging(level="INFO", log_format="json")
    log = get_logger("t")
    log.info("hello %s", "world", extra={"context": {"stream": "s1"}})
    err = capsys.readouterr().err.strip().splitlines()[-1]
    rec = _json.loads(err)
    assert rec["message"] == "hello world"
    assert rec["level"] == "info"
    assert rec["stream"] == "s1"
    assert "timestamp" in rec
    # restore a quiet root logger for the rest of the suite
    logging.getLogger().handlers = []

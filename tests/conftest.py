from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import time
from typing import IO

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "env_gated: needs a binary/package this container lacks; the skip "
        "reason names the exact unlock command (select the whole set with "
        "`pytest -m env_gated -rs`)")


SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------
# Sharded oracle-parity sweep (see tests/test_oracle_parity.py).
#
# The worker processes LAUNCH at collection time — as soon as we know
# the parity tests are selected — so the 8-way sweep overlaps the
# serial test files that run before test_oracle_parity.py is reached
# (alphabetical order puts it ~60% through the suite). By join time the
# workers are normally already done, taking the whole 14-minute serial
# sweep off the suite's critical path. CPU math: the workers are
# local[4] JVMs over sf0.001 — they share the box with the one local[4]
# session the serial tests use, which is exactly the oversubscription a
# 32-core host absorbs.

_PARITY_SHARDS: list[tuple[subprocess.Popen, list[str], IO[str]]] = []
_PARITY_N_WORKERS = max(1, int(os.environ.get("SPARK_GRAFT_PARITY_WORKERS")
                               or min(8, (os.cpu_count() or 4) // 4)))


def _launch_parity_workers() -> None:
    from nats_stream_processor_spark import registry

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker = os.path.join(root, "tests", "_parity_worker.py")
    names = list(registry.REGISTRY)
    for i in range(_PARITY_N_WORKERS):
        shard = names[i::_PARITY_N_WORKERS]
        # stderr (JVM logs) goes to a file: an unread pipe fills at
        # ~64 KB and blocks the worker mid-shard.
        err = tempfile.TemporaryFile("w+", errors="replace")
        p = subprocess.Popen(
            [sys.executable, worker, SF_SMOKE, *shard],
            stdout=subprocess.PIPE, stderr=err,
            text=True, cwd=root,
            # The workers have huge slack (the sweep finishes in a
            # fraction of the serial files' window) — deprioritize them
            # so they back-fill idle cores instead of stealing cycles
            # from the foreground tests they overlap.
            preexec_fn=lambda: os.nice(10))
        _PARITY_SHARDS.append((p, shard, err))


def pytest_collection_modifyitems(session, config, items):
    if any("test_query_matches_oracle" in it.nodeid for it in items):
        _launch_parity_workers()


def pytest_sessionfinish(session, exitstatus):
    # -x / --maxfail can abort before the parity tests join the workers;
    # never leave orphaned JVMs behind.
    for p, _, _ in _PARITY_SHARDS:
        if p.poll() is None:
            p.kill()


_PARITY_JOINED: dict[str, dict] | None = None
_PARITY_TIMEOUT_S = 1800


def parity_join() -> dict[str, dict]:
    """Join the sharded sweep once and cache the per-query records
    ({"problem": str | None, "sec": float, "cartesian": bool | None});
    both the oracle-parity tests and the registry-wide plan audit read
    this. A worker that died mid-shard yields a synthetic failure record
    for each unreported query, carrying its stderr tail."""
    import json

    global _PARITY_JOINED
    if _PARITY_JOINED is not None:
        return _PARITY_JOINED
    if not _PARITY_SHARDS:  # direct single-file invocation fallback
        _launch_parity_workers()
    results: dict[str, dict] = {}
    deadline = time.monotonic() + _PARITY_TIMEOUT_S  # one, for all shards
    for p, shard, err_file in _PARITY_SHARDS:
        timed_out = ""
        try:
            out, _ = p.communicate(
                timeout=max(0.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            out, _ = p.communicate()
            timed_out = "\n[parity worker timed out]"
        err_file.seek(0)
        err = err_file.read() + timed_out
        err_file.close()
        for line in out.splitlines():
            if not line.startswith("{"):
                continue
            try:
                d = json.loads(line)
            except ValueError:
                continue
            results[d["name"]] = d
        for name in shard:
            if name not in results:
                results[name] = {
                    "problem": (
                        f"parity worker died before reaching this query "
                        f"(rc={p.returncode}): ...{err[-400:]}"),
                    "sec": None, "cartesian": None}
    _PARITY_JOINED = results
    return results


@pytest.fixture(scope="session")
def spark():
    from nats_stream_processor_spark.config import SparkEngineConf
    from nats_stream_processor_spark.session import get_spark

    # Small local session for tests: few cores/partitions keeps JVM startup
    # and shuffle overhead low at sf0.001 while exercising the same plans.
    spark = get_spark(
        SparkEngineConf(master="local[4]", shuffle_partitions=4),
        **{
            # static conf: saveAsTable targets (bucketed-join tests)
            "spark.sql.warehouse.dir": "/tmp/spark_graft_warehouse",
        },
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture()
def fake_nats(monkeypatch):
    """Install the scripted fake nats-py module (tests/fake_nats.py) under
    the names the JetStream transport imports; returns its broker."""
    from tests.fake_nats import make_fake_nats

    mod, broker = make_fake_nats()
    monkeypatch.setitem(sys.modules, "nats", mod)
    monkeypatch.setitem(sys.modules, "nats.js", mod.js)
    monkeypatch.setitem(sys.modules, "nats.js.api", mod.js.api)
    return broker


@pytest.fixture()
def mem_broker(spark, request) -> str:
    """A fresh `mem://` broker named after the test, with format("nats")
    registered on the session; returns its servers URL."""
    from nats_stream_processor_spark.sources.nats import register
    from nats_stream_processor_spark.sources.nats_transport import mem_reset

    register(spark)
    server = f"mem://{request.node.name}"
    mem_reset(server)
    return server

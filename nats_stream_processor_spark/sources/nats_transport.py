"""Transports for the `format("nats")` connector: one interface, two
backends, chosen by :func:`open_transport` from the ``servers`` URL.

Both expose ``ensure_stream``, ``last_seq``, ``fetch``, ``publish_many``,
``connect``/``close`` and context-manager use, and both return
:class:`FetchedMessage` rows, so the reader and writer never branch on the
backend.

- :class:`JetStreamTransport` (any non-``mem://`` URL): a synchronous
  facade over the asyncio nats-py client, callable from Spark's reader
  (driver) and writer (executor worker) processes. A dedicated background
  thread runs one event loop + one connection per transport instance, and
  each operation is submitted with ``asyncio.run_coroutine_threadsafe`` —
  no event-loop juggling inside Spark tasks.
- :class:`MemTransport` (``mem://<name>``): a file-backed JetStream
  stand-in with per-stream sequences, ``<prefix>.>`` subject filters and
  the ``Nats-Msg-Id`` duplicate window. File-backed (one jsonl per stream)
  because Spark runs Python data sources in separate worker processes, so
  an in-process dict would be invisible there.

Reference parity (citations into /root/reference/src/nats_client.py):

- ``ensure_stream``   -> _ensure_output_stream (:81-102): LIMITS retention,
  discard OLD, max_msgs 5M, FILE storage, 600 s duplicate window, subjects
  ``<prefix>.>``.
- ``fetch``           -> the durable consumer's DeliverPolicy.ALL /
  max_ack_pending admission (:123-168), re-expressed for Spark's replayable
  micro-batch model: an ephemeral pull consumer started BY_START_SEQUENCE
  at the requested offset, so any seq range can be re-read exactly
  (deterministic replay, which ack-based delivery cannot give).
- ``publish_many``    -> publish_enriched_result (:220-286): per-message
  ``Nats-Msg-Id`` idempotency header, server-side duplicate detection via
  the stream's duplicate window, bounded retries on timeout.

nats-py is imported lazily at call time, so unit tests can install a
scripted fake ``nats`` module in ``sys.modules`` (tests/fake_nats.py) and
this module's logic runs unmodified; the container has no broker, so that
fake is also the only way the JetStream path executes here.
"""

from __future__ import annotations

import asyncio
import base64
import fcntl
import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

from ..config import (
    DEDUP_WINDOW_SECONDS, PUBLISH_MAX_RETRIES, PUBLISH_RETRY_DELAY_S,
)

OUTPUT_MAX_MSGS = 5_000_000  # reference: src/nats_client.py:94
PUBLISH_TIMEOUT_S = 5.0  # reference: src/nats_client.py:254
FETCH_TIMEOUT_S = 5.0
MEM_BROKER_DIR = os.environ.get(
    "SPARK_GRAFT_MEM_BROKER_DIR", "/tmp/spark_graft_mem_broker")


def _api():
    """Import the nats-py surface lazily (fake-injectable via sys.modules)."""
    import nats
    from nats.js import api
    return nats, api


@dataclass
class FetchedMessage:
    subject: str
    data: bytes
    seq: int
    ts: float  # epoch seconds (from JetStream metadata timestamp)
    headers: dict = field(default_factory=dict)


class JetStreamTransport:
    """One connection + one event-loop thread; safe to call from any thread.

    Use as a context manager or call :meth:`close` — each Spark writer
    partition / reader batch should hold exactly one instance.
    """

    def __init__(self, servers: str | list[str]):
        self.servers = [servers] if isinstance(servers, str) else list(servers)
        self._loop = asyncio.new_event_loop()
        self._thread = threading.Thread(
            target=self._loop.run_forever, name="nats-transport", daemon=True)
        self._thread.start()
        self._nc = None
        self._js = None

    # ----------------------------------------------------------- lifecycle

    def _run(self, coro, timeout: float = 30.0):
        return asyncio.run_coroutine_threadsafe(coro, self._loop).result(timeout)

    def connect(self) -> "JetStreamTransport":
        self._run(self._connect())
        return self

    async def _connect(self):
        nats, _ = _api()
        self._nc = await nats.connect(servers=self.servers)
        self._js = self._nc.jetstream()

    def close(self) -> None:
        if self._nc is not None:
            self._run(self._close())
        self._loop.call_soon_threadsafe(self._loop.stop)
        self._thread.join(timeout=10)
        self._loop.close()

    async def _close(self):
        # drain flushes pending publishes before close (reference :117)
        try:
            await self._nc.drain()
        finally:
            await self._nc.close()
            self._nc = self._js = None

    def __enter__(self) -> "JetStreamTransport":
        return self.connect()

    def __exit__(self, *exc) -> None:
        self.close()

    # ----------------------------------------------------------------- DDL

    def ensure_stream(self, stream: str, subject_prefix: str) -> None:
        """CREATE STREAM IF NOT EXISTS with the reference's output config."""
        self._run(self._ensure_stream(stream, subject_prefix))

    async def _ensure_stream(self, stream: str, subject_prefix: str):
        _, api = _api()
        try:
            await self._js.stream_info(stream)
            return  # exists — the reference logs and moves on (:84-86)
        except Exception:
            pass
        await self._js.add_stream(config=api.StreamConfig(
            name=stream,
            subjects=[f"{subject_prefix}.>"],
            retention=api.RetentionPolicy.LIMITS,
            discard=api.DiscardPolicy.OLD,
            max_msgs=OUTPUT_MAX_MSGS,
            storage=api.StorageType.FILE,
            duplicate_window=DEDUP_WINDOW_SECONDS,
        ))

    def last_seq(self, stream: str) -> int:
        """Last stream sequence (0 for an empty stream) — offset discovery."""
        return self._run(self._last_seq(stream))

    async def _last_seq(self, stream: str) -> int:
        info = await self._js.stream_info(stream)
        return int(info.state.last_seq)

    # --------------------------------------------------------------- fetch

    def fetch(self, stream: str, start_seq: int, max_msgs: int,
              subject_filter: str | None = None) -> list[FetchedMessage]:
        """Read up to max_msgs messages with stream seq >= start_seq.

        An EPHEMERAL pull consumer bound BY_START_SEQUENCE gives exact,
        repeatable range reads — Spark replays committed micro-batches
        after restart (readBetweenOffsets), which a durable ack-based
        consumer cannot do. AckPolicy NONE: progress lives in the Spark
        checkpoint, not broker ack floors (SURVEY.md §3 A0).
        """
        return self._run(
            self._fetch(stream, start_seq, max_msgs, subject_filter),
            timeout=FETCH_TIMEOUT_S + 30,
        )

    async def _fetch(self, stream, start_seq, max_msgs, subject_filter):
        _, api = _api()
        psub = await self._js.pull_subscribe(
            subject=subject_filter or "",
            stream=stream,
            config=api.ConsumerConfig(
                deliver_policy=api.DeliverPolicy.BY_START_SEQUENCE,
                opt_start_seq=start_seq,
                ack_policy=api.AckPolicy.NONE,
                filter_subject=subject_filter,
            ),
        )
        try:
            try:
                msgs = await psub.fetch(batch=max_msgs, timeout=FETCH_TIMEOUT_S)
            except Exception:  # nats.errors.TimeoutError -> empty batch
                return []
            out = []
            for m in msgs:
                md = m.metadata
                ts = md.timestamp.timestamp() if getattr(
                    md, "timestamp", None) else time.time()
                out.append(FetchedMessage(
                    subject=m.subject,
                    data=bytes(m.data),
                    seq=int(md.sequence.stream),
                    ts=ts,
                    headers=dict(m.headers or {}),
                ))
            return out
        finally:
            try:
                await psub.unsubscribe()
            except Exception:
                pass

    # ------------------------------------------------------------- publish

    def publish_many(
        self, stream: str, items: list[tuple[str, bytes, str | None]]
    ) -> tuple[int, int]:
        """Publish (subject, payload, msg_id) triples; returns
        (published, duplicates). Retries timeouts with linear backoff;
        retried publishes are idempotent because the Nats-Msg-Id header
        makes the server drop re-sends inside the duplicate window.
        ``stream`` is the stream the caller writes to; the server routes
        each message by its subject, so JetStream needs no more than the
        subject."""
        return self._run(self._publish_many(items),
                         timeout=PUBLISH_TIMEOUT_S * (PUBLISH_MAX_RETRIES + 1)
                         * max(len(items), 1) + 30)

    async def _publish_many(self, items):
        n_pub = n_dup = 0
        for subject, payload, msg_id in items:
            headers = {"Nats-Msg-Id": msg_id} if msg_id else None
            attempt = 0
            while True:
                try:
                    ack = await self._js.publish(
                        subject, payload, timeout=PUBLISH_TIMEOUT_S,
                        headers=headers)
                    if getattr(ack, "duplicate", False):
                        n_dup += 1
                    else:
                        n_pub += 1
                    break
                except asyncio.TimeoutError:
                    attempt += 1
                    if attempt > PUBLISH_MAX_RETRIES:
                        raise
                    await asyncio.sleep(PUBLISH_RETRY_DELAY_S * attempt)
        return n_pub, n_dup


class MemTransport:
    """File-backed JetStream stand-in for ``mem://<name>`` URLs (tests and
    local demos). Same interface as :class:`JetStreamTransport`; the
    duplicate window is unbounded, which is fine for tests."""

    def __init__(self, servers: str):
        self.root = os.path.join(MEM_BROKER_DIR, servers.removeprefix("mem://"))

    def connect(self) -> "MemTransport":
        return self

    def close(self) -> None:
        pass

    def __enter__(self) -> "MemTransport":
        return self.connect()

    def __exit__(self, *exc) -> None:
        self.close()

    def _path(self, stream: str) -> str:
        return os.path.join(self.root, f"{stream}.jsonl")

    def _lines(self, stream: str) -> list[dict]:
        path = self._path(stream)
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(ln) for ln in f if ln.strip()]

    def ensure_stream(self, stream: str, subject_prefix: str) -> None:
        os.makedirs(self.root, exist_ok=True)
        open(self._path(stream), "a").close()

    def last_seq(self, stream: str) -> int:
        lines = self._lines(stream)
        return lines[-1]["seq"] if lines else 0

    def fetch(self, stream: str, start_seq: int, max_msgs: int,
              subject_filter: str | None = None) -> list[FetchedMessage]:
        out = []
        for d in self._lines(stream):
            if len(out) >= max_msgs:
                break
            if d["seq"] >= start_seq and _subject_matches(d["subject"],
                                                          subject_filter):
                out.append(FetchedMessage(
                    d["subject"], base64.b64decode(d["data"]), d["seq"],
                    d["ts"], d["headers"]))
        return out

    def publish_many(
        self, stream: str, items: list[tuple[str, bytes, str | None]]
    ) -> tuple[int, int]:
        # Writer partitions publish from parallel Python worker processes;
        # one exclusive flock around read+append per batch keeps the
        # sequence monotonic and the duplicate scan race-free (the real
        # server serializes publishes).
        os.makedirs(self.root, exist_ok=True)
        path = self._path(stream)
        with open(path + ".lock", "w") as lockf:
            fcntl.flock(lockf, fcntl.LOCK_EX)
            existing = self._lines(stream)
            seen = {d["headers"].get("Nats-Msg-Id") for d in existing}
            seq = existing[-1]["seq"] if existing else 0
            lines = []
            for subject, payload, msg_id in items:
                if msg_id:
                    if msg_id in seen:
                        continue
                    seen.add(msg_id)
                seq += 1
                lines.append(json.dumps({
                    "subject": subject, "data": base64.b64encode(payload).decode(),
                    "seq": seq, "ts": time.time(),
                    "headers": {"Nats-Msg-Id": msg_id} if msg_id else {},
                }) + "\n")
            with open(path, "a") as f:
                f.writelines(lines)
        return len(lines), len(items) - len(lines)


def _subject_matches(subject: str, subject_filter: str | None) -> bool:
    """JetStream filter match for the forms the connector uses: an exact
    subject or ``<prefix>.>`` (one or more further tokens)."""
    if not subject_filter:
        return True
    if subject_filter.endswith(".>"):
        prefix = subject_filter[:-1]
        return subject.startswith(prefix) and len(subject) > len(prefix)
    return subject == subject_filter


def mem_reset(servers: str) -> None:
    """Drop all streams of a ``mem://`` broker (test isolation)."""
    shutil.rmtree(MemTransport(servers).root, ignore_errors=True)


def open_transport(servers: str) -> JetStreamTransport | MemTransport:
    """The transport for a ``servers`` URL, not yet connected (use it as a
    context manager or call ``connect()``). ``mem://<name>`` selects the
    file-backed stand-in; any other URL needs nats-py."""
    if servers.startswith("mem://"):
        return MemTransport(servers)
    try:
        _api()
    except ImportError as e:
        raise ImportError(
            "nats-py is required for a real NATS connection "
            "(pip install nats-py); use servers='mem://<name>' for the "
            "file-backed broker") from e
    return JetStreamTransport(servers)

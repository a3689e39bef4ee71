"""NATS JetStream connector via the Python DataSource API —
`spark.readStream.format("nats")` / `df.writeStream.format("nats")`.

Reference parity (all citations into /root/reference):

- Source (S1): the reference push-subscribes a durable consumer with a
  queue group (src/nats_client.py:123-168). Spark replays micro-batches
  from checkpointed offsets, so we instead FETCH BY STREAM SEQUENCE over a
  pull/ordered consumer: offset = {"seq": n} (JetStream's monotonically
  increasing per-stream sequence), giving deterministic replay — the
  property the reference's at-least-once ack protocol (A0,
  src/nats_client.py:170-218) only approximates.
- Admission control (S2): option("maxBatchSize") caps messages per
  micro-batch — the analog of max_ack_pending=100 (src/config.py:24).
- Sink (S3/P3/D1/R1): publish with subject routing and the
  Nats-Msg-Id = "uri:cid" idempotency header (src/nats_client.py:237-252)
  so JetStream's duplicate_window drops re-publishes after task retries —
  retries are therefore safe (R1 without the sleep loop).
- Sink DDL (S4): ensure_output_stream mirrors _ensure_output_stream
  (src/nats_client.py:81-102): LIMITS retention, discard OLD, max_msgs
  5M, file storage, 600 s duplicate window.

Transport: the reader and writer talk to the broker only through
nats_transport.open_transport, which picks the real nats-py JetStream
client for a `nats://` URL and the file-backed stand-in for
`servers="mem://<name>"` (the streaming e2e tests drive the latter; the
JetStream path runs in tests against a scripted fake `nats` module — the
container ships neither nats-py nor a broker).

Scale: the reader (NatsPartitionedStreamReader) splits each micro-batch's
sequence range into N InputPartitions read in parallel executor workers —
the deterministic analog of the reference's queue-group fan-out across
pods (README.md:505-517). Per-message ORDER within the batch is not total
across partitions (neither is the queue group's); pipelines needing order
sort on `seq`. For multi-stream topologies, register one source per
stream/subject-filter.
"""

from __future__ import annotations

import datetime
import json
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    BinaryType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..config import (
    INPUT_STREAM, MAX_OFFSETS_PER_TRIGGER, OUTPUT_STREAM, OUTPUT_SUBJECT_PREFIX,
)
from .nats_transport import FetchedMessage, open_transport

NATS_SCHEMA = StructType([
    StructField("subject", StringType()),
    StructField("value", BinaryType()),
    StructField("seq", LongType()),
    StructField("ts", TimestampType()),
    StructField("headers", MapType(StringType(), StringType())),
])


def ensure_output_stream(
    server: str, stream: str, subject_prefix: str = OUTPUT_SUBJECT_PREFIX,
) -> None:
    """S4: CREATE-STREAM-IF-NOT-EXISTS. Mirrors the reference's stream DDL
    (src/nats_client.py:81-102): LIMITS retention, discard OLD, max_msgs
    5M, FILE storage, 600 s duplicate window."""
    with open_transport(server) as t:
        t.ensure_stream(stream, subject_prefix)


def _msgs_to_rows(msgs: list[FetchedMessage]) -> list[tuple]:
    """Map fetched messages onto NATS_SCHEMA tuples."""
    return [
        (
            m.subject,
            m.data,
            m.seq,
            datetime.datetime.fromtimestamp(m.ts, tz=datetime.timezone.utc)
            .replace(tzinfo=None),
            m.headers,
        )
        for m in msgs
    ]


@dataclass
class SeqRangePartition(InputPartition):
    """One executor-read slice of a micro-batch: stream sequences
    [start_seq, end_seq)."""

    start_seq: int
    end_seq: int


class NatsPartitionedStreamReader(DataSourceStreamReader):
    """Partitioned source: each micro-batch's sequence range splits into N
    `SeqRangePartition`s fetched in parallel executor workers — the Spark
    analog of the reference's queue-group fan-out across pods
    (reference README.md:505-517), but deterministic: a partition is a seq
    RANGE, so replay after failure re-reads exactly the same messages
    (queue groups give no such guarantee).

    Driver-side: initialOffset/latestOffset/partitions (one cheap
    stream-info call per trigger). Executor-side: read(partition) opens its
    own connection per task. Offsets are {"seq": next unread}.
    """

    def __init__(self, options: dict):
        self.server = options.get("servers", "mem://default")
        self.stream = options.get("stream", INPUT_STREAM)
        self.subject_prefix = options.get("subjectprefix") or None
        self.max_batch = int(
            options.get("maxbatchsize", MAX_OFFSETS_PER_TRIGGER))
        self.num_partitions = int(options.get("numpartitions", 8))
        self._transport = None
        self._prev_end: int | None = None

    def __getstate__(self):
        # The reader ships to executor workers for read(); the transport
        # (event-loop thread + socket) stays on the driver.
        state = self.__dict__.copy()
        state["_transport"] = None
        return state

    def _subject_filter(self) -> str | None:
        # option subjectPrefix="bluesky.posts." -> JetStream filter
        # "bluesky.posts.>" (the reference subscribes "<subject>.>",
        # src/nats_client.py:137)
        if not self.subject_prefix:
            return None
        return self.subject_prefix.rstrip(".") + ".>"

    def initialOffset(self) -> dict:  # noqa: N802
        return {"seq": 1}  # DeliverPolicy.ALL (reference: src/nats_client.py:152)

    def latestOffset(self) -> dict:  # noqa: N802
        # Admission control (S2): advance at most max_batch sequences per
        # trigger. The cap is relative to the previous latestOffset this
        # process returned; the first trigger after a restart is uncapped
        # (the Python API doesn't surface the checkpointed start here).
        if self._transport is None:
            # one connection for the life of the reader (driver-side)
            self._transport = open_transport(self.server).connect()
        end = self._transport.last_seq(self.stream) + 1
        if self._prev_end is not None:
            end = min(end, self._prev_end + self.max_batch)
            end = max(end, self._prev_end)
        self._prev_end = end
        return {"seq": end}

    def partitions(self, start: dict, end: dict) -> list[SeqRangePartition]:
        s, e = start["seq"], end["seq"]
        total = e - s
        if total <= 0:
            return [SeqRangePartition(s, s)]
        n = min(self.num_partitions, total)
        step, rem = divmod(total, n)
        parts, cur = [], s
        for i in range(n):
            size = step + (1 if i < rem else 0)
            parts.append(SeqRangePartition(cur, cur + size))
            cur += size
        return parts

    def read(self, partition: SeqRangePartition) -> Iterator[tuple]:
        lo, hi = partition.start_seq, partition.end_seq
        if hi <= lo:
            return iter([])
        with open_transport(self.server) as t:
            msgs = t.fetch(self.stream, lo, hi - lo, self._subject_filter())
        return iter(_msgs_to_rows([m for m in msgs if m.seq < hi]))

    def commit(self, end: dict) -> None:
        pass  # offsets live in the Spark checkpoint (A0)

    def stop(self) -> None:
        if self._transport is not None:
            self._transport.close()
            self._transport = None


@dataclass
class NatsCommitMessage(WriterCommitMessage):
    n_published: int = 0
    n_duplicates: int = 0


class NatsStreamWriter(DataSourceStreamWriter):
    """Publishes rows to the output stream with subject routing + msg-id
    dedup. Expects columns: route_subject (or subject), a JSON-ready
    payload column (value/payload), and optionally msg_id."""

    def __init__(self, options: dict):
        self.server = options.get("servers", "mem://default")
        self.stream = options.get("stream", OUTPUT_STREAM)

    def _row_to_message(self, row) -> tuple[str, bytes, str | None]:
        d = row.asDict(recursive=True)
        subject = (d.get("route_subject") or d.get("subject")
                   or OUTPUT_SUBJECT_PREFIX)
        msg_id = d.get("msg_id")
        if msg_id is None and d.get("uri") and d.get("cid"):
            # Truthiness on purpose: the reference skips the dedup header for
            # empty-string uri/cid too (`if post_uri and post_cid`,
            # src/nats_client.py:248).
            msg_id = f"{d['uri']}:{d['cid']}"
        payload = d.get("value")
        if payload is None:
            payload = json.dumps(
                {k: v for k, v in d.items()
                 if k not in ("route_subject", "msg_id")},
                default=str).encode()
        elif isinstance(payload, str):
            payload = payload.encode()
        return subject, payload, msg_id

    def write(self, iterator) -> NatsCommitMessage:
        """Executor-side publish: this runs in each writer partition's
        Python worker with its own connection — no data crosses the driver
        (the queue-group fan-out analog, reference README.md:505-517)."""
        items = [self._row_to_message(row) for row in iterator]
        with open_transport(self.server) as t:
            n_pub, n_dup = t.publish_many(self.stream, items)
        return NatsCommitMessage(n_published=n_pub, n_duplicates=n_dup)

    def commit(self, messages, batch_id) -> None:
        pass

    def abort(self, messages, batch_id) -> None:
        # Safe: partial publishes are deduped on retry via Nats-Msg-Id.
        pass


class NatsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "nats"

    def schema(self) -> StructType:
        return NATS_SCHEMA

    def streamReader(self, schema: StructType) -> NatsPartitionedStreamReader:  # noqa: N802
        return NatsPartitionedStreamReader(self.options)

    def streamWriter(self, schema: StructType, overwrite: bool) -> NatsStreamWriter:  # noqa: N802
        return NatsStreamWriter(self.options)


def register(spark) -> None:
    """spark.dataSource.register — then format("nats") resolves."""
    spark.dataSource.register(NatsDataSource)

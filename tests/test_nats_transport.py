"""Real-transport path unit tests against the scripted fake nats-py module
(tests/fake_nats.py). No broker/nats-py exists in this container, so these
tests pin the nats_transport code path itself: DDL config parity, pull
fetch by start sequence, subject filtering, idempotent publish with
duplicate detection, timeout retry, and the reader/writer integration that
selects the real path for non-mem:// URLs.

Reference parity targets: /root/reference/src/nats_client.py:81-102 (DDL),
:123-168 (consume), :220-286 (publish + retry).
"""

from __future__ import annotations

import sys

import pytest

from tests.fake_nats import FakeBroker, StreamConfig

from nats_stream_processor_spark.config import DEDUP_WINDOW_SECONDS
from nats_stream_processor_spark.sources.nats import (
    NatsPartitionedStreamReader,
    NatsStreamWriter,
    ensure_output_stream,
)
from nats_stream_processor_spark.sources.nats_transport import (
    OUTPUT_MAX_MSGS,
    JetStreamTransport,
    MemTransport,
    open_transport,
)


def seed(broker: FakeBroker, stream: str, subjects: list[str],
         msgs: list[tuple[str, bytes]]) -> None:
    broker.add_stream(StreamConfig(name=stream, subjects=subjects))
    for subject, data in msgs:
        broker.publish(subject, data, None)


def test_ensure_stream_creates_reference_config(fake_nats):
    with JetStreamTransport("nats://srv:4222") as t:
        t.ensure_stream("bluesky-posts-enriched", "bluesky.posts.enriched")
        # idempotent second call
        t.ensure_stream("bluesky-posts-enriched", "bluesky.posts.enriched")
    cfg = fake_nats.configs["bluesky-posts-enriched"]
    assert cfg.subjects == ["bluesky.posts.enriched.>"]
    assert cfg.retention.name == "LIMITS"
    assert cfg.discard.name == "OLD"
    assert cfg.storage.name == "FILE"
    assert cfg.max_msgs == OUTPUT_MAX_MSGS == 5_000_000
    assert cfg.duplicate_window == DEDUP_WINDOW_SECONDS == 600


def test_fetch_by_start_sequence_and_filter(fake_nats):
    seed(fake_nats, "bluesky-posts", ["bluesky.posts.>"], [
        (f"bluesky.posts.p{i}", f"m{i}".encode()) for i in range(1, 8)
    ])
    with JetStreamTransport("nats://srv:4222") as t:
        assert t.last_seq("bluesky-posts") == 7
        msgs = t.fetch("bluesky-posts", start_seq=3, max_msgs=3)
        assert [m.seq for m in msgs] == [3, 4, 5]
        assert msgs[0].data == b"m3"
        # same range re-read => identical (deterministic replay)
        again = t.fetch("bluesky-posts", start_seq=3, max_msgs=3)
        assert [(m.seq, m.data) for m in again] == \
            [(m.seq, m.data) for m in msgs]
        # subject filter
        only = t.fetch("bluesky-posts", 1, 100,
                       subject_filter="bluesky.posts.p5.>")
        assert only == []
        all_msgs = t.fetch("bluesky-posts", 1, 100,
                           subject_filter="bluesky.posts.>")
        assert len(all_msgs) == 7
        # empty range => empty list, not an error
        assert t.fetch("bluesky-posts", 100, 10) == []


def test_publish_idempotent_msg_id(fake_nats):
    fake_nats.add_stream(StreamConfig(
        name="out", subjects=["bluesky.posts.enriched.>"]))
    items = [
        ("bluesky.posts.enriched.positive.ai", b"a", "uri1:cid1"),
        ("bluesky.posts.enriched.negative.web", b"b", "uri2:cid2"),
        ("bluesky.posts.enriched.positive.ai", b"a", "uri1:cid1"),  # dup
        ("bluesky.posts.enriched.neutral.art", b"c", None),  # no-id rows pass
    ]
    with JetStreamTransport("nats://srv:4222") as t:
        n_pub, n_dup = t.publish_many("out", items)
    assert (n_pub, n_dup) == (3, 1)
    assert [m.seq for m in fake_nats.messages["out"]] == [1, 2, 3]


def test_publish_retries_timeouts_then_succeeds(fake_nats):
    fake_nats.add_stream(StreamConfig(name="out", subjects=["x.>"]))
    fake_nats.fail_next_publishes = 2
    with JetStreamTransport("nats://srv:4222") as t:
        n_pub, n_dup = t.publish_many("out", [("x.y", b"p", "id1")])
    assert (n_pub, n_dup) == (1, 0)
    assert fake_nats.publish_attempts == 3


def test_reader_uses_real_transport_for_non_mem_url(fake_nats):
    seed(fake_nats, "bluesky-posts", ["bluesky.posts.>"], [
        ("bluesky.posts.a", b'{"uri":"u1"}'),
        ("bluesky.posts.b", b'{"uri":"u2"}'),
    ])
    r = NatsPartitionedStreamReader({"servers": "nats://srv:4222",
                                     "stream": "bluesky-posts",
                                     "subjectprefix": "bluesky.posts."})
    assert r.initialOffset() == {"seq": 1}
    end = r.latestOffset()
    assert end == {"seq": 3}

    def read(start, end):
        return [row for p in r.partitions(start, end) for row in r.read(p)]

    rows = read({"seq": 1}, end)
    assert [row[2] for row in rows] == [1, 2]  # seq column
    assert rows[0][1] == b'{"uri":"u1"}'
    # deterministic replay of a committed range
    assert read({"seq": 1}, {"seq": 3}) == rows
    r.stop()


class _Row:
    def __init__(self, d):
        self._d = d

    def asDict(self, recursive=False):  # noqa: N802 - Spark Row API
        return dict(self._d)


def test_writer_uses_real_transport_for_non_mem_url(fake_nats):
    fake_nats.add_stream(StreamConfig(
        name="bluesky-posts-enriched", subjects=["bluesky.posts.enriched.>"]))
    w = NatsStreamWriter({"servers": "nats://srv:4222",
                          "stream": "bluesky-posts-enriched"})
    rows = [
        _Row({"route_subject": "bluesky.posts.enriched.positive.ai",
              "uri": "u1", "cid": "c1", "text": "hi"}),
        _Row({"route_subject": "bluesky.posts.enriched.positive.ai",
              "uri": "u1", "cid": "c1", "text": "hi"}),  # retry duplicate
    ]
    msg = w.write(iter(rows))
    assert (msg.n_published, msg.n_duplicates) == (1, 1)
    stored = fake_nats.messages["bluesky-posts-enriched"]
    assert len(stored) == 1
    assert stored[0].headers["Nats-Msg-Id"] == "u1:c1"


def test_ensure_output_stream_real_path(fake_nats):
    ensure_output_stream("nats://srv:4222", "enriched-out",
                         subject_prefix="bluesky.posts.enriched")
    assert "enriched-out" in fake_nats.configs


def test_open_transport_picks_backend_from_url(monkeypatch):
    """One factory chooses the transport: `mem://` is the file-backed
    broker, any other URL needs nats-py (absent here, so it fails fast with
    a hint) — the only place either condition is checked."""
    assert isinstance(open_transport("mem://factory"), MemTransport)
    monkeypatch.setitem(sys.modules, "nats", None)  # `import nats` fails
    with pytest.raises(ImportError, match="mem://"):
        open_transport("nats://srv:4222")

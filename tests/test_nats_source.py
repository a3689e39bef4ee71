"""NATS connector tests: the one stream reader on both transports (the
file-backed `mem://` broker and the scripted fake nats-py client), the
writer's idempotent publish, and the service pipeline end to end through
format("nats") into the `mem://` broker. Spark runs the reader's and
writer's per-partition work in Python worker processes; the `mem://`
broker is file-backed, so those workers see the same streams as the test.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from tests.brokers import published, seed_posts

from nats_stream_processor_spark.config import INPUT_STREAM, OUTPUT_STREAM
from nats_stream_processor_spark.sources.nats import (
    NatsCommitMessage,
    NatsPartitionedStreamReader,
    NatsStreamWriter,
    SeqRangePartition,
    ensure_output_stream,
)
from nats_stream_processor_spark.sources.nats_transport import open_transport
from nats_stream_processor_spark.streaming.pipeline import (
    NatsSink,
    decode_posts,
    enrich_stream,
    start_enrichment_query,
)

FAKE_NATS_URL = "nats://srv:4222"


def post(i: int) -> dict:
    return {"uri": f"at://t/{i}", "cid": str(i), "text": "great"}


def read_range(reader, start: dict, end: dict) -> list[tuple]:
    """The rows of one micro-batch, read partition by partition as the
    executors would."""
    return [row for p in reader.partitions(start, end) for row in reader.read(p)]


def test_reader_offsets_and_batching(mem_broker, fake_nats):
    """Offsets, the admission cap (S2), a stable offset on an idle stream
    and deterministic replay of a committed range, on both transports."""
    for server in (mem_broker, FAKE_NATS_URL):
        seed_posts(server, [post(i) for i in range(7)])
        r = NatsPartitionedStreamReader({"servers": server, "stream": INPUT_STREAM,
                                         "maxbatchsize": "3"})
        assert r.initialOffset() == {"seq": 1}
        # The first trigger after a (re)start is uncapped: the Python API
        # doesn't surface the checkpointed start to latestOffset.
        assert r.latestOffset() == {"seq": 8}
        seed_posts(server, [post(i) for i in range(7, 14)])
        assert [r.latestOffset() for _ in range(4)] == [
            {"seq": 11}, {"seq": 14}, {"seq": 15}, {"seq": 15}]
        assert [row[2] for row in read_range(r, {"seq": 8}, {"seq": 11})] \
            == [8, 9, 10]
        first = read_range(r, {"seq": 4}, {"seq": 7})
        assert [row[2] for row in first] == [4, 5, 6]
        assert json.loads(first[0][1]) == post(3)
        assert read_range(r, {"seq": 4}, {"seq": 7}) == first
        r.stop()


def test_reader_subject_filter(mem_broker, fake_nats):
    """subjectPrefix becomes the JetStream filter `<prefix>.>`, which
    matches whole tokens on both transports (`bluesky.postsX.c` is not
    under `bluesky.posts`)."""
    for server in (mem_broker, FAKE_NATS_URL):
        with open_transport(server) as t:
            t.ensure_stream("mixed", "bluesky")
            t.publish_many("mixed", [
                (s, b"x", None) for s in ("bluesky.posts.a", "bluesky.other.b",
                                          "bluesky.postsX.c", "bluesky.posts.d")])
        r = NatsPartitionedStreamReader({"servers": server, "stream": "mixed",
                                         "subjectprefix": "bluesky.posts"})
        rows = read_range(r, r.initialOffset(), r.latestOffset())
        assert [row[0] for row in rows] == ["bluesky.posts.a", "bluesky.posts.d"]
        r.stop()


def test_writer_idempotent_publish_and_routing(mem_broker):
    ensure_output_stream(mem_broker, OUTPUT_STREAM)
    w = NatsStreamWriter({"servers": mem_broker, "stream": OUTPUT_STREAM})

    class Row:
        def __init__(self, d):
            self._d = d

        def asDict(self, recursive=False):  # noqa: N802
            return dict(self._d)

    rows = [
        Row({"route_subject": "bluesky.posts.enriched.positive.music",
             "uri": "at://t/1", "cid": "c1", "value": '{"uri": "at://t/1"}'}),
        Row({"route_subject": "bluesky.posts.enriched.negative.sports",
             "uri": "at://t/2", "cid": "c2", "value": '{"uri": "at://t/2"}'}),
        Row({"route_subject": "bluesky.posts.enriched.positive.music",
             "uri": "at://t/1", "cid": "c1", "value": '{"uri": "at://t/1"}'}),
        Row({"route_subject": "bluesky.posts.enriched.neutral.daily_life",
             "uri": "at://t/3", "cid": None, "value": '{"uri": "at://t/3"}'}),
    ]
    msg: NatsCommitMessage = w.write(iter(rows))
    # duplicate (uri:cid) dropped by the msg-id window (D1); null cid rows
    # publish without a msg-id header (reference skips the header then)
    assert msg.n_published == 3 and msg.n_duplicates == 1
    msgs = published(mem_broker)
    assert [m.subject for m in msgs] == [
        "bluesky.posts.enriched.positive.music",
        "bluesky.posts.enriched.negative.sports",
        "bluesky.posts.enriched.neutral.daily_life",
    ]
    assert [m.headers for m in msgs] == [
        {"Nats-Msg-Id": "at://t/1:c1"}, {"Nats-Msg-Id": "at://t/2:c2"}, {}]
    # task-retry simulation: re-publishing the same batch is a no-op
    msg2 = w.write(iter(rows[:2]))
    assert msg2.n_published == 0 and msg2.n_duplicates == 2


def test_format_nats_end_to_end_enrichment(spark, mem_broker, tmp_path):
    """readStream.format('nats') -> decode -> enrich -> routed publish back
    into the mem broker's output stream: the reference's full topology."""
    seed_posts(mem_broker, [
        {"uri": "at://t/1", "cid": "c1", "text": "This is a great day!"},
        {"uri": "at://t/2", "cid": "c2", "text": "I hate this weather"},
        {"uri": "at://t/2", "cid": "c2", "text": "I hate this weather"},
    ])
    raw = (
        spark.readStream.format("nats")
        .option("servers", mem_broker)
        .option("stream", INPUT_STREAM)
        .load()
    )
    ensure_output_stream(mem_broker, OUTPUT_STREAM)
    q = start_enrichment_query(decode_posts(raw),
                               NatsSink(mem_broker, OUTPUT_STREAM),
                               str(tmp_path / "nats_ckpt"))
    q.processAllAvailable()
    q.stop()
    msgs = published(mem_broker)
    assert len(msgs) == 2
    subjects = sorted(m.subject for m in msgs)
    assert subjects[0].startswith("bluesky.posts.enriched.negative.")
    assert subjects[1].startswith("bluesky.posts.enriched.positive.")
    enriched = json.loads(msgs[0].data)
    assert "sentiment" in enriched and "topics" in enriched
    assert enriched["processor"] == "nats-stream-processor-spark"


def test_writestream_format_nats(spark, mem_broker, tmp_path):
    """writeStream.format('nats'): the DataSourceStreamWriter runs in
    executor python workers and publishes to the (file-backed) broker."""
    seed_posts(mem_broker, [
        {"uri": "at://t/1", "cid": "c1", "text": "This is a great day!"},
        {"uri": "at://t/1", "cid": "c1", "text": "This is a great day!"},
        {"uri": "at://t/9", "cid": "c9", "text": "great technology news"},
    ])
    raw = (spark.readStream.format("nats")
           .option("servers", mem_broker).option("stream", INPUT_STREAM).load())
    enriched = enrich_stream(decode_posts(raw)).select(
        "uri", "cid", "route_subject",
        F.to_json(F.struct("uri", "sentiment", "topics")).alias("value"))
    q = (enriched.writeStream.format("nats")
         .option("servers", mem_broker).option("stream", OUTPUT_STREAM)
         .option("checkpointLocation", str(tmp_path / "sink_ckpt"))
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    msgs = published(mem_broker)
    assert len(msgs) == 2  # duplicate deduped upstream
    assert all(m.headers.get("Nats-Msg-Id") for m in msgs)
    assert {json.loads(m.data)["uri"] for m in msgs} == {"at://t/1", "at://t/9"}


def test_start_enrichment_query_default_natssink(spark, mem_broker, tmp_path):
    """The production sink path: start_enrichment_query with a NatsSink
    publishes executor-side via format('nats') — no driver collect."""
    seed_posts(mem_broker, [
        {"uri": "at://t/1", "cid": "c1", "text": "This is a great day!"},
        {"uri": "at://t/2", "cid": "c2", "text": "I hate this weather"},
        {"uri": "at://t/2", "cid": "c2", "text": "I hate this weather"},
    ])
    raw = (spark.readStream.format("nats")
           .option("servers", mem_broker).option("stream", INPUT_STREAM).load())
    ensure_output_stream(mem_broker, OUTPUT_STREAM)
    q = start_enrichment_query(
        decode_posts(raw),
        NatsSink(servers=mem_broker, stream=OUTPUT_STREAM),
        str(tmp_path / "sink_default_ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    msgs = published(mem_broker)
    assert len(msgs) == 2  # dup dropped upstream by watermarked dedup
    assert all(m.headers.get("Nats-Msg-Id") for m in msgs)
    assert all(m.subject.startswith("bluesky.posts.enriched.") for m in msgs)
    body = json.loads(msgs[0].data)
    assert "sentiment" in body and "topics" in body


def test_partitioned_reader_seq_ranges(mem_broker, fake_nats):
    """Offsets, admission cap, and the split of a batch range into
    multiple InputPartitions (queue-group analog), on both transports."""
    for server in (mem_broker, FAKE_NATS_URL):
        seed_posts(server, [post(i) for i in range(10)])
        r = NatsPartitionedStreamReader({
            "servers": server, "stream": INPUT_STREAM,
            "maxbatchsize": "6", "numpartitions": "4",
        })
        assert r.initialOffset() == {"seq": 1}
        first = r.latestOffset()
        assert first == {"seq": 11}  # first trigger uncapped (no prev end)
        parts = r.partitions({"seq": 1}, first)
        assert len(parts) == 4
        assert parts[0] == SeqRangePartition(1, 4)  # 10 seqs -> 3/3/2/2
        assert parts[-1].end_seq == 11
        # ranges tile the batch exactly
        assert [p.start_seq for p in parts[1:]] == [p.end_seq for p in parts[:-1]]
        rows = [row for p in parts for row in r.read(p)]
        assert [row[2] for row in rows] == list(range(1, 11))
        # admission cap applies from the second trigger on
        seed_posts(server, [post(i) for i in range(10, 30)])
        assert r.latestOffset() == {"seq": 17}  # 11 + maxbatchsize
        r.stop()
        # idle stream: offset is stable, single empty partition
        r2 = NatsPartitionedStreamReader({"servers": server, "stream": INPUT_STREAM})
        empty = r2.partitions({"seq": 31}, {"seq": 31})
        assert len(empty) == 1 and list(r2.read(empty[0])) == []


def test_partitioned_reader_e2e_and_restart(spark, mem_broker, tmp_path):
    """format('nats') reads through the partitioned reader: a micro-batch
    over 40 messages runs with numPartitions=4 input partitions, results
    match, and a checkpoint restart replays nothing."""
    seed_posts(mem_broker, [
        {"uri": f"at://t/{i}", "cid": f"c{i}", "text": "This is a great day!"}
        for i in range(40)
    ])
    ckpt = str(tmp_path / "parts_ckpt")
    seen: list[int] = []

    def run_once():
        raw = (spark.readStream.format("nats")
               .option("servers", mem_broker).option("stream", INPUT_STREAM)
               .option("numPartitions", "4").load())
        q = (raw.writeStream.foreachBatch(
                lambda df, _bid: seen.extend(
                    r["seq"] for r in df.select("seq").collect()))
             .outputMode("append").option("checkpointLocation", ckpt).start())
        q.processAllAvailable()
        q.stop()

    run_once()
    assert sorted(seen) == list(range(1, 41))
    # restart over the same checkpoint: no replay
    run_once()
    assert len(seen) == 40


def test_service_effectively_once_across_crash_before_commit(
        spark, mem_broker, tmp_path):
    """A0 + D1: checkpoint replay plus the idempotent sink. The service
    pipeline runs from the `mem://` input stream to its output stream;
    deleting the last commits/<n> file leaves the checkpoint as a crash
    after the sink published batch n but before Spark committed it. On
    restart Spark replays batch n, the writer re-publishes its posts under
    the same Nats-Msg-Ids, the duplicate window drops them, and the output
    stream is unchanged. Every post has a cid: a null-cid post carries no
    msg-id and is republished on replay, as in the reference.

    No-data micro-batches are off for this query so that the last batch
    is the one that published, which is the checkpoint such a crash leaves
    (with them on, a watermark-only batch follows and holds the last
    commit)."""
    texts = ["This is a great day!", "I hate this weather",
             "great technology news on the stream today"]
    seed_posts(mem_broker, [
        {"uri": f"at://crash/{i}", "cid": f"c{i}", "text": texts[i % 3]}
        for i in range(6)])
    ensure_output_stream(mem_broker, OUTPUT_STREAM)
    ckpt = tmp_path / "crash_ckpt"

    def run() -> list:
        raw = (spark.readStream.format("nats")
               .option("servers", mem_broker).option("stream", INPUT_STREAM)
               .load())
        q = start_enrichment_query(decode_posts(raw),
                                   NatsSink(mem_broker, OUTPUT_STREAM),
                                   str(ckpt))
        q.processAllAvailable()
        q.stop()
        return q.recentProgress

    conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        first = run()
    finally:
        spark.conf.set(conf, prev)
    before = [(m.seq, m.subject, m.data, m.headers) for m in published(mem_broker)]
    assert len(before) == 6
    assert sorted(h["Nats-Msg-Id"] for *_, h in before) == [
        f"at://crash/{i}:c{i}" for i in range(6)]

    commits = ckpt / "commits"
    last = max(int(f.name) for f in commits.iterdir() if f.name.isdigit())
    data_batches = [p for p in first if p.numInputRows > 0]
    assert data_batches[-1].batchId == last
    (commits / str(last)).unlink()
    (commits / f".{last}.crc").unlink(missing_ok=True)

    second = run()
    replayed = [p for p in second if p.batchId == last]
    assert replayed and replayed[0].numInputRows == data_batches[-1].numInputRows
    after = [(m.seq, m.subject, m.data, m.headers) for m in published(mem_broker)]
    assert after == before

"""The reference's end-to-end streaming pipeline on Structured Streaming.

Batch/streaming symmetry is the design center: the enrichment transform is
the SAME code as the batch path (operators/enrich.enrich_posts) — this
module only adds the streaming-specific pieces:

- JSON decode of raw message payloads (F2: permissive parse, drop nulls —
  reference: src/nats_client.py:192-206);
- event-time watermark + dropDuplicatesWithinWatermark (D1: the JetStream
  600 s duplicate_window, reference: src/nats_client.py:99,244-266 — the
  watermark bounds dedup state exactly like the server-side window);
- the routed idempotent publish (P3/S3/R1, reference:
  src/nats_client.py:220-286) through the executor-side format("nats")
  DataSource writer (NatsSink below) — the one sink, which the streaming
  tests drive against the `mem://` broker. Retries are safe because the
  Nats-Msg-Id key makes re-publish idempotent (A0: checkpoint replay +
  idempotent sink = effectively-once, an improvement over the reference's
  ack-after-failed-publish hole, SURVEY.md §3 EP2.7).

At scale: dedup state is partitioned by the key columns and bounded by the
watermark; maxOffsetsPerTrigger (S2) caps micro-batch admission the way
max_ack_pending=100 caps the reference's in-flight messages. The state has
one shard per core of the session that creates the checkpoint
(session.state_partitions), and every micro-batch commits every shard, so
all commits finish in one parallel wave. The shard count is fixed when the
checkpoint is created: a checkpoint started on a small host keeps its
width after scale-out. The classifiers run before the shuffle, with one
task per input partition, so they still fan out; dedup (a hash lookup per
row) and the NATS publish run after it, one task per shard, so publishing
is capped at the recorded width. A service that outgrows it starts a new
checkpoint on the larger cluster.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEDUP_WINDOW_SECONDS
from ..operators.enrich import enrich_posts
from .metrics import observe_pipeline_counters

# Declared input schema (RawPost, reference: src/types.py:27-33 + the
# fallback fields of src/service.py:152-172). cid nullable (the mock
# generator omits it, docker-compose.yml:31-32).
RAW_POST_SCHEMA = (
    "uri string, cid string, author string, text string, "
    "record struct<text: string>, content string, body string, "
    "message string, created_at string"
)


def decode_posts(raw: DataFrame) -> DataFrame:
    """F1+F2: empty-payload filter, permissive JSON parse of the ``value``
    column against RAW_POST_SCHEMA, null drop.
    Malformed JSON becomes a NULL struct (PERMISSIVE) and is dropped —
    the reference acks-and-drops the same way."""
    payload = F.col("value").cast("string")
    return (
        raw.filter(F.length(F.trim(payload)) > 0)
        .select(F.from_json(payload, RAW_POST_SCHEMA).alias("p"))
        .filter(F.col("p.uri").isNotNull())
        .select("p.*")
    )


def dedup_posts(enriched: DataFrame) -> DataFrame:
    """D1: drop (uri, cid) duplicates of enriched posts — watermarked
    state on a streaming frame, a plain dropDuplicates on a static one.

    The watermark runs on ``processed_at``: the reference has no
    event-time logic; its dedup window is wall-clock at the broker.
    """
    enriched = enriched.withColumn(
        "__event_ts", F.col("processed_at").cast("timestamp"))
    # The reference skips the Nats-Msg-Id header (i.e. does no dedup) when
    # cid is missing (src/nats_client.py:248-252; uri is never null past
    # decode_posts), so a keyed dedup must NOT treat NULL cid as equal —
    # that would collapse distinct posts sharing a uri. Instead of a
    # deduped branch unioned with a NULL-cid passthrough branch (two
    # watermarked branches, two source scans, double state machinery),
    # give each NULL-cid row a unique synthetic key so ONE dedup branch
    # handles both cases. uuid() is unique per row (and, unlike
    # monotonically_increasing_id, supported in streaming plans); the
    # \\x00 prefix cannot collide with a real cid. Replayed NULL-cid rows
    # get fresh keys — exactly the reference's no-dedup-without-msg-id
    # behavior. Empty-string cid counts as missing too: the reference's
    # header guard is truthiness (`if post_uri and post_cid`,
    # src/nats_client.py:248-252), so cid='' must not become a real dedup
    # key (two distinct posts sharing a uri with ''-cids stay distinct).
    dedup_cid = F.coalesce(
        F.nullif(F.col("cid"), F.lit("")),
        F.concat(F.lit("\x00nocid\x00"), F.expr("uuid()")))
    keyed = enriched.withColumn("__dedup_cid", dedup_cid)
    if not keyed.isStreaming:
        return keyed.dropDuplicates(["uri", "__dedup_cid"]).drop(
            "__dedup_cid", "__event_ts")
    return (
        keyed.withWatermark("__event_ts", f"{DEDUP_WINDOW_SECONDS} seconds")
        .dropDuplicatesWithinWatermark(["uri", "__dedup_cid"])
        .drop("__dedup_cid", "__event_ts")
    )


def enrich_stream(posts: DataFrame) -> DataFrame:
    """Streaming enrichment: the batch transform, then D1 dedup."""
    return dedup_posts(enrich_posts(posts))


@dataclass
class NatsSink:
    """Executor-side publish target: each writer partition opens its own
    connection and publishes directly (sources/nats.py NatsStreamWriter) —
    no micro-batch ever crosses the driver."""

    servers: str
    stream: str


def start_enrichment_query(
    posts_stream: DataFrame,
    sink: NatsSink,
    checkpoint_dir: str,
    trigger_seconds: float | None = None,
):
    """Wire decode -> enrich -> dedup -> routed publish and start it.
    The M1 counters ride along as ``df.observe`` metrics (summed by
    MetricsListener): processed and empty-text on the decoded input,
    passed-gate between the confidence gate and dedup, published on the
    rows handed to the sink (health.snapshot derives the gate and dedup
    drops from them). The stages are enrich_stream's two halves."""
    posts = observe_pipeline_counters(posts_stream)
    gated = enrich_posts(posts).observe(
        "gate", F.count(F.lit(1)).alias("n_passed_gate"))
    published = dedup_posts(gated).observe(
        "published", F.count(F.lit(1)).alias("n_published"))
    writer = (
        published.writeStream.format("nats")
        .option("servers", sink.servers)
        .option("stream", sink.stream)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def dedup_against_store(stream: DataFrame,
                        digest_store: DataFrame) -> DataFrame:
    """Incremental content dedup of a document stream (its ``text``
    column) against a static digest store (its md5 column ``k``) — the
    streaming face of the batch
    ``dedup_incremental_batch`` query (queries/llm_ext.py): documents
    whose md5 content digest already exists in the store are dropped by a
    stream-static LEFT ANTI join, then within-stream duplicates are
    dropped with watermarked key state.

    Scale shape: the static side carries only the 32-byte digest column
    (in production a persisted digest table); stream-static joins re-read
    it per micro-batch, so a store that grows between batches is picked
    up without restarting the query, and — unlike a stream-stream join —
    the join itself keeps NO state: broadcast or shuffled hash join per
    batch, with the watermark bounding only the within-stream dedup
    state. Works identically on a batch DataFrame (no watermark path),
    which is what the parity test exercises."""
    keyed = stream.withColumn("__k", F.md5(F.col("text")))
    store = digest_store.select(F.col("k").alias("__k")).distinct()
    fresh = keyed.join(store, "__k", "left_anti")
    if not fresh.isStreaming:
        return fresh.dropDuplicates(["__k"]).drop("__k")
    return (
        fresh.withColumn("__ingest_ts",
                         F.current_timestamp())
        .withWatermark("__ingest_ts", f"{DEDUP_WINDOW_SECONDS} seconds")
        .dropDuplicatesWithinWatermark(["__k"])
        .drop("__k", "__ingest_ts")
    )

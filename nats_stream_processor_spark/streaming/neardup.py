"""Streaming near-dup twin: the corpus LSH band index as managed state.

The near-dup sibling of streaming/dedup.py (exact digests), making
near-dup the SIXTH batch+stream-twinned axis: the certified
``dedup_incremental_near_dup`` (queries/llm_ext14.py) is the BATCH
shape — an incoming batch probes the existing corpus's band index,
then dedups within itself. Here the band index itself is MANAGED
STATE: a streaming job keeps, per (band, bucket-shard) group, the set
of (bucket, doc_id, shingle-id set) entries ever seen; each
micro-batch probes the restored index, emits its candidate evidence,
and joins the index so later micro-batches dedup against it.

Two layers, because LSH verdicts are global across bands while state
is sharded per band:

1. ``near_dup_stream`` — the stateful probe. Rows are banded JVM-side
   (token-hash -> shingle ids -> minhash signature -> LSH_BANDS
   (band, bucket) rows; the Python kernel never sees text, only
   numeric shingle ids), sharded by (band, crc32(bucket) % shards),
   and each shard's kernel emits three kinds of evidence rows:
   ``doc`` (batch membership), ``corpus`` (a VERIFIED Jaccard match
   between a batch doc and an indexed corpus doc — the kernel holds
   both sid sets, so verification happens at the probe), and ``pair``
   (a verified match between two docs of the SAME micro-batch). All
   incoming rows then join the shard's index regardless of verdict —
   exactly the batch operator's corpus semantics (its band index
   carries every corpus doc, near-dups included).
2. ``near_dup_verdicts`` — the per-micro-batch finisher (run it on
   the evidence rows inside foreachBatch): global min over corpus
   matches -> dup_corpus; connected components over the surviving
   pair graph (the certified dedup_components rule) -> dup_batch;
   else keep. Fed the whole batch's evidence at once it reproduces
   ``dedup_incremental_near_dup``'s output relation exactly
   (tests/test_streaming.py's parity test).

Determinism discipline: banding/shingling is the certified JVM
pipeline (operators/dedup.py); the kernel's Jaccard replays
``operators.dedup.jaccard`` bit-for-bit (floor(i/u * 1e6 + 0.5)/1e6 in
IEEE doubles — Python floats ARE IEEE doubles) so the >= threshold
decision can never diverge from the batch engines; kernels sort rows
by doc_id and state entries canonically (sorted (bucket, doc_id),
sids sorted — equal index <=> equal bytes, the streaming/quantile.py
law, checked directly through the ``statestore`` source).

Scale note: state holds each doc's sid set once PER BAND (the
self-contained trade — the kernel must verify at the probe). At
100 TB the production shape splits the index (bucket -> doc ids, tiny)
from a doc-keyed sid store and verifies in a second stage; the
sharding and probe pattern — the parts that must scale out — are
identical, and shards stay balanced because md5-derived buckets are
uniform under crc32.
"""

from __future__ import annotations

import struct
from math import floor

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import (minhash_band_explode, minhash_signature_col,
                               token_ngram_frame)
from ..queries.llm import NEAR_DUP_JACCARD
from .stateful import keyed_state

ND_OUT_SCHEMA = "kind string, a long, b long"
ND_SHARDS = 4  # bucket shards per band; groups = LSH_BANDS * ND_SHARDS


def _jaccard_ok(a: frozenset, b: frozenset) -> bool:
    """Python replay of operators.dedup.jaccard's decision: stable 6-dp
    rounding (floor(x*1e6+0.5)/1e6, pure IEEE double ops) then the
    threshold compare — bit-identical to both engines."""
    inter = len(a & b)
    union = max(len(a | b), 1)
    return floor(inter / union * 1e6 + 0.5) / 1e6 >= NEAR_DUP_JACCARD


def entries_encode(entries: dict[tuple[str, int], frozenset]) -> bytes:
    """Canonical bytes for one shard's index: entries sorted by
    (bucket, doc_id), each as u16 bucket length + utf8 bucket +
    i64 doc_id + u32 sid count + sorted i64 sids. Equal index sets
    <=> equal bytes."""
    out = []
    for (bucket, doc_id) in sorted(entries):
        b = bucket.encode()
        sids = sorted(entries[(bucket, doc_id)])
        out.append(struct.pack(">H", len(b)) + b
                   + struct.pack(">q", doc_id)
                   + struct.pack(">I", len(sids))
                   + struct.pack(f">{len(sids)}q", *sids))
    return b"".join(out)


def entries_decode(blob: bytes) -> dict[tuple[str, int], frozenset]:
    entries: dict[tuple[str, int], frozenset] = {}
    off = 0
    while off < len(blob):
        (blen,) = struct.unpack_from(">H", blob, off)
        off += 2
        bucket = blob[off:off + blen].decode()
        off += blen
        (doc_id,) = struct.unpack_from(">q", blob, off)
        off += 8
        (n,) = struct.unpack_from(">I", blob, off)
        off += 4
        sids = struct.unpack_from(f">{n}q", blob, off)
        off += 8 * n
        entries[(bucket, doc_id)] = frozenset(sids)
    return entries


def _probe_step(key, state: bytes | None, rows: pd.DataFrame):
    """One (band, shard) group, one micro-batch: probe the restored
    index, emit evidence rows, index the batch. Rows are processed in
    doc_id order so emission is independent of Arrow batch arrival
    order (pairs are emitted smaller-id-first by construction)."""
    entries = entries_decode(state) if state else {}
    by_bucket: dict[str, list] = {}
    for (bucket, doc_id), sids in entries.items():
        by_bucket.setdefault(bucket, []).append((doc_id, sids))
    batch = rows.sort_values("doc_id")
    kinds, a_ids, b_ids = [], [], []
    fresh: dict[str, list] = {}
    for doc_id, bucket, sids in zip(batch["doc_id"], batch["bucket"],
                                    batch["sids"]):
        doc_id = int(doc_id)
        sset = frozenset(int(s) for s in sids)
        kinds.append("doc")
        a_ids.append(doc_id)
        b_ids.append(None)
        for cid, csids in by_bucket.get(bucket, ()):
            # At-least-once robustness: a redelivered doc (checkpoint
            # loss, id reuse) must not verdict dup_corpus of ITSELF —
            # same guard as the fresh-pair path below (r14 advice).
            if cid == doc_id:
                continue
            if _jaccard_ok(csids, sset):
                kinds.append("corpus")
                a_ids.append(doc_id)
                b_ids.append(cid)
        for oid, osids in fresh.get(bucket, ()):
            if oid != doc_id and _jaccard_ok(osids, sset):
                kinds.append("pair")
                a_ids.append(min(oid, doc_id))
                b_ids.append(max(oid, doc_id))
        fresh.setdefault(bucket, []).append((doc_id, sset))
    for bucket, rows in fresh.items():
        for doc_id, sset in rows:
            entries[(bucket, doc_id)] = sset
    return entries_encode(entries), pd.DataFrame({
        "kind": kinds,
        "a": pd.array(a_ids, dtype="int64"),
        "b": pd.array(b_ids, dtype="Int64")})


def banded(df: DataFrame, id_col: str = "doc_id",
           text_col: str = "text", shards: int = ND_SHARDS) -> DataFrame:
    """JVM-side banding: the certified shingle/minhash/LSH pipeline
    (operators/dedup.py), one row per (doc, band) carrying the bucket,
    the doc's shingle ids, and the bucket shard. Text never leaves the
    JVM; the exchange carries ids, buckets, and sid arrays only.

    minhash_band_explode carries sids through the explode: joining them
    back on would be a stream-stream self-join, which Structured
    Streaming rejects ahead of a stateful operator."""
    sh = token_ngram_frame(
        df.select(F.col(id_col).cast("long").alias("doc_id"),
                  F.col(text_col).alias("text")), ["doc_id"])
    sig = sh.select("doc_id", "sids",
                    minhash_signature_col(F.col("sids")).alias("sig"))
    return (minhash_band_explode(sig, ["doc_id", "sids"], "sig")
            .withColumn("shard",
                        (F.crc32(F.col("bucket")) % shards).cast("long")))


def near_dup_stream(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    shards: int = ND_SHARDS) -> DataFrame:
    """Probe-and-index evidence rows with the corpus band index as
    per-(band, shard) managed state (module comment above). Update
    mode; run ``near_dup_verdicts`` on each micro-batch's output
    (foreachBatch) to turn evidence into per-doc verdicts. State
    survives restarts via the checkpoint — a resumed query probes
    everything any earlier run indexed."""
    return keyed_state(banded(df, id_col, text_col, shards),
                       ["band", "shard"], _probe_step, ND_OUT_SCHEMA)


def near_dup_verdicts(evidence: DataFrame) -> DataFrame:
    """Per-micro-batch finisher: evidence rows -> one (doc_id, verdict,
    canon_id) row per batch doc, the batch operator's exact rule:
    dup_corpus (canon = min verified corpus match) beats dup_batch
    (canon = component min over the surviving pair graph) beats keep.
    Pure batch DataFrame ops — run inside foreachBatch."""
    from ..operators.dedup import connected_components
    docs = (evidence.filter(F.col("kind") == "doc")
            .select(F.col("a").alias("doc_id")).distinct())
    dupc = (evidence.filter(F.col("kind") == "corpus")
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("b").alias("canon")))
    pairs = (evidence.filter(F.col("kind") == "pair")
             .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
             .join(dupc.select(F.col("doc_id").alias("doc_a")),
                   "doc_a", "left_anti")
             .join(dupc.select(F.col("doc_id").alias("doc_b")),
                   "doc_b", "left_anti")
             .select("doc_a", "doc_b").distinct())
    comp = connected_components(pairs)
    return (docs
            .join(dupc, "doc_id", "left")
            .join(comp, "doc_id", "left")
            .select("doc_id",
                    F.when(F.col("canon").isNotNull(),
                           F.lit("dup_corpus"))
                    .when(F.col("comp").isNotNull()
                          & (F.col("comp") != F.col("doc_id")),
                          F.lit("dup_batch"))
                    .otherwise(F.lit("keep")).alias("verdict"),
                    F.coalesce("canon", "comp", "doc_id").cast("long")
                    .alias("canon_id")))

"""Streaming IVF list-load monitor: inverted-list sizes as managed
state — the streaming face of the round-14 insert act.

``sim_ivf_insert`` (queries/llm_ext15.py) is the BATCH shape: one
incoming batch assigned to the existing lists, one before/after drift
receipt. A LIVING index takes batches continuously, and the number the
maintainer watches between maintenance acts is the per-list load
curve. This job keeps that curve as managed state: vectors are
assigned JVM-side against the trained centroids inlined as literals
(the audited ppm-quantized rank, windowless — the Python kernel never
sees an embedding, only (cent_id, n) increments), per-list counts
accumulate
as per-shard state, and each micro-batch emits one row per touched
list with its running size — the statestore holds the full histogram
at every point in time.

The centroids are the batch queries' coarse quantizer,
``operators.kmeans.centroid_table``, trained on a STATIC corpus frame
before the stream starts (the production shape: the index exists first);
``assigned`` is the streaming form of its ``rank_lists`` ppm rank.

This is deliberately the LIGHT twin: state is K-bounded (nlist
counters split over shards — bytes, not vectors), which is exactly why
list-size monitoring is the part of IVF maintenance that belongs in a
stream; the acts themselves (split/merge/rebuild) stay batch
(sim_ivf_rebalance / sim_ivf_merge / sim_ivf_lifecycle), triggered
when this monitor's loads cross the thresholds.

Parity laws (tests/test_streaming.py): fed the corpus in micro-batches
the final state counts equal ``sim_ivf_list_balance``'s n_vecs column
exactly; fed corpus-then-batch phases across a checkpoint RESUME, the
restored-and-updated counts equal ``sim_ivf_insert``'s post-insert
list sizes; state bytes are the canonical sorted (cent_id, count)
encoding (``stateful.pairs_encode``), checked through the
``statestore`` source.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import similarity as sim
from .stateful import keyed_state, pairs_decode, pairs_encode

IVS_OUT_SCHEMA = "cent_id long, n_vecs long"
IVS_SHARDS = 4


def _shard_step(key, state: bytes | None, rows: pd.DataFrame):
    counts = pairs_decode(state) if state else {}
    touched = set()
    for cent_id in rows["cent_id"]:
        cent_id = int(cent_id)
        counts[cent_id] = counts.get(cent_id, 0) + 1
        touched.add(cent_id)
    t = sorted(touched)
    return pairs_encode(counts), pd.DataFrame({
        "cent_id": pd.array(t, dtype="int64"),
        "n_vecs": pd.array([counts[c] for c in t], dtype="int64")})


def assigned(df: DataFrame, cent: DataFrame,
             vec_col: str = "embedding", id_col: str = "vec_id",
             shards: int = IVS_SHARDS) -> DataFrame:
    """JVM-side nearest-centroid assignment per incoming vector, as a
    WINDOWLESS per-row expression: the batch operators rank a
    crossJoin with row_number, but a non-time window is rejected on a
    streaming DataFrame — so here the K-bounded centroid table
    (``cent``: cent_id, c_demb, c_nrm — its collect is the audited
    kmeans license) is inlined as literals and the argmax is
    ``array_max`` over (ppm, -cent_id) structs: lexicographic struct
    max picks the highest ppm then the highest -cent_id = the LOWEST
    cent_id, exactly the batch rank's (ppm DESC, cent_id ASC)
    tie-break. The ppm rank key and the c_nrm doubles come from the
    same expressions as sim_ivf_list_balance, so assignments are
    bit-identical (asserted by the parity test). Emits
    (vec_id, cent_id, shard); embeddings never cross into Python or
    the stateful exchange."""
    rows = sorted(cent.collect(), key=lambda r: r.cent_id)
    n = df.select(
        F.col(id_col).cast("long").alias("vec_id"),
        sim.as_double(F.col(vec_col)).alias("demb"),
    ).withColumn("nrm", sim.norm(F.col("demb")))
    scored = F.array(*[
        F.struct(
            sim.ppm(sim.dot(F.col("demb"),
                            F.array(*[F.lit(float(x))
                                      for x in r.c_demb]))
                    / (F.col("nrm") * F.lit(float(r.c_nrm))))
            .alias("ppm"),
            F.lit(-int(r.cent_id)).cast("long").alias("ncid"))
        for r in rows])
    return (n.select("vec_id",
                     (-F.array_max(scored).getField("ncid"))
                     .cast("long").alias("cent_id"))
            .withColumn("shard",
                        (F.col("cent_id") % shards).cast("long")))


def list_counts_stream(df: DataFrame, cent: DataFrame,
                       vec_col: str = "embedding",
                       id_col: str = "vec_id",
                       shards: int = IVS_SHARDS) -> DataFrame:
    """Running inverted-list sizes as per-shard managed state (module
    comment above). Update mode; each micro-batch emits one (cent_id,
    n_vecs) row per touched list with its running count; state survives
    restarts via the checkpoint, so a resumed monitor continues the
    histogram where any earlier run left it. On a static frame: one row
    per non-empty list with its size."""
    return keyed_state(assigned(df, cent, vec_col, id_col, shards),
                       ["shard"], _shard_step, IVS_OUT_SCHEMA)

"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "headline_total_sec", "value": N, "unit": "sec",
     "queries": {name: sec, ...}, "sf": "...", "rows_per_sec": {...},
     "stream_state_partitions": N, "default_parallelism": N,
     "master": "local[N]"}

Execution is forced with the noop sink (full computation, no driver-side
materialization) so timings reflect the distributed plan, not collect().

Baseline context (BASELINE.md): the reference sustains ~30 enriched
posts/s on ~3.5 vCPU (~8.6 rows/s/core). enrich_flagship here processes
the whole documents corpus; its rows/s is the apples-to-apples number.

Cross-round A/B control records (rounds 8-16) are in
OPTIMIZATION_r15.md and OPTIMIZATION_r16.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per major subsystem (enrichment pipeline, core agg,
# star join, window rank, event-time windows, near-dup LSH, ANN, text
# stats). Keys are registry names.
HEADLINE = [
    "enrich_flagship",
    "agg_pricing_summary",
    "join_revenue_by_region",
    "window_topk_orders_per_segment",
    "events_tumbling_hourly",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_fast",
    "sim_cosine_topk",
    "sim_ann_ivf",
    "events_funnel",
    "dedup_components",
    "text_token_stats",
    "quality_filter_pipeline",
    "media_frame_sample",
]


def stream_posts_per_sec(spark, sf_dir: str) -> tuple[float, float, float, float, int]:
    """The reference's headline metric, measured on OUR streaming path:
    documents corpus as JSON posts -> file-source stream (availableNow) ->
    permissive decode -> sentiment -> gate -> topics -> enrich ->
    watermarked dedup -> foreachBatch sink. Returns (median posts/s,
    median posts/s at 10x corpus, best posts/s, best at 10x, n_posts).

    The dedup state has one shard per core the process can use
    (``get_spark`` sets the streaming shuffle width): every micro-batch
    commits every shard, so the figures depend on the core count, which
    ``main`` records as ``stream_state_partitions``. The 10x number
    replays the same pipeline over the corpus duplicated 10x: per-batch
    fixed overhead amortizes (23k+ posts/s), showing the sf0.1 figure is
    an overhead-bound floor, not the pipeline's per-row ceiling."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from nats_stream_processor_spark.streaming.pipeline import (
        decode_posts,
        enrich_stream,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    tmp = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        def make_src(mult: int) -> str:
            src = f"{tmp}/src{mult}"
            d = docs
            if mult > 1:
                d = (d.withColumn(
                        "m", F.explode(F.sequence(F.lit(1), F.lit(mult))))
                     .withColumn("doc_id",
                                 F.col("doc_id") * mult + F.col("m")))
            (d.selectExpr(
                "concat('at://bench/', cast(doc_id AS string)) AS uri",
                "cast(doc_id AS string) AS cid",
                "'did:plc:bench' AS author",
                "text",
            ).select(F.to_json(F.struct("uri", "cid", "author", "text"))
                     .alias("value"))
             .write.mode("overwrite").text(src))
            return src

        def one_pass(src: str, tag: str) -> float:
            enriched = enrich_stream(decode_posts(
                spark.readStream.format("text").load(src)))
            t0 = time.time()
            q = (enriched.writeStream
                 .foreachBatch(lambda bdf, bid: bdf.write.format("noop")
                               .mode("overwrite").save())
                 .option("checkpointLocation", f"{tmp}/ckpt{tag}")
                 .trigger(availableNow=True)
                 .start())
            q.awaitTermination()
            return time.time() - t0

        src = make_src(1)
        one_pass(src, "warm")
        # Round-16 measurement fix (r14 advice #5 via the r15 verdict
        # item 6): the PRIMARY streaming figure is now the MEDIAN of 3
        # warm passes — the best-of reading swung 6.8k-22.3k same-code
        # across r15 windows, and a median is robust to the single
        # host-load spike that the old min targeted without rewarding a
        # single lucky pass. The old methodology (min time == best rate;
        # 10x was min-of-2) is still computed and reported alongside as
        # *_best so rounds remain comparable. No timed code changed —
        # one extra 10x pass and a different summary statistic only.
        d1 = sorted(one_pass(src, t) for t in ("a", "b", "c"))
        src10 = make_src(10)
        d10 = sorted(one_pass(src10, t) for t in ("x10a", "x10b", "x10c"))
        return (round(n / d1[1], 1), round(10 * n / d10[1], 1),
                round(n / d1[0], 1), round(10 * n / d10[0], 1), n)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _stream_only(sf_dir: str) -> int:
    """Measure ONLY streaming and print one JSON line — run in a child
    process so its JVM is fresh (see main)."""
    from nats_stream_processor_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    rps, rps10, best, best10, _ = stream_posts_per_sec(spark, sf_dir)
    print(json.dumps({"streaming_posts": rps, "streaming_posts_10x": rps10,
                      "streaming_posts_best": best,
                      "streaming_posts_10x_best": best10,
                      "stream_state_partitions": int(spark.conf.get(
                          "spark.sql.shuffle.partitions"))}))
    spark.stop()
    return 0


def _measure_streaming_isolated(sf_dir: str) -> dict:
    """Run the streaming measurement in a CHILD python process with its
    own JVM. Isolation matters in both directions: the 60+ batch plans
    age a JVM enough to cost the short streaming passes ~40% (measured
    3,343 posts/s fresh vs 2,076 after the batch sweep), and r3 measured
    the converse — running the ~6 streaming passes first costs the batch
    sweep ~20% (17.3 s vs 14.2 s headline). Separate JVMs give each side
    its production shape: a streaming service is a long-lived session
    with few stable plans; a batch engine starts clean per job. The
    processes run strictly sequentially — never two 32-thread JVMs at
    once."""
    import subprocess

    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--stream-only"],
        capture_output=True, text=True, env=os.environ.copy(), check=True)
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if "--stream-only" in sys.argv:
        return _stream_only(sf_dir)

    # Child JVM measures streaming first and exits before the batch
    # session starts (see _measure_streaming_isolated).
    stream = _measure_streaming_isolated(sf_dir)

    from nats_stream_processor_spark import registry
    from nats_stream_processor_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str) -> tuple[float, int]:
        # Time construction + execution: iterative queries (connected
        # components) and trained ones (PQ codebook collect) do real work
        # while BUILDING the DataFrame, not just in the final action.
        t0 = time.time()
        df = registry.REGISTRY[name].fn(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        return dt, -1

    # Warmup pass: run every headline query once, unmeasured. The first
    # execution of a plan shape pays JVM JIT + whole-stage-codegen
    # compilation (5-8 s for the wide LSH/enrichment classes) — cluster
    # steady-state never sees that. Then two measured passes, keeping the
    # per-query MINIMUM: the host is shared and transient external load
    # regularly inflates a random query by several seconds; min-of-2 is
    # the standard noise-floor estimate.
    registry.REGISTRY["sort_global_topk_orders"].fn(spark, sf_dir).write.mode(
        "overwrite").format("noop").save()
    for name in HEADLINE:
        run(name)

    # min-of-3 measured passes: host-load spikes (r2 measured a 15x
    # inflation on a single query inside one pass) outlast a 2-pass
    # window. NOT more than 3: r8 A/B'd a 5-pass variant and it read
    # HIGHER (17.5 s vs 13.6-15.5 s same-code 3-pass runs) — per-RUN
    # host state dominates the per-pass noise, so extra passes only age
    # the JVM (code-cache pressure, see the skill notes) without
    # tightening the min. Cross-round comparisons need the drift
    # attribution in the module docstring, not more passes.
    queries: dict[str, float] = {}
    for _ in range(3):
        for name in HEADLINE:
            dt, _ = run(name)
            queries[name] = round(min(dt, queries.get(name, dt)), 3)

    # Enrichment throughput vs the reference's per-pod posts/s claim.
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    enrich_rows_per_sec = round(n_docs / max(queries["enrich_flagship"], 1e-9), 1)

    out = {
        "metric": "headline_total_sec",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf_dir,
        # streaming_posts: apples-to-apples with BASELINE.md's 20-40
        # posts/s/pod (~8.6/s/core) — same decode->classify->gate->
        # classify->enrich->dedup pipeline, on Structured Streaming.
        # streaming_posts / _10x are MEDIAN-of-3 warm passes since r16
        # (see stream_posts_per_sec); *_best keep the pre-r16 best-of
        # methodology so cross-round artifacts stay comparable.
        "rows_per_sec": {"enrich_flagship_docs": enrich_rows_per_sec,
                         "streaming_posts": stream["streaming_posts"],
                         # fixed-overhead-amortized ceiling: same pipeline,
                         # corpus replayed 10x (see stream_posts_per_sec)
                         "streaming_posts_10x": stream["streaming_posts_10x"],
                         "streaming_posts_best": stream["streaming_posts_best"],
                         "streaming_posts_10x_best":
                             stream["streaming_posts_10x_best"]},
        # dedup state shards of the streaming passes (one per core): the
        # streaming figures depend on it across hosts
        "stream_state_partitions": stream["stream_state_partitions"],
        # the batch session's parallelism: figures compare across hosts
        # only at equal parallelism
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
    }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The stream workload: posts as JSON lines in a file-source directory,
drained through ``decode_posts`` -> ``enrich_stream`` into a sink that
serialises every output column, like the service's publishers do. One run
has two phases in one JVM:

- backlog: a seeded backlog, drained by a fresh query from a fresh
  checkpoint (``availableNow``), micro-batches capped at the service's
  admission limit. Per-row cost dominates. Gives ``throughput_per_s``.
- steady: an open loop. ``generator.py`` runs as its own process and
  writes posts on a fixed schedule; the query runs with the service's
  default trigger. Per-batch fixed cost dominates. Gives
  ``latency_p50_ms``.

Outputs are compared with ``enrich_stream`` run on the same posts as a
static DataFrame, outside the timed region. Backlog per-layer figures
(``streaming.backlog.*``, ``spark.*``) are per drain, never totals over
the run, whose number of drains grows as the program gets faster.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import time

from common import (SPARK_LAYER, Tracer, compare_keyed, dedup_accounting,
                    job_stages, median, metric, overhead_frac, percentile,
                    rank_beyond, stage_totals)
from datagen import iso, post_lines

BACKLOG_POSTS = 20_000
BACKLOG_FILES = 16
STEADY_WARMUP = 3.0        # s of schedule excluded from the latency window
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")


def keyed_digest(df):
    """Key, due time and an md5 of the JSON of every output column except
    ``processed_at`` (the only one that differs between two correct runs).
    Serialising all columns keeps column pruning from skipping a
    classifier."""
    from pyspark.sql import functions as F

    cols = [c for c in df.columns if c != "processed_at"]
    return df.select(F.concat_ws("|", "uri", "cid").alias("key"), "created_at",
                     F.md5(F.to_json(F.struct(*cols))).alias("digest"))


class DigestSink:
    """foreachBatch sink: collects key, created_at and digest of each
    micro-batch and stamps the time its rows were handed out. In a traced
    run it records a span for every other batch, so the run can compare
    traced and untraced batches."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.batches: list[dict] = []
        self.spans: dict[int, dict] = {}

    def __call__(self, bdf, batch_id: int) -> None:
        t0 = time.time()
        tbl = keyed_digest(bdf).toArrow()
        t1 = time.time()
        traced = self.tracer.enabled and batch_id % 2 == 0
        if traced:
            self.spans[batch_id] = self.tracer.add("sink", t0, t1, None)
        self.batches.append({"batch": batch_id, "start": t0, "emit": t1,
                             "table": tbl, "traced": traced})

    def rows(self):
        """Yield ``(key, created_at, digest, emit_time)`` per emitted row."""
        for b in self.batches:
            t = b["table"]
            for k, c, d in zip(t.column("key").to_pylist(),
                               t.column("created_at").to_pylist(),
                               t.column("digest").to_pylist()):
                yield k, c, d, b["emit"]


def reference(spark, src: str) -> dict[str, str]:
    from nats_stream_processor_spark.streaming.pipeline import (decode_posts,
                                                                 enrich_stream)

    tbl = keyed_digest(enrich_stream(decode_posts(spark.read.text(src)))).toArrow()
    return dict(zip(tbl.column("key").to_pylist(), tbl.column("digest").to_pylist()))


def start_query(spark, src: str, ckpt: str, sink: DigestSink, max_files: int | None,
                available_now: bool):
    from nats_stream_processor_spark.streaming.pipeline import (decode_posts,
                                                                 enrich_stream)

    reader = spark.readStream.format("text")
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    writer = (enrich_stream(decode_posts(reader.load(src)))
              .writeStream.foreachBatch(sink)
              .option("checkpointLocation", ckpt))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def epoch(text: str) -> float:
    """Seconds since the epoch of an ISO-8601 time with a UTC offset."""
    return dt.datetime.fromisoformat(text).timestamp()


def latencies(rows, window: tuple[float, float]) -> list[float]:
    """Seconds from each post's due time (its ``created_at``) to the time
    its batch was emitted, for posts due inside ``window``. Measuring from
    the due time, not from when the generator got to write the post,
    charges a stall to every post scheduled behind it."""
    lo, hi = window
    out = []
    for _key, created_at, _digest, emit in rows:
        due = epoch(created_at)
        if lo <= due < hi:
            out.append(emit - due)
    return out


def _progress(query) -> list:
    return [p for p in query.recentProgress if p.numInputRows > 0]


def progress_layers(progress: list, prefix: str, queries: int) -> dict[str, float]:
    """Median micro-batch phase times and state-store figures of the
    progress of ``queries`` streaming queries; ``batches`` is per query."""
    def p50(vals):
        return median(vals) if vals else 0.0

    out = {f"{prefix}{ph}_ms_p50": p50([p.durationMs.get(ph, 0) for p in progress])
           for ph in PHASES + ("triggerExecution",)}
    states = [p.stateOperators[0] for p in progress if p.stateOperators]
    out[prefix + "state_commit_ms_p50"] = p50([s.commitTimeMs for s in states])
    out[prefix + "state_rows_total"] = states[-1].numRowsTotal if states else 0
    out[prefix + "state_memory_bytes"] = states[-1].memoryUsedBytes if states else 0
    out[prefix + "batches"] = len(progress) / queries
    out[prefix + "rows_per_batch_p50"] = p50([p.numInputRows for p in progress])
    return out


def batch_spans(tracer: Tracer, progress: list, sink: DigestSink,
                parent: int | None) -> None:
    """Micro-batch spans from progress, each with its phases laid out in
    execution order as children; the sink runs inside addBatch, so its
    spans become children of that phase."""
    for p in progress:
        start = epoch(p.timestamp)
        dur = p.durationMs
        bid = tracer.add("streaming.batch", start,
                         start + dur.get("triggerExecution", 0) / 1000,
                         parent, batch=p.batchId, rows=p.numInputRows)["id"]
        t = start
        for ph in PHASES:
            d = dur.get(ph, 0) / 1000
            rec = tracer.add(f"streaming.{ph}", t, t + d, bid)
            t += d
            if ph == "addBatch" and p.batchId in sink.spans:
                sink.spans[p.batchId]["parent"] = rec["id"]


def write_backlog(src: str, seed: int, texts: list[str]) -> int:
    """Write the backlog; returns the number of post slots."""
    os.makedirs(src, exist_ok=True)
    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    lines = post_lines(seed, texts, BACKLOG_POSTS, lambda slot: iso(base + slot / 1000))
    for k in range(BACKLOG_FILES):
        with open(f"{src}/posts-{k:03d}.json", "w") as f:
            f.write("\n".join(lines[k::BACKLOG_FILES]) + "\n")
    return len(lines)


def slot_keys(src: str) -> list[str]:
    keys = []
    for name in sorted(os.listdir(src)):
        if name.startswith("."):
            continue
        with open(os.path.join(src, name)) as f:
            for line in f:
                if line.strip():
                    p = json.loads(line)
                    keys.append(f"{p['uri']}|{p['cid']}")
    return keys


def check(expected: dict, sink: DigestSink, keys: list[str]) -> tuple[int, int, dict]:
    got = [(k, d) for k, _c, d, _e in sink.rows()]
    attempted, failed = compare_keyed(expected, got)
    acct = dedup_accounting(len(keys), sum(1 for k in keys if k in expected),
                            len(expected), len(got))
    return attempted, failed, acct


# ------------------------------------------------------------------ phases

def backlog_phase(spark, work: str, seed: int, texts: list[str], seconds: float,
                  tracer: Tracer) -> dict:
    """Drain the seeded backlog once to warm up, then again with a fresh
    query and checkpoint each time for ``seconds``. Returns the drains and
    the reference output."""
    from nats_stream_processor_spark.config import MAX_OFFSETS_PER_TRIGGER

    src = f"{work}/backlog"
    n_posts = write_backlog(src, seed, texts)
    expected = reference(spark, src)
    # Micro-batches are capped at the service's admission limit.
    max_files = max(1, MAX_OFFSETS_PER_TRIGGER // -(-n_posts // BACKLOG_FILES))

    def drain(tag: str, traced: bool) -> dict:
        sink = DigestSink(tracer)
        with tracer.span("streaming.drain", on=traced) as sp:
            t0 = time.time()
            q = start_query(spark, src, f"{work}/ckpt-{tag}", sink, max_files, True)
            q.awaitTermination()
            t1 = time.time()
        return {"t0": t0, "t1": t1, "sink": sink, "query": q, "traced": traced,
                "span": sp["id"] if sp else None}

    warm = drain("warm", False)
    t_begin = time.perf_counter()
    drains: list[dict] = []
    # As many whole drains as fit in ``seconds``, at least two; a traced
    # run alternates traced and untraced drains.
    while (len(drains) < 2 or time.perf_counter() - t_begin
           + drains[-1]["t1"] - drains[-1]["t0"] <= seconds):
        drains.append(drain(str(len(drains)), len(drains) % 2 == 1))
    return {"src": src, "posts": n_posts, "expected": expected, "warm": warm,
            "drains": drains, "t_begin": t_begin}


def steady_phase(spark, work: str, seed: int, texts: list[str], seconds: float,
                 tracer: Tracer) -> dict:
    """Start a query on an empty directory with the service's default
    trigger, run the generator for a warm-up plus ``seconds``, then let the
    query catch up and stop it."""
    src, corpus = f"{work}/steady", f"{work}/corpus.txt"
    os.makedirs(src)
    with open(corpus, "w") as f:
        f.write("\n".join(texts) + "\n")
    sink = DigestSink(tracer)
    q = start_query(spark, src, f"{work}/ckpt-steady", sink, None, False)
    total = STEADY_WARMUP + seconds
    start_at = time.time() + 0.5
    report = f"{work}/generator.json"
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "generator.py"),
         "--out", src, "--corpus", corpus, "--seed", str(seed),
         "--start-at", repr(start_at), "--seconds", str(total),
         "--report", report])
    try:
        gen.wait(timeout=total + 30)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if gen.returncode != 0:
        raise RuntimeError(f"generator exited with {gen.returncode}")
    q.processAllAvailable()
    q.stop()
    with open(report) as f:
        files = json.load(f)
    return {"src": src, "sink": sink, "query": q, "files": files,
            "window": (start_at + STEADY_WARMUP, start_at + total),
            "expected": reference(spark, src)}


# ------------------------------------------------------------------ workload

def run(spark, work: str, seed: int, texts: list[str], seconds: float,
        tracer: Tracer, t_start: float):
    """The stream workload: the backlog phase, then the steady phase, in
    one JVM. Throughput comes from the backlog, latency from the open
    loop. Outputs of every drain and of the open loop are checked."""
    bl = backlog_phase(spark, work, seed, texts, seconds, tracer)
    setup_s = bl["t_begin"] - t_start
    st = steady_phase(spark, work, seed, texts, seconds, tracer)

    attempted = failed = 0
    bl_keys = slot_keys(bl["src"])
    for d in [bl["warm"]] + bl["drains"]:
        a, f, d["acct"] = check(bl["expected"], d["sink"], bl_keys)
        attempted += a
        failed += f
    a, f, st_acct = check(st["expected"], st["sink"], slot_keys(st["src"]))
    attempted += a
    failed += f

    drains = bl["drains"]
    rows = list(st["sink"].rows())
    window = st["window"]
    lat = latencies(rows, window)
    e2e = {
        "setup_s": metric(setup_s, "s"),
        "throughput_per_s": metric(
            median([bl["posts"] / (d["t1"] - d["t0"]) for d in drains]), "1/s"),
        "latency_p50_ms": metric(1000 * median(lat), "ms"),
    }
    detail = {"backlog_posts": bl["posts"], "drains": len(drains),
              "steady_posts": sum(f["posts"] for f in st["files"]),
              "latency_samples": len(lat), "dedup_backlog": drains[-1]["acct"],
              "dedup_steady": st_acct}
    if not tracer.enabled:
        return e2e, {}, attempted, failed, detail

    layers: dict[str, float] = {}
    for d in drains:
        batch_spans(tracer, _progress(d["query"]), d["sink"], d["span"])
    layers.update(progress_layers(
        [p for d in drains for p in _progress(d["query"])], "streaming.backlog.",
        len(drains)))
    layers.update(_dedup_layers(drains[-1]["acct"], "streaming.backlog."))

    q, sink = st["query"], st["sink"]
    steady = [p for p in _progress(q) if window[0] <= epoch(p.timestamp) < window[1]]
    batch_spans(tracer, steady, sink, None)
    layers.update(progress_layers(steady, "streaming.steady.", 1))
    layers.update(_dedup_layers(st_acct, "streaming.steady."))
    layers["streaming.steady.backlog_growth_posts"] = _backlog_growth(
        st["files"], _progress(q), window)
    late = [1000 * f["late"] for f in st["files"] if window[0] <= f["due"] < window[1]]
    layers["generator.late_ms_p50"] = median(late)
    layers["generator.late_ms_max"] = max(late)
    if rank_beyond(len(lat), 99) >= 10:
        layers["latency.p99_ms"] = 1000 * percentile(lat, 99)
    layers.update(_spark_layers(spark, [str(d["query"].runId) for d in drains]))
    # Drains alternate untraced and traced, and the open loop's batches
    # traced and untraced; pair each with its neighbour.
    pairs = [(b["t1"] - b["t0"], a["t1"] - a["t0"])
             for a, b in zip(drains[::2], drains[1::2])]
    pairs += [(a["emit"] - a["start"], b["emit"] - b["start"])
              for a, b in zip(sink.batches, sink.batches[1:])
              if a["traced"] and not b["traced"] and a["table"].num_rows
              and b["table"].num_rows]
    layers["trace.overhead_frac"] = overhead_frac(pairs)
    return e2e, layers, attempted, failed, detail


def _dedup_layers(acct: dict, prefix: str) -> dict[str, float]:
    return {prefix + k: acct[k] for k in ("dedup_dropped_rows", "dedup_drop_frac")}


def _backlog_growth(files: list[dict], progress: list, window) -> float:
    """Posts written but not yet taken by a finished micro-batch, at the end
    of the window minus at its start."""
    ends = [(epoch(p.timestamp) + p.durationMs.get("triggerExecution", 0) / 1000,
             p.numInputRows) for p in progress]

    def backlog(t):
        written = sum(f["posts"] for f in files if f["due"] + f["late"] <= t)
        return written - sum(rows for end, rows in ends if end <= t)
    return backlog(window[1]) - backlog(window[0])


def _spark_layers(spark, run_ids: list[str]) -> dict[str, float]:
    """Executor totals per backlog drain: the median over the given
    streaming queries of the totals of every job each ran (a query runs
    its jobs under its run id as job group)."""
    tots = [stage_totals(spark, job_stages(spark, rid)[1]) for rid in run_ids]
    return {f"spark.{k}": median([t[k] for t in tots]) for k in SPARK_LAYER}

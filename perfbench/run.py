"""The repository benchmark. One run measures one workload in a fresh
process and a fresh JVM:

    python3 perfbench/run.py --workload batch_headline --seed 1 --seconds 10 --trace 0

Workloads (BENCHMARK.json says why each was chosen):

- batch_headline: the headline registry queries over generated tables, one
  at a time, noop sink (batch.py);
- stream: a seeded backlog of posts drained by the streaming pipeline,
  then posts written by a separate open-loop generator process at a fixed
  rate and processed with the service's default trigger (stream.py,
  generator.py).

Every run checks the program's outputs outside the timed region. The last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Earlier lines
carry the run's ``env`` block and details. A traced run also writes its
spans to ``perfbench/results/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

WORKLOADS = ("batch_headline", "stream")
STREAM_DOCS = 5000      # corpus documents the posts draw their text from
KERNEL_BUDGET_S = 0.5   # seconds each classifier kernel runs for its rate


def per_layer_names() -> list[str]:
    """Every per-layer metric; a run reports 0 for a layer its workload
    does not exercise."""
    from bench import HEADLINE

    names = ["session.get_spark_s", "functions.sentiment_rows_per_s",
             "functions.topics_rows_per_s", "queries.batch_s"]
    names += [f"queries.{q}.{f}" for q in HEADLINE
              for f in ("build_s", "exec_s", "jobs", "tasks", "executor_cpu_s",
                        "shuffle_bytes")]
    names += [f"spark.{k}" for k in common.SPARK_LAYER]
    for phase in ("backlog", "steady"):
        names += [f"streaming.{phase}.{k}" for k in (
            "triggerExecution_ms_p50", "latestOffset_ms_p50", "walCommit_ms_p50",
            "getBatch_ms_p50", "queryPlanning_ms_p50", "addBatch_ms_p50",
            "commitOffsets_ms_p50", "state_commit_ms_p50", "state_rows_total",
            "state_memory_bytes", "batches", "rows_per_batch_p50",
            "dedup_dropped_rows", "dedup_drop_frac")]
    names += ["streaming.steady.backlog_growth_posts", "latency.p99_ms",
              "generator.late_ms_p50", "generator.late_ms_max",
              "trace.overhead_frac"]
    return names


def unit_of(name: str) -> str:
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


def kernel_rates(texts: list[str]) -> dict[str, float]:
    """Rows per second of the two classifier kernels, run in this process
    on one thread: the single-threaded baseline of the per-row work."""
    import pandas as pd

    from nats_stream_processor_spark.functions import classify

    series = pd.Series(texts)
    out = {}
    for name, fn in (("sentiment", classify.sentiment_batch),
                     ("topics", classify.topics_batch)):
        rows, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < KERNEL_BUDGET_S:
            fn(series)
            rows += len(series)
        out[f"functions.{name}_rows_per_s"] = rows / (time.perf_counter() - t0)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    common.check_checkout()

    here = os.path.dirname(os.path.abspath(__file__))
    work = os.path.join(here, "_work", f"{a.workload}-{os.getpid()}")
    env = common.prepare_process(work)
    steal0 = common.steal_jiffies()
    tracer = common.Tracer(a.trace == 1)
    try:
        import datagen
        from nats_stream_processor_spark.session import get_spark

        texts = datagen.documents(a.seed, STREAM_DOCS).text.tolist()
        if a.workload == "batch_headline":
            import batch
            data = os.path.join(work, "data")
            datagen.write_tables(data, a.seed, batch.SCALE)
        t0 = time.perf_counter()
        spark = get_spark(**common.spark_overrides(work))
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        env.update(common.spark_env(spark))
        try:
            if a.workload == "batch_headline":
                res = batch.run(spark, data, a.seconds, tracer, T_START)
            else:
                import stream
                res = stream.run(spark, work, a.seed, texts, a.seconds, tracer,
                                 T_START)
        finally:
            stop_spark(spark)
        e2e, layers, attempted, failed, detail = res
        if tracer.enabled:
            layers["session.get_spark_s"] = get_spark_s
            layers.update(kernel_rates(texts))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1 = common.steal_jiffies()
    env["steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

    print(json.dumps({"workload": a.workload, "seed": a.seed, "env": env,
                      "detail": detail}))
    if tracer.enabled:
        out_dir = os.path.join(here, "results")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-spans.json")
        with open(path, "w") as f:
            json.dump(tracer.spans, f)
        print(json.dumps({"spans": path, "self_s": tracer.self_times()}))
        metrics = {n: common.metric(layers.get(n, 0.0), unit_of(n))
                   for n in per_layer_names()}
    else:
        metrics = e2e
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""batch_headline: the headline registry queries, one at a time (a closed
loop with one client), each written to the noop sink.

Each query is timed from ``REGISTRY[q].fn`` through the write, because
iterative queries (connected components, k-means training) do their work
while the DataFrame is built. The first pass runs every query against its
DuckDB oracle; it warms the JVM and Python workers and checks the outputs,
and it counts as set-up.

``latency_p50_ms`` is the geometric mean over the queries of each query's
median time, so a slowdown of any one query moves it by the same share,
whether that query is light or heavy. Per-layer figures are per query or
per pass, never totals over the run, whose number of passes grows as the
program gets faster.
"""

from __future__ import annotations

import math
import time

from common import (SPARK_LAYER, Tracer, job_stages, median, metric,
                    overhead_frac, stage_data, stage_totals)

# The generated tables have this many rows relative to scale factor 1
# (lineitem 60k rows).
SCALE = 0.01
QUERY_FIELDS = ("build_s", "exec_s", "jobs", "tasks", "executor_cpu_s",
                "shuffle_bytes")


def run(spark, data: str, seconds: float, tracer: Tracer, t_start: float):
    import check_oracle
    from bench import HEADLINE
    from nats_stream_processor_spark import registry

    sc = spark.sparkContext
    con = check_oracle.make_duck(data)
    problems = {}
    for q in HEADLINE:
        problem = check_oracle.check_one(spark, con, q, data, strict=False)
        if problem:
            problems[q] = problem
    con.close()

    setup_s = time.perf_counter() - t_start
    ops: list[dict] = []
    t0 = time.perf_counter()
    pass_no, pass_s = 0, 0.0
    # As many whole passes as fit in ``seconds``, at least one. A traced run
    # makes at least two: each query runs traced in one and untraced in the
    # other, so the run can report what tracing costs.
    min_passes = 2 if tracer.enabled else 1
    while (pass_no < min_passes
           or time.perf_counter() - t0 + pass_s <= seconds):
        t_pass = time.perf_counter()
        for i, q in enumerate(HEADLINE):
            traced = tracer.enabled and (i + pass_no) % 2 == 0
            group = f"perfbench-{pass_no}-{q}"
            sc.setJobGroup(group, q)
            op = {"q": q, "pass": pass_no, "traced": traced, "group": group,
                  "error": None}
            try:
                a = time.perf_counter()
                with tracer.span("queries", on=traced, q=q) as root:
                    with tracer.span("queries.build", on=traced, q=q):
                        df = registry.REGISTRY[q].fn(spark, data)
                    b = time.perf_counter()
                    with tracer.span("operators.write_noop", on=traced, q=q):
                        df.write.mode("overwrite").format("noop").save()
                c = time.perf_counter()
                op.update(build_s=b - a, exec_s=c - b, s=c - a,
                          span=root["id"] if root else None)
            except Exception as ex:  # a failed query is a failed operation
                op["error"] = f"{type(ex).__name__}: {str(ex)[:300]}"
            ops.append(op)
        pass_no += 1
        pass_s = time.perf_counter() - t_pass
    wall = time.perf_counter() - t0
    sc.setJobGroup("perfbench-idle", "")

    ok = [o for o in ops if o["error"] is None]
    failed = sum(1 for o in ops if o["error"] or o["q"] in problems)
    times: dict[str, list[float]] = {}
    for o in ok:
        times.setdefault(o["q"], []).append(o["s"])
    e2e = {
        "setup_s": metric(setup_s, "s"),
        "throughput_per_s": metric(len(ok) / wall, "1/s"),
        "latency_p50_ms": metric(1000 * geomean([median(v) for v in times.values()]),
                                 "ms"),
    }
    detail = {"problems": problems, "passes": pass_no,
              "errors": [o["error"] for o in ops if o["error"]]}

    layers: dict[str, float] = {}
    if tracer.enabled:
        per_q: dict[str, dict[str, list]] = {}
        per_pass = [dict.fromkeys(SPARK_LAYER, 0.0) for _ in range(pass_no)]
        for o in ok:
            jobs, stages = job_stages(spark, o["group"])
            tot = stage_totals(spark, stages)
            if o["span"] is not None:
                _stage_spans(tracer, spark, stages, o["span"])
            row = {"s": o["s"], "build_s": o["build_s"], "exec_s": o["exec_s"],
                   "jobs": jobs, **tot}
            d = per_q.setdefault(o["q"], {})
            for k, v in row.items():
                d.setdefault(k, []).append(v)
            for k in SPARK_LAYER:
                per_pass[o["pass"]][k] += tot[k]
        for k in SPARK_LAYER:
            layers[f"spark.{k}"] = median([p[k] for p in per_pass])
        for q in HEADLINE:
            d = per_q.get(q, {})
            layers[f"queries.{q}.s"] = median(d["s"]) if d else 0.0
            for f in QUERY_FIELDS:
                layers[f"queries.{q}.{f}"] = median(d[f]) if d else 0.0
        layers["queries.batch_s"] = sum(layers[f"queries.{q}.s"] for q in HEADLINE)
        traced = {o["q"]: o["s"] for o in ok if o["traced"]}
        layers["trace.overhead_frac"] = overhead_frac(
            [(traced[o["q"]], o["s"]) for o in ok
             if not o["traced"] and o["q"] in traced])
    attempted = len(ops)
    return e2e, layers, attempted, failed, detail


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _stage_spans(tracer: Tracer, spark, stage_ids, parent: int) -> None:
    """Stage spans from the status store, children of their query's span."""
    for st in stage_data(spark, stage_ids):
        sub, done = st.submissionTime(), st.completionTime()
        if sub.isDefined() and done.isDefined():
            tracer.add("spark.stage", sub.get().getTime() / 1000,
                       done.get().getTime() / 1000, parent, stage=st.stageId())

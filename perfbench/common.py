"""Shared pieces of the benchmark: process set-up, the percentile rule,
the span recorder, Spark status-store readers and result checking.

Nothing here imports Spark at module level, so the unit tests run without
a JVM.
"""

from __future__ import annotations

import math
import os
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Files of the program the benchmark drives; their absence means the
# checkout holds only the benchmark, and the run must fail.
REQUIRED = ("nats_stream_processor_spark/__init__.py", "bench.py",
            "tools/check_oracle.py")


def check_checkout() -> None:
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit(f"perfbench: program files missing: {', '.join(missing)}")


def prepare_process(work: str) -> dict:
    """Point every temporary file of this process, its JVM and its Python
    workers into ``work``, size Spark to the CPUs this process may use, and
    return the ``env`` block of the result."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        # the launcher JVM that spark-submit starts first
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    for p in (ROOT, os.path.join(ROOT, "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)
    return {"nproc": cpus, "loadavg_1m": os.getloadavg()[0]}


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the machine so far, from /proc/stat.
    Time stolen by the hypervisor shows up as wall time in every metric."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def spark_overrides(work: str) -> dict[str, str]:
    """Session settings the benchmark adds to the engine defaults: the JVM
    temp dir, appended to whatever JVM options the engine sets."""
    from nats_stream_processor_spark.config import SparkEngineConf

    opts = SparkEngineConf().to_conf().get("spark.driver.extraJavaOptions", "")
    return {"spark.driver.extraJavaOptions":
            f"{opts} -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData".strip()}


def spark_env(spark) -> dict:
    sc = spark.sparkContext
    return {"master": sc.master, "spark_version": spark.version,
            "spark.default.parallelism": sc.defaultParallelism}


# ------------------------------------------------------------ percentiles

def rank_beyond(n: int, q: float) -> int:
    """Number of samples ranked above the nearest-rank ``q`` percentile."""
    return n - max(1, math.ceil(q / 100 * n))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile. Refuses a percentile that fewer than ten
    samples lie beyond, so a reported tail is never one or two outliers."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    if q > 50 and rank_beyond(len(xs), q) < 10:
        raise ValueError(f"p{q:g} needs 10 samples beyond it; have {len(xs)}")
    return xs[max(1, math.ceil(q / 100 * len(xs))) - 1]


def median(values) -> float:
    xs = sorted(values)
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


# ------------------------------------------------------------------ spans

class Tracer:
    """In-memory spans ``(name, start, end, parent)`` recorded around the
    benchmark's calls into each layer; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # foreachBatch sinks record spans from Spark's callback thread
        self._lock = threading.Lock()

    def _append(self, rec: dict) -> dict:
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, on: bool = True, **attrs):
        """A live span; ``on=False`` skips this one (the untraced half of a
        traced run, see ``overhead_frac``)."""
        if not (self.enabled and on):
            yield None
            return
        rec = self._append({"name": name,
                            "parent": self._stack[-1] if self._stack else None,
                            "start": time.time(), "end": None, **attrs})
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> dict | None:
        """Record a span measured elsewhere (a micro-batch phase)."""
        if not self.enabled:
            return None
        return self._append({"name": name, "parent": parent, "start": start,
                             "end": end, **attrs})

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the part of each span's interval
        that its child spans cover (children may overlap each other)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - covered
        return out


def overhead_frac(pairs: list[tuple[float, float]]) -> float:
    """Tracing overhead from ``(traced, untraced)`` times of matched
    operations: the geometric mean of their ratios, minus one. A traced run
    traces every other operation; when the traced side alternates between
    the earlier and the later of a pair, warm-up effects cancel."""
    if not pairs:
        return 0.0
    return math.exp(sum(math.log(t / u) for t, u in pairs) / len(pairs)) - 1.0


# ----------------------------------------------------- Spark status store

STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "tasks": ("numTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
}


# The executor totals every workload reports as ``spark.*`` per-layer metrics.
SPARK_LAYER = ("executor_run_s", "executor_cpu_s", "gc_s", "spill_bytes",
               "failed_tasks")


def stage_totals(spark, stage_ids) -> dict[str, float]:
    """Sum the executor metrics of the given stages from the status store
    (kept with the UI off). Call only after the timed work has ended."""
    tot = dict.fromkeys(STAGE_FIELDS, 0.0)
    for st in stage_data(spark, stage_ids):
        for key, (field, scale) in STAGE_FIELDS.items():
            tot[key] += getattr(st, field)() * scale
    return tot


def stage_data(spark, stage_ids):
    """The status store's record of each stage still in it."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    for sid in stage_ids:
        try:
            yield store.lastStageAttempt(int(sid))
        except Py4JJavaError:  # evicted from the store
            continue


def job_stages(spark, group: str) -> tuple[int, list[int]]:
    """(number of jobs, their stage ids) run under a job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: list[int] = []
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.extend(info.stageIds)
    return len(jobs), stages


# ------------------------------------------------------------ result check

def compare_keyed(expected: dict, got: list[tuple]) -> tuple[int, int]:
    """Compare emitted ``(key, digest)`` pairs to the reference map
    ``key -> digest``. Returns ``(attempted, failed)``: every expected key
    is one attempt; a missing key, a wrong digest, a key emitted twice and
    a key the reference does not have each count as one failure."""
    seen: dict = {}
    failed = 0
    for key, digest in got:
        if key in seen or expected.get(key) != digest:
            failed += 1
        seen[key] = digest
    failed += sum(1 for k in expected if k not in seen)
    return len(expected), failed


def dedup_accounting(n_input: int, n_gate_pass: int, n_distinct_pass: int,
                     n_emitted: int) -> dict[str, float]:
    """Dedup drops against the planted replays. ``n_gate_pass`` posts
    passed the confidence gate, ``n_distinct_pass`` of them with distinct
    keys; replays of a gated post are gated too, so the dedup stage should
    drop exactly ``n_gate_pass - n_distinct_pass`` rows."""
    planted = n_gate_pass - n_distinct_pass
    dropped = n_gate_pass - n_emitted
    return {"dedup_dropped_rows": dropped, "dedup_planted_rows": planted,
            "dedup_drop_frac": dropped / planted if planted else 1.0,
            "gate_dropped_rows": n_input - n_gate_pass}


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}

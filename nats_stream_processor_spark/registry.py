"""Query registry: the driver-facing catalog of implemented operators.

Each entry pairs a Spark query (callable (spark, sf_dir) -> DataFrame) with
an equivalent DuckDB oracle SQL string (or None for non-SQL-expressible
ops, which the driver checks rows-only). Keys map 1:1 onto SURVEY.md §2's
operator inventory; every computed column is aliased identically on both
sides so the driver's sorted-column value-hash comparison is meaningful.

Query definitions live in the ``queries`` subpackage (imported at the
bottom of this module), grouped by domain:

- ``queries.enrich``     — the reference pipeline (SURVEY.md §2A)
- ``queries.relational`` — joins/aggs/windows/set-ops (§2B)
- ``queries.events``     — time windows, as-of joins, rate ticks (§2B + M3)
- ``queries.llm``        — dedup / similarity / text analysis (north star)
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from dataclasses import dataclass
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryEntry:
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None -> rows-only check
    tags: tuple[str, ...] = ()


REGISTRY: dict[str, QueryEntry] = {}

# DataFrames persisted by query builders (minhash/simhash signature tables
# feed multiple plan branches). Harnesses run the whole registry in ONE
# session, so without release the cached partitions would accumulate across
# the full registry; each registry invocation releases the previous query's
# pins, bounding cache residency to one query at a time. (A query can't unpersist
# its own pins — the action happens later, in the caller.)
_PINNED: list[DataFrame] = []


def pin(df: DataFrame) -> DataFrame:
    """persist() a shared intermediate, released on the next registry call."""
    df.persist()
    _PINNED.append(df)
    return df


def release_pins() -> None:
    while _PINNED:
        try:
            _PINNED.pop().unpersist()
        except Exception:  # session already stopped — nothing to release
            pass


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_pins()
            return fn(spark, sf_dir)
        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn
        REGISTRY[name] = QueryEntry(fn=wrapped, oracle=oracle, tags=tags)
        return fn
    return deco


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a driver parquet table, normalizing engine-specific quirks.

    Some testdata generations store ``events.ts`` as TIMESTAMP(NANOS),
    which Spark's parquet reader rejects by default; for those we read
    nanos as long (session conf, safe to set at runtime) and truncate to
    microsecond timestamps — exactly what DuckDB does when it coerces
    TIMESTAMP_NS to its native microsecond TIMESTAMP, so oracle
    comparisons line up. `ts div 1000` is exact integer division (a double
    roundtrip would lose precision at 2024-epoch nanos). Other generations
    store ``ts`` as a native microsecond timestamp already — detected from
    the loaded schema, passed through untouched (cast to session-local
    TIMESTAMP so event-time windows behave identically either way).
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql import types as T
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_BYTE_SUFFIX = {"b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
                "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30,
                "t": 1 << 40, "tb": 1 << 40}


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """Parse a Spark byte-string conf ('134217728b', '128m', '1g', bare
    number = bytes) — NOT digits-only stripping, which would read '128m'
    as 128 bytes and invert the spread() gate."""
    try:
        raw = str(spark.conf.get(key, str(default))).strip().lower()
    except Exception:
        return default
    num = raw.rstrip("abcdefghijklmnopqrstuvwxyz")
    suffix = raw[len(num):]
    try:
        return int(float(num)) * _BYTE_SUFFIX.get(suffix, 1)
    except ValueError:
        return default


_WIDE_PLAN_MARKERS = ("Repartition", "Join", "Aggregate", "Sort",
                      "Window", "Deduplicate", "CoalescedPartition",
                      "Coalesce")


def _is_scan_narrow_plan(df: DataFrame) -> bool:
    """True when df is a file scan plus narrow transforms only — the shape
    every spread() call site passes — so the scan's split count IS the
    DataFrame's partition count and the file-size estimate applies. Any
    partitioning-changing operator (repartition/coalesce/join/agg/...)
    falls back to asking the planner. Reads the LOGICAL plan string (a
    cheap py4j toString; no analysis, no physical planning)."""
    try:
        s = df._jdf.queryExecution().logical().toString()
    except Exception:
        return False
    return not any(m in s for m in _WIDE_PLAN_MARKERS)


@functools.lru_cache(maxsize=64)
def _file_sizes(files: tuple[str, ...]) -> tuple[int, ...] | None:
    """os.stat sizes of a scan's files, memoized with a bound: file
    sizes are stable for a session (testdata is immutable), so the first
    lookup is the only one. None when any file is non-local or
    missing."""
    sizes = []
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            return None
        try:
            sizes.append(os.path.getsize(u.path))
        except OSError:
            return None
    return tuple(sizes)


def _scan_file_sizes(df: DataFrame) -> tuple[int, ...] | None:
    """File sizes behind a file scan; None for non-file or non-local
    sources. Cheap by construction: ``inputFiles()`` is analysis-only
    (~2 ms warm) and the sizes come from the memoized os.stat — unlike
    ``df.rdd``, which forces a full physical planning round-trip
    (measured 0.16-1.3 s per call on the wide dedup plans; with ~30
    spread sites that was a ~20% tax on the whole bench)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    return _file_sizes(tuple(sorted(files))) if files else None


def _estimated_scan_partitions(spark: SparkSession,
                               sizes: tuple[int, ...]) -> int:
    """How many partitions a file scan over files of these sizes will
    yield, with Spark's own FilePartition packing formula (maxSplitBytes
    = min(maxPartitionBytes, max(openCostInBytes, padded_total /
    defaultParallelism)); partitions ~ ceil(padded_total /
    maxSplitBytes))."""
    max_pb = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes",
                         128 * 1024 * 1024)
    open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes",
                            4 * 1024 * 1024)
    par = spark.sparkContext.defaultParallelism
    bytes_per_core = (sum(sizes) + len(sizes) * open_cost) // max(par, 1)
    max_split = min(max_pb, max(open_cost, bytes_per_core))
    # Replay FilePartition.getFilePartitions: chunk each file into
    # max_split splits, sort descending, greedy-pack with open_cost
    # charged per chunk.
    chunks: list[int] = []
    for s in sizes:
        n_full, rem = divmod(s, max_split)
        chunks.extend([max_split] * int(n_full))
        if rem or not s:
            chunks.append(int(rem))
    chunks.sort(reverse=True)
    est, cur = 1, 0
    for c in chunks:
        if cur and cur + c > max_split:
            est += 1
            cur = 0
        cur += c + open_cost
    return est


# Input-bytes floor for Python-boundary stages (opt-in per call site,
# see spread()): fanning a tiny scan out to every core makes each Arrow
# batch so small that Python-worker dispatch dominates — the r15 scaling
# probe measured enrich_flagship/media_frame_sample FASTER at 8 cores
# than 32 (0.67x / 0.63x) on ~150-row partitions. Partitions never drop
# below this many INPUT bytes, so the fan-out caps at data_size/floor
# locally; at real scale scan splits are >= maxPartitionBytes and the
# spread gate is a no-op anyway, so the floor never binds.
PY_MIN_SPLIT_BYTES = 64 * 1024

def spread(df: DataFrame, n: int | None = None,
           min_bytes_per_partition: int | None = None) -> DataFrame:
    """Round-robin repartition to the session's default parallelism —
    ONLY when the input is under-partitioned.

    The driver's small test tables are single-row-group parquet files, so a
    scan yields ONE input partition and every CPU-heavy per-row stage
    (shingling, signatures, classifier UDFs) runs on one core; here the
    shuffle is what lets local[32] actually use 32 cores. At real scale the
    scan already produces hundreds of splits, and `repartition(n)` would
    shuffle every row — including full document text — for nothing. So the
    repartition is gated: if the plan already yields >= the target number of
    partitions (or the session conf ``spark.nats_spark.spread.enabled`` is
    ``false``), the input is returned untouched, plan identity preserved.
    The partition count comes from the scan's memoized file sizes
    (_estimated_scan_partitions); only non-file inputs fall back to asking
    the planner via ``df.rdd``. Apply before CPU-bound per-row work or
    before a PARTIAL aggregate (the round-robin exchange feeds the
    map-side partial agg, which keeps its own hash exchange for the final
    agg — q_pricing_summary's shape); never immediately before joins or
    final aggs that manage their own partitioning.

    ``min_bytes_per_partition`` (opt-in, for Python-boundary stages —
    see PY_MIN_SPLIT_BYTES): cap the fan-out so no partition carries
    fewer input bytes than the floor. Pass it where the downstream work
    is an Arrow/pandas stage whose per-partition dispatch overhead beats
    the parallelism gain on tiny batches; leave unset for JVM-side
    CPU-bound work (shingling, hashing), where full fan-out wins even on
    small inputs.
    """
    import math

    spark = df.sparkSession
    try:
        enabled = spark.conf.get("spark.nats_spark.spread.enabled", "true")
    except Exception:
        enabled = "true"
    if str(enabled).lower() == "false":
        return df
    target = n or spark.sparkContext.defaultParallelism
    sizes = _scan_file_sizes(df) if _is_scan_narrow_plan(df) else None
    if min_bytes_per_partition and sizes is not None:
        target = max(1, min(target,
                            math.ceil(sum(sizes) / min_bytes_per_partition)))
    if sizes is not None:
        current = _estimated_scan_partitions(spark, sizes)
    else:
        # Non-file source or partitioning-changing plan: ask the planner
        # (physical planning, no job).
        current = df.rdd.getNumPartitions()
    if current >= target:
        return df
    return df.repartition(target)


def queries() -> dict[str, QueryFn]:
    return {name: e.fn for name, e in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: e.oracle for name, e in REGISTRY.items() if e.oracle is not None}



# External harnesses snapshot the FIRST 50 registry entries, so this curated
# list leads the registry; test_sample_prefix_has_no_name_drift guards it.
SAMPLE_PREFIX_EXPECTED = [
    "sim_ivf_insert", "sim_ivf_lifecycle", "sim_ivf_rebalance",
    "sim_ivf_merge", "curation_shard_balance",
    "decontaminate_fuzzy_minhash", "dedup_chunk_level",
    "dedup_cluster_size_histogram", "dedup_incremental_batch",
    "dedup_normalized_exact", "dedup_rate_by_source", "dedup_soft_weights",
    "dedup_winnowing_overlap", "embed_gram_matrix", "embed_quantize_int8",
    "enrich_flagship", "events_dau_wau", "events_funnel",
    "events_hourly_zscore", "events_markov_transitions",
    "events_outliers_mad", "events_tumbling_hourly",
    "grouped_agg_weighted_avg", "grouped_map_zscore",
    "join_revenue_by_region", "media_phash_near_dup",
    "sample_importance_by_quality", "scalar_subquery_above_avg",
    "sentiment_classify", "sim_ann_range_search", "sim_crossmodal_recall",
    "sim_rrf_fusion", "text_flesch_readability", "text_length_histogram",
    "text_unigram_lm_score", "tokenizer_bpe_top_merges",
    "tokenizer_wordpiece_apply", "topic_classify", "udtf_tokenize",
    "window_range_frame", "window_topk_orders_per_segment",
    "agg_approx_distinct", "agg_collect_sorted", "agg_filtered_counts",
    "agg_percentile_approx_check", "agg_revenue_q6",
    "asof_join_next_order", "compact_latest_per_key", "corpus_psi_drift",
    "corpus_token_gini",
]


# Registry population. The query-module import chain lives in _populate()
# and is invoked from the PACKAGE __init__ — never from this module's
# bottom. That guarantee matters on Python WORKERS: a worker unpickling a
# module-level UDF helper imports that query module FIRST, and Python runs
# the package __init__ (hence this chain, in full, in order) BEFORE the
# requested module — so no module in the chain can ever observe a
# partially-initialized sibling. (The previous bottom-of-this-module chain
# could: entering at llm_ext4 replayed the chain while llm_ext4 sat at its
# registry-import line, and llm_ext5's oracle builder then imported names
# that did not exist yet — broke text_mtld_diversity and
# events_kleinberg_burst workers in r7. Guarded by tests/test_oracle_parity
# ::test_every_query_module_survives_worker_entry_import.)
_POPULATED = False

def _populate() -> None:
    """Import every query module (registration side effects) and curate
    the sampled prefix. Idempotent; called from the package __init__.

    ORDER MATTERS for external snapshots: harnesses that sample a prefix
    of the registry see entries in registration order.
    """
    global _POPULATED
    if _POPULATED:
        return
    # Set the guard up front (re-entrant imports of the chain must
    # no-op), but RESET it if any module import raises — otherwise a
    # failed population would leave every later call silently no-oping
    # on a partial registry instead of retrying or failing loudly.
    _POPULATED = True
    try:
        _populate_chain()
    except BaseException:
        _POPULATED = False
        raise


def _populate_chain() -> None:
    from .queries import llm  # noqa: F401
    from .queries import advanced  # noqa: F401
    from .queries import enrich  # noqa: F401
    from .queries import events  # noqa: F401
    from .queries import metrics  # noqa: F401
    from .queries import relational  # noqa: F401
    from .queries import llm_ext  # noqa: F401
    from .queries import llm_ext2  # noqa: F401
    from .queries import llm_ext3  # noqa: F401
    from .queries import llm_ext4  # noqa: F401
    from .queries import llm_ext5  # noqa: F401
    from .queries import llm_ext6  # noqa: F401
    from .queries import llm_ext7  # noqa: F401
    from .queries import llm_ext8  # noqa: F401
    from .queries import llm_ext9  # noqa: F401
    from .queries import llm_ext10  # noqa: F401
    from .queries import llm_ext11  # noqa: F401
    from .queries import llm_ext12  # noqa: F401
    from .queries import llm_ext13  # noqa: F401
    from .queries import llm_ext14  # noqa: F401
    from .queries import llm_ext15  # noqa: F401
    from .queries import llm_ext16  # noqa: F401

    # Reorder so the curated prefix leads. Every curated name must exist
    # on a clean import (asserted by test_sample_prefix_has_no_name_drift);
    # the soft filter below is only a guard against future partial-import
    # schemes.
    prefix = [n for n in SAMPLE_PREFIX_EXPECTED if n in REGISTRY]
    order = prefix + [n for n in REGISTRY if n not in set(prefix)]
    reordered = {n: REGISTRY[n] for n in order}
    REGISTRY.clear()
    REGISTRY.update(reordered)

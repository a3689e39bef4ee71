"""SparkSession factory with engine defaults."""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession

from .config import SparkEngineConf


def get_spark(conf: SparkEngineConf | None = None, **overrides: str) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's scale-oriented
    defaults (AQE, Arrow, broadcast thresholds — see SparkEngineConf).
    Once the context exists, ``spark.sql.shuffle.partitions`` is set to
    ``state_partitions``: the streaming state width (see SparkEngineConf)."""
    conf = conf or SparkEngineConf()
    builder = SparkSession.builder.appName(conf.app_name).master(conf.master)
    for k, v in {**conf.to_conf(), **overrides}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions(
        sc.master, sc.defaultParallelism, dict(sc.getConf().getAll()))))
    return spark


def state_partitions(master: str, default_parallelism: int,
                     conf: Mapping[str, str]) -> int:
    """Streaming state width: one shard per core the session runs tasks on.

    A local master runs its threads on the CPUs this process may use, so
    a thread count above that (the default ``local[32]`` on a smaller
    host) is capped there. On a cluster, ``defaultParallelism`` right
    after start counts only the executors registered so far (and is at
    least 2), so the configured resources come first:
    ``spark.default.parallelism``, else ``spark.executor.instances`` ×
    ``spark.executor.cores``; with neither set (dynamic allocation), the
    registered cores are all there is to go on."""
    if master.startswith("local"):
        return max(1, min(default_parallelism, len(os.sched_getaffinity(0))))
    if "spark.default.parallelism" in conf:
        return int(conf["spark.default.parallelism"])
    if "spark.executor.instances" in conf and "spark.executor.cores" in conf:
        return (int(conf["spark.executor.instances"])
                * int(conf["spark.executor.cores"]))
    return default_parallelism

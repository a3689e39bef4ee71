"""SparkSession factory with engine defaults."""

from __future__ import annotations

from pyspark.sql import SparkSession

from .config import SparkEngineConf


def get_spark(conf: SparkEngineConf | None = None, **overrides: str) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's scale-oriented
    defaults (AQE, Arrow, broadcast thresholds — see SparkEngineConf)."""
    conf = conf or SparkEngineConf()
    builder = SparkSession.builder.appName(conf.app_name).master(conf.master)
    for k, v in {**conf.to_conf(), **overrides}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

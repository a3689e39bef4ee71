"""Engine configuration constants.

Mirrors the reference's tunables (reference: src/config.py) where they have a
Spark-side meaning; everything else is a Spark-native knob.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


# Reference: src/config.py:33 (SENTIMENT_CONFIDENCE_THRESHOLD, dev default 0.4)
SENTIMENT_CONFIDENCE_THRESHOLD: float = 0.4
# Reference: src/config.py:27 (duplicate window, seconds) / src/nats_client.py:99
DEDUP_WINDOW_SECONDS: int = 600
# Reference: src/config.py:19 (service name stamped on every enriched post)
PROCESSOR_NAME: str = "nats-stream-processor-spark"
# Reference: src/config.py:13-15 (subjects / stream names)
INPUT_SUBJECT_PREFIX: str = "bluesky.posts"
OUTPUT_SUBJECT_PREFIX: str = "bluesky.posts.enriched"
INPUT_STREAM: str = "bluesky-posts"
OUTPUT_STREAM: str = "bluesky-posts-enriched"
# Reference: src/config.py:24 (max_ack_pending backpressure cap) ->
# maxOffsetsPerTrigger on the Spark source.
MAX_OFFSETS_PER_TRIGGER: int = 100_000
# Reference: src/config.py:43-44 (publish retry policy)
PUBLISH_MAX_RETRIES: int = 3
PUBLISH_RETRY_DELAY_S: float = 1.0

# Decimal places used when rounding floating-point outputs that must be
# bit-comparable across engines (Spark JVM vs DuckDB oracle). libm exp()
# may differ in the last ulp between platforms; rounding to 6 dp makes the
# comparison robust while keeping full semantic fidelity.
FLOAT_ROUND_DP: int = 6


@dataclass
class SparkEngineConf:
    """Spark session settings tuned for the 100 TB posture.

    Tested on local[N]; the same settings are what we would ship on a
    1000-executor cluster (AQE re-plans shuffles at runtime, skew-join
    splitting handles hot keys, Arrow makes the Python<->JVM boundary
    columnar).

    Two shuffle widths. ``shuffle_partitions`` is the batch width: AQE
    starts every batch shuffle at it and coalesces from there. Streaming
    runs with AQE off, so its stateful exchange takes
    ``spark.sql.shuffle.partitions``, which ``session.get_spark`` sets to
    one state shard per core the session runs tasks on
    (``session.state_partitions``), so each micro-batch commits all of
    them in one parallel wave. A query records that width in its
    checkpoint at the first batch and keeps it on every restart.
    """

    app_name: str = "nats-stream-processor-spark"
    master: str = field(
        default_factory=lambda: os.environ.get(
            "SPARK_GRAFT_MASTER",
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        )
    )
    # Batch shuffle width (AQE's initial partition number); streaming state
    # uses one shard per core instead (see the class docstring).
    shuffle_partitions: int = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    def to_conf(self) -> dict[str, str]:
        return {
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum":
                str(self.shuffle_partitions),
            # Adaptive execution: runtime shuffle-partition coalescing,
            # skew-join splitting, plan re-optimisation. Mandatory at scale.
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.coalescePartitions.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            # Arrow for every pandas_udf / mapInPandas boundary.
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
            # Broadcast small dimension tables aggressively (region/nation/
            # supplier stay tiny even at 100 TB fact scale).
            "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
            # Parquet scan sizing: 128 MiB splits keep 100 TB ~ 800k tasks.
            "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
            "spark.sql.parquet.filterPushdown": "true",
            "spark.sql.session.timeZone": "UTC",
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            # Many distinct wide codegen classes (LSH, simhash, enrichment)
            # can exhaust the JVM code cache in a long session, silently
            # disabling JIT; 512m keeps every hot plan compiled.
            "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=512m",
            "spark.ui.showConsoleProgress": "false",
        }

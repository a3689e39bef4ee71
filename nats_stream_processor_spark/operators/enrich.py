"""The reference's end-to-end enrichment pipeline as one declarative
DataFrame expression.

Reference orchestration: src/service.py:100-150 (_process_message), stages
F1..F5, P1..P3, U1, U2, D1 per SURVEY.md §2A. Operator order is semantic:
the confidence gate sits BETWEEN the sentiment and topic stages so the topic
classifier never evaluates gated rows (reference: src/service.py:115-127).
Both stages run in ONE Arrow UDF (functions/classify.enrich_udf), so each
micro-batch crosses into Python once; its kernel keeps the order inside the
batch (blank text reaches no classifier, gated rows reach no topic stage),
and one Column filter after it drops the blank and gated rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import OUTPUT_SUBJECT_PREFIX, PROCESSOR_NAME
from ..functions.classify import enrich_udf
from ..functions.sentiment import confidence_gate
from ..functions.text import extract_text_col


def route_subject(sentiment: Column, top_topic: Column,
                  prefix: str = OUTPUT_SUBJECT_PREFIX) -> Column:
    """P3: dynamic subject routing ``{prefix}.{sentiment}.{top_topic}``
    (reference: src/nats_client.py:237-240)."""
    return F.concat_ws(".", F.lit(prefix), sentiment, top_topic)


def enrich_posts(df: DataFrame, text_col: str | None = None) -> DataFrame:
    """Full F1→P3 enrichment over any DataFrame with text content.

    - ``text_col=None`` applies the reference's 5-way coalesce (P1) over
      whichever candidate fields exist; otherwise uses the named column.
    - One Python crossing, ``enrich_udf``, runs the reference's stage order
      per row: empty text (F4) gets no classification, the rest get
      sentiment (U1), and only rows that pass the confidence gate (F5) get
      topics (U2).
    - One filter after it, ``confidence_gate``, drops the empty-text rows
      (NULL confidence) and the gated ones, exactly like the reference
      acks-without-publishing.
    - No D1 dedup here: the (uri, cid) idempotency key is applied by
      streaming/pipeline.dedup_posts, on static and streaming frames alike.

    Output adds: ``sentiment`` struct, ``topics`` struct, ``processed_at``,
    ``processor``, ``route_subject`` (shape: src/types.py:36-41 +
    FIXTURES.md §2 — note NO topics.probabilities, Discrepancy #1).
    """
    text = F.col(text_col) if text_col else extract_text_col(set(df.columns))
    return (
        df.withColumn("__e", enrich_udf(text))                 # F4, U1, U2
        .filter(confidence_gate("__e.sentiment"))              # F4/F5
        .withColumn("sentiment", F.col("__e.sentiment"))
        .withColumn("topics", F.col("__e.topics"))
        .withColumn("processed_at", F.current_timestamp())     # P2
        .withColumn("processor", F.lit(PROCESSOR_NAME))
        .withColumn(
            "route_subject",
            route_subject(F.col("sentiment.sentiment"), F.col("topics.top_topic")),
        )
        .drop("__e")
    )


def mean_6dp_sql(col: str, div: str = "div") -> str:
    """SQL aggregate: mean of a 6dp-rounded double, rounded half-up to 6 dp.

    Computed in integer micro-units, so the sum is exact and
    order-independent across partitions, and ``(2s + n) div 2n`` rounds an
    exact tie at the 7th decimal the same way in Spark and DuckDB (a double
    division before ``round(…, 6)`` splits such ties between the engines).
    ``round`` comes before the cast because a Spark cast truncates where a
    DuckDB cast rounds. ``div`` is the integer-division operator: ``div``
    in Spark, ``//`` in DuckDB."""
    s = f"sum(CAST(round({col} * 1e6) AS BIGINT))"
    return f"((2 * {s} + count(*)) {div} (2 * count(*))) / 1e6"


def enriched_route_counts(df: DataFrame,
                          text_col: str | None = None) -> DataFrame:
    """Flagship query: enrich then count per routing key (sentiment ×
    top_topic) — the reference's M4/M5 distribution snapshot over the
    output stream, ordered for determinism."""
    return (
        enrich_posts(df, text_col=text_col)
        .groupBy(
            F.col("sentiment.sentiment").alias("sentiment"),
            F.col("topics.top_topic").alias("top_topic"),
        )
        .agg(
            F.count("*").alias("n_posts"),
            F.expr(mean_6dp_sql("sentiment.confidence"))
            .alias("avg_confidence"),
        )
        .orderBy("sentiment", "top_topic")
    )

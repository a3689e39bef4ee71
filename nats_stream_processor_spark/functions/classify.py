"""Arrow-vectorized classifier UDFs — the production execution path for the
sentiment/topic stages (U1/U2).

Why pandas UDFs and not pure Column expressions: the stand-in classifiers
are expressible as built-in expressions (the DuckDB SQL twins in
sentiment.py / topics.py are exactly that), but on Spark Catalyst duplicates
projection expressions into downstream filters and grouping keys
(PushDownPredicate / CollapseProject do not share heavy subtrees), which
multiplies the ~20 keyword-count subexpressions per reference — measured
>100x slowdown on the composed pipeline. A pandas UDF evaluates ONCE per
row in an ArrowEvalPython node whose outputs are plain attributes, so the
plan stays small and the work stays linear. This also mirrors the reference
architecture, where both models are opaque per-message functions
(reference: src/sentiment.py:91-174, src/topic_classifier.py:100-200) — the
Spark mapping called for in SURVEY.md §2A (U1/U2: per-executor state inside
a pandas_udf, Arrow batches replacing per-message calls).

The enrichment pipeline runs both stages through ONE UDF, ``enrich_udf``:
its kernel ``enrich_batch`` replays the reference's per-message order
(src/service.py:100-150) over a whole Arrow batch — F4 blank text, U1
sentiment, F5 confidence gate, U2 topics on the passing rows only — so a
micro-batch crosses into Python once. Each crossing costs a fixed
~70-110 ms per batch whatever its row count, which dominates a small
streaming batch. ``sentiment_udf`` / ``topics_udf`` stay for the
single-stage registry queries, which classify every row ungated.

Values are bit-identical to the SQL twins (floats rounded to
FLOAT_ROUND_DP on both engines), which the oracle checks assert.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ..config import FLOAT_ROUND_DP, SENTIMENT_CONFIDENCE_THRESHOLD
from .sentiment import NEGATIVE_WORDS, NEUTRAL_BIAS, POSITIVE_WORDS
from .text import TOKEN_RE
from .topics import LABELS, SCORE_OFFSET, TOPIC_KEYWORDS

SENTIMENT_SCHEMA = StructType([
    StructField("sentiment", StringType()),
    StructField("confidence", DoubleType()),
    StructField("probabilities", StructType([
        StructField("negative", DoubleType()),
        StructField("neutral", DoubleType()),
        StructField("positive", DoubleType()),
    ])),
])

TOPICS_SCHEMA = StructType([
    StructField("topics", ArrayType(StringType())),
    StructField("top_topic", StringType()),
    StructField("top_confidence", DoubleType()),
])

ENRICH_SCHEMA = StructType([
    StructField("sentiment", SENTIMENT_SCHEMA),
    StructField("topics", TOPICS_SCHEMA),
])

_TOKEN = re.compile(TOKEN_RE)
_NEG = frozenset(NEGATIVE_WORDS)
_POS = frozenset(POSITIVE_WORDS)
# keyword -> topic-label index (keywords are disjoint across labels)
_KW2LABEL: dict[str, int] = {
    w: i for i, lab in enumerate(LABELS) for w in TOPIC_KEYWORDS[lab]
}
_NLAB = len(LABELS)


def _exploded_tokens(texts: pd.Series) -> pd.Series:
    """One row per token occurrence, indexed by source-row position.

    pandas `.str` tokenization + explode keeps the whole batch in C loops;
    the previous per-row `re.findall` Python loop was the hottest Python in
    the streaming path (VERDICT r1 #7)."""
    return (
        texts.reset_index(drop=True).fillna("")
        .str.lower().str.findall(_TOKEN).explode().dropna()
    )


def _occurrence_counts(ex: pd.Series, n: int, vocab: frozenset) -> np.ndarray:
    """Per-row occurrence counts (with multiplicity) of tokens in vocab."""
    hits = ex[ex.isin(vocab)]
    out = np.zeros(n, dtype=np.float64)
    np.add.at(out, hits.index.to_numpy(dtype=np.int64), 1)
    return out


def sentiment_batch(texts: pd.Series, dp: int = FLOAT_ROUND_DP) -> pd.DataFrame:
    """Vectorized sentiment over a batch; same math as
    sentiment.sentiment_sql_columns."""
    n = len(texts)
    ex = _exploded_tokens(texts)
    neg = _occurrence_counts(ex, n, _NEG)
    pos = _occurrence_counts(ex, n, _POS)
    neu = np.full(n, NEUTRAL_BIAS)
    logits = np.stack([neg, neu, pos], axis=1)  # index order = label ids
    mx = logits.max(axis=1, keepdims=True)
    e = np.exp(logits - mx)
    probs = np.round(e / e.sum(axis=1, keepdims=True), dp)
    idx = logits.argmax(axis=1)  # first max wins, like np.argmax in reference
    labels = np.array(["negative", "neutral", "positive"])[idx]
    conf = probs.max(axis=1)
    return pd.DataFrame({
        "sentiment": labels,
        "confidence": conf,
        "probabilities": [
            {"negative": p[0], "neutral": p[1], "positive": p[2]} for p in probs
        ],
    })


def topics_batch(texts: pd.Series, dp: int = FLOAT_ROUND_DP) -> pd.DataFrame:
    """Vectorized topics over a batch; same math as
    topics.topics_sql_columns."""
    n = len(texts)
    ex = _exploded_tokens(texts)
    # n x n_labels keyword-occurrence matrix in one scatter-add pass
    lab_idx = ex.map(_KW2LABEL).dropna()
    counts = np.zeros((n, _NLAB), dtype=np.int64)
    np.add.at(
        counts,
        (lab_idx.index.to_numpy(dtype=np.int64),
         lab_idx.to_numpy(dtype=np.int64)),
        1,
    )
    mx = counts.max(axis=1)
    top_idx = counts.argmax(axis=1)  # first max = alphabetical tie-break
    labels_arr = np.array(LABELS)
    hit = counts >= 1
    rows_topics: list[list[str]] = []
    rows_top: list[str] = []
    for i in range(n):
        top = LABELS[top_idx[i]]
        above = list(labels_arr[hit[i]])
        if top not in above:  # U2d: top always included
            above = sorted(above + [top])
        rows_topics.append(above)
        rows_top.append(top)
    conf = np.round(1.0 / (1.0 + np.exp(SCORE_OFFSET - mx.astype(np.float64))), dp)
    return pd.DataFrame(
        {"topics": rows_topics, "top_topic": rows_top, "top_confidence": conf}
    )


def enrich_batch(texts: pd.Series) -> pd.DataFrame:
    """F4 -> U1 -> F5 -> U2 over one batch, in the reference's stage order
    (src/service.py:110-127), as ``sentiment`` / ``topics`` columns of
    dicts.

    - NULL or blank text (F4: empty after trimming spaces, like Spark's
      ``trim`` in ``non_empty_text``) reaches neither kernel and gets NULL
      for both fields;
    - ``sentiment_batch`` runs on the remaining rows;
    - ``topics_batch`` runs only on the rows whose confidence passes the
      F5 gate; gated rows get NULL ``topics``.

    The gate that drops rows stays a Column filter after the UDF
    (``confidence_gate``); this one only spares gated rows the topic
    stage."""
    n = len(texts)
    sentiment = np.full(n, None, dtype=object)
    topics = np.full(n, None, dtype=object)
    live = np.flatnonzero(texts.fillna("").str.strip(" ").str.len().to_numpy() > 0)
    if live.size:
        s = sentiment_batch(texts.iloc[live])
        sentiment[live] = s.to_dict("records")
        passed = live[s["confidence"].to_numpy() >= SENTIMENT_CONFIDENCE_THRESHOLD]
        if passed.size:
            topics[passed] = topics_batch(texts.iloc[passed]).to_dict("records")
    return pd.DataFrame({"sentiment": sentiment, "topics": topics})


@F.pandas_udf(SENTIMENT_SCHEMA)
def _sentiment_udf_raw(texts: pd.Series) -> pd.DataFrame:
    return sentiment_batch(texts)


@F.pandas_udf(TOPICS_SCHEMA)
def _topics_udf_raw(texts: pd.Series) -> pd.DataFrame:
    return topics_batch(texts)


@F.pandas_udf(ENRICH_SCHEMA)
def _enrich_udf_raw(texts: pd.Series) -> pd.DataFrame:
    return enrich_batch(texts)


# Marked non-deterministic as an OPTIMIZER FENCE, not because values vary.
# The F5 confidence gate is a Filter on the fused struct, ABOVE the UDF;
# a deterministic UDF would let Catalyst push that filter below the
# classifier's input projection (and any repartition under it) by
# re-evaluating the UDF on the filter path — the models would then run
# twice per row, the first run on the scan's (possibly single) input
# partitions instead of the spread ones. Non-deterministic expressions are
# never duplicated or moved across Exchange/Filter boundaries, so each
# classifier runs exactly once per row, and the gate can only run after
# it. Since no filter sits below ``enrich_udf``, Catalyst also has no text
# probe to push into the JSON decode, which then parses each payload once
# for the row and once for its ``uri`` guard.
sentiment_udf = _sentiment_udf_raw.asNondeterministic()
topics_udf = _topics_udf_raw.asNondeterministic()
enrich_udf = _enrich_udf_raw.asNondeterministic()

"""Deterministic lexicon sentiment classifier (stand-in for the reference's
RoBERTa int8 ONNX model).

Output shape and semantics mirror the reference exactly
(reference: src/sentiment.py:124-174):

- 3-class {negative, neutral, positive} with a numerically-stable softmax
  over class scores (reference: src/sentiment.py:22-25, max-subtracted);
- ``sentiment`` = argmax with numpy argmax tie-breaking (first index wins,
  index order negative=0, neutral=1, positive=2 — reference:
  src/sentiment.py:35,156-158);
- ``confidence`` = max probability;
- the 0.4 confidence gate is applied OUTSIDE this function, between the
  sentiment and topic stages (reference: src/service.py:118-120).

Scores: pos = #positive-lexicon tokens, neg = #negative-lexicon tokens,
neutral = constant bias NEUTRAL_BIAS. Pure function of ``text``. This
module holds the lexicons and the DuckDB SQL twin; the Spark form is the
Arrow kernel in classify.py, which the oracle verifies bit-for-bit against
the SQL twin (floats rounded to FLOAT_ROUND_DP, see config.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import FLOAT_ROUND_DP, SENTIMENT_CONFIDENCE_THRESHOLD

# Lexicons cover both the synthetic documents vocabulary and the reference's
# smoke corpus ("This is a great day!" / "I hate this weather" —
# reference: docker-compose.yml:31-32).
POSITIVE_WORDS = (
    "fast", "big", "value", "great", "good", "love", "happy", "best",
    "win", "awesome", "excellent", "nice",
)
NEGATIVE_WORDS = (
    "slow", "small", "dup", "hate", "bad", "terrible", "worst", "sad",
    "awful", "error", "fail", "broken",
)
# Constant "neutral" logit. Below 1.0 so a single lexicon hit decides the
# class (at 1.0 a one-hit text ties the bias and the numpy-argmax tie-break
# would label it neutral, unlike the reference model on its smoke corpus
# "This is a great day!" -> positive, docker-compose.yml:31).
NEUTRAL_BIAS = 0.5

LABELS = ("negative", "neutral", "positive")  # index order = reference id2label


def confidence_gate(sentiment: Column | str) -> Column:
    """F5: rows below the sentiment-confidence threshold are dropped before
    the topic stage (reference: src/sentiment.py:108-115, src/service.py:118-120)."""
    c = F.col(sentiment) if isinstance(sentiment, str) else sentiment
    return c["confidence"] >= F.lit(SENTIMENT_CONFIDENCE_THRESHOLD)


# ---------------------------------------------------------------- SQL twin
#
# Composed as a CTE chain (see topics.py for the pattern):
#   WITH d AS (SELECT *, {tokens_sql('text')} AS toks FROM documents),
#        c AS (SELECT *, {sentiment_count_sql_defs('toks')} FROM d)
#   SELECT {sentiment_sql_columns()} FROM c


def sentiment_count_sql_defs(toks_expr: str = "toks") -> str:
    """SELECT-list fragment defining ``sc_neg`` / ``sc_pos`` lexicon counts."""
    def in_list(words: tuple[str, ...]) -> str:
        lits = ", ".join(f"'{w}'" for w in words)
        return f"CAST(len(list_filter({toks_expr}, t -> t IN ({lits}))) AS DOUBLE)"
    return (
        f"{in_list(NEGATIVE_WORDS)} AS sc_neg, {in_list(POSITIVE_WORDS)} AS sc_pos"
    )


def sentiment_sql_columns(dp: int = FLOAT_ROUND_DP) -> dict[str, str]:
    """DuckDB SQL fragments over the ``sc_neg``/``sc_pos`` count columns.

    Returns {name: sql_expr} for: sentiment, confidence, p_negative,
    p_neutral, p_positive — same values as ``classify.sentiment_udf``.
    """
    neg, pos, neu = "sc_neg", "sc_pos", f"{NEUTRAL_BIAS:.1f}"
    mx = f"greatest({neg}, {neu}, {pos})"
    e = {k: f"exp({v} - {mx})" for k, v in {"neg": neg, "neu": neu, "pos": pos}.items()}
    denom = f"({e['neg']} + {e['neu']} + {e['pos']})"
    p = {k: f"round({v} / {denom}, {dp})" for k, v in e.items()}
    label = (
        f"CASE WHEN {neg} >= {neu} AND {neg} >= {pos} THEN 'negative' "
        f"WHEN {neu} >= {pos} THEN 'neutral' ELSE 'positive' END"
    )
    conf = f"greatest({p['neg']}, {p['neu']}, {p['pos']})"
    return {
        "sentiment": label,
        "confidence": conf,
        "p_negative": p["neg"],
        "p_neutral": p["neu"],
        "p_positive": p["pos"],
    }

"""Deterministic keyword multi-label topic classifier (stand-in for the
reference's tweet-topic-21 quantized ONNX model).

Reference parity (src/topic_classifier.py:130-200):
- 19-label vocabulary (the reference reads id2label from the model config,
  src/topic_classifier.py:63-69; we pin the same cardenal label set);
- per-label sigmoid score (src/topic_classifier.py:22-23);
- multi-label include when score >= 0.5 (src/topic_classifier.py:161-172,
  threshold src/config.py:40);
- per-row top-1 = highest score (src/topic_classifier.py:174-177), ties
  broken by label order;
- **top_topic is always a member of ``topics`` even when below threshold**
  (src/topic_classifier.py:179-182) — so ``topics`` is never empty.

Score for label L = sigmoid(#keyword-hits(L) - 0.5): >=1 hit clears the 0.5
threshold, 0 hits does not, and more hits rank higher. Pure function of
``text``. This module holds the keyword table and the DuckDB SQL twin
below; the Spark form is the Arrow kernel in classify.py.
"""

from __future__ import annotations

from ..config import FLOAT_ROUND_DP

# The reference's 19 labels (README.md:164-174), alphabetical order. Keywords
# are drawn from the synthetic documents vocabulary plus natural words so the
# classifier is meaningful on both the driver corpus and free text.
TOPIC_KEYWORDS: dict[str, tuple[str, ...]] = {
    "arts_&_culture": ("art", "arts", "culture", "column"),
    "business_&_entrepreneurs": ("business", "customer", "value", "order", "market"),
    "celebrity_&_pop_culture": ("celebrity", "pop", "famous"),
    "daily_life": ("day", "life", "weather", "line", "daily"),
    "family": ("family", "parent", "kids"),
    "fashion_&_style": ("fashion", "style", "wear"),
    "film_tv_&_video": ("film", "tv", "video", "movie"),
    "fitness_&_health": ("fitness", "health", "workout"),
    "food_&_dining": ("food", "dining", "restaurant", "eat"),
    "gaming": ("game", "gaming", "play"),
    "learning_&_educational": ("learn", "learning", "school", "query", "table"),
    "music": ("music", "song", "album"),
    "news_&_social_concern": ("news", "stream", "event", "politics"),
    "other_hobbies": ("hobby", "batch", "window", "craft"),
    "relationships": ("relationship", "join", "merge", "friend"),
    "science_&_technology": ("technology", "tech", "science", "spark", "vector", "data", "hash"),
    "sports": ("sport", "sports", "fast", "sort", "race"),
    "travel_&_adventure": ("travel", "adventure", "scan", "trip"),
    "youth_&_student_life": ("youth", "student", "group", "campus"),
}
LABELS = tuple(sorted(TOPIC_KEYWORDS))  # alphabetical == tie-break order
SCORE_OFFSET = 0.5  # sigmoid(cnt - offset): cnt>=1 -> >0.5, cnt==0 -> <0.5


# ---------------------------------------------------------------- SQL twin
#
# The oracle SQL is composed as a CTE chain so the tokenization and keyword
# counts are evaluated once per row:
#   WITH d AS (SELECT *, {tokens_sql('text')} AS toks FROM documents),
#        c AS (SELECT *, {topic_count_sql_defs('toks')} FROM d)
#   SELECT {topics_sql_columns()} FROM c


def topic_count_sql_defs(toks_expr: str = "toks") -> str:
    """SELECT-list fragment defining one keyword-hit-count column per label
    (``tc_0`` .. ``tc_18``, in LABELS order)."""
    defs = []
    for i, lab in enumerate(LABELS):
        lits = ", ".join(f"'{w}'" for w in TOPIC_KEYWORDS[lab])
        defs.append(f"len(list_filter({toks_expr}, t -> t IN ({lits}))) AS tc_{i}")
    return ", ".join(defs)


def topics_sql_columns(dp: int = FLOAT_ROUND_DP) -> dict[str, str]:
    """DuckDB SQL fragments over the ``tc_*`` count columns: topics_str
    (comma-joined sorted list), top_topic, top_confidence — same values as
    ``classify.topics_udf``."""
    cnts = {lab: f"tc_{i}" for i, lab in enumerate(LABELS)}
    mx = "greatest(" + ", ".join(cnts.values()) + ")"
    top = "CASE " + " ".join(
        f"WHEN {cnts[lab]} = {mx} THEN '{lab}'" for lab in LABELS[:-1]
    ) + f" ELSE '{LABELS[-1]}' END"
    sig = f"round(1.0 / (1.0 + exp({SCORE_OFFSET} - CAST({mx} AS DOUBLE))), {dp})"
    above = " || ".join(
        f"(CASE WHEN {cnts[lab]} >= 1 THEN ['{lab}'] ELSE [] END)" for lab in LABELS
    )
    topics = f"list_sort(list_distinct(({above}) || [{top}]))"
    return {
        "topics_str": f"array_to_string({topics}, ',')",
        "topics_list": topics,
        "top_topic": top,
        "top_confidence": sig,
    }

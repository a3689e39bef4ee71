"""Text primitives: tokenization and the reference's 5-way text coalesce.

Reference parity:
- text extraction fallback chain ``text -> record.text -> content -> body ->
  message -> ''`` (reference: src/service.py:152-172);
- empty/whitespace text filter (reference: src/service.py:110-113).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Word tokenizer shared by the sentiment/topic classifiers and the text-stats
# operators. Kept to a character class both Java regex (Spark) and RE2
# (DuckDB) treat identically.
TOKEN_RE = "[a-z0-9]+"

# Reference: src/service.py:152-172 — candidate fields, in priority order.
TEXT_FALLBACK_FIELDS = ("text", "record.text", "content", "body", "message")


def tokens_col(text: Column | str) -> Column:
    """Lower-cased word tokens of ``text`` as array<string> (JVM-side)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_RE), 0)


def tokens_sql(expr: str) -> str:
    """DuckDB equivalent of :func:`tokens_col`."""
    return f"regexp_extract_all(lower({expr}), '{TOKEN_RE}')"


def extract_text_col(available: set[str] | None = None) -> Column:
    """The reference's 5-way coalesce projection (P1).

    ``available`` restricts the chain to columns that exist on the input
    DataFrame (the reference probes dict keys at runtime; Spark needs the
    columns to resolve).
    """
    fields = [f for f in TEXT_FALLBACK_FIELDS if available is None or f.split(".")[0] in available]
    cols = [F.col(f) for f in fields] or [F.lit(None).cast("string")]
    return F.coalesce(*cols, F.lit(""))


def non_empty_text(text: Column | str) -> Column:
    """F4: keep rows whose extracted text is non-empty after trim
    (reference: src/service.py:110-113). Spark's ``trim`` strips spaces
    only; classify.enrich_batch applies the same test in pandas."""
    c = F.col(text) if isinstance(text, str) else text
    return F.length(F.trim(c)) > 0

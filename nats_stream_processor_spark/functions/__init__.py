"""Scalar function library.

Each classifier has one Spark form and one ANSI-SQL twin:

- the Spark form is an Arrow-vectorized pandas UDF (classify.py), and
- the SQL twin is a DuckDB-dialect fragment generator (sentiment.py,
  topics.py) used for oracle checking.

This keeps the engine's results independently reproducible, and it keeps
the classifiers deterministic (the reference's ONNX models are replaced
by lexicon/keyword stand-ins with identical output shape and gating
semantics; see SURVEY.md §7 and FIXTURES.md §4).
"""

from .sentiment import sentiment_sql_columns  # noqa: F401
from .topics import topics_sql_columns  # noqa: F401
from .text import tokens_col, tokens_sql, extract_text_col  # noqa: F401

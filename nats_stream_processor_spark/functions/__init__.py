"""Scalar function library.

Each classifier has one Spark kernel and one ANSI-SQL twin:

- the Spark kernel is Arrow-vectorized pandas code (classify.py); the
  enrichment pipeline runs both kernels through one fused pandas UDF, and
  the single-stage registry queries through one UDF each, and
- the SQL twin is a DuckDB-dialect fragment generator (sentiment.py,
  topics.py) used for oracle checking.

This keeps the engine's results independently reproducible, and it keeps
the classifiers deterministic (the reference's ONNX models are replaced
by lexicon/keyword stand-ins with identical output shape and gating
semantics; see SURVEY.md §7 and FIXTURES.md §4).
"""

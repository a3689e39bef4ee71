"""The token-hash n-gram front end (operators/dedup.py) is the one place
text becomes token hashes, and it evaluates md5 once per token.

Catalyst cannot share a subexpression that holds a lambda, so an inline
token-hash transform is re-run at every reference: 34 md5 calls per
token in a 16-gram shingle fold, one full re-hash per span in the
rolling span fold. The builders project ``hs`` by name; these tests keep
it that way and keep every caller behind them."""

from __future__ import annotations

import ast
import pathlib

from pyspark.sql import functions as F

from conftest import SF_SMOKE

PKG = pathlib.Path(__file__).resolve().parent.parent / "nats_stream_processor_spark"


def _calls(path: pathlib.Path, names: set[str]) -> list[str]:
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else (
                f.attr if isinstance(f, ast.Attribute) else None)
            if name in names:
                out.append(f"{path.relative_to(PKG.parent)}:{node.lineno} {name}")
    return out


def test_token_hashes_and_shingles_are_built_only_in_dedup_ops():
    home = PKG / "operators" / "dedup.py"
    stray = [c for p in sorted(PKG.rglob("*.py")) if p != home
             for c in _calls(p, {"token_hashes_32_col", "shingle_ids_tok_col"})]
    assert stray == [], stray


def _md5_calls(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count("md5(")


def test_front_end_hashes_each_token_once(spark):
    from nats_stream_processor_spark.operators.dedup import (
        SPAN_K,
        span_ids_col,
        token_ngram_frame,
    )
    from nats_stream_processor_spark.registry import table

    d = table(spark, SF_SMOKE, "documents")
    shingles = token_ngram_frame(d, ["doc_id"], n=16)
    spans = token_ngram_frame(d, ["doc_id"], n=None).select(
        "doc_id", F.posexplode(span_ids_col(F.col("hs"), SPAN_K)))
    assert _md5_calls(shingles) == 1
    assert _md5_calls(spans) == 1

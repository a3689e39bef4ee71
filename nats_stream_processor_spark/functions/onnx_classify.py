"""Optional ONNX-backed classifier UDFs — the production-parity execution
path mirroring the reference's real models (sentiment:
cardiffnlp/twitter-roberta-base-sentiment-latest int8 ONNX, topics:
tweet-topic-21-multi quantized ONNX; reference: src/sentiment.py:38-89,
src/topic_classifier.py:39-98).

Architecture (the Spark mapping of L1, SURVEY.md §2A):

- models load ONCE per Python worker via a module-level cache keyed by
  model path (the reference loads once per pod in a thread executor;
  Spark's analog is lazy per-worker state inside the pandas UDF);
- inference runs on Arrow batches — pad-to-longest within the batch
  replaces the reference's per-message no-padding tokenization
  (src/sentiment.py:127-133), the single biggest throughput lever over
  per-message inference (SURVEY.md §4);
- ORT intra-op threads are pinned to 1: Spark already runs one Python
  worker per core, so per-session thread pools would oversubscribe
  (the reference uses 0 = all cores because it is one process per pod,
  src/sentiment.py:67-69 — copying that here would thrash).

The two UDFs are standalone: a caller applies them to a text column
itself. Nothing swaps them into ``operators/enrich.enrich_posts``, whose
one fused step (``classify.enrich_udf``) runs the lexicon kernels.

When onnxruntime/transformers are not installed, the factories raise
ImportError with guidance; the deterministic lexicon classifiers
(functions/classify.py) are the default execution path and are what the
DuckDB oracle verifies. Outputs here are rows-only checkable by design
(model floats are not SQL-reproducible).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .classify import SENTIMENT_SCHEMA, TOPICS_SCHEMA

try:  # pragma: no cover - not installed in this environment
    import onnxruntime as ort
    from transformers import AutoTokenizer
    HAVE_ONNX = True
except ImportError:
    ort = None
    AutoTokenizer = None
    HAVE_ONNX = False

_SESSIONS: dict = {}  # per-worker cache: model path -> (session, tokenizer)

SENTIMENT_LABELS = ("negative", "neutral", "positive")  # id order, reference: src/sentiment.py:35
MAX_TOKENS = 512  # truncation limit, reference: src/sentiment.py:131


def _require_onnx() -> None:
    if not HAVE_ONNX:
        raise ImportError(
            "onnxruntime + transformers are required for the ONNX classifier "
            "path (pip install onnxruntime transformers); the deterministic "
            "lexicon classifiers in functions/classify.py are the default"
        )


def _load(model_path: str, tokenizer_path: str):  # pragma: no cover
    """L1: per-worker lazy singleton (reference loads per pod,
    src/sentiment.py:38-89)."""
    key = (model_path, tokenizer_path)
    if key not in _SESSIONS:
        opts = ort.SessionOptions()
        opts.graph_optimization_level = ort.GraphOptimizationLevel.ORT_ENABLE_ALL
        # one worker per core already — avoid nested thread pools (§4)
        opts.intra_op_num_threads = 1
        opts.inter_op_num_threads = 1
        _SESSIONS[key] = (
            ort.InferenceSession(model_path, opts),
            AutoTokenizer.from_pretrained(tokenizer_path),
        )
    return _SESSIONS[key]


def _softmax(logits: np.ndarray) -> np.ndarray:
    # max-subtracted stable softmax (reference: src/sentiment.py:22-25)
    e = np.exp(logits - logits.max(axis=-1, keepdims=True))
    return e / e.sum(axis=-1, keepdims=True)


def _sigmoid(x: np.ndarray) -> np.ndarray:
    # reference: src/topic_classifier.py:22-23
    return 1.0 / (1.0 + np.exp(-x))


def make_onnx_sentiment_udf(model_path: str, tokenizer_path: str):
    """pandas_udf: text -> sentiment struct via the ONNX model. Batch
    tokenization pads to the longest sequence in the Arrow batch."""
    _require_onnx()
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(SENTIMENT_SCHEMA)
    def onnx_sentiment(texts: pd.Series) -> pd.DataFrame:  # pragma: no cover
        session, tokenizer = _load(model_path, tokenizer_path)
        enc = tokenizer(
            texts.fillna("").tolist(), return_tensors="np", padding=True,
            truncation=True, max_length=MAX_TOKENS,
        )
        feeds = {i.name: enc[i.name].astype(np.int64)
                 for i in session.get_inputs() if i.name in enc}
        logits = session.run(None, feeds)[0]
        probs = _softmax(logits)
        idx = probs.argmax(axis=1)
        return pd.DataFrame({
            "sentiment": [SENTIMENT_LABELS[i] for i in idx],
            "confidence": probs.max(axis=1).astype(float),
            "probabilities": [
                {"negative": float(p[0]), "neutral": float(p[1]),
                 "positive": float(p[2])}
                for p in probs
            ],
        })

    return onnx_sentiment


def make_onnx_topics_udf(model_path: str, tokenizer_path: str,
                         id2label: dict[int, str], threshold: float = 0.5):
    """pandas_udf: text -> topics struct (multi-label sigmoid >= threshold,
    top topic always included — reference: src/topic_classifier.py:161-182)."""
    _require_onnx()
    from pyspark.sql.functions import pandas_udf

    labels = [id2label[i] for i in range(len(id2label))]

    @pandas_udf(TOPICS_SCHEMA)
    def onnx_topics(texts: pd.Series) -> pd.DataFrame:  # pragma: no cover
        session, tokenizer = _load(model_path, tokenizer_path)
        enc = tokenizer(
            texts.fillna("").tolist(), return_tensors="np", padding=True,
            truncation=True, max_length=MAX_TOKENS,
        )
        feeds = {i.name: enc[i.name].astype(np.int64)
                 for i in session.get_inputs() if i.name in enc}
        scores = _sigmoid(session.run(None, feeds)[0])
        out_topics, out_top, out_conf = [], [], []
        for row in scores:
            top_i = int(row.argmax())
            chosen = [labels[i] for i, s in enumerate(row) if s >= threshold]
            if labels[top_i] not in chosen:  # U2d
                chosen.append(labels[top_i])
            out_topics.append(sorted(set(chosen)))
            out_top.append(labels[top_i])
            out_conf.append(float(row[top_i]))
        return pd.DataFrame({
            "topics": out_topics, "top_topic": out_top,
            "top_confidence": out_conf,
        })

    return onnx_topics

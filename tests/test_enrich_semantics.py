"""Golden-row tests for the reference's edge semantics (FIXTURES.md §1
row variants; citations are to /root/reference).

These pin the behaviors the oracle queries can't see in isolation:
- P1 5-way text coalesce order (src/service.py:152-172)
- F4 empty-text drop (src/service.py:110-113)
- F5 confidence gate drops BEFORE the topic stage (src/service.py:118-120)
- U2d top_topic always in topics (src/topic_classifier.py:179-182)
- D1 exact-key dedup on (uri, cid) (src/nats_client.py:244-266)
- P2 output shape: no topics.probabilities (Discrepancy #1), passthrough of
  unknown fields (src/nats_client.py:228)
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from nats_stream_processor_spark.operators.enrich import enrich_posts
from nats_stream_processor_spark.streaming.pipeline import enrich_stream

RAW_SCHEMA = (
    "uri string, cid string, author string, text string, "
    "record struct<text: string>, content string, body string, "
    "message string, langs array<string>"
)


def make_posts(spark, rows):
    return spark.createDataFrame(rows, RAW_SCHEMA)


def base_row(**kw):
    d = dict(uri=None, cid=None, author="did:plc:test", text=None,
             record=None, content=None, body=None, message=None, langs=None)
    d.update(kw)
    return tuple(d[k] for k in ["uri", "cid", "author", "text", "record",
                                "content", "body", "message", "langs"])


def test_smoke_corpus_sentiments(spark):
    # The reference's mock-ingest corpus (docker-compose.yml:31-32) plus the
    # README smoke text (README.md:412).
    df = make_posts(spark, [
        base_row(uri="at://test/1", text="This is a great day!"),
        base_row(uri="at://test/2", text="I hate this weather"),
        base_row(uri="at://test/3", text="This is a great day for technology news!"),
    ])
    out = {r["uri"]: r for r in enrich_posts(df).collect()}
    assert out["at://test/1"]["sentiment"]["sentiment"] == "positive"
    assert out["at://test/2"]["sentiment"]["sentiment"] == "negative"
    r3 = out["at://test/3"]
    assert r3["sentiment"]["sentiment"] == "positive"
    # multi-topic text hits both science_&_technology and news_&_social_concern
    assert "science_&_technology" in r3["topics"]["topics"]
    assert "news_&_social_concern" in r3["topics"]["topics"]


def test_text_coalesce_fallback_chain(spark):
    df = make_posts(spark, [
        base_row(uri="u1", text="love this", content="IGNORED hate"),
        base_row(uri="u2", record=Row(text="love this nested")),
        base_row(uri="u3", content="love content"),
        base_row(uri="u4", body="love body"),
        base_row(uri="u5", message="love message"),
    ])
    out = {r["uri"]: r for r in enrich_posts(df).collect()}
    # Priority order: text > record.text > content > body > message
    assert out["u1"]["sentiment"]["sentiment"] == "positive"  # from `text`
    for u in ["u2", "u3", "u4", "u5"]:
        assert out[u]["sentiment"]["sentiment"] == "positive", u


def test_empty_and_missing_text_dropped(spark):
    df = make_posts(spark, [
        base_row(uri="keep", text="great day"),
        base_row(uri="empty", text=""),
        base_row(uri="spaces", text="   "),
        base_row(uri="nowhere"),  # no text in any field
    ])
    uris = [r["uri"] for r in enrich_posts(df).collect()]
    assert uris == ["keep"]


def test_confidence_gate_between_stages(spark):
    # A long neutral text: many tokens, no lexicon hits -> neutral score 1
    # vs 0 vs 0 -> confidence ~0.576 >= 0.4 passes; to force a gated row we
    # need a mixed text where the max softmax prob < 0.4 — with 3 classes
    # that requires near-uniform scores: one positive + one negative hit vs
    # neutral bias 1.0 gives probs (1/3, 1/3, 1/3).
    df = make_posts(spark, [
        base_row(uri="gated", text="love hate"),       # 1 pos, 1 neg, bias 1
        base_row(uri="kept", text="love love great"),  # clearly positive
    ])
    out = enrich_posts(df)
    rows = {r["uri"]: r for r in out.collect()}
    assert "gated" not in rows
    assert rows["kept"]["sentiment"]["confidence"] >= 0.4


def test_enrich_batch_stage_order_per_row(monkeypatch):
    """The fused kernel keeps the reference's stage order inside one
    batch (src/service.py:110-127), no Spark needed: NULL and blank text
    (F4) reach neither classifier, the sentiment kernel sees exactly the
    non-blank rows, and the topic kernel exactly the rows that pass the
    F5 gate. Gated rows come back with NULL topics, blank ones with NULL
    for both fields."""
    import pandas as pd

    from nats_stream_processor_spark.config import SENTIMENT_CONFIDENCE_THRESHOLD
    from nats_stream_processor_spark.functions import classify

    seen = {}

    def spy(name):
        kernel = getattr(classify, name)

        def wrapped(texts, *a, **kw):
            seen.setdefault(name, []).extend(texts.tolist())
            return kernel(texts, *a, **kw)
        monkeypatch.setattr(classify, name, wrapped)

    spy("sentiment_batch")
    spy("topics_batch")
    texts = ["", "great day", "   ", "love hate", None, "\tgreat", "love hate",
             "zzz qqq"]
    out = classify.enrich_batch(pd.Series(texts))

    assert seen["sentiment_batch"] == [
        "great day", "love hate", "\tgreat", "love hate", "zzz qqq"]
    assert seen["topics_batch"] == ["great day", "\tgreat", "zzz qqq"]
    assert len(out) == len(texts)
    for i, t in enumerate(texts):
        s, tp = out["sentiment"][i], out["topics"][i]
        if t is None or not t.strip(" "):
            assert s is None and tp is None, t
        elif t == "love hate":
            assert s["confidence"] < SENTIMENT_CONFIDENCE_THRESHOLD
            assert tp is None
        else:
            assert s["confidence"] >= SENTIMENT_CONFIDENCE_THRESHOLD
            assert tp["top_topic"] in tp["topics"]
    # the unfused kernels give the same values on the rows they see
    assert out["sentiment"][1] == classify.sentiment_batch(
        pd.Series(["great day"])).to_dict("records")[0]


def test_top_topic_always_included_and_shape(spark):
    # Text with zero topic-keyword hits: every label scores sigmoid(-0.5)
    # < 0.5, so `topics` would be empty — U2d forces top_topic in.
    df = make_posts(spark, [base_row(uri="u", text="zzz qqq great")])
    r = enrich_posts(df).collect()[0]
    topics = r["topics"]
    assert topics["top_topic"] in topics["topics"]
    assert len(topics["topics"]) >= 1
    # Discrepancy #1: no probabilities key in the topics struct.
    assert "probabilities" not in topics.asDict()
    # route subject = prefix.sentiment.top_topic (P3)
    assert r["route_subject"] == (
        f"bluesky.posts.enriched.{r['sentiment']['sentiment']}.{topics['top_topic']}"
    )


def test_dedup_on_uri_cid(spark):
    df = make_posts(spark, [
        base_row(uri="a", cid="1", text="great day"),
        base_row(uri="a", cid="1", text="great day"),   # exact duplicate
        base_row(uri="a", cid="2", text="great day"),   # different cid kept
        base_row(uri="b", cid=None, text="great day"),  # null cid kept
        base_row(uri="b", cid=None, text="great day"),  # null cid kept
    ])
    out = enrich_stream(df).select("uri", "cid").collect()
    pairs = sorted((r["uri"], r["cid"] or "") for r in out)
    # (a,1) deduped to one; (a,2) kept; both (b,null) kept: the reference
    # sets no Nats-Msg-Id without a cid, so JetStream dedups neither.
    assert pairs == [("a", "1"), ("a", "2"), ("b", ""), ("b", "")]


def test_passthrough_unknown_fields(spark):
    df = make_posts(spark, [
        base_row(uri="u", text="great", langs=["en", "pt"]),
    ])
    r = enrich_posts(df).collect()[0]
    assert r["langs"] == ["en", "pt"]
    assert r["processor"] == "nats-stream-processor-spark"
    assert r["processed_at"] is not None


def test_probabilities_sum_to_one(spark):
    df = make_posts(spark, [
        base_row(uri=f"u{i}", text=t) for i, t in enumerate(
            ["great day", "hate this", "just words here", "love win best", ""])
    ])
    for r in enrich_posts(df).collect():
        p = r["sentiment"]["probabilities"]
        assert abs(p["negative"] + p["neutral"] + p["positive"] - 1.0) < 1e-5


def test_flagship_mean_rounds_exact_tie_identically(spark):
    """enrich_flagship's avg_confidence on a planted tie group: the mean
    of 0.599313 and 0.599314 is exactly 0.5993135, which a double division
    before round(…, 6) resolves differently in Spark and DuckDB. The
    integer micro-unit form rounds it half-up to 0.599314 on both engines,
    and leaves a non-tie group's mean as the plain 6dp rounding."""
    import duckdb

    from nats_stream_processor_spark.operators.enrich import mean_6dp_sql

    rows = [("tie", 0.599313), ("tie", 0.599314)] + [
        ("twelve", c) for c in (0.5, 0.6, 0.7, 0.8, 0.9, 0.400001,
                                0.45, 0.55, 0.65, 0.75, 0.85, 0.95)]
    got = {r["g"]: r["m"] for r in (
        spark.createDataFrame(rows, "g string, c double")
        .groupBy("g").agg(F.expr(mean_6dp_sql("c")).alias("m")).collect())}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g VARCHAR, c DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    oracle = dict(con.execute(
        f"SELECT g, {mean_6dp_sql('c', div='//')} FROM t GROUP BY g"
    ).fetchall())
    con.close()
    assert got == oracle
    assert got["tie"] == 0.599314
    assert got["twelve"] == round(8.100001 / 12, 6) == 0.675

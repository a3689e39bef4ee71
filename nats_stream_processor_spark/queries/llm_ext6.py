"""Round-8 operators: readability scoring, exact-substring removal
that MATERIALIZES cleaned text, and cross-modal retrieval evaluation.

These register inside the round-8 sampled window (registry.py's
SAMPLE_PREFIX_EXPECTED), so each expects its formal driver row in the
round it was written. All three follow the house contract: identical
column aliases on both engines, integer-exact or int-quantized outputs,
scalar-only final schemas, and a DuckDB oracle that replays every step.

The three operators extend the LLM-data-pipeline surface along the axes
the round-7 verdict named thinnest:

- ``text_flesch_readability``  — Flesch reading-ease with a
  deterministic syllable approximation; integer micro-unit score, so
  the value (and any threshold built on it) is engine-exact. Joins the
  Gopher/C4 quality family.
- ``dedup_substring_apply``    — the APPLY side of exact-substring
  dedup: where dedup_span_removal_plan only reports coverage, this
  emits the cleaned text with every corpus-duplicated K-token span
  removed (the RefinedWeb-style cut actually applied).
- ``sim_crossmodal_recall``    — text-query -> image-doc retrieval
  eval: recall@k of multi-table LSH-bucketed ANN against the exact
  cosine ranking, per pinned query. The aligned-embedding-space framing
  sim_rrf_fusion already uses, turned into the recall report a
  retrieval team reads before sizing an index.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Registry import FIRST among intra-package imports (worker re-import
# ordering; see llm_ext2.py's header note).
from ..registry import REGISTRY, pin, register, spread, table

from ..functions.text import tokens_col, tokens_sql
from ..operators import kmeans as km
from ..operators import similarity as sim
from .knn_shared import two_phase_top_k, vectors

# ------------------------------------------------ Flesch reading ease

# Flesch reading ease = 206.835 - 1.015*(words/sentences)
#                               - 84.6*(syllables/word).
# Syllables are approximated deterministically: the number of vowel-run
# matches ([aeiouy]+) in the lower-cased token, minus one when the token
# ends in 'e' with >= 2 runs (silent-e heuristic), floored at 1. The
# score is computed entirely in int64 micro-units with truncating
# integer division — identical on both engines at every boundary, so
# the banding CASE below can never flip cross-engine (no ln(), no
# doubles anywhere in this operator).
FLESCH_BANDS = (  # (min flesch_micro, label) — descending
    (90_000_000, "very_easy"),
    (70_000_000, "easy"),
    (50_000_000, "medium"),
    (30_000_000, "difficult"),
)

_SENT_RE = "[.!?]+"
_VOWEL_RE = "[aeiouy]+"


def _syllables_col(toks: F.Column) -> F.Column:
    """Summed per-token syllable approximation (int64, JVM-side)."""
    def syl(w):
        runs = F.size(F.regexp_extract_all(w, F.lit(_VOWEL_RE), 0))
        silent_e = F.when(w.endswith("e") & (runs >= 2), F.lit(1)) \
                    .otherwise(F.lit(0))
        return F.greatest(F.lit(1), runs - silent_e).cast("long")
    return F.aggregate(F.transform(toks, syl), F.lit(0).cast("long"),
                       lambda acc, x: acc + x)


@register(
    "text_flesch_readability",
    oracle=None,  # set below
    tags=("llm", "text-quality", "readability"),
)
def q_flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document, integer-exact: word count
    (shared [a-z0-9]+ tokenizer), sentence count ([.!?]+ runs, floored
    at 1), syllable approximation (vowel runs with a silent-e rule),
    and the classic score in int64 micro-units with a readability band.
    The surface-quality feature next to the Gopher/C4 curation filters.

    Scale shape: map-only over documents — tokenize, two regexp
    extractions, one in-array fold; ZERO shuffles before the output
    sort. Every quantity is an int64 and both divisions are truncating
    integer division, so score and band are engine-exact by
    construction (no libm calls at all)."""
    d = spread(table(spark, sf_dir, "documents"))
    m = d.select(
        "doc_id",
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_words"),
        F.size(F.regexp_extract_all(
            F.col("text"), F.lit(_SENT_RE), 0)).cast("long")
        .alias("n_sentences"),
        _syllables_col(tokens_col(F.col("text"))).alias("n_syllables"))
    w = F.greatest(F.col("n_words"), F.lit(1))
    s = F.greatest(F.col("n_sentences"), F.lit(1))
    scored = m.select(
        "doc_id", "n_words", "n_sentences", "n_syllables",
        w.alias("w"), s.alias("s"))
    band = F.lit("very_difficult")
    expr = None
    for lo, label in reversed(FLESCH_BANDS):
        cond = F.col("flesch_micro") >= lo
        expr = F.when(cond, F.lit(label)).otherwise(
            expr if expr is not None else band)
    return (scored
            .withColumn("flesch_micro", F.expr(
                "cast(206835000 - (1015000 * w) div s"
                " - (84600000 * n_syllables) div w as bigint)"))
            .select("doc_id", "n_words", "n_sentences", "n_syllables",
                    "flesch_micro", expr.alias("band"))
            .orderBy("doc_id"))


def _flesch_oracle() -> str:
    bands = " ".join(
        f"WHEN flesch_micro >= {lo} THEN '{label}'"
        for lo, label in FLESCH_BANDS)
    syl = (f"CAST(greatest(1, len(regexp_extract_all(w, '{_VOWEL_RE}'))"
           f" - CASE WHEN w LIKE '%e' AND"
           f" len(regexp_extract_all(w, '{_VOWEL_RE}')) >= 2"
           f" THEN 1 ELSE 0 END) AS BIGINT)")
    return f"""
    WITH t AS (SELECT doc_id, {tokens_sql('text')} AS toks,
                      CAST(len(regexp_extract_all(text, '{_SENT_RE}'))
                           AS BIGINT) AS n_sentences
               FROM documents),
    m AS (SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_words,
                 n_sentences,
                 CAST(list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                                  list_transform(toks, w -> {syl})),
                     (acc, x) -> acc + x) AS BIGINT) AS n_syllables,
                 greatest(CAST(len(toks) AS BIGINT), 1) AS w,
                 greatest(n_sentences, 1) AS s
          FROM t),
    f AS (SELECT doc_id, n_words, n_sentences, n_syllables,
                 CAST(206835000 - (1015000 * w) // s
                      - (84600000 * n_syllables) // w AS BIGINT)
                   AS flesch_micro
          FROM m)
    SELECT doc_id, n_words, n_sentences, n_syllables, flesch_micro,
           CASE {bands} ELSE 'very_difficult' END AS band
    FROM f ORDER BY doc_id
    """


# --------------------------------- exact-substring removal, applied

# Per-doc length guard (the winnowing np < 2^20 discipline): the
# reassembly below rebuilds one document's cleaned text in ONE row via
# collect_list — bounded by doc length, so a pathological multi-million-
# token doc would concentrate its whole token array in a single
# executor row. Docs at or above the cap are excluded outright on BOTH
# engines (none exist in any fixture; at real scale a >1M-token doc
# belongs in a length-capped preprocessing tier anyway).
SUBSTR_MAX_DOC_TOKENS = 1 << 20


@register(
    "dedup_substring_apply",
    oracle=None,  # set below
    tags=("llm", "dedup-substring", "removal", "materialize"),
)
def q_substring_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY side of exact-substring dedup: find every K-token span
    whose rolling-hash gram appears in >= 2 documents (same K, hash,
    and gram construction as dedup_span_removal_plan, kept in sync via
    the shared constants), take the per-doc UNION of covered token
    positions, and emit the document with those tokens REMOVED —
    cleaned_text plus (n_tokens, n_removed). This is the RefinedWeb-
    style exact-substring cut actually applied, where the r4 plan
    query only reported coverage.

    Scale shape: gram/dup-detection shuffles carry (gram, doc_id) and
    (doc_id, pos) ints only; the K-wide position explode amplifies
    duplicated spans only (bounded by K x dup-span count). Token
    STRINGS ride exactly one shuffle — the per-doc reassembly groupBy,
    inherent to materializing cleaned text and the same volume as the
    documents themselves. The ordered rebuild is array_sort over
    (pos, token) structs, never a window over text; single-row size is
    bounded by the SUBSTR_MAX_DOC_TOKENS exclusion (see the constant
    block)."""
    from ..operators.dedup import SPAN_K, span_ids_col, token_ngram_frame
    k = SPAN_K
    d = spread(table(spark, sf_dir, "documents"))
    h = pin(token_ngram_frame(
        d, ["doc_id", tokens_col(F.col("text")).alias("toks")], n=None)
        .filter(F.size("toks") < SUBSTR_MAX_DOC_TOKENS))
    s = pin(h.select(
        "doc_id",
        F.posexplode(span_ids_col(F.col("hs"), k)).alias("pos0", "gram"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram"))
    dup = (s.groupBy("gram").agg(F.count_distinct("doc_id").alias("nd"))
           .filter(F.col("nd") >= 2).select("gram"))
    cov = (s.join(dup, "gram")
           .select(F.col("doc_id").alias("cdoc"),
                   F.explode(F.sequence(
                       F.col("pos"), F.col("pos") + (k - 1))).alias("cpos"))
           .distinct())
    tok = (h.select("doc_id", F.posexplode("toks").alias("tp0", "tok"))
           .select("doc_id", (F.col("tp0") + 1).alias("tpos"), "tok"))
    kept = tok.join(
        cov, (tok["doc_id"] == cov["cdoc"]) & (tok["tpos"] == cov["cpos"]),
        "left_anti")
    agg = (kept.groupBy("doc_id")
           .agg(F.count("*").cast("bigint").alias("n_kept"),
                F.concat_ws(" ", F.transform(
                    F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                    lambda st: st["tok"])).alias("cleaned_text")))
    base = h.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
    return (base.join(agg, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
                    .cast("bigint").alias("n_removed"),
                    F.coalesce("cleaned_text", F.lit(""))
                    .alias("cleaned_text"))
            .orderBy("doc_id"))


def _substring_apply_oracle() -> str:
    from ..operators.dedup import SPAN_K
    from .llm_ext2 import _span_cov_ctes
    k = SPAN_K
    return f"""
    {_span_cov_ctes(max_doc_tokens=SUBSTR_MAX_DOC_TOKENS)},
    cov AS (SELECT DISTINCT doc_id, pos + o AS cpos
            FROM (SELECT doc_id, pos, unnest(range(0, {k})) AS o FROM sd)),
    tokpos AS (SELECT doc_id, i AS tpos, toks[i] AS tok
               FROM (SELECT doc_id, toks,
                            unnest(range(1, len(toks) + 1)) AS i FROM t)),
    kept AS (SELECT tp.doc_id,
                    CAST(count(*) AS BIGINT) AS n_kept,
                    string_agg(tp.tok, ' ' ORDER BY tp.tpos)
                      AS cleaned_text
             FROM tokpos tp LEFT JOIN cov c
               ON c.doc_id = tp.doc_id AND c.cpos = tp.tpos
             WHERE c.doc_id IS NULL
             GROUP BY 1)
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(len(t.toks) - coalesce(k2.n_kept, 0) AS BIGINT)
             AS n_removed,
           coalesce(k2.cleaned_text, '') AS cleaned_text
    FROM t LEFT JOIN kept k2 USING (doc_id)
    ORDER BY doc_id
    """


# --------------------------------------- cross-modal retrieval recall

# Text-query -> image-doc retrieval evaluation in an aligned embedding
# space (the CLIP-style setup; the embeddings table plays the encoded
# image side, and the pinned query vectors play text-encoder outputs —
# same alignment framing as sim_rrf_fusion / sim_mmr_diverse_topk).
# For each query: exact cosine top-K, multi-table sign-LSH candidate
# retrieval re-ranked by the same exact cosine, and recall@K of the
# ANN set against the exact set. Query buckets and norms are computed
# at Python build time with the engines' exact left-fold order and
# embedded as LITERALS in both plans, so no query-side arithmetic runs
# in-engine at all; doc-side buckets use the audited
# lsh_buckets_multi / lsh_buckets_multi_sql pair.
XM_NQ = 6       # pinned query panel size
XM_TOPK = 10    # recall@K


def _pinned_qvec(q: int) -> list[float]:
    return [((sim._h32(f"xmodal_q{q}_{d}") % 2001) - 1000) / 1000.0
            for d in range(sim.EMBED_DIM)]


def _qbuckets(v: list[float]) -> list[int]:
    planes = sim.hyperplanes(sim.LSH_TABLES * sim.LSH_PLANES)
    out = []
    for t in range(sim.LSH_TABLES):
        b = 0
        for p in range(sim.LSH_PLANES):
            if km._dot_py(planes[t * sim.LSH_PLANES + p], v) >= 0.0:
                b += 1 << p
        out.append(b)
    return out


XM_QVECS = [_pinned_qvec(q) for q in range(XM_NQ)]
XM_QNORMS = [math.sqrt(km._dot_py(v, v)) for v in XM_QVECS]
XM_QBUCKETS = [_qbuckets(v) for v in XM_QVECS]


@register(
    "sim_crossmodal_recall",
    oracle=None,  # set below
    tags=("llm", "similarity", "crossmodal", "recall"),
)
def q_crossmodal_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal retrieval eval: for each of XM_NQ pinned text-side
    queries against the image-side embedding corpus, recall@K of
    multi-table LSH-bucketed ANN (collision in ANY of LSH_TABLES
    tables, re-ranked by exact cosine) versus the exact cosine top-K,
    plus the candidate-set size — the per-query recall/cost report an
    index-sizing decision reads.

    Scale shape: the corpus scans ONCE (buckets + norm computed per
    row, then the bounded query panel explodes against it); ranking is
    the scalable two-phase top-K — per-(query, input-partition) rank
    first (Q x P parallel keys, never Q-partition skew), then a global
    rank over the surviving Q x P x K rows. Everything that shuffles is
    (int, int) rows; the recall join touches only two Q x K sets.
    Cosine is ppm-quantized before ranking (ties broken on vec_id), so
    both rankings are exact-integer on both engines."""
    base = pin(
        vectors(spread(table(spark, sf_dir, "embeddings")))
        .select("vec_id", "demb",
                sim.lsh_buckets_multi(F.col("demb")).alias("bks"), "nrm"))
    panel = F.explode(F.array(*[
        F.struct(
            F.lit(q).cast("bigint").alias("query_id"),
            sim.plane_lit(XM_QVECS[q]).alias("qvec"),
            F.lit(XM_QNORMS[q]).alias("qnorm"),
            F.array(*[F.lit(b) for b in XM_QBUCKETS[q]]).alias("qb"))
        for q in range(XM_NQ)]))
    cand_cond = None
    for t in range(sim.LSH_TABLES):
        c = (F.element_at("bks", t + 1) == F.element_at(F.col("p.qb"), t + 1))
        cand_cond = c if cand_cond is None else (cand_cond | c)
    scored = pin(
        base.select("vec_id", "demb", "bks", "nrm", panel.alias("p"))
        .select("vec_id",
                F.col("p.query_id").alias("query_id"),
                F.floor((sim.dot(F.col("p.qvec"), F.col("demb"))
                         / (F.col("p.qnorm") * F.col("nrm")))
                        * F.lit(1e6) + F.lit(0.5)).cast("long")
                .alias("rel_ppm"),
                cand_cond.alias("cand")))

    def topk(df: DataFrame) -> DataFrame:
        return (two_phase_top_k(df, "rel_ppm", XM_TOPK)
                .select("query_id", "vec_id"))

    exact = topk(scored)
    ann = topk(scored.filter(F.col("cand")))
    nc = (scored.filter(F.col("cand")).groupBy("query_id")
          .agg(F.count("*").cast("bigint").alias("n_candidates")))
    hits = (exact.join(ann, ["query_id", "vec_id"])
            .groupBy("query_id")
            .agg(F.count("*").cast("bigint").alias("n_hits")))
    qs = spark.range(XM_NQ).select(F.col("id").alias("query_id"))
    return (qs.join(nc, "query_id", "left").join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce("n_candidates", F.lit(0)).cast("bigint")
                    .alias("n_candidates"),
                    F.coalesce("n_hits", F.lit(0)).cast("bigint")
                    .alias("n_hits"),
                    F.expr(f"cast(coalesce(n_hits, 0) * 1000000"
                           f" div {XM_TOPK} as bigint)").alias("recall_ppm"))
            .orderBy("query_id"))


def _crossmodal_oracle() -> str:
    per_query = []
    for q in range(XM_NQ):
        cand = " OR ".join(
            f"bks[{t + 1}] = {XM_QBUCKETS[q][t]}"
            for t in range(sim.LSH_TABLES))
        per_query.append(f"""
        SELECT CAST({q} AS BIGINT) AS query_id, vec_id,
               CAST(floor(({sim.dot_weights_sql(XM_QVECS[q], 'demb')}
                    / (CAST('{XM_QNORMS[q]!r}' AS DOUBLE) * nrm))
                    * 1e6 + 0.5) AS BIGINT) AS rel_ppm,
               ({cand}) AS cand
        FROM base""")
    union = "\n        UNION ALL".join(per_query)
    return f"""
    WITH e AS (SELECT vec_id, {sim.as_double_sql('embedding')} AS demb
               FROM embeddings),
    base AS MATERIALIZED (
        SELECT vec_id, demb,
               {sim.lsh_buckets_multi_sql('demb')} AS bks,
               sqrt({sim.dot_sql('demb', 'demb')}) AS nrm
        FROM e),
    scored AS MATERIALIZED ({union}),
    exact AS (SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY rel_ppm DESC, vec_id)
                       AS rnk
              FROM scored QUALIFY rnk <= {XM_TOPK}),
    ann AS (SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY rel_ppm DESC, vec_id) AS rnk
            FROM scored WHERE cand QUALIFY rnk <= {XM_TOPK}),
    nc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_candidates
           FROM scored WHERE cand GROUP BY 1),
    hits AS (SELECT e2.query_id, CAST(count(*) AS BIGINT) AS n_hits
             FROM exact e2 JOIN ann a
               ON a.query_id = e2.query_id AND a.vec_id = e2.vec_id
             GROUP BY 1),
    qs AS (SELECT CAST(unnest(range(0, {XM_NQ})) AS BIGINT) AS query_id)
    SELECT qs.query_id,
           CAST(coalesce(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n_hits, 0) * 1000000 // {XM_TOPK} AS BIGINT)
             AS recall_ppm
    FROM qs LEFT JOIN nc USING (query_id) LEFT JOIN hits h USING (query_id)
    ORDER BY query_id
    """


# --------------------------------------------- video scene-cut detection

# Shot segmentation over binary video payloads — the temporal analog of
# media_dedup_near_frames' spatial near-dup: sample SCENE_FRAMES evenly
# spaced frame windows per payload, reduce each to an integer feature
# (sum of SCENE_SAMPLES bytes spaced across the window — decode stubbed,
# same contract as every multimodal op here), then declare a CUT where
# consecutive frame features differ by >= SCENE_THRESH. Shots = cuts+1;
# a shot's length in frames drives shot-based sampling for video
# training pipelines. All features and distances are exact int64 from
# payload bytes, so both engines agree at every threshold boundary.
SCENE_FRAMES = 16    # frames sampled per video
SCENE_WINDOW = 64    # bytes per frame window
SCENE_SAMPLES = 8    # bytes summed per window (every WINDOW/SAMPLES-th)
SCENE_THRESH = 64    # |feature delta| that counts as a scene cut

SCENE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_idx", IntegerType()),
    StructField("feat", LongType()),
])


def scene_frame_features(p: bytes) -> list[tuple[int, int]]:
    """(frame_idx, int64 feature) per sampled frame window of one
    payload — the deterministic stub decode shared by media_scene_cuts
    and the shot-level curation in llm_ext8."""
    n = len(p)
    step = SCENE_WINDOW // SCENE_SAMPLES
    out = []
    for j in range(SCENE_FRAMES):
        off = (j * n) // SCENE_FRAMES
        f = 0
        for s in range(SCENE_SAMPLES):
            pos = off + s * step
            if pos < n:
                f += p[pos]
        out.append((j, f))
    return out


def scene_byte_terms_sql() -> str:
    """DuckDB twin of one frame window's byte-sample sum, over hex
    columns hx/n and frame offset column ``off``."""
    step = SCENE_WINDOW // SCENE_SAMPLES
    return " + ".join(
        f"(CASE WHEN off + {s * step} < n THEN CAST('0x' ||"
        f" substr(hx, 2 * (off + {s * step}) + 1, 2) AS BIGINT)"
        f" ELSE 0 END)"
        for s in range(SCENE_SAMPLES))


@register(
    "media_scene_cuts",
    oracle=None,  # set below
    tags=("llm", "multimodal", "video", "scene-cuts"),
)
def q_media_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video shot segmentation: per-payload frame features (mapInPandas,
    decode stubbed to an exact byte-sample sum — see the constant block),
    consecutive-frame deltas via one lag window per doc, cuts at
    |delta| >= SCENE_THRESH, shots via running-sum sessionization over
    the cut flags. Emits per-video shot statistics (n_cuts, n_shots,
    longest shot in frames, total absolute delta).

    Scale shape: payloads never shuffle — the mapInPandas sampler emits
    (id, frame_idx, int) rows and drops the binary before anything
    wide; ONE hash exchange on doc_id serves the lag window, the shot
    sessionization, and both aggregates (same-key windows share the
    partitioning). Frame count is a constant, so per-doc state is
    bounded everywhere. Oracle replays the byte sampling from hex."""
    import pandas as pd

    from ..operators.multimodal import with_payload

    d = with_payload(spread(table(spark, sf_dir, "documents")))

    def feats(batches):
        for pdf in batches:
            rows = []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                for j, f in scene_frame_features(bytes(p)):
                    rows.append((did, j, f))
            yield pd.DataFrame(
                rows, columns=[f.name for f in SCENE_SCHEMA.fields])

    fr = d.select("doc_id", "payload").mapInPandas(feats, SCENE_SCHEMA)
    wlag = Window.partitionBy("doc_id").orderBy("frame_idx")
    delta = (fr.select(
        "doc_id", "frame_idx",
        F.abs(F.col("feat") - F.lag("feat").over(wlag)).alias("ad"))
        .select("doc_id", "frame_idx",
                F.coalesce("ad", F.lit(0)).cast("long").alias("ad"))
        .withColumn("cut",
                    (F.col("ad") >= SCENE_THRESH).cast("int")))
    shots = delta.withColumn(
        "shot", F.sum("cut").over(
            wlag.rowsBetween(Window.unboundedPreceding, 0)))
    slen = (shots.groupBy("doc_id", "shot")
            .agg(F.count("*").cast("bigint").alias("sl")))
    agg1 = (shots.groupBy("doc_id")
            .agg(F.sum("cut").cast("bigint").alias("n_cuts"),
                 F.sum("ad").cast("bigint").alias("total_delta")))
    agg2 = (slen.groupBy("doc_id")
            .agg(F.max("sl").cast("bigint").alias("max_shot_frames")))
    return (agg1.join(agg2, "doc_id")
            .select("doc_id", "n_cuts",
                    (F.col("n_cuts") + 1).cast("bigint").alias("n_shots"),
                    "max_shot_frames", "total_delta")
            .orderBy("doc_id"))


def _scene_cuts_oracle() -> str:
    byte_terms = scene_byte_terms_sql()
    return f"""
    WITH p AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
                      octet_length(encode(text)) AS n
               FROM documents),
    fr AS (SELECT doc_id, j AS frame_idx, ({byte_terms}) AS feat
           FROM (SELECT doc_id, hx, n, unnest(range(0, {SCENE_FRAMES})) AS j,
                        (unnest(range(0, {SCENE_FRAMES})) * n)
                          // {SCENE_FRAMES} AS off
                 FROM p)),
    delta AS (SELECT doc_id, frame_idx,
                     CAST(coalesce(abs(feat - lag(feat) OVER
                          (PARTITION BY doc_id ORDER BY frame_idx)), 0)
                          AS BIGINT) AS ad
              FROM fr),
    cuts AS (SELECT doc_id, frame_idx, ad,
                    CASE WHEN ad >= {SCENE_THRESH} THEN 1 ELSE 0 END AS cut
             FROM delta),
    shots AS (SELECT doc_id, ad, cut,
                     sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
                                    ROWS UNBOUNDED PRECEDING) AS shot
              FROM cuts),
    slen AS (SELECT doc_id, shot, CAST(count(*) AS BIGINT) AS sl
             FROM shots GROUP BY 1, 2),
    agg1 AS (SELECT doc_id, CAST(sum(cut) AS BIGINT) AS n_cuts,
                    CAST(sum(ad) AS BIGINT) AS total_delta
             FROM shots GROUP BY 1),
    agg2 AS (SELECT doc_id, CAST(max(sl) AS BIGINT) AS max_shot_frames
             FROM slen GROUP BY 1)
    SELECT agg1.doc_id, n_cuts,
           CAST(n_cuts + 1 AS BIGINT) AS n_shots,
           max_shot_frames, total_delta
    FROM agg1 JOIN agg2 USING (doc_id)
    ORDER BY doc_id
    """


# ------------------------------------ WordPiece greedy segmentation

# The BERT-family tokenizer, completing the family next to BPE
# (train/apply/top-merges) and the unigram-LM Viterbi: TWO vocabularies
# — word-initial pieces and '##'-marked continuation pieces, each all
# single chars plus the WP_VOCAB_K most frequent 2-4 char substrings of
# its position class (counts weighted by word frequency) — and GREEDY
# longest-match-first decoding (no scores, no DP: at each position take
# the longest vocabulary piece, the classic WordPiece rule). Single
# chars per class guarantee every word segments without UNK: any char
# at a continuation position of a top word occurs at i>1 in that very
# word, so it is in the continuation vocabulary by construction.
WP_MAX_PIECE = 4     # max piece length (chars)
WP_VOCAB_K = 64      # multi-char pieces kept PER CLASS (initial/cont)
WP_WORDS_K = 50      # words segmented (top by corpus frequency)
WP_WORD_MAXLEN = 16  # greedy depth cap

WP_SCHEMA = StructType([
    StructField("word", StringType()),
    StructField("n_pieces", LongType()),
    StructField("seg", StringType()),
    StructField("n_cont", LongType()),
])


@register(
    "tokenizer_wordpiece_apply",
    oracle=None,  # set below
    tags=("llm", "tokenizer", "wordpiece", "greedy"),
)
def q_wordpiece_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece greedy segmentation: train position-class vocabularies
    (word-initial vs '##'-continuation substrings, weighted by corpus
    word frequency, top-WP_VOCAB_K multi-char per class plus all single
    chars), then decode the WP_WORDS_K most frequent words by the
    classic longest-match-first rule. Deliberately DIFFERENT semantics
    from tokenizer_unigram_viterbi: greedy local choice vs global
    max-likelihood, and a split initial/continuation vocabulary.

    Scale shape: vocabulary training is two corpus-wide aggregates with
    map-side partials (word counts, then class-keyed piece counts — the
    explode is bounded by 4 x word length); per-class top-K is one rank
    window over the bounded multi-char piece table; decoding runs on
    the bounded word panel in one cogrouped applyInPandas against the
    broadcast vocabulary. The oracle replays the greedy loop as a
    recursive CTE with a LATERAL longest-match pick."""
    import pandas as pd

    d = spread(table(spark, sf_dir, "documents"))
    wc = pin(d.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
             .groupBy("tok").agg(F.count("*").cast("bigint").alias("c")))
    sub = (wc.select(
        "tok", "c",
        F.explode(F.sequence(F.lit(1), F.length("tok"))).alias("i"))
        .select("tok", "c", "i",
                F.explode(F.sequence(
                    F.lit(1),
                    F.least(F.lit(WP_MAX_PIECE),
                            F.length("tok") - F.col("i") + 1))).alias("l"))
        .select(F.expr("substring(tok, i, l)").alias("piece"),
                F.when(F.col("i") == 1, F.lit(0)).otherwise(F.lit(1))
                .cast("int").alias("is_cont"),
                "c"))
    pieces = pin(sub.groupBy("piece", "is_cont")
                 .agg(F.sum("c").cast("bigint").alias("cnt")))
    chars = pieces.filter(F.length("piece") == 1).select("piece", "is_cont")
    wrank = (Window.partitionBy("is_cont")
             .orderBy(F.col("cnt").desc(), "piece"))
    multi = (pieces.filter(F.length("piece") >= 2)
             .withColumn("r", F.row_number().over(wrank))
             .filter(F.col("r") <= WP_VOCAB_K).select("piece", "is_cont"))
    vocab = (chars.unionByName(multi)
             .select(F.lit(1).alias("g"), "piece", "is_cont"))
    words = (wc.filter(F.length("tok") <= WP_WORD_MAXLEN)
             .orderBy(F.col("c").desc(), "tok").limit(WP_WORDS_K)
             .select(F.lit(1).alias("g"), F.col("tok").alias("word")))

    def decode(words_pdf: pd.DataFrame, vocab_pdf: pd.DataFrame) -> pd.DataFrame:
        init, cont = set(), set()
        for p, ic in zip(vocab_pdf["piece"], vocab_pdf["is_cont"]):
            (cont if ic else init).add(p)
        rows = []
        for word in words_pdf["word"]:
            pos, segs, ncont = 0, [], 0
            while pos < len(word):
                v = init if pos == 0 else cont
                l = min(WP_MAX_PIECE, len(word) - pos)
                while l > 1 and word[pos:pos + l] not in v:
                    l -= 1
                piece = word[pos:pos + l]
                segs.append(piece if pos == 0 else "##" + piece)
                ncont += 0 if pos == 0 else 1
                pos += l
            rows.append((word, len(segs), "|".join(segs), ncont))
        return pd.DataFrame(
            rows, columns=[f.name for f in WP_SCHEMA.fields])

    return (words.groupBy("g")
            .cogroup(vocab.groupBy("g"))
            .applyInPandas(lambda w, v: decode(w, v), WP_SCHEMA)
            .orderBy("word"))


def _wordpiece_oracle() -> str:
    # Same recursive-CTE discipline as _unigram_oracle: no MATERIALIZED
    # anywhere (silently empties the recursion in this DuckDB build),
    # uncorrelated lens table + WHERE guard instead of a correlated
    # range, and no column named like a recursive alias.
    return f"""
    WITH RECURSIVE
    wc AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest({tokens_sql('text')}) AS tok FROM documents)
        GROUP BY 1),
    sub AS (
        SELECT substr(tok, i.i, l.l) AS piece,
               CASE WHEN i.i = 1 THEN 0 ELSE 1 END AS is_cont, c
        FROM wc,
             LATERAL (SELECT unnest(range(1, length(tok) + 1)) AS i) i,
             LATERAL (SELECT unnest(range(1, least({WP_MAX_PIECE},
                          length(tok) - i.i + 1) + 1)) AS l) l),
    pieces AS (SELECT piece, is_cont, CAST(sum(c) AS BIGINT) AS cnt
               FROM sub GROUP BY 1, 2),
    vocab AS (
        SELECT piece, is_cont FROM pieces WHERE length(piece) = 1
        UNION ALL
        SELECT piece, is_cont FROM (
            SELECT piece, is_cont,
                   row_number() OVER (PARTITION BY is_cont
                                      ORDER BY cnt DESC, piece) AS r
            FROM pieces WHERE length(piece) >= 2) WHERE r <= {WP_VOCAB_K}),
    words AS (
        SELECT tok AS word FROM wc WHERE length(tok) <= {WP_WORD_MAXLEN}
        ORDER BY c DESC, tok LIMIT {WP_WORDS_K}),
    lens(x) AS (SELECT unnest(range(1, {WP_MAX_PIECE} + 1))),
    st(word, i, n, seg, np, nc) AS (
        SELECT word, 0, length(word), CAST('' AS VARCHAR),
               CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM words
        UNION ALL
        SELECT s.word, s.i + nxt.len, s.n,
               CASE WHEN s.i = 0 THEN nxt.pc ELSE s.seg || '|##' || nxt.pc
               END,
               s.np + 1,
               s.nc + CASE WHEN s.i = 0 THEN 0 ELSE 1 END
        FROM st s, LATERAL (
            SELECT t.x AS len, v.piece AS pc
            FROM lens t, vocab v
            WHERE t.x <= s.n - s.i
              AND v.is_cont = CASE WHEN s.i = 0 THEN 0 ELSE 1 END
              AND v.piece = substr(s.word, s.i + 1, t.x)
            ORDER BY t.x DESC LIMIT 1) nxt
        WHERE s.i < s.n)
    SELECT word, CAST(np AS BIGINT) AS n_pieces, seg,
           CAST(nc AS BIGINT) AS n_cont
    FROM st WHERE i = n ORDER BY word
    """


REGISTRY["text_flesch_readability"].oracle = _flesch_oracle()
REGISTRY["dedup_substring_apply"].oracle = _substring_apply_oracle()
REGISTRY["sim_crossmodal_recall"].oracle = _crossmodal_oracle()
REGISTRY["media_scene_cuts"].oracle = _scene_cuts_oracle()
REGISTRY["tokenizer_wordpiece_apply"].oracle = _wordpiece_oracle()

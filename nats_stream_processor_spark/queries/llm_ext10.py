"""Round-11 operators: substring-dedup curation faces.

Certification status (the honest-labeling house rule):

- ``dedup_max_duplicated_run`` / ``dedup_containment_drop_plan`` /
  ``split_leakage_report`` / ``events_sliding_quantile_hist`` /
  ``text_looping_run_report`` — written in round 11, formal rows
  round 11 (all green).
- Round 12: the cross-doc pair builders gained the SPAN_DF_CAP
  anti-join (the r11 verdict's weak marker — hot boilerplate spans
  would quadratic the span_id key on real corpora), so
  ``dedup_max_duplicated_run`` / ``dedup_containment_drop_plan``
  re-certify inside the r12 window per the house rule, and the new
  ``dedup_span_df_stats`` diagnostic (the cap's no-silent-caps
  receipts) earns its first formal row there too.
  ``text_looping_run_report`` is untouched (intra-document matching
  is DF-immune — a span's document frequency counts DISTINCT docs).

``dedup_substring_spans`` (queries/llm.py) answers "which K-token
spans repeat across documents"; the curation decision a dedup pipeline
actually takes ("drop doc B — it is a near-verbatim extract of A")
needs the MAXIMAL duplicated run between each document pair: the
longest stretch of consecutive shared spans. This module computes it
without suffix arrays or automata — a position-keyed span match plus
gaps-and-islands on match diagonals, the distributed reformulation of
the diagonal-runs view of longest-common-substring: a common run of
length L tokens is exactly L - K + 1 consecutive span matches on one
diagonal (pa - pb constant), so per-diagonal islands of consecutive
positions recover every maximal run exactly. The drop plan is the
action face: every document whose ENTIRE span sequence appears
contiguously in a larger (or equal-content, smaller-id) document is
dropped, kept_in pointing at its best container — provably always a
SURVIVOR, because contiguous containment is transitive (if X, C's
argmax container, were itself contained in Y, then C ⊂ Y too with
n_spans(Y) >= n_spans(X), so the argmax would have picked Y).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Registry import FIRST among intra-package imports (worker re-import
# ordering; see llm_ext2.py's header note).
from ..registry import REGISTRY, register, spread, table

from ..operators.dedup import (
    MERSENNE_P as _P,
    SHINGLE_COMB as _COMB,
    SPAN_DF_CAP,
    SPAN_K,
    span_ids_col,
    token_hashes_32_duck_sql,
    token_ngram_frame,
)
from ..functions.text import tokens_col

# ----------------------------- maximal duplicated run per doc pair

# Same span construction as dedup_substring_spans (K consecutive token
# hashes folded by the exact-int64 rolling polynomial), but keeping the
# span's POSITION: span p of doc d covers tokens [p, p + SPAN_K). Two
# docs sharing spans at positions (pa, pb) and (pa+1, pb+1) share a
# K+1-token run — consecutive matches on the diagonal pa - pb — so the
# maximal duplicated run in TOKENS is (longest island of consecutive pa
# per (pair, diagonal)) + K - 1. Docs shorter than SPAN_K tokens carry no
# spans and cannot participate (a sub-K duplicate is below the
# granularity this operator is defined at — dedup_ngram_jaccard covers
# that regime).


# Shared oracle CTE chain: tokens -> per-token hashes -> positioned
# spans -> per-doc span counts (the _SPAN_CTES prefix, also consumed by
# the dedup_span_df_stats diagnostic) -> DF cap -> diagonal islands ->
# per-pair run stats. Both pair operators' oracles append their tails
# to _RUN_CTES. The generators take (src, tag, lead) so a SECOND chain
# over a derived corpus (llm_ext14's dedup_drop_plan_execute re-verifies
# containment on the SURVIVOR set) can coexist in one statement; the
# defaults render byte-identical text to the pre-r13 constants (pinned
# by tests/test_oracle_parity's md5 snapshot discipline).


def span_ctes_sql(src: str = "documents", tag: str = "",
                  lead: str = "WITH ") -> str:
    return f"""
    {lead}t{tag} AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
               FROM {src}),
    h{tag} AS (SELECT doc_id, {token_hashes_32_duck_sql('toks')} AS hs FROM t{tag}
          WHERE len(toks) >= {SPAN_K}),
    g{tag} AS (SELECT doc_id,
                 list_transform(
                     range(1, len(hs) - {SPAN_K} + 2),
                     i -> list_reduce(
                         list_prepend(CAST(0 AS BIGINT),
                                      list_slice(hs, i, i + {SPAN_K} - 1)),
                         (acc, x) -> (acc * {_COMB} + x) % {_P})) AS spans
          FROM h{tag}),
    sp{tag} AS (SELECT doc_id, unnest(range(0, len(spans))) AS pos,
                  unnest(spans) AS span_id
           FROM g{tag}),
    ns{tag} AS (SELECT doc_id, CAST(len(spans) AS BIGINT) AS n_spans FROM g{tag})"""


def run_ctes_sql(src: str = "documents", tag: str = "",
                 lead: str = "WITH ") -> str:
    return span_ctes_sql(src, tag, lead) + f""",
    hot{tag} AS (SELECT span_id
            FROM (SELECT span_id, count(DISTINCT doc_id) AS d
                  FROM sp{tag} GROUP BY span_id)
            WHERE d > {SPAN_DF_CAP}),
    spc{tag} AS (SELECT sp{tag}.doc_id, sp{tag}.pos, sp{tag}.span_id
            FROM sp{tag} ANTI JOIN hot{tag} USING (span_id)),
    m{tag} AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.pos AS pa, a.pos - b.pos AS diag
          FROM spc{tag} a JOIN spc{tag} b
            ON a.span_id = b.span_id AND a.doc_id < b.doc_id),
    r{tag} AS (SELECT doc_a, doc_b, diag,
                 pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                         ORDER BY pa) AS isl
          FROM m{tag}),
    runs{tag} AS (SELECT doc_a, doc_b, diag, isl,
                    count(*) AS run_len
             FROM r{tag} GROUP BY doc_a, doc_b, diag, isl),
    pairs{tag} AS (SELECT doc_a, doc_b,
                     CAST(max(run_len) AS BIGINT) AS max_run_spans,
                     CAST(sum(run_len) AS BIGINT) AS n_shared_positions
              FROM runs{tag} GROUP BY doc_a, doc_b)"""


_SPAN_CTES = span_ctes_sql()
_RUN_CTES = run_ctes_sql()


def _positioned_spans(d: DataFrame) -> DataFrame:
    """(doc_id, pos, span_id): the rolling-hash span at each 0-based
    token position — the shared relation every operator in this module
    matches on."""
    return token_ngram_frame(d, ["doc_id"], n=None).select(
        "doc_id",
        F.posexplode(span_ids_col(F.col("hs"), SPAN_K))
        .alias("pos", "span_id"))


def _span_counts(d: DataFrame) -> DataFrame:
    """(doc_id, n_spans) for docs with at least one span — needs only
    the token COUNT (len - K + 1), no second md5 pass over the corpus.
    The Spark twin of the ns CTE."""
    return (d.select("doc_id",
                     (F.size(tokens_col(F.col("text"))) - SPAN_K + 1)
                     .cast("long").alias("n_spans"))
            .filter(F.col("n_spans") >= 1))


def _span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared builder: per-pair run stats joined with both sides' span
    counts — (doc_a, doc_b, n_shared_positions, max_run_spans,
    n_spans_a, n_spans_b). The Spark twin of _RUN_CTES."""
    return span_pairs_from(spread(table(spark, sf_dir, "documents")))


def span_pairs_from(d: DataFrame) -> DataFrame:
    """_span_pairs over an explicit documents frame — so llm_ext14's
    drop-plan EXECUTE can re-run the identical pair plan on the
    survivor corpus (the Spark twin of run_ctes_sql(src=..., tag=...))."""
    k = SPAN_K
    sp = _positioned_spans(d)
    ns = _span_counts(d)
    # DF cap BEFORE pairing (operators/dedup.py SPAN_DF_CAP comment):
    # a span in D docs emits ~D^2/2 pairs; ubiquitous boilerplate spans
    # would make the span_id join quadratic on a single key at 100 TB.
    # The hot set is tiny (<= occurrences/cap spans), so the anti-join
    # broadcasts under AQE; denominator counts (ns) stay uncapped.
    dfc = sp.groupBy("span_id").agg(
        F.count_distinct("doc_id").alias("span_df"))
    hot = dfc.filter(F.col("span_df") > SPAN_DF_CAP).select("span_id")
    spc = sp.join(hot, "span_id", "left_anti")
    a = spc.select(F.col("doc_id").alias("doc_a"),
                   F.col("pos").alias("pa"), "span_id")
    b = spc.select(F.col("doc_id").alias("doc_b"),
                   F.col("pos").alias("pb"), "span_id")
    m = (a.join(b, "span_id")
         .filter(F.col("doc_a") < F.col("doc_b"))
         .select("doc_a", "doc_b", "pa",
                 (F.col("pa") - F.col("pb")).alias("diag")))
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = (m.withColumn("isl", F.col("pa") - F.row_number().over(w))
            .groupBy("doc_a", "doc_b", "diag", "isl")
            .agg(F.count("*").alias("run_len")))
    pairs = (runs.groupBy("doc_a", "doc_b")
             .agg(F.max("run_len").cast("long").alias("max_run_spans"),
                  F.sum("run_len").cast("long")
                  .alias("n_shared_positions")))
    na = ns.select(F.col("doc_id").alias("doc_a"),
                   F.col("n_spans").alias("n_spans_a"))
    nb = ns.select(F.col("doc_id").alias("doc_b"),
                   F.col("n_spans").alias("n_spans_b"))
    return pairs.join(na, "doc_a").join(nb, "doc_b")


@register(
    "dedup_max_duplicated_run",
    oracle=_RUN_CTES + f"""
    SELECT p.doc_a, p.doc_b, p.n_shared_positions, p.max_run_spans,
           CAST(p.max_run_spans + {SPAN_K} - 1 AS BIGINT) AS max_run_tokens,
           p.max_run_spans = least(na.n_spans, nb.n_spans)
               AS full_containment
    FROM pairs p JOIN ns na ON na.doc_id = p.doc_a
                 JOIN ns nb ON nb.doc_id = p.doc_b
    ORDER BY doc_a, doc_b
    """,
    tags=("llm", "dedup-substring", "gaps-and-islands"),
)
def q_max_duplicated_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token run per document pair (module comment
    above): one row per pair sharing at least one {SPAN_K}-token span,
    with the total shared span matches, the longest consecutive run in
    spans and in tokens, and the superstring-extract flag — TRUE when
    the maximal run covers the smaller document's ENTIRE span sequence
    (its text is a contiguous substring of the other, up to the
    tokenizer; the curation signal "drop B, keep A").

    Scale shape: span ids with positions are O(n_tokens) JVM
    expressions per doc (no Python); the pair match is an equi-join on
    span_id over the DF-CAPPED span relation (SPAN_DF_CAP in
    operators/dedup.py — a span in D docs emits ~D^2/2 pairs, so
    ubiquitous boilerplate is dropped before pairing, with the spectrum
    and dropped mass reported by dedup_span_df_stats), never all-pairs
    — and every shuffle carries (span_id, doc_id, pos) ints, never
    text. Semantic license of the cap: a run witnessed ONLY by
    above-cap boilerplate spans does not surface (the MOSS/winnowing
    convention); runs through sub-cap spans are exact as before.
    The islands window is partitioned by (pair, diagonal): its
    per-partition row count is bounded by the shorter document's span
    count, the per-doc-window license every text operator here uses
    (no burst-chunking needed — the key cannot concentrate mass beyond
    one document's length, unlike the event-time sessionization in
    llm_ext8). Run totals come out of two partial+final aggregates on
    pair keys; the n_spans join is id-keyed."""
    return (_span_pairs(spark, sf_dir)
            .select("doc_a", "doc_b", "n_shared_positions",
                    "max_run_spans",
                    (F.col("max_run_spans") + SPAN_K - 1).cast("long")
                    .alias("max_run_tokens"),
                    (F.col("max_run_spans")
                     == F.least("n_spans_a", "n_spans_b"))
                    .alias("full_containment"))
            .orderBy("doc_a", "doc_b"))


# ------------------------------- containment drop plan (action face)

@register(
    "dedup_containment_drop_plan",
    oracle=_RUN_CTES + f""",
    drops AS (
        SELECT CASE WHEN na.n_spans < nb.n_spans THEN p.doc_a
                    ELSE p.doc_b END AS doc_id,
               CASE WHEN na.n_spans < nb.n_spans THEN p.doc_b
                    ELSE p.doc_a END AS container,
               CASE WHEN na.n_spans < nb.n_spans THEN nb.n_spans
                    ELSE na.n_spans END AS c_spans
        FROM pairs p JOIN ns na ON na.doc_id = p.doc_a
                     JOIN ns nb ON nb.doc_id = p.doc_b
        WHERE p.max_run_spans = least(na.n_spans, nb.n_spans)),
    best AS (SELECT doc_id, container, c_spans,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY c_spans DESC, container)
                        AS rk
             FROM drops)
    SELECT b.doc_id, b.container AS kept_in, ns.n_spans,
           CAST(ns.n_spans + {SPAN_K} - 1 AS BIGINT) AS tokens_saved
    FROM best b JOIN ns ON ns.doc_id = b.doc_id
    WHERE b.rk = 1
    ORDER BY b.doc_id
    """,
    tags=("llm", "dedup-substring", "curation", "action"),
)
def q_containment_drop_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The action face of dedup_max_duplicated_run: one row per DROPPED
    document — a doc whose entire span sequence appears contiguously in
    a strictly larger document, or in an equal-content document with a
    smaller id (the exact-duplicate tie-break) — with the container it
    is kept in (best = most spans, tie on smaller id; provably a
    survivor by the transitivity argument in the module comment), the
    dropped doc's span count, and the tokens a removal saves.

    Scale shape: everything corpus-scale is the audited pair builder
    (_span_pairs — equi-join on span_id, int-only shuffles, pair-keyed
    windows); the drop layer adds one projection over the pair rows, a
    per-dropped-doc rank window (per-partition mass = that doc's
    container count), and one id-keyed join back to the span counts."""
    p = _span_pairs(spark, sf_dir)
    contained_a = F.col("n_spans_a") < F.col("n_spans_b")
    drops = (p.filter(F.col("max_run_spans")
                      == F.least("n_spans_a", "n_spans_b"))
             .select(F.when(contained_a, F.col("doc_a"))
                     .otherwise(F.col("doc_b")).alias("doc_id"),
                     F.when(contained_a, F.col("doc_b"))
                     .otherwise(F.col("doc_a")).alias("container"),
                     F.when(contained_a, F.col("n_spans_b"))
                     .otherwise(F.col("n_spans_a")).alias("c_spans"),
                     F.when(contained_a, F.col("n_spans_a"))
                     .otherwise(F.col("n_spans_b")).alias("n_spans")))
    w = Window.partitionBy("doc_id").orderBy(F.col("c_spans").desc(),
                                             "container")
    return (drops.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("doc_id", F.col("container").alias("kept_in"),
                    "n_spans",
                    (F.col("n_spans") + SPAN_K - 1).cast("long")
                    .alias("tokens_saved"))
            .orderBy("doc_id"))


# ------------------------------- span DF spectrum (the cap's receipts)

# The span-family analog of dedup_lsh_band_stats: the pair joins above
# are DF-capped (SPAN_DF_CAP, operators/dedup.py), and a cap must never
# be silent — this diagnostic reports the full span document-frequency
# spectrum in power-of-two buckets with, per bucket, the span count,
# the total positioned occurrences, and the PAIR MASS (sum of
# D*(D-1)/2 — the candidate pairs the uncapped self-join would emit),
# split by whether the bucket's spans survive the cap. The capped=true
# rows ARE the dropped mass report: their n_occurrences is the span
# mass removed from the pair relation and their pair_mass is the
# quadratic work the cap avoided. Magnitude discipline: a per-span
# pair count D*(D-1)/2 fits int64 up to DF ~4.2e9 documents-per-span
# (the practical bound); the bucket SUMS are computed wide (Spark
# decimal(38,0), DuckDB HUGEINT) and narrowed to int64 once, with the
# same saturation license as join_size_estimate_report.


@register(
    "dedup_span_df_stats",
    oracle=_SPAN_CTES + f""",
    df AS (SELECT span_id, CAST(count(DISTINCT doc_id) AS BIGINT) AS d,
                  CAST(count(*) AS BIGINT) AS occ
           FROM sp GROUP BY span_id)
    SELECT CAST(length(bin(d)) AS BIGINT) AS df_bits,
           d > {SPAN_DF_CAP} AS capped,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(occ) AS BIGINT) AS n_occurrences,
           CAST(sum((CAST(d AS HUGEINT) * (d - 1)) // 2) AS BIGINT)
               AS pair_mass
    FROM df GROUP BY 1, 2 ORDER BY df_bits, capped
    """,
    tags=("llm", "dedup-substring", "diagnostic", "skew"),
)
def q_span_df_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span document-frequency spectrum (module comment above): one row
    per (power-of-two DF bucket, capped flag) with span count, total
    occurrences, and the candidate-pair mass the uncapped span
    self-join would emit — the receipts for SPAN_DF_CAP.

    Scale shape: one partial+final aggregate onto span_id (the same
    key the pair join shuffles on), then one onto the ~64 bucket keys;
    nothing here touches text or emits pairs."""
    d = spread(table(spark, sf_dir, "documents"))
    sp = _positioned_spans(d)
    df = sp.groupBy("span_id").agg(
        F.count_distinct("doc_id").cast("long").alias("span_df"),
        F.count("*").cast("long").alias("occ"))
    return (df.groupBy(
        F.length(F.bin(F.col("span_df"))).cast("long").alias("df_bits"),
        (F.col("span_df") > SPAN_DF_CAP).alias("capped"))
        .agg(F.count("*").cast("long").alias("n_spans"),
             F.sum("occ").cast("long").alias("n_occurrences"),
             # wide per-span pair count, wide sum, narrow once (module
             # comment): decimal div == HUGEINT //, both exact here
             # since D*(D-1) is even
             F.expr("cast(sum(cast((cast(span_df as decimal(38,0))"
                    " * (span_df - 1)) div 2 as decimal(38,0)))"
                    " as bigint)").alias("pair_mass"))
        .orderBy("df_bits", "capped"))


# ------------------------------- split leakage report (dedup x split)

# Dedup and splitting interact: a hash-mod train/val split
# (train_val_split) is reproducible, but if two NEAR-DUPLICATE
# documents land on opposite sides of the boundary, the val set leaks
# into training and every eval on it is contaminated — the standard
# failure mode dedup-aware splitting exists to prevent. This operator
# classifies every verified near-dup pair (the audited
# dedup_minhash_lsh pipeline, identical banding + Jaccard verify) by
# the split memberships of its two sides and reports one row per
# class: train-train / val-val (benign) and train-val (the leak),
# with pair counts and the Jaccard range. The split label is the same
# pure id-hash function train_val_split certifies, so the report
# composes two already-certified definitions rather than inventing a
# third.


def _split_leakage_oracle() -> str:
    from .llm import _SH_CTE, NEAR_DUP_JACCARD
    from ..operators.dedup import jaccard_sql
    from ..functions.hashing import hash32_sql_duck

    jac = jaccard_sql("sa.sids", "sb.sids")
    def lab(col: str) -> str:
        return (f"CASE WHEN {hash32_sql_duck(f'CAST({col} AS VARCHAR)')}"
                f" % 100 < 95 THEN 'train' ELSE 'val' END")
    return f"""
    {_SH_CTE},
    pairs AS (SELECT doc_a, doc_b, {jac} AS jaccard
              FROM cand JOIN s sa ON sa.doc_id = doc_a
                        JOIN s sb ON sb.doc_id = doc_b
              WHERE {jac} >= {NEAR_DUP_JACCARD}),
    lab AS (SELECT {lab('doc_a')} AS la, {lab('doc_b')} AS lb, jaccard
            FROM pairs),
    norm AS (SELECT least(la, lb) AS lo, greatest(la, lb) AS hi, jaccard
             FROM lab)
    SELECT lo || '-' || hi AS split_pair,
           lo <> hi AS is_leak,
           CAST(count(*) AS BIGINT) AS n_pairs,
           min(jaccard) AS min_jaccard,
           max(jaccard) AS max_jaccard
    FROM norm GROUP BY lo, hi
    ORDER BY split_pair
    """


@register(
    "split_leakage_report",
    oracle=None,  # set below (composes llm.py's shared CTE chain)
    tags=("llm", "split", "dedup-minhash-lsh", "leakage"),
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate leakage across the train/val split (module comment
    above): every verified MinHash-LSH near-dup pair classified by its
    sides' split memberships — one row per class with the pair count
    and Jaccard range; ``is_leak`` marks the train-val class whose
    count a dedup-aware split drives to zero.

    Scale shape: the pair pipeline is dedup_minhash_lsh's audited plan
    verbatim (banded candidates, id-keyed verify joins, int-signature
    shuffles); the split labels are map-side md5 expressions over the
    pair ids (no join against a membership table — membership is a
    pure function of the id, the property train_val_split certifies);
    the report is a partial+final aggregate onto <= 3 class rows."""
    from ..functions.hashing import hash32_col
    from .llm import _minhash_pairs

    def lab(col: str):
        return F.when(
            hash32_col(F.col(col).cast("string")) % 100 < 95, "train"
        ).otherwise("val")

    pairs = _minhash_pairs(spark, sf_dir, fast=False)
    norm = (pairs.select(
        F.least(lab("doc_a"), lab("doc_b")).alias("lo"),
        F.greatest(lab("doc_a"), lab("doc_b")).alias("hi"),
        "jaccard"))
    return (norm.groupBy("lo", "hi")
            .agg(F.count("*").cast("long").alias("n_pairs"),
                 F.min("jaccard").alias("min_jaccard"),
                 F.max("jaccard").alias("max_jaccard"))
            .select(F.concat_ws("-", "lo", "hi").alias("split_pair"),
                    (F.col("lo") != F.col("hi")).alias("is_leak"),
                    "n_pairs", "min_jaccard", "max_jaccard")
            .orderBy("split_pair"))


REGISTRY["split_leakage_report"].oracle = _split_leakage_oracle()


# ------------------- sliding-window quantiles from hourly histograms

# The quantile face of the mergeable-summary time axis
# (events_sliding_distinct_hll is the cardinality face): per-hour
# fixed-width value HISTOGRAMS are trivially mergeable (bucket-wise
# count sums), so every sliding window's quantiles come from merging
# <= SW_HOURS bounded histogram summaries — raw events are histogrammed
# ONCE; window fan-out multiplies (hour, bucket, count) rows, never
# events. The estimator picks the first bucket whose cumulative count
# reaches k (k = ceil(p*n), the type-1 order statistic), so the k-th
# smallest value PROVABLY lies inside that bucket: the report's
# within_w booleans are a theorem (est <= exact < est + SQ_W for any
# data and any bucketing), which is what lets the oracle pin them to
# literal TRUE — the agg_hll_sketch_union discipline applied to
# quantiles. SQ_W is a power of two, so value/SQ_W is EXACT binary
# float division and the bucket id is engine-identical. The exact
# order statistics ride the raw fan-out through one rank window per
# window — an EVAL cost only, exactly like the HLL operator's exact
# side; a production job ships the estimate and the error bound.
# STREAMING twin (round 12): streaming/quantile.py keeps the same
# hourly histograms as applyInPandasWithState managed state —
# byte-identical to the batch kernel, window composition equal to
# THIS operator exactly (tests/test_streaming.py) — completing the
# mergeable matrix (cardinality/moments/quantiles each batch+stream).
SQ_W = 4  # histogram bucket width (value units; power of two)


def _sliding_quantile_oracle() -> str:
    from .llm_ext9 import SW_HOURS

    return f"""
    WITH b AS (SELECT epoch_us(ts) // 3600000000 AS h, value
               FROM events WHERE value IS NOT NULL),
    hm AS (SELECT max(h) AS hmax FROM b),
    hist AS (SELECT h, CAST(floor(value / {SQ_W}) AS BIGINT) AS bk,
                    count(*) AS cnt
             FROM b GROUP BY h, bk),
    hrs AS (SELECT DISTINCT h FROM hist),
    wins AS (SELECT h, unnest(range(h, least(h + {SW_HOURS - 1},
                                             hm.hmax) + 1)) AS w
             FROM hrs CROSS JOIN hm),
    nh AS (SELECT w, CAST(count(*) AS BIGINT) AS n_hours
           FROM wins GROUP BY w),
    wh AS (SELECT wn.w, hist.bk, sum(hist.cnt) AS cnt
           FROM hist JOIN wins wn ON wn.h = hist.h GROUP BY 1, 2),
    k AS (SELECT w, CAST(sum(cnt) AS BIGINT) AS n_events,
                 (CAST(sum(cnt) AS BIGINT) + 1) // 2 AS k50,
                 (19 * CAST(sum(cnt) AS BIGINT) + 19) // 20 AS k95
          FROM wh GROUP BY w),
    cum AS (SELECT w, bk,
                   sum(cnt) OVER (PARTITION BY w ORDER BY bk) AS cum
            FROM wh),
    est AS (SELECT c.w,
                   CAST(min(CASE WHEN c.cum >= k.k50 THEN c.bk END)
                        * {SQ_W} AS BIGINT) AS est_p50,
                   CAST(min(CASE WHEN c.cum >= k.k95 THEN c.bk END)
                        * {SQ_W} AS BIGINT) AS est_p95
            FROM cum c JOIN k ON k.w = c.w GROUP BY c.w),
    raw AS (SELECT wn.w, b.value,
                   row_number() OVER (PARTITION BY wn.w
                                      ORDER BY b.value) AS rn
            FROM b JOIN wins wn ON wn.h = b.h),
    ex AS (SELECT r.w,
                  max(CASE WHEN r.rn = k.k50 THEN r.value END)
                      AS exact_p50,
                  max(CASE WHEN r.rn = k.k95 THEN r.value END)
                      AS exact_p95
           FROM raw r JOIN k ON k.w = r.w
           WHERE r.rn = k.k50 OR r.rn = k.k95
           GROUP BY r.w)
    SELECT k.w AS window_hour, nh.n_hours, k.n_events,
           est.est_p50, ex.exact_p50, TRUE AS within_w_p50,
           est.est_p95, ex.exact_p95, TRUE AS within_w_p95
    FROM k JOIN nh ON nh.w = k.w JOIN est ON est.w = k.w
           JOIN ex ON ex.w = k.w
    ORDER BY window_hour
    """


@register(
    "events_sliding_quantile_hist",
    oracle=None,  # set below (renders SW_HOURS from llm_ext9)
    tags=("events", "sketch", "quantile", "sliding-window", "mergeable"),
)
def q_sliding_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95 of event values per sliding SW_HOURS-hour window from
    mergeable hourly histograms (module comment above): one row per
    window with the contributing-hour count, event count, the
    histogram estimate and exact value for each quantile, and the
    bucket-containment booleans the oracle pins to TRUE (a theorem of
    the estimator, not a tolerance).

    Scale shape: the histogram build is one partial+final hourly
    aggregate over the raw scan; window fan-out explodes HISTOGRAM
    rows (|hours| x SW_HOURS x |buckets| ints); the per-window
    cumulative scan and both bucket picks ride ONE window pass + ONE
    grouped conditional aggregate (no per-quantile re-scan); the
    exact side rides the raw fan-out through one rank window per
    window — an EVAL cost, as in events_sliding_distinct_hll; k
    arithmetic is integer (ceil via (a + b - 1)-style div, `div` ==
    `//` per the engine-semantics pin)."""
    from .llm_ext9 import SW_HOURS

    ev = table(spark, sf_dir, "events")
    base = ev.filter(F.col("value").isNotNull()).select(
        F.expr("unix_micros(ts) div 3600000000").cast("long").alias("h"),
        "value")
    # pinned 1-row bound consumed by both fan-out sides (hmax); the
    # per-window k table is consumed by the estimate and exact sides
    # and re-deriving it costs a histogram pass, so it is pinned too
    from ..registry import pin
    hmax = pin(base.agg(F.max("h").alias("hmax")))
    wexpr = f"sequence(h, least(h + {SW_HOURS - 1}, hmax))"
    # pinned: the hourly histogram (|hours| x |buckets| rows) feeds the
    # window merge, the hour list, and (through the merge) the k table —
    # without the pin each consumer would re-scan raw events
    hist = pin(base.groupBy("h", F.floor(F.col("value") / SQ_W)
                    .cast("long").alias("bk"))
               .agg(F.count("*").alias("cnt")))
    wh = (hist.crossJoin(F.broadcast(hmax))
          .select(F.explode(F.expr(wexpr)).alias("w"), "bk", "cnt")
          .groupBy("w", "bk").agg(F.sum("cnt").alias("cnt")))
    nh = (hist.select("h").distinct()
          .crossJoin(F.broadcast(hmax))
          .select(F.explode(F.expr(wexpr)).alias("w"))
          .groupBy("w").agg(F.count("*").cast("long").alias("n_hours")))
    k = pin(wh.groupBy("w")
            .agg(F.sum("cnt").cast("long").alias("n_events"))
            .select("w", "n_events",
                    F.expr("(n_events + 1) div 2").alias("k50"),
                    F.expr("(19 * n_events + 19) div 20").alias("k95")))
    cumw = (Window.partitionBy("w").orderBy("bk")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    est = (wh.withColumn("cum", F.sum("cnt").over(cumw))
           .join(k, "w")
           .groupBy("w")
           .agg((F.min(F.when(F.col("cum") >= F.col("k50"),
                              F.col("bk"))) * SQ_W)
                .cast("long").alias("est_p50"),
                (F.min(F.when(F.col("cum") >= F.col("k95"),
                              F.col("bk"))) * SQ_W)
                .cast("long").alias("est_p95")))
    rankw = Window.partitionBy("w").orderBy("value")
    ex = (base.crossJoin(F.broadcast(hmax))
          .select(F.explode(F.expr(wexpr)).alias("w"), "value")
          .withColumn("rn", F.row_number().over(rankw))
          .join(k, "w")
          .filter((F.col("rn") == F.col("k50"))
                  | (F.col("rn") == F.col("k95")))
          .groupBy("w")
          .agg(F.max(F.when(F.col("rn") == F.col("k50"), F.col("value")))
               .alias("exact_p50"),
               F.max(F.when(F.col("rn") == F.col("k95"), F.col("value")))
               .alias("exact_p95")))
    return (k.join(nh, "w").join(est, "w").join(ex, "w")
            .select(F.col("w").alias("window_hour"), "n_hours",
                    "n_events",
                    "est_p50", "exact_p50",
                    ((F.col("exact_p50") >= F.col("est_p50"))
                     & (F.col("exact_p50") < F.col("est_p50") + SQ_W))
                    .alias("within_w_p50"),
                    "est_p95", "exact_p95",
                    ((F.col("exact_p95") >= F.col("est_p95"))
                     & (F.col("exact_p95") < F.col("est_p95") + SQ_W))
                    .alias("within_w_p95"))
            .orderBy("window_hour"))


REGISTRY["events_sliding_quantile_hist"].oracle = _sliding_quantile_oracle()


# --------------------------- intra-document looping-run report

# Degenerate looping text ("the the the...", a phrase stuck on repeat,
# an n-gram cycle from a sampling failure) is a repetition mode the
# bigram-share score (text_repetition_score) underestimates when the
# loop UNIT is long. At run granularity it is the INTRA-document twin
# of the max-run operator: a region that repeats with period d <= LP_D
# is exactly an island of consecutive positions p where span(p) ==
# span(p + d) — the same diagonal islands, with the two sides being
# the SAME document shifted. The period is bounded (LP_D) for the same
# reason the interval-overlap join is binned (llm_ext8): an unbounded
# intra-doc self-join is quadratic in a degenerate all-same-token
# document, while the position-binned form (bucket = pos div LP_D;
# the shifted side emits its bucket and its predecessor, the equi-join
# matches each qualifying pair exactly once) bounds candidates to
# O(n_tokens x LP_D) for ANY input. Far-apart (period > LP_D)
# duplicated regions are dedup_substring_spans' regime, not a loop.
LP_D = 64  # max period, in token positions


def _looping_oracle() -> str:
    return f"""
    WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
               FROM documents),
    h AS (SELECT doc_id, {token_hashes_32_duck_sql('toks')} AS hs FROM t
          WHERE len(toks) >= {SPAN_K}),
    g AS (SELECT doc_id,
                 list_transform(
                     range(1, len(hs) - {SPAN_K} + 2),
                     i -> list_reduce(
                         list_prepend(CAST(0 AS BIGINT),
                                      list_slice(hs, i, i + {SPAN_K} - 1)),
                         (acc, x) -> (acc * {_COMB} + x) % {_P})) AS spans
          FROM h),
    sp AS (SELECT doc_id, unnest(range(0, len(spans))) AS pos,
                  unnest(spans) AS span_id
           FROM g),
    lhs AS (SELECT doc_id, span_id, pos, pos // {LP_D} AS bkt FROM sp),
    rhs AS (SELECT doc_id, span_id, pos, pos // {LP_D} AS bkt FROM sp
            UNION ALL
            SELECT doc_id, span_id, pos, pos // {LP_D} - 1 AS bkt FROM sp),
    m AS (SELECT a.doc_id, a.pos AS pa, b.pos - a.pos AS diag
          FROM lhs a JOIN rhs b
            ON b.doc_id = a.doc_id AND b.span_id = a.span_id
               AND b.bkt = a.bkt
          WHERE b.pos - a.pos BETWEEN 1 AND {LP_D}),
    r AS (SELECT doc_id, diag,
                 pa - row_number() OVER (PARTITION BY doc_id, diag
                                         ORDER BY pa) AS isl,
                 pa
          FROM m),
    runs AS (SELECT doc_id, diag, isl, count(*) AS run_len,
                    min(pa) AS start
             FROM r GROUP BY doc_id, diag, isl),
    tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_loop_positions
            FROM m GROUP BY doc_id),
    best AS (SELECT doc_id, run_len, diag, start,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY run_len DESC, diag, start)
                        AS rk
             FROM runs)
    SELECT b.doc_id, CAST(b.run_len AS BIGINT) AS max_run_spans,
           CAST(b.run_len + {SPAN_K} - 1 AS BIGINT) AS max_run_tokens,
           CAST(b.diag AS BIGINT) AS period_tokens,
           CAST(b.start AS BIGINT) AS run_start_pos,
           tot.n_loop_positions
    FROM best b JOIN tot ON tot.doc_id = b.doc_id
    WHERE b.rk = 1
    ORDER BY b.doc_id
    """


@register(
    "text_looping_run_report",
    oracle=None,  # set below
    tags=("llm", "text-quality", "repetition", "gaps-and-islands"),
)
def q_looping_run_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest intra-document periodic run (module comment above): one
    row per document containing any region that repeats itself at a
    period of 1..{LP_D} token positions — the run length in spans and
    tokens, the period and start of the maximal run (ties: shortest
    period, earliest start), and the total count of shifted span
    matches (the doc's overall "loopiness" mass).

    Scale shape: the shifted self-match is the position-BINNED
    equi-join (bucket = pos div LP_D; the shifted side emits two
    bucket keys, each qualifying pair matches exactly once), so
    candidates are O(n_tokens x LP_D) even for an all-identical-token
    document — never the quadratic unbinned self-join; islands ride a
    (doc, diag) window whose partition mass is bounded by one doc's
    span count; everything shuffled is (doc_id, span_id, pos) ints."""
    d = spread(table(spark, sf_dir, "documents"))
    sp = _positioned_spans(d)
    lhs = sp.select("doc_id", "span_id", "pos",
                    F.expr(f"pos div {LP_D}").alias("bkt"))
    rhs = lhs.unionByName(
        sp.select("doc_id", "span_id", "pos",
                  F.expr(f"pos div {LP_D} - 1").alias("bkt")))
    m = (lhs.alias("a").join(
            rhs.alias("b"),
            (F.col("b.doc_id") == F.col("a.doc_id"))
            & (F.col("b.span_id") == F.col("a.span_id"))
            & (F.col("b.bkt") == F.col("a.bkt")))
         .filter((F.col("b.pos") - F.col("a.pos")).between(1, LP_D))
         .select(F.col("a.doc_id").alias("doc_id"),
                 F.col("a.pos").alias("pa"),
                 (F.col("b.pos") - F.col("a.pos")).alias("diag")))
    w = Window.partitionBy("doc_id", "diag").orderBy("pa")
    runs = (m.withColumn("isl", F.col("pa") - F.row_number().over(w))
            .groupBy("doc_id", "diag", "isl")
            .agg(F.count("*").alias("run_len"), F.min("pa").alias("start")))
    tot = m.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_loop_positions"))
    wb = Window.partitionBy("doc_id").orderBy(
        F.col("run_len").desc(), "diag", "start")
    best = (runs.withColumn("rk", F.row_number().over(wb))
            .filter(F.col("rk") == 1))
    return (best.join(tot, "doc_id")
            .select("doc_id",
                    F.col("run_len").cast("long").alias("max_run_spans"),
                    (F.col("run_len") + SPAN_K - 1).cast("long")
                    .alias("max_run_tokens"),
                    F.col("diag").cast("long").alias("period_tokens"),
                    F.col("start").cast("long").alias("run_start_pos"),
                    "n_loop_positions")
            .orderBy("doc_id"))


REGISTRY["text_looping_run_report"].oracle = _looping_oracle()

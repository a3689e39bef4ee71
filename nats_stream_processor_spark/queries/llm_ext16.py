"""Late round-14 operators: retrieval-quality and LSH-tuning receipts
— the EVAL faces of the two certified approximate families.

CERTIFICATION STATUS: written late in round 14, BEHIND the fully
allocated r14 sample window (honest header per the house rule). These
names lead the r15 window per the pre-allocation in
registry.SAMPLE_PREFIX_EXPECTED's comment; until then they are
verified by the driver-mimic harness at all three SFs plus --plain
(dedicated runs recorded in .claude/skills/verify/SKILL.md) and by
tests/test_llm_ext16.py.

Reference scope note: the reference (/root/reference, a single-purpose
NATS enrichment daemon) has no analytics surface; all operators here
are north-star scope, built Spark-first and oracle-paired.

- ``sim_eval_rank_quality`` — the metric a retrieval maintainer
  actually reports: per-query rank-sensitive quality of the IVF index
  (nprobe=IVR_NPROBE, top-IVR_TOPK) against the brute-force truth.
  Recall receipts (the maintenance acts') treat the head as a SET;
  this operator grades the ORDER: hits@K, the rank the true nearest
  neighbor lands at (0 = missed), MRR in ppm (1e6 // rank — exact
  integer division), and nDCG@K in ppm. Determinism: the per-rank
  DCG discounts 1/log2(i+1) are Python-computed double LITERALS
  injected into both engines (libm log2 is not guaranteed
  bit-identical across engines; a shared literal is), each DCG term
  is quantized floor(rel * disc * 1e6 + 0.5) to int64 so the
  per-query sums are order-free exact, relevance of an ANN item is
  the integer (K+1 - brute_rank) (0 if outside the brute head), and
  IDCG is the same quantized sum over the query's own brute head (so
  short corpora stay exact). ndcg_ppm = dcg * 1e6 // idcg.
- ``sim_ivf_drift_psi`` — embedding-distribution drift between the
  corpus and the incoming batch as PSI over the IVF inverted lists
  (docstring on the operator): the SHAPE-drift complement to
  sim_ivf_insert's load receipt, following corpus_psi_drift's
  quantized-PSI discipline over the shared audited assignment.
- ``dedup_lsh_band_efficiency`` — the empirical tuning curve for the
  MinHash LSH parameters: every VERIFIED near-dup pair (the certified
  pipeline's definition: shared (band, bucket), Jaccard >=
  NEAR_DUP_JACCARD) grouped by (5%-wide Jaccard bin, number of bands
  that matched), with the group's pair count and its mean THEORETICAL
  expected band-match count E[bands] = LSH_BANDS * j^LSH_ROWS in ppm
  (pure IEEE multiplications of the round6-stable Jaccard — no
  transcendentals — quantized per pair, averaged by exact integer
  division). Reading empirical bands_matched against exp_bands_ppm
  per bin is how an operator decides whether the (bands, rows) knob
  matches the corpus's similarity profile — the observability the
  1-(1-j^r)^b formula promises, measured.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Registry import FIRST among intra-package imports (worker re-import
# ordering; see llm_ext2.py's header note).
from ..registry import pin, register, spread, table

from ..operators import similarity as sim
from .knn_shared import candidates, exact_top_k, query_side, top_k

from .llm_ext14 import (  # noqa: E402
    IVR_NPROBE,
    IVR_NQ,
    IVR_TOPK,
    _ivf_base_ctes_sql,
    _ivf_base_frames,
    _ppm_rank_sql,
    _PPM,
)

# Per-rank DCG discounts 1/log2(rank+1), Python-computed once and
# injected as LITERALS on both engines (see module comment).
_DISCOUNTS = ((1, 1.0), (2, 0.6309297535714575), (3, 0.5),
              (4, 0.43067655807339306), (5, 0.38685280723454163))
assert len(_DISCOUNTS) == IVR_TOPK


def _rank_quality_oracle() -> str:
    disc_rows = ", ".join(f"({r}, {d!r})" for r, d in _DISCOUNTS)
    return _ivf_base_ctes_sql() + f""",
    disc(rnk, d) AS (SELECT * FROM (VALUES {disc_rows})),
    qv AS (SELECT vec_id AS query_id, demb AS q_demb, nrm AS q_nrm
           FROM n WHERE vec_id < {IVR_NQ}),
    prb AS (SELECT query_id, cent_id FROM (
                SELECT q.query_id, c.cent_id,
                       row_number() OVER (PARTITION BY q.query_id
                           ORDER BY {_ppm_rank_sql(
                               sim.dot_sql('q.q_demb', 'c.c_demb'),
                               'q.q_nrm * c.c_nrm')} DESC,
                           c.cent_id) AS r
                FROM qv q CROSS JOIN cent c)
             WHERE r <= {IVR_NPROBE}),
    ann AS MATERIALIZED (
        SELECT query_id, neighbor_id, rn FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY p.query_id
                       ORDER BY round({sim.dot_sql('q.q_demb', 'a.demb')}
                                      / (q.q_nrm * a.nrm), 6) DESC,
                                a.vec_id) AS rn
            FROM prb p JOIN qv q ON q.query_id = p.query_id
                 JOIN asg a ON a.cent_id = p.cent_id
                           AND a.vec_id != p.query_id)
        WHERE rn <= {IVR_TOPK}),
    brute AS MATERIALIZED (
        SELECT query_id, neighbor_id, bn FROM (
            SELECT q.query_id, x.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY round({sim.dot_sql('q.q_demb', 'x.demb')}
                                      / (q.q_nrm * x.nrm), 6) DESC,
                                x.vec_id) AS rn
            FROM qv q JOIN n x ON x.vec_id != q.query_id) t(query_id,
                                                            neighbor_id,
                                                            bn)
        WHERE bn <= {IVR_TOPK}),
    terms AS (SELECT a.query_id,
                     CAST(a.rn AS BIGINT) AS rn, b.bn,
                     CAST(floor(coalesce({IVR_TOPK} + 1 - b.bn, 0)
                                * disc.d * 1e6 + 0.5) AS BIGINT)
                         AS term
              FROM ann a
              LEFT JOIN brute b ON b.query_id = a.query_id
                               AND b.neighbor_id = a.neighbor_id
              JOIN disc ON disc.rnk = a.rn),
    dcg AS (SELECT query_id,
                   CAST(sum(term) AS BIGINT) AS dcg_i,
                   CAST(sum(CAST(bn IS NOT NULL AS BIGINT)) AS BIGINT)
                       AS ann_hits,
                   CAST(coalesce(min(CASE WHEN bn = 1 THEN rn END), 0)
                        AS BIGINT) AS true_nn_rank
            FROM terms GROUP BY query_id),
    idcg AS (SELECT b.query_id,
                    CAST(sum(CAST(floor(({IVR_TOPK} + 1 - b.bn)
                                        * disc.d * 1e6 + 0.5)
                                  AS BIGINT)) AS BIGINT) AS idcg_i
             FROM brute b JOIN disc ON disc.rnk = b.bn
             GROUP BY b.query_id)
    SELECT q.query_id,
           coalesce(d.ann_hits, 0) AS ann_hits,
           coalesce(d.true_nn_rank, 0) AS true_nn_rank,
           CASE WHEN coalesce(d.true_nn_rank, 0) > 0
                THEN {_PPM} // d.true_nn_rank
                ELSE CAST(0 AS BIGINT) END AS mrr_ppm,
           CASE WHEN coalesce(i.idcg_i, 0) > 0
                THEN coalesce(d.dcg_i, 0) * {_PPM} // i.idcg_i
                ELSE CAST(0 AS BIGINT) END AS ndcg_ppm
    FROM qv q
    LEFT JOIN dcg d ON d.query_id = q.query_id
    LEFT JOIN idcg i ON i.query_id = q.query_id
    ORDER BY q.query_id
    """


@register(
    "sim_eval_rank_quality",
    oracle=None,  # set below (renders the shared training CTEs)
    tags=("llm", "ann-ivf", "evaluation"),
)
def q_rank_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query rank-sensitive retrieval quality of the IVF index vs
    brute truth (module comment above): one row per panel query with
    hits@{IVR_TOPK}, the true nearest neighbor's rank in the ANN list
    (0 = missed), MRR and nDCG@{IVR_TOPK} in ppm.

    Scale shape: the audited shared assignment (one corpus scan,
    pinned) feeds both the probed candidates (list-id-keyed join,
    broadcast {IVR_NQ}-query panel) and the brute reference (broadcast
    panel against the pinned corpus — the eval cost is one pass, and
    on a real corpus the panel is a sample, not every query); metric
    layers join K-bounded rank rows only. Determinism: discount
    literals shared across engines, integer-quantized DCG terms,
    integer-division ppm."""
    n, cent, asg, sz, tot, ld = _ivf_base_frames(spark, sf_dir)
    disc = spark.createDataFrame(list(_DISCOUNTS), "rnk int, d double")
    qv = query_side(n.filter(F.col("vec_id") < IVR_NQ))
    wp = Window.partitionBy("query_id").orderBy(
        F.col("qppm").desc(), "cent_id")
    prb = (qv.crossJoin(F.broadcast(cent))
           .select("query_id", "q_demb", "q_nrm", "cent_id",
                   sim.ppm(
                       sim.dot(F.col("q_demb"), F.col("c_demb"))
                       / (F.col("q_nrm") * F.col("c_nrm"))).alias("qppm"))
           .withColumn("r", F.row_number().over(wp))
           .filter(F.col("r") <= IVR_NPROBE)
           .select("query_id", "q_demb", "q_nrm", "cent_id"))
    ann = pin(
        top_k(candidates(prb, asg.withColumnRenamed("cent_id", "a_cent"),
                         F.col("a_cent") == F.col("cent_id")), IVR_TOPK)
        .select("query_id", "neighbor_id",
                F.col("rn").cast("long").alias("rn")))
    brute = pin(
        exact_top_k(qv, n)
        .select("query_id", "neighbor_id",
                F.col("rn").cast("long").alias("bn")))
    terms = (ann
             .join(brute, ["query_id", "neighbor_id"], "left")
             .join(F.broadcast(disc), ann["rn"] == disc["rnk"])
             .select("query_id", "rn", "bn",
                     F.floor(F.coalesce(F.lit(IVR_TOPK + 1) - F.col("bn"),
                                        F.lit(0))
                             * F.col("d") * F.lit(1e6) + F.lit(0.5))
                     .cast("long").alias("term")))
    dcg = (terms.groupBy("query_id")
           .agg(F.sum("term").cast("long").alias("dcg_i"),
                F.sum(F.col("bn").isNotNull().cast("long"))
                .cast("long").alias("ann_hits"),
                F.coalesce(
                    F.min(F.when(F.col("bn") == 1, F.col("rn"))),
                    F.lit(0)).cast("long").alias("true_nn_rank")))
    idcg = (brute.join(F.broadcast(disc), brute["bn"] == disc["rnk"])
            .groupBy("query_id")
            .agg(F.sum(F.floor((F.lit(IVR_TOPK + 1) - F.col("bn"))
                               * F.col("d") * F.lit(1e6) + F.lit(0.5))
                       .cast("long")).cast("long").alias("idcg_i")))
    return (qv.select("query_id")
            .join(dcg, "query_id", "left")
            .join(idcg, "query_id", "left")
            .select("query_id",
                    F.coalesce("ann_hits", F.lit(0)).cast("long")
                    .alias("ann_hits"),
                    F.coalesce("true_nn_rank", F.lit(0)).cast("long")
                    .alias("true_nn_rank"),
                    F.when(F.coalesce("true_nn_rank", F.lit(0)) > 0,
                           F.expr(f"{_PPM} div true_nn_rank"))
                    .otherwise(F.lit(0)).cast("long").alias("mrr_ppm"),
                    F.when(F.coalesce("idcg_i", F.lit(0)) > 0,
                           F.expr(f"coalesce(dcg_i, 0) * {_PPM}"
                                  " div idcg_i"))
                    .otherwise(F.lit(0)).cast("long").alias("ndcg_ppm"))
            .orderBy("query_id"))


def _render_rank_quality_oracle() -> None:
    from ..registry import REGISTRY
    REGISTRY["sim_eval_rank_quality"].oracle = _rank_quality_oracle()


_render_rank_quality_oracle()


# ------------------------- LSH band-efficiency curve (tuning receipt)


def _band_efficiency_oracle() -> str:
    from .llm import NEAR_DUP_JACCARD
    from ..operators.dedup import (LSH_BANDS, LSH_ROWS, jaccard_sql,
                                   minhash_signature_sql,
                                   shingle_ids_tok_sql,
                                   token_hashes_32_duck_sql)
    jp = " * ".join(["j"] * LSH_ROWS)
    return f"""
    WITH t AS (SELECT doc_id,
                      regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
               FROM documents),
    h AS (SELECT doc_id, {token_hashes_32_duck_sql('toks')} AS hs FROM t),
    s AS (SELECT doc_id, {shingle_ids_tok_sql('hs')} AS sids FROM h),
    sig AS (SELECT doc_id, sids,
                   {minhash_signature_sql('sids')} AS sig FROM s),
    bands AS MATERIALIZED (
        SELECT doc_id, band_idx,
               array_to_string(list_slice(sig, band_idx * {LSH_ROWS} + 1,
                                          (band_idx + 1) * {LSH_ROWS}),
                               '_') AS bucket
        FROM sig CROSS JOIN
             (SELECT unnest(range(0, {LSH_BANDS})) AS band_idx) u),
    cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    CAST(count(*) AS BIGINT) AS bands_matched
             FROM bands a JOIN bands b
               ON a.band_idx = b.band_idx AND a.bucket = b.bucket
                  AND a.doc_id < b.doc_id
             GROUP BY a.doc_id, b.doc_id),
    ver AS (SELECT c.bands_matched,
                   {jaccard_sql('sa.sids', 'sb.sids')} AS j
            FROM cand c JOIN s sa ON sa.doc_id = c.doc_a
                        JOIN s sb ON sb.doc_id = c.doc_b
            WHERE {jaccard_sql('sa.sids', 'sb.sids')}
                  >= {NEAR_DUP_JACCARD}),
    q AS (SELECT CAST(floor(j * 20) AS BIGINT) AS jac_bin,
                 bands_matched,
                 CAST(floor({LSH_BANDS} * ({jp}) * 1e6 + 0.5)
                      AS BIGINT) AS exp_i
          FROM ver)
    SELECT jac_bin, bands_matched,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(exp_i) AS BIGINT) // CAST(count(*) AS BIGINT)
               AS avg_exp_bands_ppm
    FROM q GROUP BY jac_bin, bands_matched
    ORDER BY jac_bin, bands_matched
    """


@register(
    "dedup_lsh_band_efficiency",
    oracle=None,  # set below
    tags=("llm", "dedup-minhash-lsh", "diagnostic"),
)
def q_band_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical LSH tuning curve (module comment above): verified
    near-dup pairs grouped by (5%-wide Jaccard bin, bands matched),
    with the pair count and the group's mean theoretical expected
    band-match count LSH_BANDS * j^LSH_ROWS in ppm.

    Scale shape: the certified banded candidate generation — the pair
    join is (band, bucket)-keyed over the pinned band table, never
    all-pairs; the band count is a per-pair aggregate of those same
    keyed rows; verification joins are id-keyed on the pinned shingle
    table; the output is <= 20 * LSH_BANDS summary rows. Exponent via
    repeated IEEE multiplication of the round6-stable Jaccard (no
    libm), quantized per pair, averaged by exact integer division."""
    from .llm import NEAR_DUP_JACCARD
    from ..operators.dedup import (LSH_BANDS, LSH_ROWS, jaccard,
                                   minhash_band_explode,
                                   minhash_signature_col,
                                   token_ngram_frame)
    d = spread(table(spark, sf_dir, "documents"))
    sh = pin(token_ngram_frame(d, ["doc_id"]))
    sig = sh.select("doc_id",
                    minhash_signature_col(F.col("sids")).alias("sig"))
    bands = pin(minhash_band_explode(sig, ["doc_id"], "sig"))
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    cand = (a.join(b, ["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").cast("long").alias("bands_matched")))
    sa = sh.select(F.col("doc_id").alias("doc_a"),
                   F.col("sids").alias("sids_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"),
                   F.col("sids").alias("sids_b"))
    jcol = jaccard(F.col("sids_a"), F.col("sids_b"))
    jp = F.col("j")
    for _ in range(LSH_ROWS - 1):
        jp = jp * F.col("j")
    ver = (cand.join(sa, "doc_a").join(sb, "doc_b")
           .select("bands_matched", jcol.alias("j"))
           .filter(F.col("j") >= NEAR_DUP_JACCARD)
           .select("bands_matched",
                   F.floor(F.col("j") * 20).cast("long").alias("jac_bin"),
                   F.floor(F.lit(LSH_BANDS) * jp * F.lit(1e6)
                           + F.lit(0.5)).cast("long").alias("exp_i")))
    return (ver.groupBy("jac_bin", "bands_matched")
            .agg(F.count("*").cast("long").alias("n_pairs"),
                 F.expr("cast(sum(exp_i) as bigint)"
                        " div cast(count(*) as bigint)")
                 .alias("avg_exp_bands_ppm"))
            .orderBy("jac_bin", "bands_matched"))


def _render_band_efficiency_oracle() -> None:
    from ..registry import REGISTRY
    REGISTRY["dedup_lsh_band_efficiency"].oracle = \
        _band_efficiency_oracle()


_render_band_efficiency_oracle()


# ----------------- embedding-distribution drift over IVF lists (PSI)


def _ivf_drift_psi_oracle() -> str:
    return _ivf_base_ctes_sql() + """,
    cut AS (SELECT coalesce(CAST(floor(max(vec_id) * 0.8) AS BIGINT),
                            -1) AS c FROM e),
    cb AS (SELECT CAST(c.cent_id AS BIGINT) AS cent_id,
                  CAST(count(a.vec_id) FILTER (WHERE a.vec_id <= cut.c)
                       AS BIGINT) AS n_corpus,
                  CAST(count(a.vec_id) FILTER (WHERE a.vec_id > cut.c)
                       AS BIGINT) AS n_batch
           FROM cent c CROSS JOIN cut
           LEFT JOIN asg a ON a.cent_id = c.cent_id
           GROUP BY c.cent_id, cut.c),
    t AS (SELECT cent_id, n_corpus, n_batch,
                 CAST(sum(n_corpus) OVER () AS BIGINT) AS tot_c,
                 CAST(sum(n_batch) OVER () AS BIGINT) AS tot_b,
                 CAST(count(*) OVER () AS BIGINT) AS nb
          FROM cb),
    p AS (SELECT cent_id, n_corpus, n_batch,
                 CAST(floor(((n_corpus + 1) / CAST(tot_c + nb AS DOUBLE)
                             - (n_batch + 1) / CAST(tot_b + nb AS DOUBLE))
                            * ln((n_corpus + 1)
                                 / CAST(tot_c + nb AS DOUBLE)
                                 / ((n_batch + 1)
                                    / CAST(tot_b + nb AS DOUBLE)))
                            * 1e6 + 0.5) AS BIGINT) AS psi_contrib_ppm
          FROM t)
    SELECT cent_id, n_corpus, n_batch, psi_contrib_ppm,
           CAST(sum(psi_contrib_ppm) OVER () AS BIGINT) AS psi_total_ppm
    FROM p ORDER BY cent_id
    """


@register(
    "sim_ivf_drift_psi",
    oracle=None,  # set below (renders the shared training CTEs)
    tags=("llm", "ann-ivf", "drift-psi", "diagnostic"),
)
def q_ivf_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-DISTRIBUTION drift between the corpus and an incoming
    batch, measured as PSI over the IVF inverted lists: the lists are
    a trained, bounded partition of embedding space, so the corpus and
    batch list-share histograms are directly comparable — drift here
    means the batch occupies a different region of embedding space
    than the index was built for, which degrades recall long before
    any single list overloads. sim_ivf_insert's receipt flags LOAD
    drift (a hot list); this receipt flags SHAPE drift (a shifted
    distribution), the complementary signal, with the conventional
    PSI > 0.1 alarm. One row per list (empty lists included) with
    corpus/batch counts, the quantized PSI contribution, and the
    corpus-wide total.

    Determinism and scale follow corpus_psi_drift's certified
    discipline exactly: Laplace-smoothed shares ((n+1)/(tot+k)), the
    ln() contribution quantized to an int64 ppm grid per LIST (k
    chances for libm skew, not one per vector), the total an exact
    order-free integer sum; the audited shared assignment is the only
    corpus scan (pinned — the counts, windows and receipt all read
    the bucket table of <= nlist rows)."""
    n, cent, asg, sz, tot, ld = _ivf_base_frames(spark, sf_dir)
    cut = n.agg(F.coalesce(F.floor(F.max("vec_id") * 0.8).cast("long"),
                           F.lit(-1).cast("long")).alias("c"))
    cb = (cent.select("cent_id").crossJoin(F.broadcast(cut))
          .join(asg, "cent_id", "left")
          .groupBy("cent_id")
          .agg(F.count(F.when(F.col("vec_id") <= F.col("c"),
                              F.col("vec_id"))).cast("long")
               .alias("n_corpus"),
               F.count(F.when(F.col("vec_id") > F.col("c"),
                              F.col("vec_id"))).cast("long")
               .alias("n_batch"))
          .select(F.col("cent_id").cast("long").alias("cent_id"),
                  "n_corpus", "n_batch"))
    w = Window.partitionBy()
    t = cb.select(
        "cent_id", "n_corpus", "n_batch",
        F.sum("n_corpus").over(w).cast("long").alias("tot_c"),
        F.sum("n_batch").over(w).cast("long").alias("tot_b"),
        F.count(F.lit(1)).over(w).cast("long").alias("nb"))
    p_c = (F.col("n_corpus") + 1) / (F.col("tot_c")
                                     + F.col("nb")).cast("double")
    p_b = (F.col("n_batch") + 1) / (F.col("tot_b")
                                    + F.col("nb")).cast("double")
    contrib = F.floor((p_c - p_b) * F.log(p_c / p_b) * F.lit(1e6)
                      + F.lit(0.5)).cast("long")
    p = t.select("cent_id", "n_corpus", "n_batch",
                 contrib.alias("psi_contrib_ppm"))
    return (p.select("cent_id", "n_corpus", "n_batch",
                     "psi_contrib_ppm",
                     F.sum("psi_contrib_ppm").over(w).cast("long")
                     .alias("psi_total_ppm"))
            .orderBy("cent_id"))


def _render_ivf_drift_psi_oracle() -> None:
    from ..registry import REGISTRY
    REGISTRY["sim_ivf_drift_psi"].oracle = _ivf_drift_psi_oracle()


_render_ivf_drift_psi_oracle()

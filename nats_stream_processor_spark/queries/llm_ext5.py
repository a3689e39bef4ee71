"""Round-7 late additions.

The r7 50-slot driver sample was already fully allocated (11 new
llm_ext4 operators + the changed media_phash_near_dup + 38 oldest
round-2 re-certifications) when this module landed, so its operators
sat BEHIND the window in round 7 — locally oracle-verified at
sf0.001/0.01/0.1 and in a plain driver-style session, pytest-covered,
but without a formal driver row. sim_rrf_fusion led the r8 sampled
window and its formal row is hash-green in CORRECTNESS_r08, so from
round 9 it rotates behind the window like any other
certified-and-unchanged query. (Stating certification status
explicitly is the house rule — describing unsampled code as formally
certified is exactly the drift round 6 was flagged for.)

Style contract matches llm_ext/llm_ext2/llm_ext3/llm_ext4: identical
aliases on both engines, int-quantized scores before any aggregation,
scalar output columns only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Registry import FIRST among intra-package imports (worker re-import
# ordering; see llm_ext2.py's header note).
from ..registry import REGISTRY, register, spread, table

from ..operators import similarity as sim

# ------------------------------------------ reciprocal-rank fusion

# Hybrid retrieval: fuse a sparse (BM25) and a dense (cosine) ranking
# with Reciprocal Rank Fusion (Cormack et al.): score(d) = sum over
# rankers of 1/(K + rank_d). The 1/(K+r) terms are integer-quantized
# (1e9 // (K + r)) so fusion scores and the final ordering are exact
# int64 arithmetic on both engines.
RRF_K = 60        # the canonical RRF constant
RRF_TOPK = 10     # fused results returned
RRF_POOL = 20     # per-ranker pool (== llm_ext3.BM25_TOPK)


@register(
    "sim_rrf_fusion",
    oracle=None,  # set below
    tags=("llm", "retrieval", "hybrid", "rrf"),
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: BM25 top-20 (llm_ext3's pinned term query) fused
    with dense cosine top-20 (llm_ext4's pinned query vector, doc_id
    aligned with vec_id as in the other cross-modal queries) via
    Reciprocal Rank Fusion — the standard zero-tuning combiner behind
    production hybrid retrieval. A doc absent from one pool contributes
    0 from that ranker.

    Scale shape: each ranker is its own already-audited pipeline
    (term-pruned postings + TakeOrdered for BM25; broadcast query
    vector + TakeOrdered for dense); fusion touches only the two
    bounded top-K pools (full outer join of 20-row sides), so the
    combiner adds no corpus-scale work at any data size. The rank
    windows over the pools order <= 20 rows each."""
    from .llm_ext3 import BM25_TOPK

    MMR_QUERY, MMR_QNORM = sim.PINNED_QUERY_VEC, sim.PINNED_QUERY_NORM
    bm25 = (REGISTRY["text_bm25_topk"].fn.__wrapped__(spark, sf_dir)
            .select(F.col("doc_id"), F.col("rank").alias("rank_bm25")))
    e = spread(table(spark, sf_dir, "embeddings"))
    demb = sim.as_double(F.col("embedding"))
    scored = e.select(
        F.col("vec_id").alias("doc_id"),
        F.floor(
            (sim.dot(sim.plane_lit(MMR_QUERY), demb)
             / (F.lit(MMR_QNORM) * sim.norm(demb)))
            * F.lit(1e6) + F.lit(0.5)).cast("long").alias("rel_ppm"))
    top = scored.orderBy(F.col("rel_ppm").desc(), "doc_id").limit(RRF_POOL)
    # rank window over the bounded 20-row pool (not the corpus)
    dense = top.select(
        "doc_id",
        F.row_number().over(
            Window.orderBy(F.col("rel_ppm").desc(), "doc_id"))
        .cast("bigint").alias("rank_dense"))
    fused = (bm25.join(dense, "doc_id", "full_outer")
             .select(
                 "doc_id",
                 F.coalesce("rank_bm25", F.lit(0)).cast("bigint")
                 .alias("rank_bm25"),
                 F.coalesce("rank_dense", F.lit(0)).cast("bigint")
                 .alias("rank_dense"),
                 (F.when(F.col("rank_bm25").isNotNull(),
                         F.expr(f"1000000000 div ({RRF_K} + rank_bm25)"))
                  .otherwise(F.lit(0))
                  + F.when(F.col("rank_dense").isNotNull(),
                           F.expr(f"1000000000 div ({RRF_K} + rank_dense)"))
                  .otherwise(F.lit(0))).cast("bigint").alias("rrf_score")))
    if BM25_TOPK != RRF_POOL:  # pools must stay aligned with llm_ext3
        raise ValueError(f"RRF_POOL {RRF_POOL} != BM25_TOPK {BM25_TOPK}")
    return (fused.orderBy(F.col("rrf_score").desc(), "doc_id")
            .limit(RRF_TOPK).orderBy(F.col("rrf_score").desc(), "doc_id"))


def _rrf_oracle() -> str:
    # Sibling value imports are safe since the registration chain moved
    # to the package __init__ (every entry point completes the chain
    # top-down — registry._populate's note); the pinned query vector
    # still lives in operators/similarity as leaf-module hygiene.
    from .llm_ext3 import BM25_B, BM25_K1, BM25_TERMS, BM25_TOPK
    from ..functions.text import TOKEN_RE
    toks = f"regexp_extract_all(lower(text), '{TOKEN_RE}')"
    qdot = sim.dot_weights_sql(sim.PINNED_QUERY_VEC, "demb")
    vnorm = f"sqrt({sim.dot_sql('demb', 'demb')})"
    return f"""
    WITH d AS (SELECT doc_id, {toks} AS toks FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl FROM d),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
           WHERE tok IN ({', '.join(f"'{t}'" for t in BM25_TERMS)})
           GROUP BY 1, 2),
    dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    scored AS (
        SELECT tf.doc_id,
               CAST(floor(
                   ln((stats.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1)
                   * (tf.tf * ({BM25_K1} + 1)) /
                     (tf.tf + {BM25_K1} * (1 - {BM25_B}
                        + {BM25_B} * dl.dl * stats.n_docs
                          / CAST(stats.sum_dl AS DOUBLE)))
                   * 1e6 + 0.5) AS BIGINT) AS term_ppm
        FROM tf JOIN dft USING (tok) JOIN dl USING (doc_id)
                CROSS JOIN stats),
    agg AS (SELECT doc_id, CAST(sum(term_ppm) AS BIGINT) AS bm25_ppm
            FROM scored GROUP BY 1),
    bm25 AS (SELECT doc_id,
                    CAST(row_number() OVER (ORDER BY bm25_ppm DESC, doc_id)
                         AS BIGINT) AS rank_bm25
             FROM agg ORDER BY bm25_ppm DESC, doc_id LIMIT {BM25_TOPK}),
    emb AS (SELECT vec_id AS doc_id,
                   {sim.as_double_sql('embedding')} AS demb
            FROM embeddings),
    rel AS (SELECT doc_id,
                   CAST(floor(({qdot}
                        / (CAST('{sim.PINNED_QUERY_NORM!r}' AS DOUBLE) * {vnorm}))
                        * 1e6 + 0.5) AS BIGINT) AS rel_ppm
            FROM emb),
    pool AS (SELECT doc_id, rel_ppm FROM rel
             ORDER BY rel_ppm DESC, doc_id LIMIT {RRF_POOL}),
    dense AS (SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY rel_ppm DESC, doc_id)
                          AS BIGINT) AS rank_dense
              FROM pool),
    fused AS (
        SELECT coalesce(b.doc_id, s.doc_id) AS doc_id,
               CAST(coalesce(b.rank_bm25, 0) AS BIGINT) AS rank_bm25,
               CAST(coalesce(s.rank_dense, 0) AS BIGINT) AS rank_dense,
               CAST(CASE WHEN b.rank_bm25 IS NOT NULL
                         THEN 1000000000 // ({RRF_K} + b.rank_bm25)
                         ELSE 0 END
                    + CASE WHEN s.rank_dense IS NOT NULL
                           THEN 1000000000 // ({RRF_K} + s.rank_dense)
                           ELSE 0 END AS BIGINT) AS rrf_score
        FROM bm25 b FULL OUTER JOIN dense s ON s.doc_id = b.doc_id)
    SELECT doc_id, rank_bm25, rank_dense, rrf_score
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {RRF_TOPK}
    """


REGISTRY["sim_rrf_fusion"].oracle = _rrf_oracle()

"""Shared k-NN graph construction (Spark builder + DuckDB CTE), used by
sim_knn_graph / graph_pagerank_knn (queries/llm_ext.py) and
graph_knn_hubness (queries/llm_ext2.py), and the multi-table LSH query
probe (``lsh_probe``) of sim_ann_lsh, sim_ann_range_search
(queries/llm.py) and sim_index_recall_report (queries/llm_ext.py).

Lives in its own module so consumers never import each other: a Python
WORKER that unpickles a UDF from llm_ext re-imports that module first,
and registry's bottom import of llm_ext2 then runs while llm_ext is
still partially initialized — a decoration-time ``from .llm_ext import
_KNN_CTE`` raised ImportError in exactly that path (caught by the r4
full-sweep on embed_gram_matrix's mapInPandas workers). This module's
imports (operators + registry helpers) are cycle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import similarity as sim

# NOTE: no module-level ``from ..registry import ...`` here. registry's
# bottom imports llm_ext, whose decoration-time ``from .knn_shared import
# _KNN_CTE`` would then re-enter THIS module while it is still partially
# initialized — if the registry import sat above the constants, entering
# via ``import knn_shared`` first (fresh worker interpreter) raised
# ImportError before _KNN_CTE existed. Constants are defined up front
# with only cycle-free imports above them; the registry helpers (needed
# only by _knn_graph_df, which runs long after import time) are resolved
# lazily inside the function.

KNN_GRAPH_K = 3


_KNN_CTE = f"""
WITH e AS (SELECT vec_id, {sim.as_double_sql('embedding')} AS demb
           FROM embeddings),
n AS (SELECT vec_id, demb, {sim.norm_sql('demb')} AS nrm FROM e),
b AS (SELECT vec_id, {sim.lsh_buckets_multi_sql('demb')} AS buckets
      FROM n),
x AS (SELECT vec_id, i AS tbl, buckets[i + 1] AS bucket
      FROM b CROSS JOIN
           (SELECT unnest(range(0, {sim.LSH_TABLES})) AS i) u),
cand AS (SELECT DISTINCT a.vec_id AS va, c.vec_id AS vb
         FROM x a JOIN x c ON c.tbl = a.tbl AND c.bucket = a.bucket
                          AND a.vec_id < c.vec_id),
sc AS MATERIALIZED (SELECT cand.va, cand.vb,
              round({sim.dot_unrolled_sql('na.demb', 'nb.demb')}
                    / (na.nrm * nb.nrm), 6) AS cosine
       FROM cand JOIN n na ON na.vec_id = cand.va
                 JOIN n nb ON nb.vec_id = cand.vb),
dir AS (SELECT va AS src, vb AS dst, cosine FROM sc
        UNION ALL
        SELECT vb AS src, va AS dst, cosine FROM sc),
knn AS MATERIALIZED (SELECT src, dst, cosine, rn FROM (
            SELECT *, row_number() OVER (PARTITION BY src
                                         ORDER BY cosine DESC, dst) AS rn
            FROM dir)
        WHERE rn <= {KNN_GRAPH_K})
"""


def _knn_graph_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, cosine, rn<=K): the directed approximate k-NN graph —
    shared by sim_knn_graph, the PageRank centrality query and the
    hubness histogram."""
    from ..registry import pin, spread, table

    e = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", sim.as_double(F.col("embedding")).alias("demb"))
    n = pin(e.select("vec_id", "demb",
                     sim.norm(F.col("demb")).alias("nrm")))
    x = pin(n.select(
        "vec_id",
        F.posexplode(sim.lsh_buckets_multi(F.col("demb")))
         .alias("tbl", "bucket")).select("vec_id", "tbl", "bucket"))
    a = x.select(F.col("vec_id").alias("va"), "tbl", "bucket")
    c = x.select(F.col("vec_id").alias("vb"), "tbl", "bucket")
    cand = (a.join(c, ["tbl", "bucket"])
            .filter(F.col("va") < F.col("vb"))
            .select("va", "vb").distinct())
    na = n.select(F.col("vec_id").alias("va"),
                  F.col("demb").alias("demb_a"), F.col("nrm").alias("nrm_a"))
    nb = n.select(F.col("vec_id").alias("vb"),
                  F.col("demb").alias("demb_b"), F.col("nrm").alias("nrm_b"))
    sc = (cand.join(na, "va").join(nb, "vb")
          .select("va", "vb",
                  sim.cosine(sim.dot(F.col("demb_a"), F.col("demb_b")),
                             F.col("nrm_a"), F.col("nrm_b"))
                     .alias("cosine")))
    directed = (
        sc.select(F.col("va").alias("src"), F.col("vb").alias("dst"),
                  "cosine")
        .unionAll(sc.select(F.col("vb").alias("src"),
                            F.col("va").alias("dst"), "cosine")))
    w = Window.partitionBy("src").orderBy(F.col("cosine").desc(), "dst")
    return (
        directed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_GRAPH_K)
    )


def lsh_probe(n: DataFrame) -> DataFrame:
    """Distinct (query_id, neighbor_id, cosine) LSH candidates of the 10
    query vectors (vec_id < 10) over ``n`` (vec_id, demb, nrm): one
    (tbl, bucket) row per vector and hash table, the queries' rows
    broadcast and equi-joined on (tbl, bucket), exact cosine on the
    collisions only — the Spark twin of the oracles' b/x/q CTEs. The
    exploded signature table feeds BOTH join sides, so it is pinned:
    without the persist each side recomputes the L x P hyperplane sign
    folds over the whole corpus (observed ~15 s -> ~2 s at sf0.01)."""
    from ..registry import pin

    x = pin(n.select(
        "vec_id", "demb", "nrm",
        F.posexplode(sim.lsh_buckets_multi(F.col("demb")))
         .alias("tbl", "bucket")))
    q = x.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("demb").alias("q_demb"),
        F.col("nrm").alias("q_nrm"), F.col("tbl").alias("q_tbl"),
        F.col("bucket").alias("q_bucket"))
    return (
        F.broadcast(q)
        .join(x, (F.col("tbl") == F.col("q_tbl"))
              & (F.col("bucket") == F.col("q_bucket"))
              & (F.col("vec_id") != F.col("query_id")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                sim.cosine(sim.dot(F.col("q_demb"), F.col("demb")),
                           F.col("q_nrm"), F.col("nrm")).alias("cosine"))
        .distinct()
    )

"""Graph-based ANN: the full HNSW-class index lifecycle as pure
relational plans — NN-Descent construction, greedy beam search,
beam-width calibration, incremental insertion, and the rebuild
decision.

Certification status (the honest-labeling house rule):

- ``graph_nn_descent`` — formal driver row round 9; unchanged since.
- ``graph_greedy_search`` — formal row round 9; its ORACLE text was
  refactored in round 10 (query-panel CTE shared with the sweep), so
  it re-certifies inside the r10 window per the house rule.
- ``graph_beam_sweep`` / ``graph_knn_insert`` (late round 9) — landed
  AFTER the r9 window was allocated and sat honestly BEHIND it; they
  LEAD the r10 window (the rotation the r9 verdict pre-allocated).
- ``graph_rebuild_decision`` (round 10) — formal row round 10; its
  builder was factored into the shared ``_rebuild_curve`` /
  ``_rebuild_curve_ctes`` in round 11 (output-identical — rendered
  oracle text compared against the r10 tip), so it re-certifies
  inside the r11 window per the house rule.
- ``graph_rebuild_policy`` (round 11) — INSIDE the r11 window, formal
  row round 11 (green).
- Round 12: ``graph_rebuild_execute`` (new — the ACT step: run the
  full rebuild and measure the recall it buys back) plus house-rule
  re-certs of the whole family inside the r12 window, because the
  shared builders changed: ``_graph_ctes`` gained tag/lead parameters
  (rendered text byte-identical for every existing oracle — verified
  by md5 against the r11 tip) and ``_rebuild_curve`` was factored
  through the new ``_insert_replay`` (output-identical; the curve
  tail is unchanged).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Registry import FIRST among intra-package imports (worker re-import
# ordering; see llm_ext2.py's header note).
from ..registry import REGISTRY, pin, register, spread, table

from ..operators import similarity as sim
from .knn_shared import two_phase_top_k, vectors

# ------------------------------------------ NN-Descent kNN-graph build

# NN-Descent (Dong et al.): build an approximate kNN graph WITHOUT an
# index by iterating "a neighbor of my neighbor is probably my
# neighbor" — start from a cheap arbitrary graph, then each round score
# every node against its neighbors' neighbors (and reverse neighbors)
# and keep the best K. This is the graph-construction workhorse behind
# HNSW-class indexes and graph-based dedup at corpus scale, and its
# distributed shape is pure relational algebra: one self-join (2-hop
# candidates), one union (reverse edges), one scoring join against the
# vector table, one rank-window top-K per node — repeated a fixed
# number of rounds. Determinism: the initial graph is a pinned stride
# sample over the contiguous vec_id space (w = (u + j*ND_STRIDE) mod N,
# self-collisions shifted by 1); similarities are ppm-quantized int64
# cosines (the audited dot/dot_sql fold pair), ties broken on neighbor
# id; rounds are unrolled identically in both engines (the same
# fixed-round discipline as the PageRank replay). The output is the
# per-round convergence report (edge count, mean neighbor similarity)
# a graph-index build reads. The true per-round invariant is PER-NODE
# top-m dominance: each round's candidate set contains the previous
# round's edges, so for every node the j-th best kept similarity can
# never fall (j <= previous list length). The GLOBAL mean is only
# nondecreasing when every node's list stays full — a node holding
# fewer than ND_K edges (stride self-collisions on adversarial corpus
# sizes, e.g. n % ND_STRIDE == 0) tops up with lower-similarity edges
# that can pull the mean down. The tests assert per-node dominance as
# the invariant and the rising mean only as a property of the shipped
# fixtures.
ND_K = 5        # neighbors kept per node
ND_ROUNDS = 2   # refinement rounds (unrolled in both engines)
ND_STRIDE = 97  # init-graph stride over the contiguous vec_id space


def _embeddings_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned (vec_id, demb, nrm) — the scoring table both graph
    operators join their id-keyed candidate sets against."""
    return pin(vectors(spread(table(spark, sf_dir, "embeddings"))))


def _score_pairs(en: DataFrame, cand: DataFrame) -> DataFrame:
    """ppm-quantized cosine for each candidate (u, w) pair; vectors
    ride only these two id-keyed joins."""
    a = en.select(F.col("vec_id").alias("u"),
                  F.col("demb").alias("da"), F.col("nrm").alias("na"))
    b = en.select(F.col("vec_id").alias("w"),
                  F.col("demb").alias("db"), F.col("nrm").alias("nb"))
    return (cand.join(a, "u").join(b, "w")
            .select("u", "w",
                    F.floor((sim.dot(F.col("da"), F.col("db"))
                             / (F.col("na") * F.col("nb")))
                            * F.lit(1e6) + F.lit(0.5)).cast("long")
                    .alias("sim_ppm")))


def _nn_descent_rounds(en: DataFrame) -> list[DataFrame]:
    """[edges_0, ..., edges_ND_ROUNDS]: the stride-init graph and each
    refinement round's kept edges (u, w, sim_ppm), every round
    checkpoint-truncated (eager localCheckpoint — the PageRank /
    connected-components lineage pattern), so the driver holds only
    the loop index."""
    nn = en.agg(F.count("*").cast("bigint").alias("n"))
    init = (en.select("vec_id").crossJoin(F.broadcast(nn))
            .select(F.col("vec_id").alias("u"),
                    F.explode(F.array(*[
                        F.lit(j) for j in range(1, ND_K + 1)])).alias("j"),
                    "n")
            .select("u",
                    F.expr(f"((u + j * {ND_STRIDE}) % n"
                           f" + if((u + j * {ND_STRIDE}) % n = u, 1, 0))"
                           f" % n").alias("w"))
            .filter(F.col("u") != F.col("w")).distinct())
    rounds = [_score_pairs(en, init).localCheckpoint(eager=True)]
    wtop = Window.partitionBy("u").orderBy(F.col("sim_ppm").desc(), "w")
    for _t in range(1, ND_ROUNDS + 1):
        cur = rounds[-1].select("u", "w")
        twohop = (cur.alias("a")
                  .join(cur.alias("b"), F.col("a.w") == F.col("b.u"))
                  .select(F.col("a.u").alias("u"), F.col("b.w").alias("w")))
        rev = cur.select(F.col("w").alias("u"), F.col("u").alias("w"))
        cand = (cur.unionByName(twohop).unionByName(rev)
                .filter(F.col("u") != F.col("w")).distinct())
        rounds.append(_score_pairs(en, cand)
                      .withColumn("rk", F.row_number().over(wtop))
                      .filter(F.col("rk") <= ND_K)
                      .select("u", "w", "sim_ppm")
                      .localCheckpoint(eager=True))
    return rounds


@register(
    "graph_nn_descent",
    oracle=None,  # set below
    tags=("llm", "graph", "nn-descent", "iterative"),
)
def q_nn_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NN-Descent kNN-graph construction: pinned stride-sample init
    graph, then ND_ROUNDS rounds of candidate generation (current
    edges + 2-hop neighbors-of-neighbors + reverse edges), exact
    ppm-cosine scoring, and per-node top-ND_K selection. Emits one row
    per round (including round 0 = the init graph): edge count and
    mean neighbor similarity — the convergence curve that tells an
    index build when to stop.

    Scale shape: each round is ONE self-join on the (u, w) edge list
    (corpus x K rows, never corpus x corpus), one union, two id-keyed
    joins against the (id, vector, norm) table to score, and one
    rank window partitioned by node — all shuffles carry ids and int
    scores; vectors ride only the two scoring joins. Edge lineage is
    truncated per round with an eager localCheckpoint (the PageRank /
    connected-components pattern), so the driver holds only the loop
    index."""
    en = _embeddings_en(spark, sf_dir)
    rounds = _nn_descent_rounds(en)
    # Spark `div` vs the oracle's `//`: both truncate toward zero (NOT
    # floor), so the mean agrees between engines even for a negative
    # sim_ppm sum — pinned by tests/test_engine_semantics.py. Same
    # convention at the two sibling mean-sim sites below.
    stats = [
        edges.agg(F.lit(t).cast("bigint").alias("round"),
                  F.count("*").cast("bigint").alias("n_edges"),
                  F.expr("cast(sum(sim_ppm) div count(*) as bigint)")
                  .alias("mean_sim_ppm"))
        for t, edges in enumerate(rounds)]
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out.orderBy("round")


def _graph_ctes(where: str = "", tag: str = "", lead: bool = True) -> str:
    """The construction CTE chain shared by the graph oracles:
    embeddings -> en (vectors + norms) -> stride init -> e0 ..
    e{ND_ROUNDS} (scored, per-node top-K kept edges). Unrolled fixed
    rounds (recursive CTEs cannot aggregate in the recursive term; same
    discipline as the PageRank replay). The pair-scoring dot uses the
    UNROLLED fold — flat CTEs, plain column references — because the
    interpreted lambda form costs ~12 us per element and the candidate
    table is corpus x ~K^2 pairs. ``where`` restricts the graph's node
    table (the insert oracle builds on the base slice only; the others
    pass nothing, their text unchanged). ``tag`` suffixes every CTE
    name and ``lead=False`` drops the WITH keyword, so the
    rebuild-execute oracle can run a SECOND, full-corpus build inside
    the same query; defaults render byte-identically to the untagged
    form."""
    ppm = (f"CAST(floor(({sim.dot_unrolled_sql('a.demb', 'b.demb')}"
           f" / (a.nrm * b.nrm)) * 1e6 + 0.5) AS BIGINT)")
    kw = "WITH " if lead else ""
    parts = [f"""
    {kw}e{tag} AS (SELECT vec_id, {sim.as_double_sql('embedding')} AS demb
               FROM embeddings{where}),
    en{tag} AS MATERIALIZED (
        SELECT vec_id, demb, sqrt({sim.dot_sql('demb', 'demb')}) AS nrm
        FROM e{tag}),
    nn{tag} AS (SELECT CAST(count(*) AS BIGINT) AS n FROM en{tag}),
    init{tag} AS (
        SELECT DISTINCT u, w FROM (
            SELECT a.vec_id AS u,
                   ((a.vec_id + j.j * {ND_STRIDE}) % nn{tag}.n
                    + CASE WHEN (a.vec_id + j.j * {ND_STRIDE}) % nn{tag}.n
                                = a.vec_id THEN 1 ELSE 0 END) % nn{tag}.n AS w
            FROM en{tag} a CROSS JOIN nn{tag},
                 LATERAL (SELECT unnest(range(1, {ND_K} + 1)) AS j) j)
        WHERE u != w),
    e0{tag} AS MATERIALIZED (SELECT i.u, i.w, {ppm} AS sim_ppm
           FROM init{tag} i JOIN en{tag} a ON a.vec_id = i.u
                       JOIN en{tag} b ON b.vec_id = i.w)"""]
    for t in range(1, ND_ROUNDS + 1):
        p = t - 1
        parts.append(f"""
    c{t}{tag} AS (
        SELECT DISTINCT u, w FROM (
            SELECT u, w FROM e{p}{tag}
            UNION ALL
            SELECT x.u, y.w FROM e{p}{tag} x JOIN e{p}{tag} y ON x.w = y.u
            UNION ALL
            SELECT w AS u, u AS w FROM e{p}{tag})
        WHERE u != w),
    s{t}{tag} AS (SELECT c.u, c.w, {ppm} AS sim_ppm
             FROM c{t}{tag} c JOIN en{tag} a ON a.vec_id = c.u
                         JOIN en{tag} b ON b.vec_id = c.w),
    e{t}{tag} AS MATERIALIZED (SELECT u, w, sim_ppm FROM (
                 SELECT u, w, sim_ppm,
                        row_number() OVER (PARTITION BY u
                                           ORDER BY sim_ppm DESC, w) AS rk
                 FROM s{t}{tag})
             WHERE rk <= {ND_K})""")
    return ",".join(parts)


def _nn_descent_oracle() -> str:
    rounds_union = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({t} AS BIGINT) AS round,
           CAST(count(*) AS BIGINT) AS n_edges,
           CAST(sum(sim_ppm) // count(*) AS BIGINT) AS mean_sim_ppm
    FROM e{t}""" for t in range(ND_ROUNDS + 1))
    return _graph_ctes() + "\n" + rounds_union + "\n    ORDER BY round"


REGISTRY["graph_nn_descent"].oracle = _nn_descent_oracle()


# --------------------------------- greedy beam search over the graph

# The query half of the graph-ANN story: HNSW-class indexes answer a
# query by GREEDY NAVIGATION — start at an entry node, repeatedly hop
# to the neighbor closest to the query, stop when no neighbor improves.
# The batch-distributed form is beam search with fixed hop rounds
# unrolled: a per-query frontier of the B best visited nodes, expanded
# each hop through the SYMMETRIZED union of the refined kNN edges and
# the stride-init edges (HNSW links are bidirectional, and NSW-style
# navigability needs the long-range links the init graph provides — a
# pure kNN graph fragments into clusters greedy search cannot leave),
# scored against the query vector, with a visited set so no node is
# scored twice. Everything is relational: per hop, one frontier-edges
# join, one anti-join against the visited set, one id-keyed scoring
# join, one rank window. Three operators share this machinery:
#
# - graph_greedy_search  — the navigability report (per-query visited
#   count + recall@K vs exact), IN the r9 sample window;
# - graph_beam_sweep     — the cost/recall curve over frontier widths
#   (the graph-search analog of sim_ann_nprobe_sweep);
# - graph_knn_insert     — HNSW-style INCREMENTAL insertion: held-out
#   vectors search the base graph and connect to the best nodes found,
#   with the connection quality measured against their true base top-K
#   (the maintenance path that avoids full index rebuilds at scale).
#
# NOTE the fixture corpus is deliberately adversarial for graph ANN:
# its embeddings are near-uniform random (within-label cosine ==
# cross-label cosine == ~0), so the similarity surface is flat and NO
# graph navigates it much better than random visiting — the honest
# reports here show recall modestly above the visited-fraction
# baseline, and the tests assert exactly that (plus sub-linear
# visiting) on these fixtures, with the real navigation floors
# asserted on a planted-cluster corpus in test_ann_recall.
#
# Determinism: query ids and entry ids are modular-arithmetic functions
# of the corpus size computed identically in both engines;
# similarities are ppm-quantized int64, all ranks tie-broken on node
# id; hops are unrolled identically in both engines.
GS_NQ = 6        # pinned query panel size
GS_BEAM = 8      # frontier width per query
GS_HOPS = 4      # unrolled hop rounds
GS_TOPK = 10     # answer size / recall@K
GS_ENTRIES = 8   # stride-pinned entry points per query
GS_QOFF = 17     # query id stride sample: (GS_QOFF + GS_QSTRIDE*i) % n
GS_QSTRIDE = 131

def _wq():
    return Window.partitionBy("query_id").orderBy(
        F.col("sim_ppm").desc(), "node")


def _sym_edges(rounds: list[DataFrame]) -> DataFrame:
    """Symmetrized union of the final refined edges and the stride-init
    long links (the searched graph), checkpoint-truncated."""
    return (rounds[-1].select("u", "w")
            .unionByName(rounds[0].select("u", "w"))
            .unionByName(rounds[-1].select(F.col("w").alias("u"),
                                           F.col("u").alias("w")))
            .unionByName(rounds[0].select(F.col("w").alias("u"),
                                          F.col("u").alias("w")))
            .distinct().localCheckpoint(eager=True))


def _make_score(en: DataFrame, qpanel: DataFrame):
    """score((query_id, node)) -> + ppm cosine vs that query's vector;
    the panel is broadcast, vectors ride only the id-keyed join."""
    def score(nodes: DataFrame) -> DataFrame:
        return (nodes
                .join(en.select(F.col("vec_id").alias("node"),
                                "demb", "nrm"), "node")
                .join(F.broadcast(qpanel.select("query_id", "qvec",
                                                "qnorm")), "query_id")
                .select("query_id", "node",
                        F.floor((sim.dot(F.col("qvec"), F.col("demb"))
                                 / (F.col("qnorm") * F.col("nrm")))
                                * F.lit(1e6) + F.lit(0.5)).cast("long")
                        .alias("sim_ppm")))
    return score


def _entry_nodes(spark: SparkSession, nn: DataFrame) -> DataFrame:
    """GS_ENTRIES stride-pinned entry nodes over the graph's contiguous
    id space (nn = 1-row count of the GRAPH's node table)."""
    return (spark.range(GS_ENTRIES)
            .select(F.col("id").cast("bigint").alias("j"))
            .crossJoin(F.broadcast(nn))
            .select(F.expr(f"j * (n div {GS_ENTRIES})")
                    .cast("bigint").alias("node"))
            .distinct())


def _query_panel(spark: SparkSession, en: DataFrame,
                 nn: DataFrame) -> DataFrame:
    """The GS_NQ stride-pinned query panel (query_id, qid, qvec,
    qnorm) over the corpus's contiguous id space — shared by
    graph_greedy_search and graph_beam_sweep (one construction site;
    the insert operators build theirs from the held-out slice
    instead)."""
    return (spark.range(GS_NQ)
            .select(F.col("id").cast("bigint").alias("query_id"))
            .crossJoin(F.broadcast(nn))
            .select("query_id",
                    F.expr(f"({GS_QOFF} + {GS_QSTRIDE} * query_id) % n")
                    .cast("bigint").alias("qid"))
            .join(en, F.col("qid") == F.col("vec_id"))
            .select("query_id", "qid",
                    F.col("demb").alias("qvec"),
                    F.col("nrm").alias("qnorm")))


def _search_seen(seen0: DataFrame, und: DataFrame, qpanel: DataFrame,
                 score, beam: int, hops: int) -> DataFrame:
    """The beam-search hop loop: visited set after `hops` rounds from
    the scored entry set, per-hop checkpoint-truncated. Self-exclusion
    rides the broadcast (query_id, qid) panel columns."""
    seen = seen0
    frontier = (seen.withColumn("rk", F.row_number().over(_wq()))
                .filter(F.col("rk") <= beam)
                .select("query_id", "node"))
    for _h in range(hops):
        nbrs = (frontier.join(und, frontier["node"] == und["u"])
                .select("query_id", F.col("w").alias("node"))
                .distinct()
                .join(F.broadcast(qpanel.select("query_id", "qid")),
                      "query_id")
                .filter(F.col("node") != F.col("qid"))
                .select("query_id", "node"))
        new = nbrs.join(seen.select("query_id", "node"),
                        ["query_id", "node"], "left_anti")
        seen = (seen.unionByName(score(new))
                .localCheckpoint(eager=True))
        frontier = (seen.withColumn("rk", F.row_number().over(_wq()))
                    .filter(F.col("rk") <= beam)
                    .select("query_id", "node"))
    return seen


def _topk_nodes(df: DataFrame, k: int) -> DataFrame:
    return (df.withColumn("rk", F.row_number().over(_wq()))
            .filter(F.col("rk") <= k)
            .select("query_id", "node"))


def _exact_topk(base: DataFrame, qpanel: DataFrame, k: int) -> DataFrame:
    """Exact per-query cosine top-k over `base`: the corpus scans ONCE
    against the broadcast panel and ranks via the two-phase top-K
    ((query, input-partition) rank, then global), so ranking never
    collapses to |Q| partitions (the sim_crossmodal_recall
    discipline)."""
    scored_all = (base.crossJoin(F.broadcast(qpanel))
                  .filter(F.col("vec_id") != F.col("qid"))
                  .select("query_id", "vec_id",
                          F.floor((sim.dot(F.col("qvec"), F.col("demb"))
                                   / (F.col("qnorm") * F.col("nrm")))
                                  * F.lit(1e6) + F.lit(0.5)).cast("long")
                          .alias("sim_ppm")))
    return (two_phase_top_k(scored_all, "sim_ppm", k)
            .select("query_id", F.col("vec_id").alias("node")))


@register(
    "graph_greedy_search",
    oracle=None,  # set below
    tags=("llm", "graph", "similarity", "ann", "recall"),
)
def q_graph_greedy_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy beam search over the NN-Descent kNN graph: for each of
    GS_NQ stride-pinned corpus-node queries, navigate GS_HOPS hops from
    GS_ENTRIES stride-pinned entry points through the symmetrized
    (refined + init long-link) edge list, keeping the GS_BEAM best
    visited nodes as the frontier, then report nodes visited, hits@K
    and recall@K of the search's top-GS_TOPK against the exact cosine
    top-GS_TOPK (self excluded on both sides), plus the best similarity
    reached — the navigability report that sizes a graph index (and the
    consumer that makes graph_nn_descent's build output usable).

    Scale shape: the graph build is the audited NN-Descent plan; the
    search itself is query-panel-bounded — per hop, the frontier is
    Q x GS_BEAM rows joined against the (u, w) edge list (id-int rows
    only), anti-joined against the visited set, and only NEW nodes ride
    the one id-keyed scoring join against the vector table (the query
    panel itself is Q rows, broadcast). The exact baseline scans the
    corpus ONCE against the broadcast panel with two-phase top-K
    ranking. Visited state is checkpoint-truncated per hop and bounded
    by Q x (GS_ENTRIES + GS_BEAM x degree x GS_HOPS) rows."""
    en = _embeddings_en(spark, sf_dir)
    rounds = _nn_descent_rounds(en)
    nn = en.agg(F.count("*").cast("bigint").alias("n"))
    und = _sym_edges(rounds)
    qpanel = _query_panel(spark, en, nn)
    score = _make_score(en, qpanel)
    seen0 = score(qpanel.select("query_id", "qid")
                  .crossJoin(F.broadcast(_entry_nodes(spark, nn)))
                  .filter(F.col("node") != F.col("qid"))
                  .select("query_id", "node")
                  ).localCheckpoint(eager=True)
    seen = _search_seen(seen0, und, qpanel, score, GS_BEAM, GS_HOPS)
    found = _topk_nodes(seen, GS_TOPK)
    exact = _exact_topk(en, qpanel, GS_TOPK)
    nv = (seen.groupBy("query_id")
          .agg(F.count("*").cast("bigint").alias("n_visited"),
               F.max("sim_ppm").cast("bigint").alias("best_sim_ppm")))
    hits = (found.join(exact, ["query_id", "node"])
            .groupBy("query_id")
            .agg(F.count("*").cast("bigint").alias("n_hits")))
    return (nv.join(hits, "query_id", "left")
            .select("query_id", "n_visited",
                    F.coalesce("n_hits", F.lit(0)).cast("bigint")
                    .alias("n_hits"),
                    F.expr(f"cast(coalesce(n_hits, 0) * 1000000"
                           f" div {GS_TOPK} as bigint)")
                    .alias("recall_ppm"),
                    "best_sim_ppm")
            .orderBy("query_id"))


# Shared oracle fragments. Scoring reuses the lambda-fold dot_sql so
# the add sequence matches Spark's F.aggregate fold bit-for-bit;
# query/entry ids are the same modular expressions over the graph's
# node count. Hops unrolled; NOT EXISTS is the anti-join twin. Heavy /
# multiply-referenced CTEs are MATERIALIZED (DuckDB otherwise
# re-inlines the hop chain exponentially — observed minutes -> 0.3 s).
_SCORE_SQL = (f"CAST(floor(({sim.dot_sql('p.qvec', 'b.demb')}"
              f" / (p.qnorm * b.nrm)) * 1e6 + 0.5) AS BIGINT)")


def _und_cte(tag: str = "") -> str:
    return f"""
    und{tag} AS MATERIALIZED (SELECT DISTINCT u, w FROM (
                SELECT u, w FROM e{ND_ROUNDS}{tag}
                UNION ALL
                SELECT u, w FROM e0{tag}
                UNION ALL
                SELECT w AS u, u AS w FROM e{ND_ROUNDS}{tag}
                UNION ALL
                SELECT w AS u, u AS w FROM e0{tag}))"""


def _entries_seen0_ctes(qp: str = "qp", tag: str = "",
                        en_cte: str = "en", nn_cte: str = "nn") -> str:
    """ent{tag} (stride entry nodes over the graph's node count) and
    gs0{tag} (entries scored per query, self excluded). The node table
    and its count are parameterized so the rebuild-decision oracle can
    run successive insert batches against the GROWN graph."""
    return f"""
    ent{tag} AS MATERIALIZED (SELECT DISTINCT
                CAST(j.j * (nn.n // {GS_ENTRIES}) AS BIGINT) AS node
            FROM (SELECT unnest(range(0, {GS_ENTRIES})) AS j) j
                 CROSS JOIN {nn_cte} nn),
    gs0{tag} AS MATERIALIZED (SELECT p.query_id, t.node, {_SCORE_SQL}
                AS sim_ppm
            FROM {qp} p CROSS JOIN ent{tag} t
                 JOIN {en_cte} b ON b.vec_id = t.node
            WHERE t.node != p.qid)"""


def _beam_hops_ctes(tag: str, beam: int, hops: int,
                    qp: str = "qp", seen0: str = "gs0",
                    und_cte: str = "und", en_cte: str = "en") -> str:
    """The unrolled hop chain gn/gc/gs/gf with names suffixed by `tag`
    (so several sweeps can share one construction + gs0); the final
    visited state is gs{hops}{tag}. Edge list and scoring table are
    parameterized for the rebuild-decision oracle's grown graph."""
    parts = [f"""
    gf0{tag} AS MATERIALIZED (SELECT query_id, node FROM (
                SELECT query_id, node,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY sim_ppm DESC, node)
                           AS rk
                FROM {seen0})
            WHERE rk <= {beam})"""]
    for h in range(1, hops + 1):
        prev = seen0 if h == 1 else f"gs{h - 1}{tag}"
        parts.append(f"""
    gn{h}{tag} AS MATERIALIZED (SELECT DISTINCT f.query_id, u2.w AS node
              FROM gf{h - 1}{tag} f JOIN {und_cte} u2 ON u2.u = f.node
                   JOIN {qp} q2 ON q2.query_id = f.query_id
              WHERE u2.w != q2.qid
                AND NOT EXISTS (SELECT 1 FROM {prev} s
                                WHERE s.query_id = f.query_id
                                  AND s.node = u2.w)),
    gc{h}{tag} AS (SELECT g.query_id, g.node, {_SCORE_SQL} AS sim_ppm
              FROM gn{h}{tag} g JOIN {en_cte} b ON b.vec_id = g.node
                           JOIN {qp} p ON p.query_id = g.query_id),
    gs{h}{tag} AS MATERIALIZED (
        SELECT * FROM {prev} UNION ALL SELECT * FROM gc{h}{tag}),
    gf{h}{tag} AS MATERIALIZED (SELECT query_id, node FROM (
                  SELECT query_id, node,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY sim_ppm DESC, node)
                             AS rk
                  FROM gs{h}{tag})
              WHERE rk <= {beam})""")
    return ",".join(parts)


def _found_cte(final_state: str, k: int, tag: str = "") -> str:
    """found{tag}: the search's per-query top-k over a visited-state
    CTE. Split from the exact baseline (below) so each oracle emits
    only the CTEs its tail actually reads — the insert oracle ranks
    its own `edges` CTE and needs no `found` at all."""
    return f"""
    found{tag} AS (SELECT query_id, node FROM (
                  SELECT query_id, node,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY sim_ppm DESC, node)
                             AS rk
                  FROM {final_state})
              WHERE rk <= {k})"""


def _exact_ctes(k: int, qp: str = "qp", en_cte: str = "en",
                tag: str = "") -> str:
    """allsc{tag} + exact{tag}: the shared brute-force per-query top-k
    baseline over `en_cte` (one corpus scan, MATERIALIZED so every
    sweep point reuses it)."""
    return f"""
    allsc{tag} AS MATERIALIZED (SELECT p.query_id, b.vec_id, {_SCORE_SQL}
                  AS sim_ppm
              FROM {qp} p CROSS JOIN {en_cte} b
              WHERE b.vec_id != p.qid),
    exact{tag} AS MATERIALIZED (SELECT query_id, vec_id AS node FROM (
                  SELECT query_id, vec_id,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY sim_ppm DESC, vec_id)
                             AS rk
                  FROM allsc{tag})
              WHERE rk <= {k})"""


def _qp_cte() -> str:
    """The stride-pinned query-panel CTE — the SQL twin of
    _query_panel, shared by the greedy-search and beam-sweep
    oracles."""
    return f"""
    qp AS MATERIALIZED (SELECT CAST(i.i AS BIGINT) AS query_id,
                  CAST(({GS_QOFF} + {GS_QSTRIDE} * i.i) % nn.n AS BIGINT)
                      AS qid,
                  b.demb AS qvec, b.nrm AS qnorm
           FROM (SELECT unnest(range(0, {GS_NQ})) AS i) i
                CROSS JOIN nn
                JOIN en b
                  ON b.vec_id = ({GS_QOFF} + {GS_QSTRIDE} * i.i) % nn.n)"""


def _greedy_search_oracle() -> str:
    tail = f"""
    nv AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_visited,
                  CAST(max(sim_ppm) AS BIGINT) AS best_sim_ppm
           FROM gs{GS_HOPS} GROUP BY query_id),
    hits AS (SELECT f.query_id, CAST(count(*) AS BIGINT) AS n_hits
             FROM found f JOIN exact e ON e.query_id = f.query_id
                                      AND e.node = f.node
             GROUP BY f.query_id)
    SELECT nv.query_id, nv.n_visited,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n_hits, 0) * 1000000 // {GS_TOPK} AS BIGINT)
               AS recall_ppm,
           nv.best_sim_ppm
    FROM nv LEFT JOIN hits h ON h.query_id = nv.query_id
    ORDER BY nv.query_id"""
    return (_graph_ctes() + "," + _und_cte() + "," + _qp_cte() + ","
            + _entries_seen0_ctes()
            + "," + _beam_hops_ctes("", GS_BEAM, GS_HOPS)
            + "," + _found_cte(f"gs{GS_HOPS}", GS_TOPK)
            + "," + _exact_ctes(GS_TOPK)
            + "," + tail)


REGISTRY["graph_greedy_search"].oracle = _greedy_search_oracle()


# ------------------------------------------ beam-width cost/recall sweep

# CERTIFICATION STATUS: registered in round 9 AFTER the 50-slot r9
# sample window was allocated, so it sat honestly BEHIND that window;
# it LEADS the r10 window (locally oracle-verified at three SFs + a
# plain driver-style session throughout, pytest-covered).
GS_SWEEP_BEAMS = (2, 4, 8, 16)


@register(
    "graph_beam_sweep",
    oracle=None,  # set below
    tags=("llm", "graph", "ann", "calibration"),
)
def q_graph_beam_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-search cost/recall calibration: recall@GS_TOPK and total
    nodes visited at frontier widths {2, 4, 8, 16} — the curve that
    fixes the production beam width, the graph-ANN counterpart of
    sim_ann_nprobe_sweep (each doubling of the beam roughly doubles
    scoring cost for diminishing recall).

    One graph build, one entry scoring, and ONE exact brute-force
    reference serve every sweep point; only the hop loops re-run per
    beam (each is query-panel-bounded and checkpoint-truncated, so the
    sweep adds |beams| x GS_HOPS bounded stages, never another corpus
    scan)."""
    en = _embeddings_en(spark, sf_dir)
    rounds = _nn_descent_rounds(en)
    nn = en.agg(F.count("*").cast("bigint").alias("n"))
    und = _sym_edges(rounds)
    qpanel = _query_panel(spark, en, nn)
    score = _make_score(en, qpanel)
    seen0 = score(qpanel.select("query_id", "qid")
                  .crossJoin(F.broadcast(_entry_nodes(spark, nn)))
                  .filter(F.col("node") != F.col("qid"))
                  .select("query_id", "node")
                  ).localCheckpoint(eager=True)
    exact = _exact_topk(en, qpanel, GS_TOPK).localCheckpoint(eager=True)
    out = None
    for beam in GS_SWEEP_BEAMS:
        seen = _search_seen(seen0, und, qpanel, score, beam, GS_HOPS)
        found = _topk_nodes(seen, GS_TOPK)
        row = (seen.agg(F.count("*").cast("bigint").alias("n_visited"))
               .crossJoin(found.join(exact, ["query_id", "node"])
                          .agg(F.count("*").cast("bigint")
                               .alias("n_hits")))
               .select(F.lit(beam).cast("bigint").alias("beam"),
                       "n_visited", "n_hits",
                       F.expr(f"cast(n_hits * 1000000"
                              f" div {GS_NQ * GS_TOPK} as bigint)")
                       .alias("recall_ppm")))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("beam")


def _beam_sweep_oracle() -> str:
    chains, selects = [], []
    for beam in GS_SWEEP_BEAMS:
        tag = f"b{beam}"
        chains.append(_beam_hops_ctes(tag, beam, GS_HOPS))
        chains.append(_found_cte(f"gs{GS_HOPS}{tag}", GS_TOPK, tag))
        selects.append(f"""
    SELECT CAST({beam} AS BIGINT) AS beam,
           (SELECT CAST(count(*) AS BIGINT) FROM gs{GS_HOPS}{tag})
               AS n_visited,
           (SELECT CAST(count(*) AS BIGINT)
            FROM found{tag} f JOIN exact e
              ON e.query_id = f.query_id AND e.node = f.node) AS n_hits,
           (SELECT CAST(count(*) * 1000000 // {GS_NQ * GS_TOPK} AS BIGINT)
            FROM found{tag} f JOIN exact e
              ON e.query_id = f.query_id AND e.node = f.node)
               AS recall_ppm""")
    # exact baseline shared across sweep points (one corpus scan)
    return (_graph_ctes() + "," + _und_cte() + "," + _qp_cte() + ","
            + _entries_seen0_ctes() + "," + _exact_ctes(GS_TOPK) + ","
            + ",".join(chains)
            + "\n    UNION ALL\n".join(selects)
            + "\n    ORDER BY beam")


REGISTRY["graph_beam_sweep"].oracle = _beam_sweep_oracle()


# --------------------------------------- incremental insertion (HNSW)

# CERTIFICATION STATUS: registered in round 9 AFTER the 50-slot r9
# sample window was allocated — sat honestly BEHIND that window; LEADS
# the r10 window with graph_beam_sweep (locally oracle-verified at
# three SFs + a plain session throughout, pytest-covered).
#
# At 100 TB an embedding index is never rebuilt from scratch for each
# ingest batch: new vectors are INSERTED — each one beam-searches the
# existing graph for its neighborhood and connects to the best nodes
# found (exactly HNSW's insertion algorithm, batch-expressed: the
# whole new batch searches in parallel as one query panel). This
# operator holds out the last GI_M vectors as the insert batch, builds
# the NN-Descent graph on the base slice only, runs the insertion
# search, and reports per inserted vector: scoring cost (nodes
# visited), the quality of its new edges — overlap of the ND_K
# connected nodes with its TRUE base top-ND_K — and the mean edge
# similarity. The maintenance-quality report that decides when
# incremental insertion has degraded enough to warrant a rebuild.
GI_M = 24  # held-out insert batch (an eval panel, pinned)


@register(
    "graph_knn_insert",
    oracle=None,  # set below
    tags=("llm", "graph", "ann", "incremental"),
)
def q_graph_knn_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW-style incremental insertion eval: the last GI_M vectors
    (by vec_id) are held out, the NN-Descent graph is built on the
    remaining base slice (same audited plan — the base id space stays
    contiguous, so the stride init is unchanged), and each held-out
    vector beam-searches the base graph (GS_BEAM/GS_HOPS, stride entry
    points) and connects to the top-ND_K nodes found. Emits one row
    per inserted vector: nodes visited, hits = |found edges ∩ true
    base top-ND_K|, recall_ppm over ND_K, and the mean similarity of
    the connected edges (truncating int division).

    Scale shape: identical to graph_greedy_search — the insert batch
    is the broadcast query panel (at real scale the batch shards into
    panels; each is independent), the base graph builds once, per-hop
    state is checkpoint-truncated, and the exact reference (only
    needed because this is an EVAL — production inserts skip it) scans
    the base once with two-phase top-K ranking."""
    en = _embeddings_en(spark, sf_dir)
    nfull = en.agg(F.count("*").cast("bigint").alias("nf"))
    base = pin(en.crossJoin(F.broadcast(nfull))
               .filter(F.col("vec_id") < F.col("nf") - GI_M)
               .select("vec_id", "demb", "nrm"))
    rounds = _nn_descent_rounds(base)
    nb = base.agg(F.count("*").cast("bigint").alias("n"))
    und = _sym_edges(rounds)
    qpanel = (en.crossJoin(F.broadcast(nfull))
              .filter(F.col("vec_id") >= F.col("nf") - GI_M)
              .select(F.col("vec_id").alias("query_id"),
                      F.col("vec_id").alias("qid"),
                      F.col("demb").alias("qvec"),
                      F.col("nrm").alias("qnorm")))
    score = _make_score(base, qpanel)
    seen0 = score(qpanel.select("query_id", "qid")
                  .crossJoin(F.broadcast(_entry_nodes(spark, nb)))
                  .filter(F.col("node") != F.col("qid"))
                  .select("query_id", "node")
                  ).localCheckpoint(eager=True)
    seen = _search_seen(seen0, und, qpanel, score, GS_BEAM, GS_HOPS)
    edges = (seen.withColumn("rk", F.row_number().over(_wq()))
             .filter(F.col("rk") <= ND_K)
             .select("query_id", "node", "sim_ppm"))
    exact = _exact_topk(base, qpanel, ND_K)
    nv = (seen.groupBy("query_id")
          .agg(F.count("*").cast("bigint").alias("n_visited")))
    eq = (edges.groupBy("query_id")
          # `div` == oracle `//`: both truncate toward zero (engine-
          # semantics pin; see q_nn_descent's note)
          .agg(F.expr("cast(sum(sim_ppm) div count(*) as bigint)")
               .alias("mean_edge_sim_ppm")))
    hits = (edges.select("query_id", "node")
            .join(exact, ["query_id", "node"])
            .groupBy("query_id")
            .agg(F.count("*").cast("bigint").alias("n_hits")))
    return (nv.join(eq, "query_id")
            .join(hits, "query_id", "left")
            .select(F.col("query_id").alias("vec_id"), "n_visited",
                    F.coalesce("n_hits", F.lit(0)).cast("bigint")
                    .alias("n_hits"),
                    F.expr(f"cast(coalesce(n_hits, 0) * 1000000"
                           f" div {ND_K} as bigint)").alias("recall_ppm"),
                    "mean_edge_sim_ppm")
            .orderBy("vec_id"))


def _knn_insert_oracle() -> str:
    where = (f" CROSS JOIN (SELECT count(*) AS nf FROM embeddings) nf"
             f" WHERE vec_id < nf.nf - {GI_M}")
    qp = f"""
    enq AS MATERIALIZED (
        SELECT e2.vec_id, {sim.as_double_sql('e2.embedding')} AS demb
        FROM embeddings e2
             CROSS JOIN (SELECT count(*) AS nf FROM embeddings) nf2
        WHERE e2.vec_id >= nf2.nf - {GI_M}),
    qp AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS query_id,
                  CAST(vec_id AS BIGINT) AS qid,
                  demb AS qvec,
                  sqrt({sim.dot_sql('demb', 'demb')}) AS qnorm
           FROM enq)"""
    tail = f"""
    edges AS MATERIALIZED (SELECT query_id, node, sim_ppm FROM (
                  SELECT query_id, node, sim_ppm,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY sim_ppm DESC, node)
                             AS rk
                  FROM gs{GS_HOPS})
              WHERE rk <= {ND_K}),
    nv AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_visited
           FROM gs{GS_HOPS} GROUP BY query_id),
    eq AS (SELECT query_id,
                  CAST(sum(sim_ppm) // count(*) AS BIGINT)
                      AS mean_edge_sim_ppm
           FROM edges GROUP BY query_id),
    hits AS (SELECT f.query_id, CAST(count(*) AS BIGINT) AS n_hits
             FROM edges f JOIN exact e ON e.query_id = f.query_id
                                      AND e.node = f.node
             GROUP BY f.query_id)
    SELECT nv.query_id AS vec_id, nv.n_visited,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n_hits, 0) * 1000000 // {ND_K} AS BIGINT)
               AS recall_ppm,
           eq.mean_edge_sim_ppm
    FROM nv JOIN eq ON eq.query_id = nv.query_id
            LEFT JOIN hits h ON h.query_id = nv.query_id
    ORDER BY vec_id"""
    return (_graph_ctes(where) + "," + _und_cte() + "," + qp + ","
            + _entries_seen0_ctes()
            + "," + _beam_hops_ctes("", GS_BEAM, GS_HOPS)
            + "," + _exact_ctes(ND_K)
            + "," + tail)


REGISTRY["graph_knn_insert"].oracle = _knn_insert_oracle()


# ------------------------------- rebuild decision (insertion drift)

# CERTIFICATION STATUS: written in round 10, formal row round 10;
# builder factored into the shared _rebuild_curve in round 11
# (rendered oracle byte-identical to the r10 tip), re-certifying
# inside the r11 window per the house rule. graph_rebuild_policy:
# written in round 11, INSIDE the r11 window.
#
# graph_knn_insert shows ONE batch's insertion quality; the operational
# question an index maintainer actually asks is the TREND: as batch
# after batch is inserted without a rebuild, how fast does insertion
# recall degrade (inserted nodes search a graph whose edges were never
# re-refined around them)? This operator unrolls GR_B successive insert
# batches — each one beam-searches the graph AS GROWN by its
# predecessors (base edges + every previously inserted node's connected
# edges, symmetrized) and connects to the top-ND_K nodes found — and
# reports the per-batch recall-vs-exact curve plus each batch's drop
# from the first batch: the degradation curve a rebuild trigger reads.
GR_M = 12  # vectors per insert batch
GR_B = 2   # successive batches (unrolled in both engines)


def _insert_replay(spark: SparkSession, sf_dir: str):
    """Replay the GR_B successive insert batches over the growing
    graph; returns (per_batch_stat_rows, per_batch_inserts) where
    per_batch_inserts is [(qpanel, edges)] — the panel each batch
    searched with and the top-ND_K edges it connected. Shared by
    _rebuild_curve (the drift report) and graph_rebuild_execute (the
    act step, which re-measures those same edges against a full
    rebuild)."""
    en = _embeddings_en(spark, sf_dir)
    nfull = en.agg(F.count("*").cast("bigint").alias("nf"))
    base = pin(en.crossJoin(F.broadcast(nfull))
               .filter(F.col("vec_id") < F.col("nf") - GR_B * GR_M)
               .select("vec_id", "demb", "nrm"))
    und = _sym_edges(_nn_descent_rounds(base))
    cur_en = base
    rows = []
    inserts = []
    for b in range(1, GR_B + 1):
        lo, hi = GR_B - b + 1, GR_B - b
        qpanel = (en.crossJoin(F.broadcast(nfull))
                  .filter((F.col("vec_id") >= F.col("nf") - lo * GR_M)
                          & (F.col("vec_id") < F.col("nf") - hi * GR_M))
                  .select(F.col("vec_id").alias("query_id"),
                          F.col("vec_id").alias("qid"),
                          F.col("demb").alias("qvec"),
                          F.col("nrm").alias("qnorm")))
        nb = cur_en.agg(F.count("*").cast("bigint").alias("n"))
        score = _make_score(cur_en, qpanel)
        seen0 = score(qpanel.select("query_id", "qid")
                      .crossJoin(F.broadcast(_entry_nodes(spark, nb)))
                      .filter(F.col("node") != F.col("qid"))
                      .select("query_id", "node")
                      ).localCheckpoint(eager=True)
        seen = _search_seen(seen0, und, qpanel, score, GS_BEAM, GS_HOPS)
        edges = (seen.withColumn("rk", F.row_number().over(_wq()))
                 .filter(F.col("rk") <= ND_K)
                 .select("query_id", "node", "sim_ppm"))
        inserts.append((qpanel, edges))
        exact = _exact_topk(cur_en, qpanel, ND_K)
        rows.append(
            seen.agg(F.count("*").cast("bigint").alias("n_visited"))
            .crossJoin(edges.select("query_id", "node")
                       .join(exact, ["query_id", "node"])
                       .agg(F.count("*").cast("bigint").alias("n_hits")))
            .crossJoin(edges.agg(
                # `div` == oracle `//`: both truncate toward zero
                # (engine-semantics pin; see q_nn_descent's note)
                F.expr("cast(sum(sim_ppm) div count(*) as bigint)")
                .alias("mean_edge_sim_ppm")))
            .select(F.lit(b).cast("bigint").alias("batch"),
                    "n_visited", "n_hits",
                    F.expr(f"cast(n_hits * 1000000"
                           f" div {GR_M * ND_K} as bigint)")
                    .alias("recall_ppm"),
                    "mean_edge_sim_ppm"))
        if b < GR_B:
            newe = edges.select(F.col("query_id").alias("u"),
                                F.col("node").alias("w"))
            und = (und.unionByName(newe)
                   .unionByName(newe.select(F.col("w").alias("u"),
                                            F.col("u").alias("w")))
                   .distinct().localCheckpoint(eager=True))
            cur_en = pin(cur_en.unionByName(
                qpanel.select(F.col("qid").alias("vec_id"),
                              F.col("qvec").alias("demb"),
                              F.col("qnorm").alias("nrm"))))
    return rows, inserts


def _rebuild_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The successive-insertion drift curve shared by
    graph_rebuild_decision (which reports it) and graph_rebuild_policy
    (which reads the actionable decision off it): one row per insert
    batch with visited/hit counts, recall vs the batch's exact top-K,
    mean edge similarity, and the recall drop vs batch 1."""
    rows, _ = _insert_replay(spark, sf_dir)
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    wfirst = (Window.partitionBy(F.lit(0)).orderBy("batch")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (out.withColumn(
        "recall_drop_ppm",
        (F.first("recall_ppm").over(wfirst) - F.col("recall_ppm"))
        .cast("bigint"))
        .orderBy("batch"))


@register(
    "graph_rebuild_decision",
    oracle=None,  # set below
    tags=("llm", "graph", "ann", "incremental", "maintenance"),
)
def q_graph_rebuild_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Successive-insertion drift report: hold out the last GR_B x GR_M
    vectors, build the NN-Descent graph on the base slice, then insert
    GR_B batches in id order — each batch beam-searches the CURRENT
    graph (base + all edges added by earlier batches, symmetrized; the
    scoring table grows with the inserted vectors) and connects to its
    top-ND_K found nodes. One row per batch: nodes visited, hits and
    recall of the connected edges against the exact top-ND_K over the
    batch's CURRENT corpus, mean edge similarity, and the recall drop
    vs batch 1 — the curve that decides when accumulated insertions
    warrant a full rebuild.

    Scale shape: identical per batch to graph_knn_insert (broadcast
    query panel, id-keyed scoring joins, per-hop checkpoint-truncated
    state); between batches the graph grows by a batch x ND_K edge
    list (union + distinct + localCheckpoint, the same lineage
    discipline as the build rounds) and the scoring table by GR_M
    rows. The exact reference re-scans the current corpus once per
    batch — an EVAL cost only, as in graph_knn_insert."""
    return _rebuild_curve(spark, sf_dir)


# The drop threshold the policy face acts on: rebuild once any batch's
# insertion recall has degraded >= this many ppm below batch 1's. On
# the shipped fixtures both regimes are exercised across SFs (sf0.001
# crosses the floor at batch 2; sf0.01's curve is flat, so the policy
# row reports no-rebuild NULLs there).
GRP_DROP_FLOOR_PPM = 50000


@register(
    "graph_rebuild_policy",
    oracle=None,  # set below
    tags=("llm", "graph", "ann", "incremental", "maintenance", "policy"),
)
def q_graph_rebuild_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable face of graph_rebuild_decision: given the recall-
    degradation floor (GRP_DROP_FLOOR_PPM), emit the ONE-row decision
    the curve already determines — the first insert batch whose recall
    drop crosses the floor (NULL when none does), the index size in
    vectors at that decision point, and the edge budget a full rebuild
    would process there (vectors x ND_K, the NN-Descent target edge
    count). Closes the lifecycle loop: build -> search -> sweep ->
    insert -> decide -> act.

    Scale shape: the curve is the whole cost (audited in
    graph_rebuild_decision); the policy adds two 1-row aggregates over
    the GR_B-row curve, a 1-row embeddings count, and broadcast
    crossJoins of those bounds — nothing here grows with the corpus."""
    curve = _rebuild_curve(spark, sf_dir)
    nfq = (_embeddings_en(spark, sf_dir)
           .agg(F.count("*").cast("bigint").alias("nf")))
    dec = (curve.filter(F.col("recall_drop_ppm") >= GRP_DROP_FLOOR_PPM)
           .agg(F.min("batch").cast("bigint").alias("rb")))
    vec_expr = f"nf - ({GR_B} - rb) * {GR_M}"
    return (curve.agg(F.max("recall_drop_ppm").cast("bigint")
                      .alias("max_drop_ppm"))
            .crossJoin(F.broadcast(dec))
            .crossJoin(F.broadcast(nfq))
            .select(F.lit(GRP_DROP_FLOOR_PPM).cast("bigint")
                    .alias("drop_floor_ppm"),
                    "max_drop_ppm",
                    F.col("rb").alias("rebuild_after_batch"),
                    F.expr(f"cast({vec_expr} as bigint)")
                    .alias("index_vectors_at_decision"),
                    F.expr(f"cast(({vec_expr}) * {ND_K} as bigint)")
                    .alias("rebuild_edge_budget")))


# ------------------------------- rebuild execute (the act step)

# graph_rebuild_policy DECIDES when accumulated insertions warrant a
# full rebuild; this operator EXECUTES one and measures what the edge
# budget buys. After all GR_B insert batches, rebuild the whole index
# from scratch (full-corpus NN-Descent — the certified graph_nn_descent
# plan over base + every inserted vector) and compare, against ONE
# fixed baseline (the exact top-ND_K over the FINAL corpus), the
# inserted nodes' answers BEFORE vs AFTER: "before" is the edges each
# batch connected at insert time — handicapped both by graph staleness
# (batch 1 searched a graph that had never seen batch 2's vectors) and
# by baseline drift (its true neighbors may not have existed yet) —
# exactly the degradation the drift curve tracks; "after" is the SAME
# beam search re-run over the freshly rebuilt, fully-symmetrized graph
# (the query path a production index serves after maintenance — a
# rebuilt index is judged by what its searches return, not by its raw
# out-edge lists). The report is the 1-row receipt: hits and recall on
# both sides, the regained ppm, the edges the rebuild actually built,
# and the policy's edge budget at full index size. Closes the
# lifecycle: build -> search -> sweep -> insert -> decide -> ACT.


@register(
    "graph_rebuild_execute",
    oracle=None,  # set below
    tags=("llm", "graph", "ann", "incremental", "maintenance", "action"),
)
def q_graph_rebuild_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the full rebuild the policy's budget pays for (module
    comment above): one row with the inserted-node count, the
    insertion-time hits/recall and the post-rebuild re-search
    hits/recall vs the final-corpus exact top-ND_K, the recall
    regained in ppm, the rebuilt edge count, and the edge budget
    (|corpus| x ND_K).

    Scale shape: the insert replay, the full-corpus NN-Descent, and
    the beam re-search are the three already-audited plans (per-batch
    broadcast panels + id-keyed scoring joins; per-round edge
    self-joins and per-hop visited state with checkpoint-truncated
    lineage); the act layer adds one broadcast panel for the exact
    baseline (GR_B x GR_M queries, corpus scanned once with two-phase
    top-K), two id-keyed hit joins against the pinned exact set, and
    broadcast crossJoins of 1-row bounds."""
    _, inserts = _insert_replay(spark, sf_dir)
    en_full = _embeddings_en(spark, sf_dir)
    nfull = en_full.agg(F.count("*").cast("bigint").alias("nf"))
    qpall = inserts[0][0]
    pre = inserts[0][1].select("query_id", "node")
    for qp, e in inserts[1:]:
        qpall = qpall.unionByName(qp)
        pre = pre.unionByName(e.select("query_id", "node"))
    qpall = pin(qpall)
    rounds_f = _nn_descent_rounds(en_full)
    rebuilt = rounds_f[-1]
    # the act's answer path: re-run the SAME beam search over the
    # rebuilt, symmetrized graph and answer with its top-ND_K
    und_f = _sym_edges(rounds_f)
    score = _make_score(en_full, qpall)
    nn_f = nfull.select(F.col("nf").alias("n"))
    seen0 = score(qpall.select("query_id", "qid")
                  .crossJoin(F.broadcast(_entry_nodes(spark, nn_f)))
                  .filter(F.col("node") != F.col("qid"))
                  .select("query_id", "node")
                  ).localCheckpoint(eager=True)
    seen = _search_seen(seen0, und_f, qpall, score, GS_BEAM, GS_HOPS)
    post = _topk_nodes(seen, ND_K)
    exact = pin(_exact_topk(en_full, qpall, ND_K))
    pre_h = (pre.join(exact, ["query_id", "node"])
             .agg(F.count("*").cast("bigint").alias("pre_hits")))
    post_h = (post.join(exact, ["query_id", "node"])
              .agg(F.count("*").cast("bigint").alias("post_hits")))
    built = rebuilt.agg(F.count("*").cast("bigint")
                        .alias("rebuild_edges_built"))
    denom = GR_B * GR_M * ND_K
    # `div` == oracle `//`: both truncate toward zero, including the
    # possibly-negative regained column (engine-semantics pin)
    return (pre_h.crossJoin(F.broadcast(post_h))
            .crossJoin(F.broadcast(built))
            .crossJoin(F.broadcast(nfull))
            .select(
                F.lit(GR_B * GR_M).cast("bigint").alias("n_inserted"),
                "pre_hits",
                F.expr(f"cast(pre_hits * 1000000 div {denom} as bigint)")
                .alias("pre_recall_ppm"),
                "post_hits",
                F.expr(f"cast(post_hits * 1000000 div {denom} as bigint)")
                .alias("post_recall_ppm"),
                F.expr(f"cast((post_hits - pre_hits) * 1000000"
                       f" div {denom} as bigint)")
                .alias("recall_regained_ppm"),
                "rebuild_edges_built",
                F.expr(f"cast(nf * {ND_K} as bigint)")
                .alias("rebuild_edge_budget")))


def _rebuild_curve_ctes() -> str:
    where = (f" CROSS JOIN (SELECT count(*) AS nf FROM embeddings) nf"
             f" WHERE vec_id < nf.nf - {GR_B * GR_M}")
    parts = [_graph_ctes(where), _und_cte()]
    # Per-batch CTE families: qp{b} (the insert panel), entries + hop
    # chain over the batch's current graph/scoring table, edges{b}
    # (connected top-ND_K), exact baseline, and — between batches —
    # the grown en/nn/und for the next one.
    und_cte, en_cte, nn_cte = "und", "en", "nn"
    for b in range(1, GR_B + 1):
        lo, hi = GR_B - b + 1, GR_B - b
        parts.append(f"""
    enq{b} AS MATERIALIZED (
        SELECT e2.vec_id, {sim.as_double_sql('e2.embedding')} AS demb
        FROM embeddings e2
             CROSS JOIN (SELECT count(*) AS nf FROM embeddings) nf2
        WHERE e2.vec_id >= nf2.nf - {lo * GR_M}
          AND e2.vec_id < nf2.nf - {hi * GR_M}),
    qp{b} AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS query_id,
                  CAST(vec_id AS BIGINT) AS qid,
                  demb AS qvec,
                  sqrt({sim.dot_sql('demb', 'demb')}) AS qnorm
           FROM enq{b})""")
        tag = f"i{b}"
        parts.append(_entries_seen0_ctes(
            qp=f"qp{b}", tag=tag, en_cte=en_cte, nn_cte=nn_cte))
        parts.append(_beam_hops_ctes(
            tag, GS_BEAM, GS_HOPS, qp=f"qp{b}", seen0=f"gs0{tag}",
            und_cte=und_cte, en_cte=en_cte))
        parts.append(f"""
    edges{b} AS MATERIALIZED (SELECT query_id, node, sim_ppm FROM (
                  SELECT query_id, node, sim_ppm,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY sim_ppm DESC, node)
                             AS rk
                  FROM gs{GS_HOPS}{tag})
              WHERE rk <= {ND_K})""")
        parts.append(_exact_ctes(ND_K, qp=f"qp{b}", en_cte=en_cte,
                                 tag=tag))
        if b < GR_B:
            parts.append(f"""
    en{b + 1} AS MATERIALIZED (
        SELECT vec_id, demb, nrm FROM {en_cte}
        UNION ALL
        SELECT vec_id, demb, sqrt({sim.dot_sql('demb', 'demb')}) AS nrm
        FROM enq{b}),
    nn{b + 1} AS (SELECT CAST(count(*) AS BIGINT) AS n FROM en{b + 1}),
    und{b + 1} AS MATERIALIZED (SELECT DISTINCT u, w FROM (
        SELECT u, w FROM {und_cte}
        UNION ALL
        SELECT query_id AS u, node AS w FROM edges{b}
        UNION ALL
        SELECT node AS u, query_id AS w FROM edges{b}))""")
            und_cte, en_cte = f"und{b + 1}", f"en{b + 1}"
            nn_cte = f"nn{b + 1}"
    batch_rows = "\n    UNION ALL\n".join(f"""
    SELECT CAST({b} AS BIGINT) AS batch,
           (SELECT CAST(count(*) AS BIGINT) FROM gs{GS_HOPS}i{b})
               AS n_visited,
           (SELECT CAST(count(*) AS BIGINT)
            FROM edges{b} f JOIN exacti{b} e
              ON e.query_id = f.query_id AND e.node = f.node) AS n_hits,
           (SELECT CAST(count(*) * 1000000 // {GR_M * ND_K} AS BIGINT)
            FROM edges{b} f JOIN exacti{b} e
              ON e.query_id = f.query_id AND e.node = f.node)
               AS recall_ppm,
           (SELECT CAST(sum(sim_ppm) // count(*) AS BIGINT)
            FROM edges{b}) AS mean_edge_sim_ppm""" for b in range(1, GR_B + 1))
    parts.append(f"""
    batch_rows AS ({batch_rows})""")
    return ",".join(parts)


REGISTRY["graph_rebuild_decision"].oracle = _rebuild_curve_ctes() + """
    SELECT batch, n_visited, n_hits, recall_ppm, mean_edge_sim_ppm,
           CAST((SELECT recall_ppm FROM batch_rows WHERE batch = 1)
                - recall_ppm AS BIGINT) AS recall_drop_ppm
    FROM batch_rows ORDER BY batch"""


REGISTRY["graph_rebuild_policy"].oracle = _rebuild_curve_ctes() + f""",
    curve AS (SELECT batch,
                     CAST((SELECT recall_ppm FROM batch_rows
                           WHERE batch = 1) - recall_ppm AS BIGINT)
                         AS drop_ppm
              FROM batch_rows),
    nfq AS (SELECT CAST(count(*) AS BIGINT) AS nf FROM embeddings),
    dec AS (SELECT CAST(min(batch) AS BIGINT) AS rb
            FROM curve WHERE drop_ppm >= {GRP_DROP_FLOOR_PPM})
    SELECT CAST({GRP_DROP_FLOOR_PPM} AS BIGINT) AS drop_floor_ppm,
           (SELECT CAST(max(drop_ppm) AS BIGINT) FROM curve)
               AS max_drop_ppm,
           dec.rb AS rebuild_after_batch,
           CAST(nfq.nf - ({GR_B} - dec.rb) * {GR_M} AS BIGINT)
               AS index_vectors_at_decision,
           CAST((nfq.nf - ({GR_B} - dec.rb) * {GR_M}) * {ND_K} AS BIGINT)
               AS rebuild_edge_budget
    FROM dec CROSS JOIN nfq"""


def _rebuild_execute_oracle() -> str:
    """The insert-replay chain (edges1..edges{GR_B}, qp1..qp{GR_B})
    plus a SECOND, full-corpus NN-Descent chain (tag 'f'), the beam
    re-search over the rebuilt symmetrized graph (the act's answer
    path), and the final-corpus exact baseline (tag 'x') — the SQL
    twin of q_graph_rebuild_execute."""
    qpall = " UNION ALL ".join(
        f"SELECT * FROM qp{b}" for b in range(1, GR_B + 1))
    pre = "\n              UNION ALL\n              ".join(
        f"SELECT query_id, node FROM edges{b}"
        for b in range(1, GR_B + 1))
    denom = GR_B * GR_M * ND_K
    return (_rebuild_curve_ctes()
            + ","
            + _graph_ctes("", tag="f", lead=False)
            + ","
            + _und_cte(tag="f")
            + f""",
    qpall AS MATERIALIZED ({qpall}),
    pre AS ({pre}),"""
            + _entries_seen0_ctes(qp="qpall", tag="f",
                                  en_cte="enf", nn_cte="nnf")
            + ","
            + _beam_hops_ctes("f", GS_BEAM, GS_HOPS, qp="qpall",
                              seen0="gs0f", und_cte="undf",
                              en_cte="enf")
            + ","
            + _found_cte(f"gs{GS_HOPS}f", ND_K, tag="f")
            + ","
            + _exact_ctes(ND_K, qp="qpall", en_cte="enf", tag="x")
            + f""",
    nfq AS (SELECT CAST(count(*) AS BIGINT) AS nf FROM embeddings),
    post AS (SELECT query_id, node FROM foundf),
    preh AS (SELECT CAST(count(*) AS BIGINT) AS pre_hits
             FROM pre p JOIN exactx e
               ON e.query_id = p.query_id AND e.node = p.node),
    posth AS (SELECT CAST(count(*) AS BIGINT) AS post_hits
              FROM post p JOIN exactx e
                ON e.query_id = p.query_id AND e.node = p.node),
    built AS (SELECT CAST(count(*) AS BIGINT) AS rebuild_edges_built
              FROM e{ND_ROUNDS}f)
    SELECT CAST({GR_B * GR_M} AS BIGINT) AS n_inserted,
           preh.pre_hits,
           CAST(pre_hits * 1000000 // {denom} AS BIGINT)
               AS pre_recall_ppm,
           posth.post_hits,
           CAST(post_hits * 1000000 // {denom} AS BIGINT)
               AS post_recall_ppm,
           CAST((post_hits - pre_hits) * 1000000 // {denom} AS BIGINT)
               AS recall_regained_ppm,
           built.rebuild_edges_built,
           CAST(nfq.nf * {ND_K} AS BIGINT) AS rebuild_edge_budget
    FROM preh CROSS JOIN posth CROSS JOIN built CROSS JOIN nfq""")


REGISTRY["graph_rebuild_execute"].oracle = _rebuild_execute_oracle()

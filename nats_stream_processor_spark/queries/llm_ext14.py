"""Round-13 operators: the missing ACT steps — substring-dedup
drop-plan EXECUTE and the IVF inverted-list maintenance pair
(REBALANCE split / MERGE shrink).

CERTIFICATION STATUS: written in round 13, inside the r13 sample
window (new code earns its formal row in the round it is written —
registry.SAMPLE_PREFIX_EXPECTED allocates all three).

Reference scope note: the reference (/root/reference, a single-purpose
NATS enrichment daemon, main.py + src/service.py) has no analytics
surface; both operators here are north-star scope, built Spark-first
and oracle-paired.

- ``dedup_drop_plan_execute`` — closes the substring-dedup lifecycle
  (detect: dedup_max_duplicated_run; plan: dedup_containment_drop_plan
  / dedup_span_removal_plan; receipts: dedup_span_df_stats; ACT:
  this). Applies the containment drop plan to the corpus and
  RE-VERIFIES the survivor theorem on the post-drop corpus: the 1-row
  receipt carries corpus counts before/after, the tokens a removal
  saves, and — the theorem column — the number of full containments
  REMAINING among survivors, recomputed by running the identical
  DF-capped pair plan on the survivor corpus. The recount is 0 for ANY
  corpus, and the theorem is robust to the SPAN_DF_CAP even though the
  containment relation is cap-relative. Proof: (1) a doc carrying an
  above-cap span can never itself be counted as contained — the
  full-sequence run its drop would require breaks at the hot span
  (hot spans are excluded from pairing) — so every carrier of a hot
  span SURVIVES; (2) therefore a pre-drop-hot span keeps its full
  carrier set among survivors and stays above the cap in the
  survivor-corpus recount — no containment hidden by the cap is ever
  revealed by dropping docs; (3) hence a span sub-cap in the recount
  was sub-cap pre-drop (contrapositive of 2) — so a surviving doc
  contained in a surviving container with all witness spans sub-cap
  post-drop showed the SAME full-sequence run pre-drop (witnesses
  already sub-cap, container text unchanged), was counted contained,
  and was dropped — contradiction. Tests pin the 0 on the real
  fixtures at every SF AND on a planted hot-boilerplate corpus where
  the cap actively masks pairs.
- ``sim_ivf_rebalance`` — closes the IVF maintenance loop
  (detect: sim_ivf_list_balance; ACT: this). Splits the heaviest
  inverted lists k=2 (the standard IVF list-split maintenance step:
  re-train 2 sub-centroids within each split list — Lloyd's, fixed 2
  iterations, init = the list's two smallest vec_ids, the package's
  deterministic-k-means discipline so the oracle replays training
  CTE-for-CTE) and reports the 1-row receipt: list counts, max list
  size and max load factor before/after, and recall@5 at nprobe=2
  before/after over the same query panel with the candidate-row scan
  cost of each — the numbers that tell the nprobe planner what the
  split bought. Split set = every 2x-overloaded list (the balance
  operator's verdict) UNION the heaviest IVR_MIN_SPLITS lists — the
  amortized-maintenance mode (split the heaviest lists every round)
  that keeps the act path exercised on balanced corpora too; k-means
  balances the shipped testdata (round-12 lesson), so the genuinely
  overloaded regime is exercised by the planted near-dup-cluster
  corpus in tests.
- ``sim_ivf_merge`` — the symmetric shrink act: REMOVE the lightest
  inverted lists (every list at/under half of perfect balance, at
  least IVM_MIN_MERGES per round, never more than half the index) and
  reassign their members to the nearest surviving centroid — the
  faiss remove-centroid maintenance step, no retraining. Shares the
  base assignment and recall-receipt CTEs with the rebalance act on
  both engines; the receipt honestly shows the shrink's trade on a
  balanced corpus (fewer lists, more candidates per probe, recall
  cost) — the numbers that decide whether the shrink is worth it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Registry import FIRST among intra-package imports (worker re-import
# ordering; see llm_ext2.py's header note).
from ..registry import pin, register, spread, table

from ..operators import kmeans as km
from ..operators import similarity as sim
from ..operators.dedup import SPAN_K
from ..operators.kmeans import IVF_NLIST
from .knn_shared import (
    TOP_K,
    candidates,
    exact_top_k,
    neighbor_rank,
    query_side,
    vectors,
)

# ------------------------------- drop-plan execute (the act step)

from .llm_ext10 import (  # noqa: E402
    _span_counts,
    run_ctes_sql,
    span_pairs_from,
)


def _drop_execute_oracle() -> str:
    return run_ctes_sql() + f""",
    drops AS (SELECT DISTINCT
                     CASE WHEN na.n_spans < nb.n_spans THEN p.doc_a
                          ELSE p.doc_b END AS doc_id
              FROM pairs p JOIN ns na ON na.doc_id = p.doc_a
                           JOIN ns nb ON nb.doc_id = p.doc_b
              WHERE p.max_run_spans = least(na.n_spans, nb.n_spans)),
    surv AS (SELECT d.doc_id, d.text FROM documents d
             ANTI JOIN drops USING (doc_id)),{run_ctes_sql('surv', '2',
                                                           lead='')},
    nb0 AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_before
            FROM documents),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_dropped FROM drops),
    na0 AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_after FROM surv),
    tr AS (SELECT coalesce(CAST(sum(ns.n_spans + {SPAN_K} - 1) AS BIGINT),
                           0) AS tokens_removed
           FROM ns JOIN drops USING (doc_id)),
    rp AS (SELECT CAST(count(*) AS BIGINT) AS surviving_pair_count,
                  CAST(coalesce(sum(CAST(
                      p.max_run_spans = least(na.n_spans, nb.n_spans)
                      AS BIGINT)), 0) AS BIGINT)
                      AS remaining_full_containments
           FROM pairs2 p JOIN ns2 na ON na.doc_id = p.doc_a
                         JOIN ns2 nb ON nb.doc_id = p.doc_b)
    SELECT n_docs_before, n_dropped, n_docs_after, tokens_removed,
           surviving_pair_count, remaining_full_containments
    FROM nb0 CROSS JOIN nd CROSS JOIN na0 CROSS JOIN tr CROSS JOIN rp
    """


@register(
    "dedup_drop_plan_execute",
    oracle=_drop_execute_oracle(),
    tags=("llm", "dedup-substring", "curation", "action"),
)
def q_drop_plan_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the containment drop plan and re-verify the survivor
    theorem on the post-drop corpus (module comment above): one row
    with corpus counts before/after, the dropped-doc count, the tokens
    removed (the drop plan's tokens_saved summed over the distinct drop
    set), the surviving pair count, and the recounted full containments
    among survivors — 0 for ANY corpus, by the cap-robust transitivity
    theorem (module comment; property-tested with a tiny cap in
    tests/test_properties.py).

    Scale shape: everything corpus-scale is the audited pair builder,
    run twice (span_pairs_from — equi-join on span_id over the
    DF-capped span relation, int-only shuffles, pair-keyed windows);
    the act layer adds the drop-set projection (distinct doc ids — the
    only pinned intermediate; corpus text is never cached), one
    id-keyed anti-join producing the survivor corpus, an id-keyed join
    for the token receipts, and broadcast crossJoins of 1-row bounds.
    At 100 TB the drop set is the plan a production pipeline persists;
    re-deriving it here keeps the operator self-contained while every
    shuffle still carries ids and span ints, never text."""
    d = spread(table(spark, sf_dir, "documents")).select("doc_id", "text")
    p1 = span_pairs_from(d)
    contained_a = F.col("n_spans_a") < F.col("n_spans_b")
    drops = pin(
        p1.filter(F.col("max_run_spans")
                  == F.least("n_spans_a", "n_spans_b"))
        .select(F.when(contained_a, F.col("doc_a"))
                .otherwise(F.col("doc_b")).alias("doc_id"))
        .distinct())
    # broadcast the id-only drop set: applying the plan must stay
    # map-side over the corpus scan (text never shuffles). License: the
    # drop set is bounded by the corpus's full-containment duplicate
    # mass, ids only; a corpus whose drop set outgrows broadcast would
    # drop the hint and pay one id-keyed text shuffle instead.
    surv = d.join(F.broadcast(drops), "doc_id", "left_anti")
    p2 = span_pairs_from(surv)
    nb0 = d.agg(F.count("*").cast("long").alias("n_docs_before"))
    nd = drops.agg(F.count("*").cast("long").alias("n_dropped"))
    na0 = surv.agg(F.count("*").cast("long").alias("n_docs_after"))
    tr = (_span_counts(d).join(F.broadcast(drops), "doc_id")
          .agg(F.coalesce(F.sum(F.col("n_spans") + SPAN_K - 1).cast("long"),
                          F.lit(0).cast("long")).alias("tokens_removed")))
    rp = p2.agg(
        F.count("*").cast("long").alias("surviving_pair_count"),
        F.coalesce(
            F.sum((F.col("max_run_spans")
                   == F.least("n_spans_a", "n_spans_b")).cast("long")),
            F.lit(0)).cast("long").alias("remaining_full_containments"))
    return (nb0.crossJoin(F.broadcast(nd))
            .crossJoin(F.broadcast(na0))
            .crossJoin(F.broadcast(tr))
            .crossJoin(F.broadcast(rp))
            .select("n_docs_before", "n_dropped", "n_docs_after",
                    "tokens_removed", "surviving_pair_count",
                    "remaining_full_containments"))


# ------------------------------- IVF list rebalance (the act step)

# Split policy: every list the balance operator's 2x verdict flags
# (IVB_OVERLOAD_X1000 in llm_ext13) is split, and at least the
# IVR_MIN_SPLITS heaviest eligible lists split every maintenance round
# (amortized mode — on a balanced corpus the heaviest lists still get
# halved, so probe-cost variance keeps shrinking). Eligible = >= 2
# members (a 1-member list cannot split). Recall operating point:
# recall@IVR_TOPK at nprobe=IVR_NPROBE over the same vec_id < IVR_NQ
# query panel sim_ann_nprobe_sweep certifies.
IVR_MIN_SPLITS = 2
IVR_ITERS = 2
IVR_NPROBE = 2
IVR_TOPK = TOP_K  # the brute reference is knn_shared.exact_top_k
IVR_NQ = 10

_PPM = "1000000"


def _ppm_rank_sql(dot_expr: str, den_expr: str) -> str:
    """floor(cos * 1e6 + 0.5) as the int64 rank key — the package's
    cross-engine near-tie discipline (a raw double cosine can differ by
    1 ulp between engines and flip a rank)."""
    return (f"CAST(floor({dot_expr} / ({den_expr}) * {_PPM} + 0.5) "
            f"AS BIGINT)")


def _ivf_base_ctes_sql(mat: bool = False) -> str:
    """Shared oracle prefix for the two IVF maintenance acts: corpus,
    trained centroids, ppm-ranked assignment, per-list sizes, total,
    load factors. Ends at ld(cent_id, n_vecs, load_x1000).

    ``mat=True`` additionally marks cent/tot/ld MATERIALIZED — pure
    evaluation hints, identical rows. DuckDB re-evaluates a
    non-materialized CTE per reference, and ``cent`` sits on top of the
    whole k-means training chain, so an oracle that references the
    detect/receipt layer many times (the lifecycle CASE re-reads it
    ~a dozen times) re-RUNS training per reference — measured 207 s for
    sim_ivf_lifecycle's oracle at sf0.001 vs ~9 s for the pinned
    rebalance text. The default stays un-hinted because the round-13
    certified rebalance/merge oracle texts are md5-pinned byte-for-byte
    (tests/test_llm_ext15.py)."""
    k = IVF_NLIST
    m = " MATERIALIZED" if mat else ""
    return f"""
    WITH e AS (SELECT vec_id, {sim.as_double_sql('embedding')} AS demb
               FROM embeddings),
    n AS (SELECT vec_id, demb, {sim.norm_sql('demb')} AS nrm FROM e),
    {km.ivf_train_cte_sql(k)},
    cent AS{m} (SELECT cent_id, c_demb, {sim.norm_sql('c_demb')} AS c_nrm
             FROM tcent),
    asg AS MATERIALIZED (
        SELECT vec_id, demb, nrm, cent_id FROM (
            SELECT n.vec_id, n.demb, n.nrm, cent.cent_id,
                   row_number() OVER (PARTITION BY n.vec_id
                       ORDER BY {_ppm_rank_sql(
                           sim.dot_sql('n.demb', 'cent.c_demb'),
                           'n.nrm * cent.c_nrm')} DESC,
                       cent.cent_id) AS rc
            FROM n CROSS JOIN cent)
        WHERE rc = 1),
    sz AS (SELECT c.cent_id, CAST(count(a.vec_id) AS BIGINT) AS n_vecs
           FROM cent c LEFT JOIN asg a ON a.cent_id = c.cent_id
           GROUP BY c.cent_id),
    tot AS{m} (SELECT greatest(CAST(sum(n_vecs) AS BIGINT), 1) AS nn
            FROM sz),
    ld AS{m} (SELECT cent_id, n_vecs,
                  n_vecs * {k} * 1000 // tot.nn AS load_x1000
           FROM sz CROSS JOIN tot)"""


def _ivf_recall_ctes_sql() -> str:
    """Shared recall receipts for the two IVF maintenance acts: the
    certified query panel (vec_id < IVR_NQ) probed at nprobe=IVR_NPROBE
    against the PRE index (cent/asg) and the POST index (newc/nasg —
    each act defines those two relations with identical shapes), exact
    brute-force reference, hit and candidate-row counts. Requires the
    caller's chain to end in a complete CTE (appended with a leading
    comma)."""
    return f"""qv AS (SELECT vec_id AS query_id, demb AS q_demb, nrm AS q_nrm
           FROM n WHERE vec_id < {IVR_NQ}),
    prb1 AS (SELECT query_id, cent_id FROM (
                SELECT q.query_id, c.cent_id,
                       row_number() OVER (PARTITION BY q.query_id
                           ORDER BY {_ppm_rank_sql(
                               sim.dot_sql('q.q_demb', 'c.c_demb'),
                               'q.q_nrm * c.c_nrm')} DESC,
                           c.cent_id) AS r
                FROM qv q CROSS JOIN cent c)
             WHERE r <= {IVR_NPROBE}),
    cand1 AS MATERIALIZED (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               round({sim.dot_sql('q.q_demb', 'a.demb')}
                     / (q.q_nrm * a.nrm), 6) AS cosine
        FROM prb1 p JOIN qv q ON q.query_id = p.query_id
             JOIN asg a ON a.cent_id = p.cent_id
                       AND a.vec_id != p.query_id),
    top1 AS (SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id) AS rn
                FROM cand1) WHERE rn <= {IVR_TOPK}),
    prb2 AS (SELECT query_id, nl_id FROM (
                SELECT q.query_id, c.nl_id,
                       row_number() OVER (PARTITION BY q.query_id
                           ORDER BY {_ppm_rank_sql(
                               sim.dot_sql('q.q_demb', 'c.s_demb'),
                               'q.q_nrm * c.s_nrm')} DESC,
                           c.nl_id) AS r
                FROM qv q CROSS JOIN newc c)
             WHERE r <= {IVR_NPROBE}),
    cand2 AS MATERIALIZED (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               round({sim.dot_sql('q.q_demb', 'a.demb')}
                     / (q.q_nrm * a.nrm), 6) AS cosine
        FROM prb2 p JOIN qv q ON q.query_id = p.query_id
             JOIN nasg a ON a.nl_id = p.nl_id
                        AND a.vec_id != p.query_id),
    top2 AS (SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id) AS rn
                FROM cand2) WHERE rn <= {IVR_TOPK}),
    brute AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, x.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY round({sim.dot_sql('q.q_demb', 'x.demb')}
                                      / (q.q_nrm * x.nrm), 6) DESC,
                                x.vec_id) AS rn
            FROM qv q JOIN n x ON x.vec_id != q.query_id)
        WHERE rn <= {IVR_TOPK}),
    qs AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq
           FROM brute),
    h1 AS (SELECT CAST(count(*) AS BIGINT) AS hits FROM top1
           JOIN brute USING (query_id, neighbor_id)),
    h2 AS (SELECT CAST(count(*) AS BIGINT) AS hits FROM top2
           JOIN brute USING (query_id, neighbor_id)),
    c1 AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand1),
    c2 AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand2)"""


def _ivf_split_act_ctes_sql(out: str = "") -> str:
    """The split ACT's CTE chain, given base CTEs plus a ``spl``
    relation of list ids to split: per-list k=2 Lloyd training (the
    module comment's deterministic discipline), final sub-assignment,
    and the post-split index as ``{out}newc(nl_id, s_demb, s_nrm)`` /
    ``{out}nasg(nl_id, vec_id, demb, nrm)``. ``out=""`` renders the
    exact text sim_ivf_rebalance's oracle registered in round 13
    (byte-identity pinned by tests/test_llm_ext15.py); the lifecycle
    operator renders ``out="s"`` so its decision CASE can union
    branch outputs without name collisions."""
    dim = sim.EMBED_DIM
    parts = [f""",
    mem AS MATERIALIZED (
        SELECT a.vec_id, a.demb, a.nrm, a.cent_id
        FROM asg a JOIN spl ON spl.cent_id = a.cent_id),
    i0 AS (SELECT cent_id, demb,
                  row_number() OVER (PARTITION BY cent_id
                                     ORDER BY vec_id) AS r
           FROM mem),
    sc0 AS (SELECT cent_id, CAST(r - 1 AS INT) AS sub, demb AS s_demb
            FROM i0 WHERE r <= 2),
    scn0 AS MATERIALIZED (SELECT cent_id, sub, s_demb,
                    {sim.norm_sql('s_demb')} AS s_nrm FROM sc0)"""]
    for t in range(1, IVR_ITERS + 1):
        p = t - 1
        parts.append(f""",
    sa{t} AS MATERIALIZED (SELECT cent_id, vec_id, demb, sub FROM (
            SELECT m.cent_id, m.vec_id, m.demb, s.sub,
                   row_number() OVER (PARTITION BY m.cent_id, m.vec_id
                       ORDER BY {_ppm_rank_sql(
                           sim.dot_sql('m.demb', 's.s_demb'),
                           'm.nrm * s.s_nrm')} DESC, s.sub) AS r
            FROM mem m JOIN scn{p} s ON s.cent_id = m.cent_id)
        WHERE r = 1),
    ss{t} AS (SELECT cent_id, sub, i,
                     sum(CAST(demb[i] AS DECIMAL(25,6))) AS sm,
                     count(*) AS cnt
              FROM sa{t} CROSS JOIN
                   (SELECT unnest(range(1, {dim + 1})) AS i) ix
              GROUP BY cent_id, sub, i),
    sn{t} AS (SELECT cent_id, sub,
                     list((CAST(floor((CAST(round(sm, 4) AS DOUBLE) / cnt)
                                      * 1e6 + 0.5) AS DOUBLE) / 1e6)
                          ORDER BY i) AS s_demb
              FROM ss{t} GROUP BY cent_id, sub),
    sc{t} AS (SELECT cent_id, sub, s_demb FROM sn{t}
              UNION ALL
              SELECT p.cent_id, p.sub, p.s_demb FROM sc{p} p
              WHERE NOT EXISTS (SELECT 1 FROM sn{t} x
                                WHERE x.cent_id = p.cent_id
                                  AND x.sub = p.sub)),
    scn{t} AS MATERIALIZED (SELECT cent_id, sub, s_demb,
                      {sim.norm_sql('s_demb')} AS s_nrm FROM sc{t})""")
    it = IVR_ITERS
    parts.append(f""",
    fa AS MATERIALIZED (SELECT cent_id, vec_id, demb, nrm, sub FROM (
            SELECT m.cent_id, m.vec_id, m.demb, m.nrm, s.sub,
                   row_number() OVER (PARTITION BY m.cent_id, m.vec_id
                       ORDER BY {_ppm_rank_sql(
                           sim.dot_sql('m.demb', 's.s_demb'),
                           'm.nrm * s.s_nrm')} DESC, s.sub) AS r
            FROM mem m JOIN scn{it} s ON s.cent_id = m.cent_id)
        WHERE r = 1),
    {out}newc AS MATERIALIZED (SELECT CAST(cent_id * 2 + sub AS BIGINT) AS nl_id,
                    s_demb, s_nrm
             FROM scn{it}
             UNION ALL
             SELECT CAST(c.cent_id * 2 AS BIGINT) AS nl_id,
                    c.c_demb AS s_demb, c.c_nrm AS s_nrm
             FROM cent c ANTI JOIN spl USING (cent_id)),
    {out}nasg AS MATERIALIZED (
        SELECT CAST(f.cent_id * 2 + f.sub AS BIGINT) AS nl_id,
               f.vec_id, f.demb, f.nrm
        FROM fa f
        UNION ALL
        SELECT CAST(a.cent_id * 2 AS BIGINT) AS nl_id,
               a.vec_id, a.demb, a.nrm
        FROM asg a ANTI JOIN spl USING (cent_id))""")
    return "".join(parts)


def _ivf_rebalance_oracle() -> str:
    from .llm_ext13 import IVB_OVERLOAD_X1000
    k = IVF_NLIST
    return _ivf_base_ctes_sql() + f""",
    ovl AS (SELECT CAST(count(*) AS BIGINT) AS n_over
            FROM ld WHERE load_x1000 >= {IVB_OVERLOAD_X1000}
                      AND n_vecs >= 2),
    spl AS MATERIALIZED (SELECT cent_id FROM (
                SELECT cent_id,
                       row_number() OVER (ORDER BY n_vecs DESC, cent_id)
                           AS r
                FROM ld WHERE n_vecs >= 2) CROSS JOIN ovl
            WHERE r <= greatest({IVR_MIN_SPLITS}, ovl.n_over))""" \
        + _ivf_split_act_ctes_sql() + f""",
    sz2 AS (SELECT nc.nl_id, CAST(count(na.vec_id) AS BIGINT) AS n_vecs
            FROM newc nc LEFT JOIN nasg na ON na.nl_id = nc.nl_id
            GROUP BY nc.nl_id),
    nl AS (SELECT CAST(count(*) AS BIGINT) AS n_lists FROM newc),
    ld2 AS (SELECT nl_id, n_vecs,
                   n_vecs * nl.n_lists * 1000 // tot.nn AS load_x1000
            FROM sz2 CROSS JOIN nl CROSS JOIN tot),
    {_ivf_recall_ctes_sql()}
    SELECT CAST({k} AS BIGINT) AS n_lists_before,
           ovl.n_over AS n_overloaded,
           (SELECT CAST(count(*) AS BIGINT) FROM spl) AS n_split,
           nl.n_lists AS n_lists_after,
           (SELECT CAST(max(n_vecs) AS BIGINT) FROM ld)
               AS max_list_before,
           (SELECT CAST(max(n_vecs) AS BIGINT) FROM ld2)
               AS max_list_after,
           (SELECT CAST(max(load_x1000) AS BIGINT) FROM ld)
               AS max_load_x1000_before,
           (SELECT CAST(max(load_x1000) AS BIGINT) FROM ld2)
               AS max_load_x1000_after,
           c1.n_cand AS pre_cand_rows,
           c2.n_cand AS post_cand_rows,
           h1.hits * {_PPM} // greatest({IVR_TOPK} * qs.nq, 1)
               AS pre_recall_ppm,
           h2.hits * {_PPM} // greatest({IVR_TOPK} * qs.nq, 1)
               AS post_recall_ppm
    FROM ovl CROSS JOIN nl CROSS JOIN c1 CROSS JOIN c2
         CROSS JOIN h1 CROSS JOIN h2 CROSS JOIN qs
    """


def _ivf_base_frames(spark: SparkSession, sf_dir: str):
    """Shared Spark-side base for the two IVF maintenance acts: pinned
    corpus-with-norms, broadcastable trained-centroid table, pinned
    ppm-ranked assignment, per-list sizes, guarded total, load factors.
    The Spark twin of _ivf_base_ctes_sql."""
    emb = table(spark, sf_dir, "embeddings")
    n = pin(vectors(emb, fan_out=True))
    cent = km.centroid_table(spark, vectors(emb))
    # asg is MATERIALIZED on the oracle side and referenced by every
    # downstream layer — eagerly checkpoint it, truncating its lineage to
    # a LogicalRDD leaf, so each reference analyzes as a leaf instead of
    # replaying the scan + broadcast-rank subtree through the whole
    # receipt tree. Why not pin()/persist: Catalyst analyzes the full
    # UNTRUNCATED tree of every reference (cache substitution happens
    # after analysis), and the act receipts reference the assignment
    # relation through enough layers (act chain -> candidates ->
    # receipts) that the analyzed tree grows multiplicatively — the r16
    # before-profile rendered sim_ivf_rebalance/merge as 12-14 MB
    # formatted plans (~19k-23k Exchange node renders) with build+exec
    # dominated by plan handling, not data. Same discipline as
    # connected_components' loop: local (executor) checkpoint here; at
    # cluster scale a reliable checkpoint dir — or, per the module
    # notes, the assignment IS a persisted table and this frame is a
    # scan of it. nasg below is checkpointed for the same reason.
    asg = (
        km.rank_lists(n, cent, ppm=True)
        .filter(F.col("rc") == 1)
        .select("vec_id", "demb", "nrm", "cent_id")
        .localCheckpoint(eager=True))
    sz = pin(cent.select("cent_id")
             .join(asg, "cent_id", "left")
             .groupBy("cent_id")
             .agg(F.count("vec_id").cast("long").alias("n_vecs")))
    tot = sz.agg(F.greatest(F.sum("n_vecs").cast("long"),
                            F.lit(1).cast("long")).alias("nn"))
    ld = pin(sz.crossJoin(F.broadcast(tot))
             .select("cent_id", "n_vecs",
                     F.expr(f"n_vecs * {IVF_NLIST} * 1000 div nn")
                     .alias("load_x1000")))
    return n, cent, asg, sz, tot, ld


def _ivf_recall_frames(n, cent, asg, newc, nasg):
    """Shared Spark-side recall receipts (the twin of
    _ivf_recall_ctes_sql): probe the PRE index (cent/asg) and the POST
    index (newc/nasg) with the certified query panel, score candidates,
    compare both top-k sets to the brute-force reference. Returns the
    1-row frames (qs, hc1, hc2) with columns (nq), (hits1,
    pre_cand_rows), (hits2, post_cand_rows).

    Receipt fusion (r16, guide §2 fewer stages/actions): each side's
    hit count and candidate count come from ONE aggregate over the
    scored candidate set — rank every candidate, LEFT-join the brute
    reference (unique per (query, neighbor), so cardinality is
    preserved), then count all rows (== the old c-frame) and the rows
    with rank <= top-k that matched (== the old top-k inner join's
    count) in the same pass. Halves the receipt frames the callers
    crossJoin and drops the single-consumer candidate pins."""
    qv = query_side(n.filter(F.col("vec_id") < IVR_NQ))
    wp1 = Window.partitionBy("query_id").orderBy(
        F.col("qppm").desc(), "cent_id")
    prb1 = (qv.crossJoin(F.broadcast(cent))
            .select("query_id", "q_demb", "q_nrm", "cent_id",
                    sim.ppm(
                        sim.dot(F.col("q_demb"), F.col("c_demb"))
                        / (F.col("q_nrm") * F.col("c_nrm"))).alias("qppm"))
            .withColumn("r", F.row_number().over(wp1))
            .filter(F.col("r") <= IVR_NPROBE)
            .select("query_id", "q_demb", "q_nrm", "cent_id"))
    cand1 = candidates(prb1, asg.withColumnRenamed("cent_id", "a_cent"),
                       F.col("a_cent") == F.col("cent_id"))
    wp2 = Window.partitionBy("query_id").orderBy(
        F.col("qppm").desc(), "nl_id")
    prb2 = (qv.crossJoin(F.broadcast(newc))
            .select("query_id", "q_demb", "q_nrm", "nl_id",
                    sim.ppm(
                        sim.dot(F.col("q_demb"), F.col("s_demb"))
                        / (F.col("q_nrm") * F.col("s_nrm"))).alias("qppm"))
            .withColumn("r", F.row_number().over(wp2))
            .filter(F.col("r") <= IVR_NPROBE)
            .select("query_id", "q_demb", "q_nrm", "nl_id"))
    cand2 = candidates(prb2, nasg.withColumnRenamed("nl_id", "a_nl"),
                       F.col("a_nl") == F.col("nl_id"))
    brute = pin(exact_top_k(qv, n).select("query_id", "neighbor_id"))
    qs = brute.agg(F.count_distinct("query_id").cast("long").alias("nq"))
    hit = F.broadcast(brute.withColumn("brute_hit", F.lit(1)))

    def _hits_and_cands(cand, hits_name: str, cands_name: str):
        return (cand.withColumn("rn", neighbor_rank())
                .join(hit, ["query_id", "neighbor_id"], "left")
                .agg(F.count(F.when((F.col("rn") <= IVR_TOPK)
                                    & F.col("brute_hit").isNotNull(),
                                    F.lit(1)))
                     .cast("long").alias(hits_name),
                     F.count("*").cast("long").alias(cands_name)))

    hc1 = _hits_and_cands(cand1, "hits1", "pre_cand_rows")
    hc2 = _hits_and_cands(cand2, "hits2", "post_cand_rows")
    return qs, hc1, hc2


def _ivf_split_frames(spark: SparkSession, cent: DataFrame,
                      asg: DataFrame, spl: DataFrame):
    """Spark twin of _ivf_split_act_ctes_sql: split every list in
    ``spl`` k=2 (per-list-parallel Lloyd, fixed IVR_ITERS iterations,
    init = the list's two smallest vec_ids) and return the post-split
    index (newc, nasg), both pinned. The sub-centroid table is
    <= 2*nlist rows — reading it between iterations is the bounded
    kmeans license (members never leave the cluster)."""
    mem = pin(asg.join(spl, "cent_id"))
    wi = Window.partitionBy("cent_id").orderBy("vec_id")
    init = (mem.withColumn("r", F.row_number().over(wi))
            .filter(F.col("r") <= 2)
            .select("cent_id", (F.col("r") - 1).cast("int").alias("sub"),
                    F.col("demb").alias("s_demb")))
    subc = {(r.cent_id, r.sub): [float(x) for x in r.s_demb]
            for r in init.collect()}

    def subc_df():
        rows = [(c, s, subc[(c, s)]) for (c, s) in sorted(subc)]
        return spark.createDataFrame(
            rows, "cent_id int, sub int, s_demb array<double>"
        ).withColumn("s_nrm", sim.norm(F.col("s_demb")))

    wsub = Window.partitionBy("cent_id", "vec_id").orderBy(
        F.col("sppm").desc(), "sub")

    def sub_assign(sdf):
        return (mem.join(F.broadcast(sdf), "cent_id")
                .select("cent_id", "vec_id", "demb", "nrm", "sub",
                        sim.ppm(
                            sim.dot(F.col("demb"), F.col("s_demb"))
                            / (F.col("nrm") * F.col("s_nrm"))).alias("sppm"))
                .withColumn("r", F.row_number().over(wsub))
                .filter(F.col("r") == 1))

    for _ in range(IVR_ITERS):
        assigned = sub_assign(subc_df()).select(
            "cent_id", "sub", F.col("demb").alias("vec"))
        rows = km._dim_means(assigned, ["cent_id", "sub"]).collect()
        new: dict = {}
        for r in rows:
            new.setdefault((r.cent_id, r.sub),
                           [0.0] * sim.EMBED_DIM)[r.i] = float(r.m)
        for key_, vec in new.items():
            subc[key_] = vec  # empty subs keep their previous centroid
    scf = subc_df()
    fa = sub_assign(scf).select("cent_id", "vec_id", "demb", "nrm", "sub")

    newc = pin(
        scf.select((F.col("cent_id") * 2 + F.col("sub")).cast("long")
                   .alias("nl_id"), "s_demb", "s_nrm")
        .unionByName(
            cent.join(spl, "cent_id", "left_anti")
            .select((F.col("cent_id") * 2).cast("long").alias("nl_id"),
                    F.col("c_demb").alias("s_demb"),
                    F.col("c_nrm").alias("s_nrm"))))
    # nasg is MATERIALIZED on the oracle side and read by both the
    # post-act candidates and the post-list sizes — checkpoint leaf
    # (see asg in _ivf_base_frames).
    nasg = (
        fa.select((F.col("cent_id") * 2 + F.col("sub")).cast("long")
                  .alias("nl_id"), "vec_id", "demb", "nrm")
        .unionByName(
            asg.join(spl, "cent_id", "left_anti")
            .select((F.col("cent_id") * 2).cast("long").alias("nl_id"),
                    "vec_id", "demb", "nrm"))
        .localCheckpoint(eager=True))
    return newc, nasg


@register(
    "sim_ivf_rebalance",
    oracle=None,  # set below (renders the shared training CTEs)
    tags=("llm", "ann-ivf", "maintenance", "action"),
)
def q_ivf_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split the heaviest IVF inverted lists and measure what the split
    bought (module comment above): one row with list counts before and
    after, the max list size and max load factor on each side, and
    recall@{IVR_TOPK} at nprobe={IVR_NPROBE} before vs after with each
    side's candidate-row scan cost.

    Scale shape: the parent assignment is the audited balance-operator
    plan (one corpus scan against broadcast centroids, ppm-quantized
    rank). Split training is per-list-parallel Lloyd's over ONLY the
    split lists' members — per iteration one broadcast join against
    the <= 2*nlist sub-centroid table and one (list, sub, dim)-keyed
    partial+final aggregate; the sub-centroid table itself is
    K-bounded (<= 2*nlist rows), so reading it to the driver between
    iterations is as bounded as the trained centroids
    km.train_ivf_centroids hands back (never the members). Probe
    panels broadcast ({IVR_NQ} queries); candidate joins are
    list-id-keyed against the assignment relation; receipts are 1-row
    aggregates crossJoined broadcast. Nothing here scans more than the
    corpus twice (parent assignment + post-split candidates)."""
    from .llm_ext13 import IVB_OVERLOAD_X1000
    k = IVF_NLIST

    n, cent, asg, sz, tot, ld = _ivf_base_frames(spark, sf_dir)
    # Receipt fusion (r16, guide §2): the overload count and the
    # before-side max list/load stats are sibling aggregates over the
    # same pinned ld frame — one multi-aggregate pass instead of two
    # frames (count over a filter == conditional count).
    bef = ld.agg(
        F.count(F.when((F.col("load_x1000") >= IVB_OVERLOAD_X1000)
                       & (F.col("n_vecs") >= 2), F.lit(1)))
        .cast("long").alias("n_over"),
        F.max("n_vecs").cast("long").alias("max_list_before"),
        F.max("load_x1000").cast("long").alias("max_load_x1000_before"))
    wspl = Window.partitionBy(F.lit(0)).orderBy(
        F.col("n_vecs").desc(), "cent_id")
    spl = pin(ld.filter(F.col("n_vecs") >= 2)
              .withColumn("r", F.row_number().over(wspl))
              .crossJoin(F.broadcast(bef.select("n_over")))
              .filter(F.col("r")
                      <= F.greatest(F.lit(IVR_MIN_SPLITS).cast("long"),
                                    F.col("n_over")))
              .select("cent_id"))
    newc, nasg = _ivf_split_frames(spark, cent, asg, spl)
    sz2 = pin(newc.select("nl_id")
              .join(nasg, "nl_id", "left")
              .groupBy("nl_id")
              .agg(F.count("vec_id").cast("long").alias("n_vecs")))
    nl = newc.agg(F.count("*").cast("long").alias("n_lists"))
    ld2 = (sz2.crossJoin(F.broadcast(nl)).crossJoin(F.broadcast(tot))
           .select("nl_id", "n_vecs",
                   F.expr("n_vecs * n_lists * 1000 div nn")
                   .alias("load_x1000")))

    qs, hc1, hc2 = _ivf_recall_frames(n, cent, asg, newc, nasg)
    nspl = spl.agg(F.count("*").cast("long").alias("n_split"))
    mx2 = ld2.agg(F.max("n_vecs").cast("long").alias("max_list_after"),
                  F.max("load_x1000").cast("long")
                  .alias("max_load_x1000_after"))
    return (bef.crossJoin(F.broadcast(nspl))
            .crossJoin(F.broadcast(nl))
            .crossJoin(F.broadcast(mx2))
            .crossJoin(F.broadcast(hc1))
            .crossJoin(F.broadcast(hc2))
            .crossJoin(F.broadcast(qs))
            .select(F.lit(k).cast("long").alias("n_lists_before"),
                    F.col("n_over").alias("n_overloaded"),
                    "n_split",
                    F.col("n_lists").alias("n_lists_after"),
                    "max_list_before", "max_list_after",
                    "max_load_x1000_before", "max_load_x1000_after",
                    "pre_cand_rows", "post_cand_rows",
                    F.expr(f"hits1 * 1000000 div greatest({IVR_TOPK} * nq,"
                           " 1)").alias("pre_recall_ppm"),
                    F.expr(f"hits2 * 1000000 div greatest({IVR_TOPK} * nq,"
                           " 1)").alias("post_recall_ppm")))


def _render_ivf_rebalance_oracle() -> None:
    from ..registry import REGISTRY
    REGISTRY["sim_ivf_rebalance"].oracle = _ivf_rebalance_oracle()


_render_ivf_rebalance_oracle()


# ------------------------------- IVF list merge (the shrink act)

# The symmetric maintenance act to sim_ivf_rebalance: REMOVE underloaded
# inverted lists and reassign their members to the nearest surviving
# centroid (the faiss remove-centroid maintenance — no retraining).
# Merge set = every list at or under IVM_UNDER_X1000 (half of perfect
# balance), with at least the IVM_MIN_MERGES lightest merging every
# round (amortized mode, mirroring the split side) and never more than
# half the lists (a shrink step must leave a working index). Receipts
# mirror the rebalance row: list counts, min list size and min load on
# each side, probe cost and recall@IVR_TOPK at nprobe=IVR_NPROBE before
# vs after over the certified query panel.
IVM_UNDER_X1000 = 500
IVM_MIN_MERGES = 2


def _ivf_merge_act_ctes_sql(out: str = "") -> str:
    """The merge ACT's CTE chain, given base CTEs plus a ``mrg``
    relation of list ids to remove: surviving centroids, nearest-
    survivor reassignment of the merged lists' members (no
    retraining), and the post-merge index as
    ``{out}newc(nl_id, s_demb, s_nrm)`` /
    ``{out}nasg(nl_id, vec_id, demb, nrm)``. ``out=""`` renders the
    exact text sim_ivf_merge's oracle registered in round 13
    (byte-identity pinned by tests/test_llm_ext15.py); the lifecycle
    operator renders ``out="m"``."""
    return f""",
    {out}newc AS MATERIALIZED (
        SELECT CAST(c.cent_id AS BIGINT) AS nl_id,
               c.c_demb AS s_demb, c.c_nrm AS s_nrm
        FROM cent c ANTI JOIN mrg USING (cent_id)),
    movers AS (SELECT a.vec_id, a.demb, a.nrm
               FROM asg a JOIN mrg ON mrg.cent_id = a.cent_id),
    reasg AS (SELECT nl_id, vec_id, demb, nrm FROM (
                SELECT m.vec_id, m.demb, m.nrm, c.nl_id,
                       row_number() OVER (PARTITION BY m.vec_id
                           ORDER BY {_ppm_rank_sql(
                               sim.dot_sql('m.demb', 'c.s_demb'),
                               'm.nrm * c.s_nrm')} DESC, c.nl_id) AS rc
                FROM movers m CROSS JOIN {out}newc c)
            WHERE rc = 1),
    {out}nasg AS MATERIALIZED (
        SELECT CAST(a.cent_id AS BIGINT) AS nl_id, a.vec_id, a.demb,
               a.nrm
        FROM asg a ANTI JOIN mrg USING (cent_id)
        UNION ALL
        SELECT nl_id, vec_id, demb, nrm FROM reasg)"""


def _ivf_merge_oracle() -> str:
    k = IVF_NLIST
    return _ivf_base_ctes_sql() + f""",
    und AS (SELECT CAST(count(*) AS BIGINT) AS n_under
            FROM ld WHERE load_x1000 <= {IVM_UNDER_X1000}),
    mrg AS MATERIALIZED (SELECT cent_id FROM (
                SELECT cent_id,
                       row_number() OVER (ORDER BY n_vecs ASC, cent_id)
                           AS r
                FROM ld) CROSS JOIN und
            WHERE r <= least(greatest({IVM_MIN_MERGES}, und.n_under),
                             {k // 2}))""" \
        + _ivf_merge_act_ctes_sql() + f""",
    sz2 AS (SELECT nc.nl_id, CAST(count(na.vec_id) AS BIGINT) AS n_vecs
            FROM newc nc LEFT JOIN nasg na ON na.nl_id = nc.nl_id
            GROUP BY nc.nl_id),
    nl AS (SELECT CAST(count(*) AS BIGINT) AS n_lists FROM newc),
    {_ivf_recall_ctes_sql()}
    SELECT CAST({k} AS BIGINT) AS n_lists_before,
           und.n_under AS n_under,
           (SELECT CAST(count(*) AS BIGINT) FROM mrg) AS n_merged,
           nl.n_lists AS n_lists_after,
           (SELECT CAST(min(n_vecs) AS BIGINT) FROM ld)
               AS min_list_before,
           (SELECT CAST(min(n_vecs) AS BIGINT) FROM sz2)
               AS min_list_after,
           (SELECT CAST(min(load_x1000) AS BIGINT) FROM ld)
               AS min_load_x1000_before,
           (SELECT CAST(min(n_vecs * nl.n_lists * 1000 // tot.nn)
                        AS BIGINT)
            FROM sz2 CROSS JOIN nl CROSS JOIN tot)
               AS min_load_x1000_after,
           c1.n_cand AS pre_cand_rows,
           c2.n_cand AS post_cand_rows,
           h1.hits * {_PPM} // greatest({IVR_TOPK} * qs.nq, 1)
               AS pre_recall_ppm,
           h2.hits * {_PPM} // greatest({IVR_TOPK} * qs.nq, 1)
               AS post_recall_ppm
    FROM und CROSS JOIN nl CROSS JOIN c1 CROSS JOIN c2
         CROSS JOIN h1 CROSS JOIN h2 CROSS JOIN qs
    """


def _ivf_merge_frames(cent: DataFrame, asg: DataFrame, mrg: DataFrame):
    """Spark twin of _ivf_merge_act_ctes_sql: remove every list in
    ``mrg``, reassign its members to the nearest surviving centroid
    (no retraining), and return the post-merge index (newc, nasg),
    both pinned."""
    newc = pin(cent.join(mrg, "cent_id", "left_anti")
               .select(F.col("cent_id").cast("long").alias("nl_id"),
                       F.col("c_demb").alias("s_demb"),
                       F.col("c_nrm").alias("s_nrm")))
    movers = asg.join(mrg, "cent_id").select("vec_id", "demb", "nrm")
    wre = Window.partitionBy("vec_id").orderBy(
        F.col("rppm").desc(), "nl_id")
    reasg = (movers.crossJoin(F.broadcast(newc))
             .select("vec_id", "demb", "nrm", "nl_id",
                     sim.ppm(
                         sim.dot(F.col("demb"), F.col("s_demb"))
                         / (F.col("nrm") * F.col("s_nrm"))).alias("rppm"))
             .withColumn("rc", F.row_number().over(wre))
             .filter(F.col("rc") == 1)
             .select("nl_id", "vec_id", "demb", "nrm"))
    # MATERIALIZED on the oracle side; multi-consumer — checkpoint leaf
    # (see asg in _ivf_base_frames).
    nasg = (
        asg.join(mrg, "cent_id", "left_anti")
        .select(F.col("cent_id").cast("long").alias("nl_id"),
                "vec_id", "demb", "nrm")
        .unionByName(reasg)
        .localCheckpoint(eager=True))
    return newc, nasg


@register(
    "sim_ivf_merge",
    oracle=None,  # set below (renders the shared training CTEs)
    tags=("llm", "ann-ivf", "maintenance", "action"),
)
def q_ivf_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge (remove) the lightest IVF inverted lists and measure what
    the shrink bought (module comment above): one row with list counts,
    the under-floor count, min list size and min load factor on each
    side, and recall@{IVR_TOPK} at nprobe={IVR_NPROBE} before vs after
    with each side's candidate-row scan cost. Nearly-empty lists are
    pure overhead — a probe visiting one wastes its budget — and the
    remove-and-reassign step is how an IVF index sheds them without
    retraining.

    Scale shape: the base is the audited shared assignment
    (_ivf_base_frames — one corpus scan against broadcast centroids,
    pinned); the merge layer moves ONLY the merged lists' members (a
    broadcast rank against the <= nlist surviving-centroid table — no
    retraining, no driver reads beyond the K-bounded centroid list
    already licensed); receipts and recall reuse the audited rebalance
    panels (broadcast queries, list-id-keyed candidate joins, 1-row
    broadcast crossJoins)."""
    k = IVF_NLIST

    n, cent, asg, sz, tot, ld = _ivf_base_frames(spark, sf_dir)
    # Receipt fusion (r16, guide §2): under-floor count + before-side
    # min list/load stats in one pass over the pinned ld frame.
    bef = ld.agg(
        F.count(F.when(F.col("load_x1000") <= IVM_UNDER_X1000, F.lit(1)))
        .cast("long").alias("n_under"),
        F.min("n_vecs").cast("long").alias("min_list_before"),
        F.min("load_x1000").cast("long").alias("min_load_x1000_before"))
    wmrg = Window.partitionBy(F.lit(0)).orderBy(
        F.col("n_vecs").asc(), "cent_id")
    mrg = pin(ld.withColumn("r", F.row_number().over(wmrg))
              .crossJoin(F.broadcast(bef.select("n_under")))
              .filter(F.col("r")
                      <= F.least(
                          F.greatest(F.lit(IVM_MIN_MERGES).cast("long"),
                                     F.col("n_under")),
                          F.lit(k // 2).cast("long")))
              .select("cent_id"))
    newc, nasg = _ivf_merge_frames(cent, asg, mrg)
    sz2 = pin(newc.select("nl_id")
              .join(nasg, "nl_id", "left")
              .groupBy("nl_id")
              .agg(F.count("vec_id").cast("long").alias("n_vecs")))
    nl = newc.agg(F.count("*").cast("long").alias("n_lists"))
    qs, hc1, hc2 = _ivf_recall_frames(n, cent, asg, newc, nasg)
    nmrg = mrg.agg(F.count("*").cast("long").alias("n_merged"))
    mn2 = (sz2.crossJoin(F.broadcast(nl)).crossJoin(F.broadcast(tot))
           .agg(F.min("n_vecs").cast("long").alias("min_list_after"),
                F.min(F.expr("n_vecs * n_lists * 1000 div nn"))
                .cast("long").alias("min_load_x1000_after")))
    return (bef.crossJoin(F.broadcast(nmrg))
            .crossJoin(F.broadcast(nl))
            .crossJoin(F.broadcast(mn2))
            .crossJoin(F.broadcast(hc1))
            .crossJoin(F.broadcast(hc2))
            .crossJoin(F.broadcast(qs))
            .select(F.lit(k).cast("long").alias("n_lists_before"),
                    "n_under", "n_merged",
                    F.col("n_lists").alias("n_lists_after"),
                    "min_list_before", "min_list_after",
                    "min_load_x1000_before", "min_load_x1000_after",
                    "pre_cand_rows", "post_cand_rows",
                    F.expr(f"hits1 * 1000000 div greatest({IVR_TOPK} * nq,"
                           " 1)").alias("pre_recall_ppm"),
                    F.expr(f"hits2 * 1000000 div greatest({IVR_TOPK} * nq,"
                           " 1)").alias("post_recall_ppm")))


def _render_ivf_merge_oracle() -> None:
    from ..registry import REGISTRY
    REGISTRY["sim_ivf_merge"].oracle = _ivf_merge_oracle()


_render_ivf_merge_oracle()


# --------------------------- incremental near-dup dedup (batch vs corpus)

# The incremental form of the MinHash+LSH pipeline — how near-dup dedup
# actually runs in a LIVING pipeline (the near-dup analog of
# dedup_incremental_batch's exact form): an incoming batch (doc_id above
# the deterministic 80% cut, the established incremental-fixture
# convention) probes the EXISTING corpus's band index, and only then
# dedups within itself. Semantics, set-based and engine-exact:
#   1. a batch doc whose verified Jaccard vs ANY corpus doc clears
#      NEAR_DUP_JACCARD is dup_corpus (canon = min matching corpus id);
#   2. the remaining batch docs form near-dup components among
#      THEMSELVES (the certified dedup_components rule, restricted to
#      the survivor graph); a non-minimum member is dup_batch
#      (canon = component min);
#   3. everything else keeps (canon = itself).
# At 100 TB the corpus band index is a persisted table the batch join
# probes — the corpus is never re-paired against itself (the whole point
# of the incremental shape); re-deriving the index in-query here keeps
# the operator self-contained while the PLAN still contains no
# corpus-x-corpus candidate join (plan-audited).


def _inc_near_dup_oracle() -> str:
    from .llm import NEAR_DUP_JACCARD
    from ..operators.dedup import (LSH_BANDS, LSH_ROWS, jaccard_sql,
                                   minhash_signature_sql,
                                   shingle_ids_tok_sql,
                                   token_hashes_32_duck_sql)
    return f"""
    WITH RECURSIVE
    cut AS (SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT) AS c
            FROM documents),
    t AS (SELECT doc_id,
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
    cbc AS (SELECT DISTINCT b.doc_id AS bid, a.doc_id AS cid
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.bucket = b.bucket
            CROSS JOIN cut
            WHERE a.doc_id <= cut.c AND b.doc_id > cut.c),
    dupc AS MATERIALIZED (
        SELECT bid, min(cid) AS canon
        FROM cbc JOIN s sa ON sa.doc_id = cid JOIN s sb ON sb.doc_id = bid
        WHERE {jaccard_sql('sa.sids', 'sb.sids')} >= {NEAR_DUP_JACCARD}
        GROUP BY bid),
    cbb AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
            CROSS JOIN cut
            WHERE a.doc_id > cut.c
              AND a.doc_id NOT IN (SELECT bid FROM dupc)
              AND b.doc_id NOT IN (SELECT bid FROM dupc)),
    pairs AS (SELECT doc_a, doc_b
              FROM cbb JOIN s sa ON sa.doc_id = doc_a
                       JOIN s sb ON sb.doc_id = doc_b
              WHERE {jaccard_sql('sa.sids', 'sb.sids')}
                    >= {NEAR_DUP_JACCARD}),
    nodes AS (SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION SELECT doc_b AS doc_id FROM pairs)),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
    comp AS (SELECT src AS doc_id, min(dst) AS comp
             FROM reach GROUP BY src)
    SELECT d.doc_id,
           CASE WHEN dupc.canon IS NOT NULL THEN 'dup_corpus'
                WHEN comp.comp IS NOT NULL AND comp.comp != d.doc_id
                     THEN 'dup_batch'
                ELSE 'keep' END AS verdict,
           CAST(coalesce(dupc.canon, comp.comp, d.doc_id) AS BIGINT)
               AS canon_id
    FROM documents d CROSS JOIN cut
    LEFT JOIN dupc ON dupc.bid = d.doc_id
    LEFT JOIN comp ON comp.doc_id = d.doc_id
    WHERE d.doc_id > cut.c
    ORDER BY d.doc_id
    """


@register(
    "dedup_incremental_near_dup",
    oracle=None,  # set below
    tags=("llm", "dedup-minhash-lsh", "dedup-incremental"),
)
def q_inc_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash+LSH near-dup dedup of an incoming batch
    against an existing corpus (module comment above): one row per
    batch doc with the verdict (dup_corpus / dup_batch / keep) and its
    canon — the minimum matching corpus id, the batch component
    minimum, or itself.

    Scale shape: the certified LSH pipeline end to end — shingle/sig
    map-side, candidates from (band, bucket)-keyed equi-joins with the
    batch side as the probe (NO corpus-x-corpus pair join anywhere in
    the plan: the corpus band rows join only against batch band rows —
    the incremental advantage, plan-audited), verify joins id-keyed on
    the pinned shingle table, components only over the batch-survivor
    pair graph (bounded by batch size, the audited min-label loop)."""
    from .llm import NEAR_DUP_JACCARD
    from ..operators.dedup import (connected_components, jaccard,
                                   minhash_band_explode,
                                   minhash_signature_col,
                                   token_ngram_frame)

    d = spread(table(spark, sf_dir, "documents"))
    cut = d.agg(F.floor(F.max("doc_id") * 0.8).cast("long").alias("c"))
    sh = pin(token_ngram_frame(d.crossJoin(F.broadcast(cut)),
                               ["doc_id", "c"]))
    sig = sh.select("doc_id", "c",
                    minhash_signature_col(F.col("sids")).alias("sig"))
    bands = pin(minhash_band_explode(sig, ["doc_id", "c"], "sig"))
    corp_b = bands.filter(F.col("doc_id") <= F.col("c")) \
                  .select(F.col("doc_id").alias("cid"), "band", "bucket")
    bat_b = bands.filter(F.col("doc_id") > F.col("c")) \
                 .select(F.col("doc_id").alias("bid"), "band", "bucket")
    cbc = (bat_b.join(corp_b, ["band", "bucket"])
           .select("bid", "cid").distinct())
    sa = sh.select(F.col("doc_id").alias("cid"),
                   F.col("sids").alias("sids_a"))
    sb = sh.select(F.col("doc_id").alias("bid"),
                   F.col("sids").alias("sids_b"))
    dupc = pin(cbc.join(sa, "cid").join(sb, "bid")
               .filter(jaccard(F.col("sids_a"), F.col("sids_b"))
                       >= NEAR_DUP_JACCARD)
               .groupBy("bid")
               .agg(F.min("cid").alias("canon")))
    bat_surv = bat_b.join(dupc.select("bid"), "bid", "left_anti")
    a2 = bat_surv.select(F.col("bid").alias("doc_a"), "band", "bucket")
    b2 = bat_surv.select(F.col("bid").alias("doc_b"), "band", "bucket")
    cbb = (a2.join(b2, ["band", "bucket"])
           .filter(F.col("doc_a") < F.col("doc_b"))
           .select("doc_a", "doc_b").distinct())
    pa = sh.select(F.col("doc_id").alias("doc_a"),
                   F.col("sids").alias("sids_a"))
    pb = sh.select(F.col("doc_id").alias("doc_b"),
                   F.col("sids").alias("sids_b"))
    pairs = (cbb.join(pa, "doc_a").join(pb, "doc_b")
             .filter(jaccard(F.col("sids_a"), F.col("sids_b"))
                     >= NEAR_DUP_JACCARD)
             .select("doc_a", "doc_b"))
    comp = connected_components(pairs).select(
        F.col("doc_id").alias("bid"), "comp")
    batch = sh.filter(F.col("doc_id") > F.col("c")).select("doc_id")
    return (batch
            .join(dupc.withColumnRenamed("bid", "doc_id"), "doc_id", "left")
            .join(comp.withColumnRenamed("bid", "doc_id"), "doc_id", "left")
            .select("doc_id",
                    F.when(F.col("canon").isNotNull(), F.lit("dup_corpus"))
                    .when(F.col("comp").isNotNull()
                          & (F.col("comp") != F.col("doc_id")),
                          F.lit("dup_batch"))
                    .otherwise(F.lit("keep")).alias("verdict"),
                    F.coalesce("canon", "comp", "doc_id").cast("long")
                    .alias("canon_id"))
            .orderBy("doc_id"))


def _render_inc_near_dup_oracle() -> None:
    from ..registry import REGISTRY
    REGISTRY["dedup_incremental_near_dup"].oracle = _inc_near_dup_oracle()


_render_inc_near_dup_oracle()

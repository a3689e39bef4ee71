"""Round-14 operators: the IVF lifecycle's INSERT act and the fused
build -> detect -> decide -> act -> query END-TO-END receipt.

CERTIFICATION STATUS: written in round 14, inside the r14 sample
window (new code earns its formal row in the round it is written —
registry.SAMPLE_PREFIX_EXPECTED allocates both).

Reference scope note: the reference (/root/reference, a single-purpose
NATS enrichment daemon, main.py + src/service.py) has no analytics
surface; both operators here are north-star scope, built Spark-first
and oracle-paired.

- ``sim_ivf_insert`` — the missing lifecycle step between build
  (sim_ann_ivf) and maintain (sim_ivf_rebalance / sim_ivf_merge): an
  incoming vector batch (vec_id above the deterministic 80% cut, the
  established incremental-fixture convention of
  dedup_incremental_near_dup) is assigned to the EXISTING inverted
  lists — nearest centroid, ppm-quantized rank, NO retraining, the
  faiss ``add`` path — and the 1-row receipt reports what the insert
  did to the index: corpus/batch counts, max list size and max load
  factor before vs after, the 2x-overload count before vs after (the
  signal that tells the maintainer when to trigger the rebalance act),
  and recall@IVR_TOPK at nprobe=IVR_NPROBE before vs after against the
  POST-insert brute-force truth. The pre-insert index cannot return
  the batch vectors at all, so pre-recall measures index STALENESS —
  the drift number that decides how often a living pipeline must run
  its inserts.
- ``sim_ivf_lifecycle`` — the ANN sibling of curation_end_to_end (the
  fused curation pipeline): build the index, read the balance verdict
  (detect), DECIDE split / merge / hold from it (split when any list
  is 2x-overloaded with >= 2 members — the rebalance trigger; merge
  when any list is at/under half balance — the merge trigger; hold
  otherwise), apply the chosen standalone act's exact construction,
  and probe the query panel on both sides. The receipt carries the
  decision and the detect numbers it came from, so a maintainer can
  check the fused decision against the standalone detect/act
  operators' own rows (tests assert exactly that on planted
  overloaded and underloaded corpora). One corpus assignment scan
  feeds detect, act, and both recall panels (plan-audited).

Training-scope note (both operators): km.train_ivf_centroids samples
``vec_id < TRAIN_SAMPLE_N`` (= 256) and every shipped SF's 80% cut
sits above it (asserted by tests/test_llm_ext15.py), so the centroids
trained "on the full table" by the shared base builders are
bit-identical to corpus-only training — the insert semantics ("the
index existed before the batch arrived") hold exactly.

At 100 TB the corpus assignment is a persisted table and the insert
assigns ONLY the batch (one broadcast-rank scan over the batch slice);
re-deriving the corpus assignment in-query keeps the operator
self-contained while the plan still never pairs corpus rows against
each other — the same discipline as dedup_incremental_near_dup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Registry import FIRST among intra-package imports (worker re-import
# ordering; see llm_ext2.py's header note).
from ..registry import pin, register

from ..operators.kmeans import IVF_NLIST

from .llm_ext14 import (  # noqa: E402
    IVR_TOPK,
    _ivf_base_ctes_sql,
    _ivf_base_frames,
    _ivf_recall_ctes_sql,
    _ivf_recall_frames,
    _PPM,
)

# ------------------------------- IVF incremental insert (the add act)


def _ivf_insert_oracle() -> str:
    from .llm_ext13 import IVB_OVERLOAD_X1000
    k = IVF_NLIST
    # Slot note: the shared recall builder hardwires (cent, asg) as its
    # first probe target and (newc, nasg) as its second. The base
    # builder's asg assigns EVERY vector to its nearest centroid — for
    # an insert that IS the post-insert index — so the corpus-only
    # restriction goes in the (newc, nasg) slot and the receipt maps
    # h1/c1 -> post, h2/c2 -> pre (documented once, asserted by the
    # planted-batch test's pre<=post staleness check).
    # mat=True + local MATERIALIZED hints (identical rows, see
    # _ivf_base_ctes_sql): the receipt layer reads pld/ld several
    # times, and un-hinted CTE references re-run their upstream chain
    # per reference in DuckDB — training included.
    return _ivf_base_ctes_sql(mat=True) + f""",
    cut AS (SELECT coalesce(CAST(floor(max(vec_id) * 0.8) AS BIGINT),
                            -1) AS c FROM e),
    pasg AS MATERIALIZED (
        SELECT a.vec_id, a.demb, a.nrm, a.cent_id
        FROM asg a CROSS JOIN cut WHERE a.vec_id <= cut.c),
    psz AS (SELECT c.cent_id, CAST(count(a.vec_id) AS BIGINT) AS n_vecs
            FROM cent c LEFT JOIN pasg a ON a.cent_id = c.cent_id
            GROUP BY c.cent_id),
    ptot AS (SELECT greatest(CAST(sum(n_vecs) AS BIGINT), 1) AS nn
             FROM psz),
    pld AS MATERIALIZED (SELECT cent_id, n_vecs,
                   n_vecs * {k} * 1000 // ptot.nn AS load_x1000
            FROM psz CROSS JOIN ptot),
    ovb AS (SELECT CAST(count(*) AS BIGINT) AS n_overloaded_before
            FROM pld WHERE load_x1000 >= {IVB_OVERLOAD_X1000}
                       AND n_vecs >= 2),
    ova AS (SELECT CAST(count(*) AS BIGINT) AS n_overloaded_after
            FROM ld WHERE load_x1000 >= {IVB_OVERLOAD_X1000}
                      AND n_vecs >= 2),
    ncp AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM pasg),
    nbt AS (SELECT CAST(count(*) AS BIGINT) AS n_batch
            FROM asg a CROSS JOIN cut WHERE a.vec_id > cut.c),
    newc AS (SELECT CAST(cent_id AS BIGINT) AS nl_id,
                    c_demb AS s_demb, c_nrm AS s_nrm FROM cent),
    nasg AS MATERIALIZED (
        SELECT CAST(cent_id AS BIGINT) AS nl_id, vec_id, demb, nrm
        FROM pasg),
    {_ivf_recall_ctes_sql()}
    SELECT CAST({k} AS BIGINT) AS n_lists, ncp.n_corpus, nbt.n_batch,
           (SELECT CAST(max(n_vecs) AS BIGINT) FROM pld)
               AS max_list_before,
           (SELECT CAST(max(n_vecs) AS BIGINT) FROM ld)
               AS max_list_after,
           (SELECT CAST(max(load_x1000) AS BIGINT) FROM pld)
               AS max_load_x1000_before,
           (SELECT CAST(max(load_x1000) AS BIGINT) FROM ld)
               AS max_load_x1000_after,
           ovb.n_overloaded_before, ova.n_overloaded_after,
           c2.n_cand AS pre_cand_rows,
           c1.n_cand AS post_cand_rows,
           h2.hits * {_PPM} // greatest({IVR_TOPK} * qs.nq, 1)
               AS pre_recall_ppm,
           h1.hits * {_PPM} // greatest({IVR_TOPK} * qs.nq, 1)
               AS post_recall_ppm
    FROM ovb CROSS JOIN ova CROSS JOIN ncp CROSS JOIN nbt
         CROSS JOIN c1 CROSS JOIN c2 CROSS JOIN h1 CROSS JOIN h2
         CROSS JOIN qs
    """


@register(
    "sim_ivf_insert",
    oracle=None,  # set below (renders the shared training CTEs)
    tags=("llm", "ann-ivf", "maintenance", "action", "incremental"),
)
def q_ivf_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert an incoming vector batch into the existing IVF index —
    nearest-centroid assignment, no retraining — and measure the drift
    it caused (module comment above): one row with corpus/batch
    counts, max list size and max load factor before/after, the
    2x-overload count before/after (the rebalance trigger), and
    recall@{IVR_TOPK} at nprobe={IVR_NPROBE} before/after against the
    post-insert brute-force truth (pre-recall = index staleness).

    Scale shape: the assignment is the audited shared base (one corpus
    scan against broadcast centroids, ppm-quantized rank, pinned); the
    pre-insert index is its corpus-slice restriction — no second
    assignment scan, no retraining, no driver reads beyond the
    K-bounded centroid table already licensed. Probe panels broadcast;
    candidate joins are list-id-keyed; receipts are 1-row broadcast
    crossJoins. At scale only the batch slice is newly assigned (the
    corpus assignment is a persisted table — see the module note)."""
    from .llm_ext13 import IVB_OVERLOAD_X1000
    k = IVF_NLIST

    n, cent, asg, sz, tot, ld = _ivf_base_frames(spark, sf_dir)
    cut = n.agg(F.coalesce(F.floor(F.max("vec_id") * 0.8).cast("long"),
                           F.lit(-1).cast("long")).alias("c"))
    pasg = pin(asg.crossJoin(F.broadcast(cut))
               .filter(F.col("vec_id") <= F.col("c"))
               .select("vec_id", "demb", "nrm", "cent_id"))
    psz = pin(cent.select("cent_id")
              .join(pasg, "cent_id", "left")
              .groupBy("cent_id")
              .agg(F.count("vec_id").cast("long").alias("n_vecs")))
    ptot = psz.agg(F.greatest(F.sum("n_vecs").cast("long"),
                              F.lit(1).cast("long")).alias("nn"))
    pld = pin(psz.crossJoin(F.broadcast(ptot))
              .select("cent_id", "n_vecs",
                      F.expr(f"n_vecs * {k} * 1000 div nn")
                      .alias("load_x1000")))
    # Receipt fusion (r16, guide §2): sibling 1-row aggregates over the
    # same pinned frame collapse into single multi-aggregate passes —
    # overload count + max stats over pld (before) and over ld (after),
    # and the corpus/batch counts as one conditional-count pass over
    # the pinned assignment (pasg is exactly asg where vec_id <= c).
    befp = pld.agg(
        F.count(F.when((F.col("load_x1000") >= IVB_OVERLOAD_X1000)
                       & (F.col("n_vecs") >= 2), F.lit(1)))
        .cast("long").alias("n_overloaded_before"),
        F.max("n_vecs").cast("long").alias("max_list_before"),
        F.max("load_x1000").cast("long").alias("max_load_x1000_before"))
    afta = ld.agg(
        F.count(F.when((F.col("load_x1000") >= IVB_OVERLOAD_X1000)
                       & (F.col("n_vecs") >= 2), F.lit(1)))
        .cast("long").alias("n_overloaded_after"),
        F.max("n_vecs").cast("long").alias("max_list_after"),
        F.max("load_x1000").cast("long").alias("max_load_x1000_after"))
    cnt = (asg.crossJoin(F.broadcast(cut))
           .agg(F.count(F.when(F.col("vec_id") <= F.col("c"), F.lit(1)))
                .cast("long").alias("n_corpus"),
                F.count(F.when(F.col("vec_id") > F.col("c"), F.lit(1)))
                .cast("long").alias("n_batch")))
    newc = cent.select(F.col("cent_id").cast("long").alias("nl_id"),
                       F.col("c_demb").alias("s_demb"),
                       F.col("c_nrm").alias("s_nrm"))
    nasg = pasg.select(F.col("cent_id").cast("long").alias("nl_id"),
                       "vec_id", "demb", "nrm")
    # Slot swap (see _ivf_insert_oracle): the builder's first slot gets
    # the POST-insert index (the base assignment), the second the
    # PRE-insert corpus slice — so hits1/hc1 are post, hits2/hc2 are pre.
    qs, hc1, hc2 = _ivf_recall_frames(n, cent, asg, newc, nasg)
    return (cnt.crossJoin(F.broadcast(befp))
            .crossJoin(F.broadcast(afta))
            .crossJoin(F.broadcast(hc1))
            .crossJoin(F.broadcast(hc2))
            .crossJoin(F.broadcast(qs))
            .select(F.lit(k).cast("long").alias("n_lists"),
                    "n_corpus", "n_batch",
                    "max_list_before", "max_list_after",
                    "max_load_x1000_before", "max_load_x1000_after",
                    "n_overloaded_before", "n_overloaded_after",
                    F.col("post_cand_rows").alias("pre_cand_rows"),
                    F.col("pre_cand_rows").alias("post_cand_rows"),
                    F.expr(f"hits2 * {_PPM} div greatest({IVR_TOPK} * nq,"
                           " 1)").alias("pre_recall_ppm"),
                    F.expr(f"hits1 * {_PPM} div greatest({IVR_TOPK} * nq,"
                           " 1)").alias("post_recall_ppm")))


def _render_ivf_insert_oracle() -> None:
    from ..registry import REGISTRY
    REGISTRY["sim_ivf_insert"].oracle = _ivf_insert_oracle()


_render_ivf_insert_oracle()


# --------------------- fused ANN lifecycle (build -> decide -> query)


def _ivf_lifecycle_oracle() -> str:
    from .llm_ext13 import IVB_OVERLOAD_X1000
    from .llm_ext14 import (IVM_MIN_MERGES, IVM_UNDER_X1000,
                            IVR_MIN_SPLITS, _ivf_merge_act_ctes_sql,
                            _ivf_split_act_ctes_sql)
    k = IVF_NLIST
    split_chain = _ivf_split_act_ctes_sql(out="s")
    merge_chain = _ivf_merge_act_ctes_sql(out="m")
    # mat=True + MATERIALIZED detect/decision CTEs (identical rows, see
    # _ivf_base_ctes_sql): this oracle re-reads ``(SELECT act FROM
    # dec)`` ~a dozen times as branch guards, and without the hints
    # each read re-derived dec -> ovl/und -> ld -> the whole training
    # chain — measured 207 s at sf0.001, vs seconds with the hints.
    return _ivf_base_ctes_sql(mat=True) + f""",
    ovl AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n_over
            FROM ld WHERE load_x1000 >= {IVB_OVERLOAD_X1000}
                      AND n_vecs >= 2),
    und AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n_under
            FROM ld WHERE load_x1000 <= {IVM_UNDER_X1000}),
    dec AS MATERIALIZED (SELECT CASE WHEN ovl.n_over >= 1 THEN 'split'
                        WHEN und.n_under >= 1 THEN 'merge'
                        ELSE 'hold' END AS act
            FROM ovl CROSS JOIN und),
    spl AS MATERIALIZED (SELECT cent_id FROM (
                SELECT cent_id,
                       row_number() OVER (ORDER BY n_vecs DESC, cent_id)
                           AS r
                FROM ld WHERE n_vecs >= 2) CROSS JOIN ovl
            WHERE r <= greatest({IVR_MIN_SPLITS}, ovl.n_over)
              AND (SELECT act FROM dec) = 'split'),
    mrg AS MATERIALIZED (SELECT cent_id FROM (
                SELECT cent_id,
                       row_number() OVER (ORDER BY n_vecs ASC, cent_id)
                           AS r
                FROM ld) CROSS JOIN und
            WHERE r <= least(greatest({IVM_MIN_MERGES}, und.n_under),
                             {k // 2})
              AND (SELECT act FROM dec) = 'merge')""" \
        + split_chain + merge_chain + f""",
    newc AS MATERIALIZED (
        SELECT nl_id, s_demb, s_nrm FROM snewc
        WHERE (SELECT act FROM dec) = 'split'
        UNION ALL
        SELECT nl_id, s_demb, s_nrm FROM mnewc
        WHERE (SELECT act FROM dec) = 'merge'
        UNION ALL
        SELECT CAST(cent_id AS BIGINT) AS nl_id, c_demb AS s_demb,
               c_nrm AS s_nrm
        FROM cent WHERE (SELECT act FROM dec) = 'hold'),
    nasg AS MATERIALIZED (
        SELECT nl_id, vec_id, demb, nrm FROM snasg
        WHERE (SELECT act FROM dec) = 'split'
        UNION ALL
        SELECT nl_id, vec_id, demb, nrm FROM mnasg
        WHERE (SELECT act FROM dec) = 'merge'
        UNION ALL
        SELECT CAST(cent_id AS BIGINT) AS nl_id, vec_id, demb, nrm
        FROM asg WHERE (SELECT act FROM dec) = 'hold'),
    nact AS (SELECT CASE WHEN (SELECT act FROM dec) = 'split'
                         THEN (SELECT CAST(count(*) AS BIGINT) FROM spl)
                         WHEN (SELECT act FROM dec) = 'merge'
                         THEN (SELECT CAST(count(*) AS BIGINT) FROM mrg)
                         ELSE CAST(0 AS BIGINT) END AS n_acted),
    sz2 AS (SELECT nc.nl_id, CAST(count(na.vec_id) AS BIGINT) AS n_vecs
            FROM newc nc LEFT JOIN nasg na ON na.nl_id = nc.nl_id
            GROUP BY nc.nl_id),
    nl AS (SELECT CAST(count(*) AS BIGINT) AS n_lists FROM newc),
    ld2 AS MATERIALIZED (SELECT nl_id, n_vecs,
                   n_vecs * nl.n_lists * 1000 // tot.nn AS load_x1000
            FROM sz2 CROSS JOIN nl CROSS JOIN tot),
    {_ivf_recall_ctes_sql()}
    SELECT (SELECT act FROM dec) AS act,
           ovl.n_over AS n_overloaded, und.n_under AS n_underloaded,
           nact.n_acted,
           CAST({k} AS BIGINT) AS n_lists_before,
           nl.n_lists AS n_lists_after,
           (SELECT CAST(max(load_x1000) AS BIGINT) FROM ld)
               AS max_load_x1000_before,
           (SELECT CAST(max(load_x1000) AS BIGINT) FROM ld2)
               AS max_load_x1000_after,
           (SELECT CAST(min(load_x1000) AS BIGINT) FROM ld)
               AS min_load_x1000_before,
           (SELECT CAST(min(load_x1000) AS BIGINT) FROM ld2)
               AS min_load_x1000_after,
           c1.n_cand AS pre_cand_rows,
           c2.n_cand AS post_cand_rows,
           h1.hits * {_PPM} // greatest({IVR_TOPK} * qs.nq, 1)
               AS pre_recall_ppm,
           h2.hits * {_PPM} // greatest({IVR_TOPK} * qs.nq, 1)
               AS post_recall_ppm
    FROM ovl CROSS JOIN und CROSS JOIN nact CROSS JOIN nl
         CROSS JOIN c1 CROSS JOIN c2 CROSS JOIN h1 CROSS JOIN h2
         CROSS JOIN qs
    """


@register(
    "sim_ivf_lifecycle",
    oracle=None,  # set below (renders the shared training CTEs)
    tags=("llm", "ann-ivf", "maintenance", "end-to-end"),
)
def q_ivf_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused ANN lifecycle receipt (module comment above): build
    the IVF index, read the balance verdict, DECIDE
    split / merge / hold, apply the chosen standalone act's exact
    construction, and probe the query panel on both sides. One row:
    the decision, the detect numbers it came from, list counts,
    max/min load factors before/after, and recall@{IVR_TOPK} at
    nprobe={IVR_NPROBE} with candidate-row costs on each side.

    Scale shape: ONE corpus assignment scan (the pinned shared base)
    feeds detect, the chosen act, and both recall panels —
    plan-audited to a single embeddings scan plus the act's documented
    touch of the acted lists' members. The decision itself is a 1-row
    aggregate read on the driver (the established K-bounded license —
    the driver picks which branch's PLAN to build, never sees corpus
    rows); the oracle replays the same decision as a scalar CASE over
    the identical integer load counts, with the non-chosen branches'
    CTEs guarded empty. Spark builds only the chosen branch."""
    from .llm_ext13 import IVB_OVERLOAD_X1000
    from .llm_ext14 import (IVM_MIN_MERGES, IVM_UNDER_X1000,
                            IVR_MIN_SPLITS, _ivf_merge_frames,
                            _ivf_split_frames)
    from pyspark.sql import Window
    k = IVF_NLIST

    n, cent, asg, sz, tot, ld = _ivf_base_frames(spark, sf_dir)
    # Receipt fusion (r16, guide §2): the detect counts and the
    # before-side load extrema are sibling aggregates over the same
    # pinned ld frame — one multi-aggregate pass, and the 1-row
    # decision read below becomes a single-stage job (no 1-row join).
    det = ld.agg(
        F.count(F.when((F.col("load_x1000") >= IVB_OVERLOAD_X1000)
                       & (F.col("n_vecs") >= 2), F.lit(1)))
        .cast("long").alias("n_over"),
        F.count(F.when(F.col("load_x1000") <= IVM_UNDER_X1000, F.lit(1)))
        .cast("long").alias("n_under"),
        F.max("load_x1000").cast("long").alias("max_load_x1000_before"),
        F.min("load_x1000").cast("long").alias("min_load_x1000_before"))
    # 1-row decision read (K-bounded license, see docstring): the
    # branch changes the PLAN shape, so it must resolve at build time.
    verdict = det.collect()[0]
    act = ("split" if verdict.n_over >= 1
           else "merge" if verdict.n_under >= 1 else "hold")
    if act == "split":
        wspl = Window.partitionBy(F.lit(0)).orderBy(
            F.col("n_vecs").desc(), "cent_id")
        spl = pin(ld.filter(F.col("n_vecs") >= 2)
                  .withColumn("r", F.row_number().over(wspl))
                  .crossJoin(F.broadcast(det.select("n_over")))
                  .filter(F.col("r")
                          <= F.greatest(
                              F.lit(IVR_MIN_SPLITS).cast("long"),
                              F.col("n_over")))
                  .select("cent_id"))
        newc, nasg = _ivf_split_frames(spark, cent, asg, spl)
        nact = spl.agg(F.count("*").cast("long").alias("n_acted"))
    elif act == "merge":
        wmrg = Window.partitionBy(F.lit(0)).orderBy(
            F.col("n_vecs").asc(), "cent_id")
        mrg = pin(ld.withColumn("r", F.row_number().over(wmrg))
                  .crossJoin(F.broadcast(det.select("n_under")))
                  .filter(F.col("r")
                          <= F.least(
                              F.greatest(
                                  F.lit(IVM_MIN_MERGES).cast("long"),
                                  F.col("n_under")),
                              F.lit(k // 2).cast("long")))
                  .select("cent_id"))
        newc, nasg = _ivf_merge_frames(cent, asg, mrg)
        nact = mrg.agg(F.count("*").cast("long").alias("n_acted"))
    else:
        newc = cent.select(F.col("cent_id").cast("long").alias("nl_id"),
                           F.col("c_demb").alias("s_demb"),
                           F.col("c_nrm").alias("s_nrm"))
        nasg = asg.select(F.col("cent_id").cast("long").alias("nl_id"),
                          "vec_id", "demb", "nrm")
        nact = spark.range(1).select(
            F.lit(0).cast("long").alias("n_acted"))
    sz2 = pin(newc.select("nl_id")
              .join(nasg, "nl_id", "left")
              .groupBy("nl_id")
              .agg(F.count("vec_id").cast("long").alias("n_vecs")))
    nldf = newc.agg(F.count("*").cast("long").alias("n_lists"))
    ld2 = (sz2.crossJoin(F.broadcast(nldf)).crossJoin(F.broadcast(tot))
           .select("nl_id", "n_vecs",
                   F.expr("n_vecs * n_lists * 1000 div nn")
                   .alias("load_x1000")))
    qs, hc1, hc2 = _ivf_recall_frames(n, cent, asg, newc, nasg)
    mx2 = ld2.agg(F.max("load_x1000").cast("long")
                  .alias("max_load_x1000_after"),
                  F.min("load_x1000").cast("long")
                  .alias("min_load_x1000_after"))
    return (det.crossJoin(F.broadcast(nact))
            .crossJoin(F.broadcast(nldf))
            .crossJoin(F.broadcast(mx2))
            .crossJoin(F.broadcast(hc1))
            .crossJoin(F.broadcast(hc2))
            .crossJoin(F.broadcast(qs))
            .select(F.lit(act).alias("act"),
                    F.col("n_over").alias("n_overloaded"),
                    F.col("n_under").alias("n_underloaded"),
                    "n_acted",
                    F.lit(k).cast("long").alias("n_lists_before"),
                    F.col("n_lists").alias("n_lists_after"),
                    "max_load_x1000_before", "max_load_x1000_after",
                    "min_load_x1000_before", "min_load_x1000_after",
                    "pre_cand_rows", "post_cand_rows",
                    F.expr(f"hits1 * {_PPM} div greatest({IVR_TOPK} * nq,"
                           " 1)").alias("pre_recall_ppm"),
                    F.expr(f"hits2 * {_PPM} div greatest({IVR_TOPK} * nq,"
                           " 1)").alias("post_recall_ppm")))


def _render_ivf_lifecycle_oracle() -> None:
    from ..registry import REGISTRY
    REGISTRY["sim_ivf_lifecycle"].oracle = _ivf_lifecycle_oracle()


_render_ivf_lifecycle_oracle()

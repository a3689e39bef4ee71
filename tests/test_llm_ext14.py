"""Round-13 act-step operators (queries/llm_ext14.py):

- dedup_drop_plan_execute: receipt arithmetic cross-checked against the
  certified drop plan, the survivor theorem pinned to 0 on the real
  fixture AND on planted corpora — including the hot-boilerplate corpus
  where the SPAN_DF_CAP actively masks pairs (the cap-robustness proof
  in the module header, exercised).
- sim_ivf_rebalance: receipt consistency on the real fixture (structural
  invariants of a split: list counts add up, max list size never grows),
  and the genuinely-overloaded regime on a planted two-sub-cluster
  corpus — overload detected, the split separates the sub-clusters, max
  load factor drops, and the DuckDB oracle replays the whole act
  value-for-value on the planted corpus too.
"""

from __future__ import annotations

import duckdb

from nats_stream_processor_spark import registry
from nats_stream_processor_spark.operators import similarity as sim
from nats_stream_processor_spark.operators.dedup import SPAN_K
from nats_stream_processor_spark.queries import llm_ext10 as x10
from nats_stream_processor_spark.queries import llm_ext14 as x14

SF = "/root/testdata/sf0.001"


def _write_docs(spark, tmp_path, texts):
    d = tmp_path / "sf_synth"
    spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                          "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(d / "documents.parquet"))
    return str(d)


def _run(spark, name, sf_dir):
    rows = registry.REGISTRY[name].fn(spark, sf_dir).collect()
    registry.release_pins()
    return rows


# ------------------------------------------- dedup_drop_plan_execute

def test_drop_execute_receipts_match_drop_plan(spark):
    """The execute receipt must be ARITHMETICALLY the certified plan:
    n_dropped == the drop plan's row count (one row per dropped doc),
    tokens_removed == its tokens_saved summed, before == dropped +
    after, and the survivor recount is 0 on the fixture."""
    (r,) = _run(spark, "dedup_drop_plan_execute", SF)
    plan = _run(spark, "dedup_containment_drop_plan", SF)
    assert r.n_dropped == len(plan)
    assert r.tokens_removed == sum(p.tokens_saved for p in plan)
    assert r.n_docs_before == r.n_dropped + r.n_docs_after
    assert r.remaining_full_containments == 0


def test_drop_execute_planted_containment_chain(spark, tmp_path):
    """Planted A > B > C contiguous-containment chain plus an unrelated
    doc: executing drops B and C (both contained in A), the survivor
    set is {A, unrelated}, tokens_removed is the dropped docs' token
    counts, and the recount is 0."""
    k = SPAN_K
    base = [f"w{i:03d}" for i in range(3 * k)]
    a = " ".join(base)                       # doc 0: the container
    b = " ".join(base[k // 2: 2 * k])        # doc 1: contiguous in A
    c = " ".join(base[k // 2: k // 2 + k])   # doc 2: contiguous in B (and A)
    other = " ".join(f"n{i:03d}" for i in range(2 * k))  # doc 3
    sf_dir = _write_docs(spark, tmp_path, [a, b, c, other])
    (r,) = _run(spark, "dedup_drop_plan_execute", sf_dir)
    assert r.n_docs_before == 4
    assert r.n_dropped == 2           # B and C
    assert r.n_docs_after == 2        # A and the unrelated doc
    # tokens_removed = each dropped doc's n_spans + K - 1 == token count
    assert r.tokens_removed == len(b.split()) + len(c.split())
    assert r.surviving_pair_count == 0
    assert r.remaining_full_containments == 0


def test_drop_execute_cap_masked_corpus_still_zero(spark, tmp_path):
    """The cap-robustness proof, exercised: 80 docs share a hot 16-token
    boilerplate span (DF 80 > SPAN_DF_CAP, so every pair among them is
    MASKED by the cap and none can be dropped) plus a genuine sub-cap
    containment pair. Execute must drop exactly the one genuinely
    contained doc, every boilerplate carrier must survive (a hot-span
    carrier is undroppable), and the survivor recount must still be 0 —
    dropping docs never reveals a cap-masked containment, because the
    hot span keeps its full carrier set among survivors."""
    from nats_stream_processor_spark.operators.dedup import SPAN_DF_CAP
    k = SPAN_K
    boiler = " ".join(f"bw{j}" for j in range(k))
    texts = [boiler + " " + " ".join(f"u{i}x{j}" for j in range(8))
             for i in range(80)]
    xs = [f"xt{j}" for j in range(30)]
    texts.append(" ".join(xs))        # doc 80: the container
    texts.append(" ".join(xs[:24]))   # doc 81: contained prefix
    assert 80 > SPAN_DF_CAP
    sf_dir = _write_docs(spark, tmp_path, texts)
    (r,) = _run(spark, "dedup_drop_plan_execute", sf_dir)
    assert r.n_docs_before == 82
    assert r.n_dropped == 1                     # doc 81 only
    assert r.n_docs_after == 81                 # all 80 carriers survive
    assert r.tokens_removed == 24
    assert r.remaining_full_containments == 0   # cap-robust theorem


def test_drop_execute_oracle_parity_on_planted_corpus(spark, tmp_path):
    """The registered oracle replays the execute on the planted chain
    corpus value-for-value (the same side-by-side the driver runs, on
    a corpus where every receipt column is nonzero)."""
    k = SPAN_K
    base = [f"w{i:03d}" for i in range(3 * k)]
    texts = [" ".join(base), " ".join(base[k // 2: 2 * k]),
             " ".join(f"n{i:03d}" for i in range(2 * k))]
    sf_dir = _write_docs(spark, tmp_path, texts)
    (got,) = _run(spark, "dedup_drop_plan_execute", sf_dir)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet/*.parquet')")
    (want,) = con.execute(
        registry.REGISTRY["dedup_drop_plan_execute"].oracle).fetchall()
    assert tuple(got) == want


# ------------------------------------------------- sim_ivf_rebalance

def test_rebalance_receipts_structural_invariants(spark):
    """On the real fixture: every after-list is an unchanged before-list
    or a half of a split one, so counts add up and the max list size
    can never grow; at least IVR_MIN_SPLITS lists split (amortized
    mode); recall stays within the documented tolerance of the
    pre-split index on the fixture panel."""
    (r,) = _run(spark, "sim_ivf_rebalance", SF)
    assert r.n_lists_after == r.n_lists_before + r.n_split
    assert r.n_split >= x14.IVR_MIN_SPLITS
    assert r.max_list_after <= r.max_list_before
    assert r.n_overloaded == 0  # k-means balances the real testdata
    assert r.pre_recall_ppm > 0 and r.post_recall_ppm > 0
    # fixture tolerance: the split probes narrower lists; allow one
    # hit per query of headroom without asserting exact equality
    assert abs(r.pre_recall_ppm - r.post_recall_ppm) <= 200_000


def _planted_overloaded_embeddings(spark, tmp_path):
    """16 spread-out anchor vectors (vec_id 0..15 — the k-means init and
    the whole training sample, so the trained centroids stay put) plus
    200 vectors OUTSIDE the training sample window that all assign to
    anchor 0's list: two tight sub-clusters around distinct directions
    near anchor 0, alternating by vec_id parity. List 0 ends ~201 of
    ~216 vectors (load >> 2x) and is cleanly k=2-splittable."""
    from nats_stream_processor_spark.operators.kmeans import TRAIN_SAMPLE_N
    dim = sim.EMBED_DIM
    rows = []

    def vec(i, eps):
        v = [0.0] * dim
        v[i % dim] = 1.0
        v[(i + 7) % dim] += eps
        return v

    for i in range(16):                      # anchors: distinct axes
        rows.append((i, vec(i * 3, 0.0)))
    base = TRAIN_SAMPLE_N                    # outside the training sample
    for j in range(200):
        v = [0.0] * dim
        v[0] = 1.0                           # near anchor 0 (axis 0)
        v[30 + (j % 2)] = 0.2                # two tight sub-directions
        rows.append((base + j, v))
    d = tmp_path / "sf_emb"
    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.mode("overwrite") \
        .parquet(str(d / "embeddings.parquet"))
    return str(d)


def test_rebalance_planted_overloaded_list_splits_and_balances(
        spark, tmp_path):
    """The genuinely-overloaded regime (k-means balances real corpora,
    so this is planted): one list holds ~200 of ~216 vectors. The act
    must flag it overloaded, split it, separate the two planted
    sub-clusters (max list size roughly halves), and reduce the max
    load factor."""
    sf_dir = _planted_overloaded_embeddings(spark, tmp_path)
    (r,) = _run(spark, "sim_ivf_rebalance", sf_dir)
    assert r.n_overloaded >= 1
    assert r.n_split >= 1
    assert r.n_lists_after == r.n_lists_before + r.n_split
    assert r.max_list_before >= 200
    # the two planted sub-clusters separate: each half ~100 vectors
    assert r.max_list_after <= r.max_list_before // 2 + 2
    assert r.max_load_x1000_after < r.max_load_x1000_before


def test_rebalance_oracle_parity_on_planted_corpus(spark, tmp_path):
    """The registered oracle replays the whole act — k=2 training
    included — value-for-value on the planted overloaded corpus (the
    regime the real fixtures never enter)."""
    sf_dir = _planted_overloaded_embeddings(spark, tmp_path)
    (got,) = _run(spark, "sim_ivf_rebalance", sf_dir)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf_dir}/embeddings.parquet/*.parquet')")
    (want,) = con.execute(
        registry.REGISTRY["sim_ivf_rebalance"].oracle).fetchall()
    assert tuple(got) == want


def test_span_cte_generators_render_certified_oracles():
    """The r13 refactor law, pinned: span_ctes_sql()/run_ctes_sql() with
    default (src, tag, lead) must render EXACTLY the text the certified
    span-family oracles were built from — so parameterizing the chain
    for the execute step can never drift the certified operators (the
    md5-identity discipline, as a persistent test)."""
    assert registry.REGISTRY["dedup_max_duplicated_run"].oracle \
        .startswith(x10.run_ctes_sql())
    assert registry.REGISTRY["dedup_containment_drop_plan"].oracle \
        .startswith(x10.run_ctes_sql())
    assert registry.REGISTRY["dedup_span_df_stats"].oracle \
        .startswith(x10.span_ctes_sql())
    # and the tagged variant is the same chain, only renamed: stripping
    # the tag and the lead reproduces the default text
    tagged = x10.run_ctes_sql("surv", "2", lead="")
    import re as _re
    untagged = _re.sub(r"\b(t|h|g|sp|ns|hot|spc|m|r|runs|pairs)2\b",
                       r"\1", tagged).replace("FROM surv", "FROM documents")
    assert "WITH " + untagged.lstrip() == x10.run_ctes_sql().lstrip()


def test_merge_receipts_structural_invariants(spark):
    """On the real fixture: every surviving list keeps its members and
    may only gain reassigned ones, so counts subtract and the min
    surviving list size can never shrink; at least IVM_MIN_MERGES lists
    merge (amortized mode) and never more than half the index."""
    from nats_stream_processor_spark.queries.llm import IVF_NLIST
    (r,) = _run(spark, "sim_ivf_merge", SF)
    assert r.n_lists_after == r.n_lists_before - r.n_merged
    assert x14.IVM_MIN_MERGES <= r.n_merged <= IVF_NLIST // 2
    assert r.min_list_after >= r.min_list_before
    assert r.n_under == 0  # k-means balances the real testdata
    assert r.pre_recall_ppm > 0 and r.post_recall_ppm > 0


def _planted_underloaded_embeddings(spark, tmp_path):
    """16 anchors (the k-means init/sample) plus 200 extra vectors all
    near anchor 0: lists 1..15 hold ~1 vector each (load far under the
    floor), list 0 holds ~201 — the nearly-empty-list regime the merge
    act exists for."""
    from nats_stream_processor_spark.operators.kmeans import TRAIN_SAMPLE_N
    dim = sim.EMBED_DIM
    rows = []
    for i in range(16):
        v = [0.0] * dim
        v[(i * 3) % dim] = 1.0
        rows.append((i, v))
    base = TRAIN_SAMPLE_N
    for j in range(200):
        v = [0.0] * dim
        v[0] = 1.0
        v[30 + (j % 2)] = 0.2
        rows.append((base + j, v))
    d = tmp_path / "sf_emb_u"
    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.mode("overwrite") \
        .parquet(str(d / "embeddings.parquet"))
    return str(d)


def test_merge_planted_underloaded_lists(spark, tmp_path):
    """The genuinely-underloaded regime: ~15 nearly-empty lists. The
    act must flag them, merge the capped maximum (half the index), and
    the receipt shows the shrink."""
    from nats_stream_processor_spark.queries.llm import IVF_NLIST
    sf_dir = _planted_underloaded_embeddings(spark, tmp_path)
    (r,) = _run(spark, "sim_ivf_merge", sf_dir)
    assert r.n_under >= 10
    assert r.n_merged == IVF_NLIST // 2  # capped shrink
    assert r.n_lists_after == IVF_NLIST - r.n_merged
    assert r.min_list_after >= r.min_list_before


def test_merge_oracle_parity_on_planted_corpus(spark, tmp_path):
    """The registered oracle replays the whole shrink act
    value-for-value on the planted underloaded corpus (the regime the
    real fixtures never enter)."""
    sf_dir = _planted_underloaded_embeddings(spark, tmp_path)
    (got,) = _run(spark, "sim_ivf_merge", sf_dir)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf_dir}/embeddings.parquet/*.parquet')")
    (want,) = con.execute(
        registry.REGISTRY["sim_ivf_merge"].oracle).fetchall()
    assert tuple(got) == want


# ------------------------------------------ dedup_incremental_near_dup

def _write_inc_docs(spark, tmp_path):
    """20 docs, cut = floor(19*0.8) = 15 -> batch = {16..19}. Corpus
    docs are distinct synthetic token streams; doc 16 duplicates corpus
    doc 3 (dup_corpus), docs 17/18 duplicate each other but nothing in
    the corpus (one batch component), doc 19 is novel."""
    def words(tag, n=30):
        return " ".join(f"{tag}{i:02d}" for i in range(n))
    texts = [words(f"c{i}x") for i in range(16)]
    texts.append(texts[3])            # 16: dup of corpus doc 3
    b = words("bat")
    texts.append(b)                   # 17: batch-component canon
    texts.append(b)                   # 18: dup of 17
    texts.append(words("nov"))        # 19: novel
    return _write_docs(spark, tmp_path, texts)


def test_inc_near_dup_planted_verdicts(spark, tmp_path):
    sf_dir = _write_inc_docs(spark, tmp_path)
    got = {r.doc_id: (r.verdict, r.canon_id)
           for r in _run(spark, "dedup_incremental_near_dup", sf_dir)}
    assert got == {16: ("dup_corpus", 3),
                   17: ("keep", 17),
                   18: ("dup_batch", 17),
                   19: ("keep", 19)}


def test_inc_near_dup_oracle_parity_on_planted_corpus(spark, tmp_path):
    """The registered oracle replays the incremental pipeline — the
    batch-survivor component fixpoint included — value-for-value on the
    planted corpus where every verdict class is populated."""
    sf_dir = _write_inc_docs(spark, tmp_path)
    got = sorted(tuple(r) for r in
                 _run(spark, "dedup_incremental_near_dup", sf_dir))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet/*.parquet')")
    want = sorted(tuple(r) for r in con.execute(
        registry.REGISTRY["dedup_incremental_near_dup"].oracle).fetchall())
    assert got == want


def test_inc_near_dup_consistent_with_full_components(spark):
    """Cross-operator consistency on the real fixture: a batch doc the
    incremental operator calls dup_corpus must share a component with
    its canon in the certified full-corpus dedup_components run (the
    incremental path can only find a SUBSET of the full pair graph —
    batch-x-corpus plus batch-survivor pairs — so every verdict it
    issues must be witnessed by the full run)."""
    inc = {r.doc_id: (r.verdict, r.canon_id)
           for r in _run(spark, "dedup_incremental_near_dup", SF)}
    full = {r.doc_id: r.comp
            for r in _run(spark, "dedup_components", SF)}
    for did, (verdict, canon) in inc.items():
        if verdict == "dup_corpus":
            assert full.get(did) is not None
            assert full[did] == full.get(canon, canon), (did, canon)

"""Physical-plan invariants — the scale contract, asserted.

Correctness tests prove the operators compute the right answer at sf0.01;
these prove the *plans* are the ones that survive a 100 TB / 1000-executor
scale-up: filters reach the parquet scan, small dimensions broadcast,
global top-k never materializes a full sort, and nothing in the registry
degenerates into a cartesian product.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from nats_stream_processor_spark import registry

SF = "/root/testdata/sf0.001"


def plan_str(spark, name: str, mode: str = "formatted") -> str:
    df = registry.REGISTRY[name].fn(spark, SF)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_no_cartesian_product_anywhere():
    """No registry query may plan a CartesianProduct. Theta/cross-shaped
    joins (range bands, IVF centroid scoring) must ride a broadcast
    nested-loop with a tiny build side instead — a true cartesian is the
    one join shape that cannot survive any scale-up.

    Since r16 the per-query probe ("CartesianProduct" in the simple
    physical plan, same session shape) is captured by the sharded
    oracle-parity workers from the DataFrame each check already built
    (check_oracle.check_one plan_sink) — this test reads that sweep
    instead of serially re-building all 273 plans in a second pass,
    which took ~230 s of the old suite's 56 minutes. A query whose
    worker died reports cartesian=None and fails here by name."""
    import conftest

    rows = conftest.parity_join()
    missing = [n for n in registry.REGISTRY
               if rows.get(n, {}).get("cartesian") is None]
    assert missing == [], (
        f"no plan probe for {missing}: "
        f"{[rows.get(n, {}).get('problem') for n in missing[:3]]}")
    offenders = [n for n in registry.REGISTRY if rows[n]["cartesian"]]
    assert offenders == []


def test_star_join_broadcasts_dimensions(spark):
    """region/nation stay tiny at any fact scale: the revenue star join
    must broadcast them, never shuffle the fact table for them."""
    p = plan_str(spark, "join_revenue_by_region")
    assert "BroadcastHashJoin" in p


def test_filters_reach_parquet_scan(spark):
    p = plan_str(spark, "scan_filter_pushdown")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m and "GreaterThanOrEqual(l_shipdate" in m.group(1), p


def test_scan_prunes_columns(spark):
    """ReadSchema of the pushdown query must not include wide unused
    columns (l_comment) — column pruning reached the scan."""
    p = plan_str(spark, "scan_filter_pushdown")
    schemas = re.findall(r"ReadSchema: (.+)", p)
    assert schemas and all("l_comment" not in s for s in schemas), p


def test_global_topk_is_take_ordered(spark):
    """Global top-k must plan TakeOrderedAndProject (per-partition heap +
    driver merge of k), not a full Sort + Limit."""
    p = plan_str(spark, "sort_global_topk_orders")
    assert "TakeOrderedAndProject" in p


def test_aggregate_is_partial_then_final(spark):
    """Catalyst must split the pricing summary into partial (map-side)
    and final HashAggregate — one full-row shuffle would be the 100 TB
    bottleneck."""
    p = plan_str(spark, "agg_pricing_summary", "simple")
    assert len(re.findall(r"HashAggregate", p)) >= 2, p


def test_codegen_covers_relational_core(spark):
    """The relational core must compile into whole-stage codegen spans
    (JVM-compiled), not interpreted row calls. (The enrichment pipeline is
    intentionally ArrowEvalPython-dominated — classifiers are pandas UDFs —
    so the codegen check targets the pure-relational aggregate.)"""
    # AQE wraps everything in AdaptiveSparkPlan and defers stage codegen
    # until runtime, so explain() can't see it; the codegen decision is
    # independent of AQE, so assert with it off.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan_str(spark, "agg_pricing_summary", "simple")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "*(1)" in p, p[:800]


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "sim_ann_lsh"])
def test_lsh_pipelines_join_not_cross(spark, name):
    """LSH candidate generation must be an equi-join on (band, bucket) /
    bucket ids — SortMergeJoin or ShuffledHashJoin — never a nested loop
    over the corpus."""
    p = plan_str(spark, name, "simple")
    assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", p), p


def test_decontaminate_broadcasts_eval_grams(spark):
    """The eval gram set must broadcast (one collect_set row); the corpus
    doc_id bound must be pushed to the parquet scan; corpus grams are
    never exploded or shuffled."""
    p = plan_str(spark, "decontaminate_ngram_overlap")
    assert "BroadcastExchange" in p
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(doc_id,20\)", p)


def test_pack_sequences_window_is_shard_partitioned(spark):
    """The cumulative-sum window must be partitioned by shard — a global
    (SinglePartition) window would serialize the 100 TB corpus through
    one task."""
    p = plan_str(spark, "pack_sequences")
    assert "Window" in p
    assert "Exchange SinglePartition" not in p
    assert re.search(r"Arguments:.*\[shard", p) or "partitionBy" in p or \
        re.search(r"hashpartitioning\(shard", p)


def test_ivf_pq_scoring_joins_codes_not_embeddings(spark):
    """The IVF-PQ scoring join must see the 4-bit code arrays, not the
    float embedding column (ADC's whole point)."""
    p = plan_str(spark, "sim_ann_ivf_pq")
    assert "BroadcastHashJoin" in p


def test_substring_spans_shuffle_excludes_text(spark):
    """The substring-span aggregation's hash shuffle must carry only
    (gram/span_id, doc_id) — never the document text. (The round-robin
    spread() exchange before the per-row hashing legitimately carries
    text locally; at real scale the scan already yields many splits and
    that repartition is a no-op — registry.spread.) Text crossing the
    hash-partitioned aggregation exchange would ship the full 100 TB
    corpus through the shuffle."""
    p = plan_str(spark, "dedup_substring_spans")
    hash_exchanges = [s for s in re.split(r"\n\(\d+\) ", p)
                      if s.startswith("Exchange") and "hashpartitioning" in s]
    assert hash_exchanges, p[:400]
    for section in hash_exchanges:
        input_line = next(
            (ln for ln in section.splitlines() if ln.startswith("Input")), "")
        assert "text#" not in input_line, section[:400]


def test_semantic_dedup_pairs_join_on_cluster_id(spark):
    """SemDeDup's pairwise stage must be an equi-join keyed on the
    cluster id (the blocking key) — a hash/sort-merge join, never a
    nested loop over the corpus — and the only nested-loop join in the
    plan is the broadcast of the 16 trained centroids."""
    p = plan_str(spark, "dedup_semantic_clusters", "simple")
    assert re.search(r"hashpartitioning\(cent_id", 
                     plan_str(spark, "dedup_semantic_clusters")) or \
        re.search(r"SortMergeJoin|ShuffledHashJoin", p), p
    assert "CartesianProduct" not in p


def test_spread_is_gated_on_input_partitioning(spark):
    """spread() must repartition ONLY under-partitioned inputs. On a
    pre-partitioned input (>= defaultParallelism partitions) it returns
    the input untouched — plan identity, no gratuitous full-row shuffle
    (at 100 TB the scan already yields hundreds of splits, and a
    round-robin repartition there would ship the whole corpus, text
    included, through one pointless exchange)."""
    dp = spark.sparkContext.defaultParallelism
    single = spark.read.parquet(f"{SF}/documents.parquet")
    assert registry.spread(single) is not single  # 1 split -> repartition
    assert registry.spread(single).rdd.getNumPartitions() == dp

    pre = single.repartition(dp * 2)
    assert registry.spread(pre) is pre  # already wide -> identity

    # Session kill-switch: a real cluster's bench can disable it outright.
    spark.conf.set("spark.nats_spark.spread.enabled", "false")
    try:
        assert registry.spread(single) is single
    finally:
        spark.conf.set("spark.nats_spark.spread.enabled", "true")


def test_spread_min_bytes_per_partition_caps_fan_out(spark):
    """The opt-in input-bytes floor for Python-boundary stages: the
    fan-out target is ceil(scan bytes / floor), capped at the session's
    parallelism, and a target the scan already meets leaves the input
    untouched."""
    import math

    dp = spark.sparkContext.defaultParallelism
    single = spark.read.parquet(f"{SF}/documents.parquet")
    nbytes = sum(registry._scan_file_sizes(single))
    assert single.rdd.getNumPartitions() == 1
    # floor -> 2 partitions' worth of bytes
    floor = math.ceil(nbytes / 2)
    assert registry.spread(single, min_bytes_per_partition=floor) \
        .rdd.getNumPartitions() == min(dp, 2)
    # a tiny floor asks for more than the session has: capped at dp
    assert registry.spread(single, min_bytes_per_partition=1) \
        .rdd.getNumPartitions() == dp
    # a floor above the scan's size: target 1, already met -> identity
    assert registry.spread(single,
                           min_bytes_per_partition=nbytes + 1) is single


def test_vocab_topk_is_take_ordered_not_global_window(spark):
    """text_vocab_topk's head selection must be TakeOrderedAndProject over
    the aggregated vocabulary — ranking through an unpartitioned window
    would single-partition-sort a relation that grows with the corpus."""
    p = plan_str(spark, "text_vocab_topk", "simple")
    assert "TakeOrderedAndProject" in p
    # The rank Window must CONSUME the TakeOrdered output (K rows), i.e.
    # sit above it in the tree — parents print first in simple mode.
    assert p.index("Window") < p.index("TakeOrderedAndProject")


def test_scan_partition_estimate_matches_planner(spark):
    """spread()'s file-size estimate of the scan's split count (the cheap
    path that avoids a physical-planning round-trip per call) must equal
    what the planner actually produces, for every driver table."""
    for t in ("documents", "embeddings", "lineitem", "events", "orders"):
        df = spark.read.parquet(f"{SF}/{t}.parquet")
        assert registry._is_scan_narrow_plan(df)
        est = registry._estimated_scan_partitions(
            spark, registry._scan_file_sizes(df))
        assert est == df.rdd.getNumPartitions(), t
    # narrow transforms keep the fast path; wide ones must leave it
    nr = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    assert registry._is_scan_narrow_plan(nr)
    assert not registry._is_scan_narrow_plan(nr.repartition(4))
    assert not registry._is_scan_narrow_plan(nr.groupBy("doc_id").count())


def test_chunking_is_map_only_before_sort(spark):
    """Sliding-window chunking derives every chunk from its own row:
    the plan must contain NO hash-partitioned exchange — only the gated
    round-robin spread and the presentation sort's range exchange. A
    hash shuffle here would mean chunks are being co-located for no
    reason, shipping the tokenized corpus once more at 100 TB."""
    p = plan_str(spark, "chunk_sliding_tokens")
    assert "hashpartitioning" not in p, p[:600]


def test_containment_shuffles_span_ids_not_text(spark):
    """Excerpt-containment's shuffles may carry span ids and doc ids
    only — never document text (same contract as
    dedup_substring_spans: the span relation IS the blocking key and
    the measure, so text must stay in the scan stage)."""
    p = plan_str(spark, "dedup_containment")
    hash_exchanges = [s for s in re.split(r"\n\(\d+\) ", p)
                      if s.startswith("Exchange") and "hashpartitioning" in s]
    assert hash_exchanges, p[:400]
    for section in hash_exchanges:
        input_line = next(
            (ln for ln in section.splitlines() if ln.startswith("Input")), "")
        assert "text#" not in input_line, section[:400]


def test_ffd_packing_single_shard_shuffle_no_text(spark):
    """pack_sequences_first_fit must reach the applyInPandas group map
    through ONE hash exchange keyed on the shard, and that exchange must
    carry (shard, doc_id, tok) only — never the document text."""
    p = plan_str(spark, "pack_sequences_first_fit")
    assert "FlatMapGroupsInPandas" in p
    hashex = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    assert len(hashex) == 1 and "shard" in hashex[0], hashex
    assert "text" not in hashex[0]


def test_nprobe_sweep_broadcasts_probe_and_query_sides(spark):
    """Both corpus-touching ANN joins in the sweep (probe candidates x
    inverted lists, brute-force queries x corpus) must broadcast the tiny
    query side — the corpus is never shuffled for a 10-query panel. (The
    post-candidate bookkeeping joins over the bounded pair tables may
    plan however Catalyst likes.)"""
    p = plan_str(spark, "sim_ann_nprobe_sweep")
    assert p.count("BroadcastHashJoin") >= 2, p.count("BroadcastHashJoin")


def test_session_paths_shares_user_partitioning_and_takes_ordered(spark):
    """The sessionize window (user_id) and the per-session collect
    (user_id, session_id) must share one exchange — hash(user_id)
    satisfies the grouped distribution — and the path head must be
    TakeOrdered, never a global sort."""
    p = plan_str(spark, "events_session_paths")
    assert "TakeOrderedAndProject" in p
    user_exchanges = [e for e in re.findall(r"hashpartitioning\(([^)]*)\)", p)
                      if "user_id" in e]
    assert len(user_exchanges) == 1, user_exchanges


def test_heavy_hitters_head_is_take_ordered(spark):
    """The candidate pool head must be TakeOrderedAndProject — the full
    ranked sort of all keys is exactly what the sharded prune avoids."""
    p = plan_str(spark, "events_heavy_hitters")
    assert "TakeOrderedAndProject" in p


def test_threshold_sweep_reuses_pinned_pair_table(spark):
    """The 7-way threshold fan-out must read the persisted candidate-pair
    table (InMemoryRelation), not re-run the MinHash pipeline per
    threshold."""
    p = plan_str(spark, "dedup_minhash_threshold_sweep")
    assert "InMemoryTableScan" in p or "InMemoryRelation" in p


def test_dau_wau_range_join_broadcasts_day_list(spark):
    """The trailing-week WAU join is a non-equi range join; its build
    side is the distinct-day list (days, not events) and MUST broadcast
    — a shuffled nested loop over the (day, user) relation would be the
    scale bug this plan exists to avoid."""
    p = plan_str(spark, "events_dau_wau", "simple")
    assert "BroadcastNestedLoopJoin" in p, p[:500]
    assert "CartesianProduct" not in p


def test_bm25_broadcasts_stats_and_takes_ordered_head(spark):
    """BM25: document frequencies and corpus length stats must be the
    BROADCAST side (they are O(query terms) and O(1)); the top-k head
    must be TakeOrderedAndProject, never a global sort of all scored
    docs."""
    p = plan_str(spark, "text_bm25_topk")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" in p  # 1-row stats crossJoin
    assert "TakeOrderedAndProject" in p


def test_market_share_broadcasts_dims_single_fact_shuffle(spark):
    """Q8 shape: nation/region/supplier ride broadcasts; the only
    big-big SortMergeJoins allowed are lineitem-orders (order key) and
    orders-customer (customer scales WITH the fact — broadcasting it
    would be the 100 TB mistake)."""
    p = plan_str(spark, "join_market_share")
    assert p.count("BroadcastHashJoin") >= 3
    assert p.count("SortMergeJoin") <= 2


def test_promo_share_part_is_broadcast(spark):
    """Q14 shape: part is a dimension — must broadcast against the
    lineitem fact, one conditional-agg pass (partial+final)."""
    p = plan_str(spark, "join_promo_revenue_share")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "partial_sum" in p


def test_compact_latest_single_exchange(spark):
    """Latest-per-key compaction: row_number and the version count share
    ONE hash partitioning on the key — exactly one hash exchange in the
    plan (plus nothing for the count)."""
    p = plan_str(spark, "compact_latest_per_key")
    hashex = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    assert len(hashex) == 1 and "user_id" in hashex[0], hashex


def test_bloom_decontamination_broadcasts_bitset(spark):
    """The Bloom bit-set and the exact eval-gram set are the broadcast
    sides; corpus grams must never be the build side."""
    p = plan_str(spark, "decontaminate_bloom_filter")
    assert p.count("BroadcastHashJoin") >= 2


def test_cms_counters_broadcast_to_estimate_join(spark):
    """The D x W counter table (constant-size) must broadcast into the
    estimate join; the per-key count is a partial+final aggregate."""
    p = plan_str(spark, "sketch_cms_heavy_hitters")
    assert "BroadcastHashJoin" in p
    assert "partial_count" in p or "partial_sum" in p


def test_centroid_drift_is_wide_agg_no_explode(spark):
    """The Spark plan must aggregate 64 quantized component sums grouped
    by label (map-side partials) — no Generate/explode row blowup (the
    oracle's unnest rendering is the oracle's business)."""
    p = plan_str(spark, "embed_centroid_drift")
    assert "Generate" not in p
    assert "partial_sum" in p


def test_boilerplate_shuffles_shingle_ids_not_text(spark):
    """Boilerplate detection: every hash-partitioned exchange must carry
    only ids/digests — document text never crosses a shuffle."""
    p = plan_str(spark, "text_boilerplate_ngrams")
    hash_exchanges = [s for s in re.split(r"\n\(\d+\) ", p)
                      if s.startswith("Exchange") and "hashpartitioning" in s]
    assert hash_exchanges, p[:400]
    for section in hash_exchanges:
        input_line = next(
            (ln for ln in section.splitlines() if ln.startswith("Input")), "")
        assert "text#" not in input_line, section[:400]


# ------- late-round-5 operators (r5 ADVICE #2, landed in round 7) -------


def test_edit_distance_joins_candidates_by_id_not_cross(spark):
    """Edit-distance verification must join text PREFIXES to the banded
    candidate list by doc id — never a cross of the document table with
    itself. The plan has hash/broadcast joins only, and the Levenshtein
    runs post-join on the bounded prefix columns."""
    p = plan_str(spark, "dedup_edit_distance_verify")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "levenshtein" in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p


def test_bfs_is_union_loop_with_depth_literal(spark):
    """The recursive BFS must plan Spark 4's UnionLoop (native recursive
    CTE — no driver-side iteration) with the BFS_MAX_DEPTH literal
    bounding the frontier filter."""
    from nats_stream_processor_spark.queries.llm_ext3 import BFS_MAX_DEPTH
    p = plan_str(spark, "graph_knn_bfs_recursive")
    assert "UnionLoop" in p and "UnionLoopRef" in p
    assert re.search(rf"lvl#\d+ < {BFS_MAX_DEPTH}\)", p), p[:600]


def test_matryoshka_is_single_pair_pass(spark):
    """Matryoshka recall (post-r6 join-key repair): exactly ONE bounded
    pair pass — the broadcast base-top-k against the prefix rankings —
    and per-width top-k pushes down as WindowGroupLimit."""
    p = plan_str(spark, "sim_matryoshka_recall")
    assert len(re.findall(r"\) BroadcastNestedLoopJoin", p)) <= 1
    assert "CartesianProduct" not in p
    assert "WindowGroupLimit" in p


def test_curation_budgets_use_exact_decimal_and_window_totals(spark):
    """The r6 overflow fixes must be visible in the plan: annealing and
    epoch-decay allocations ride widened-decimal exact integer
    arithmetic (never a double round-trip), and corpus totals are a
    window over the per-source aggregate — no join back to a totals
    subquery, no second scan."""
    for name in ("curation_annealing_mixture", "curation_epoch_decay_schedule"):
        p = plan_str(spark, name)
        assert re.search(r"decimal\(\d+,0\)", p), name
        assert "Join" not in p, name
        assert len(re.findall(r"\(\d+\) Window", p)) >= 1, name


def test_longest_streak_is_single_user_window(spark):
    """Gaps-and-islands: the lag/island computation shares ONE
    user-partitioned Window node (one sort, one shuffle) — the plan
    must not stack separate windows per function."""
    p = plan_str(spark, "events_longest_streak")
    assert len(re.findall(r"\(\d+\) Window", p)) == 1
    assert "windowspecdefinition(user_id" in p


# ----------------- round-7 operators (queries/llm_ext4.py) -----------------


def test_winnowing_windows_per_doc_and_joins_on_hash(spark):
    """Winnowing selection is a doc-partitioned window (parallel, no
    global sort); the pair self-join and every hash exchange carry
    fingerprint hashes/ids only — document text never shuffles."""
    p = plan_str(spark, "dedup_winnowing_overlap")
    assert "windowspecdefinition(doc_id" in p
    hash_exchanges = [s for s in re.split(r"\n\(\d+\) ", p)
                      if s.startswith("Exchange") and "hashpartitioning" in s]
    assert hash_exchanges
    for section in hash_exchanges:
        input_line = next(
            (ln for ln in section.splitlines() if ln.startswith("Input")), "")
        assert "text#" not in input_line, section[:400]


def test_snm_rank_window_is_block_partitioned(spark):
    """Blocked sorted-neighborhood: the rank window must partition on
    the block key — a global (empty-partition) window would serialize
    the corpus onto one task at scale."""
    p = plan_str(spark, "dedup_sorted_neighborhood")
    assert "windowspecdefinition(blk" in p
    assert "windowspecdefinition(," not in p  # no unpartitioned window


def test_mmr_is_prune_then_bounded_rerank(spark):
    """MMR: stage 1 ends in a TakeOrdered top-CAND prune (no global
    sort materialization); the greedy is a cogrouped Pandas stage; the
    only nested-loop is over the bounded 24-row candidate pool."""
    p = plan_str(spark, "sim_mmr_diverse_topk")
    assert "TakeOrderedAndProject" in p
    assert "FlatMapCoGroupsInPandas" in p
    assert "CartesianProduct" not in p


def test_neyman_variance_is_exact_decimal(spark):
    """Neyman allocation: the variance numerator and budget products
    must ride widened-decimal exact integer arithmetic, with the
    realized draw on a source-partitioned rank window."""
    p = plan_str(spark, "sample_neyman_allocation")
    assert "decimal(38,0)" in p
    assert "windowspecdefinition(source" in p


def test_aspect_buckets_map_side_metadata_no_payload_shuffle(spark):
    """Aspect bucketing: metadata extraction is MapInPandas (payloads
    stay in the Python worker); the bucket snap's per-doc min and the
    batch rank are partitioned windows; no exchange carries the binary
    payload column."""
    p = plan_str(spark, "media_aspect_bucket_batches")
    assert "MapInPandas" in p
    assert "windowspecdefinition(doc_id" in p
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange"):
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "payload#" not in input_line, section[:400]


def test_cusum_is_windowed_no_join_no_loop(spark):
    """CUSUM's sequential recurrence must plan as stacked windows on one
    event_type partitioning — no join, no iterative construct; the
    closed form keeps the detector fully parallel per key."""
    p = plan_str(spark, "events_cusum_drift")
    assert "Join" not in p and "UnionLoop" not in p
    assert "windowspecdefinition(event_type" in p
    assert "partial_count" in p or "partial_sum" in p  # map-side daily agg


def test_mtld_is_map_only_before_presentation_sort(spark):
    """MTLD must be a pure map plan: MapInPandas with NO hash exchange
    anywhere — the per-document automaton never shuffles; only the
    final presentation sort repartitions."""
    p = plan_str(spark, "text_mtld_diversity")
    assert "MapInPandas" in p
    assert "hashpartitioning" not in p


def test_idf_jaccard_shuffles_tokens_not_text(spark):
    """IDF-weighted verify: every hash exchange carries token/id/weight
    columns only — document text never crosses a shuffle; the single-row
    corpus count broadcasts into the weight projection."""
    p = plan_str(spark, "dedup_idf_weighted_jaccard")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange") and "hashpartitioning" in section:
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "text#" not in input_line, section[:400]


def test_unigram_viterbi_counts_distributed_decode_local(spark):
    """Tokenizer segmentation: vocabulary counting must be partial+final
    aggregates with TakeOrdered prunes; the DP decode is a single
    cogrouped Pandas stage over the bounded panel — no per-word join
    explosion, no cartesian."""
    p = plan_str(spark, "tokenizer_unigram_viterbi")
    assert "FlatMapCoGroupsInPandas" in p
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p or "partial_sum" in p
    assert "CartesianProduct" not in p


def test_burst_is_one_user_shuffle_pandas_decode(spark):
    """Burst detection: exactly one hash shuffle (user_id) into the
    Pandas decode groups; the DP never appears as a join or iterative
    construct — per-user sequential work stays inside the group."""
    p = plan_str(spark, "events_kleinberg_burst")
    assert "FlatMapGroupsInPandas" in p
    assert "Join" not in p and "UnionLoop" not in p
    assert len(re.findall(r"hashpartitioning\(user_id", p)) >= 1


def test_rrf_fusion_adds_no_corpus_scale_work(spark):
    """RRF: both ranker pools end in TakeOrdered prunes; the fusion join
    operates on the bounded pools only (no corpus-side shuffle added —
    every hash exchange carries ranker-internal keys, never text)."""
    p = plan_str(spark, "sim_rrf_fusion")
    assert p.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in p
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange") and "hashpartitioning" in section:
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "text#" not in input_line, section[:400]


def test_flesch_is_map_only_before_sort(spark):
    """Flesch readability derives every score from its own row: the
    plan must contain NO hash-partitioned exchange — only the gated
    spread and the presentation sort's range exchange. Any hash shuffle
    would mean per-doc arithmetic is being co-located for no reason."""
    p = plan_str(spark, "text_flesch_readability")
    assert "hashpartitioning" not in p, p[:600]
    assert "Join" not in p


def test_substring_apply_shuffles_tokens_once_never_text(spark):
    """The substring-removal APPLY query may shuffle token strings
    exactly once — the per-doc reassembly groupBy — and must never put
    the raw document text column into any hash exchange; gram/dup
    candidate generation rides integer keys."""
    p = plan_str(spark, "dedup_substring_apply")
    tok_exchanges = 0
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange") and "hashpartitioning" in section:
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "text#" not in input_line, section[:400]
            if "tok#" in input_line:
                tok_exchanges += 1
    assert tok_exchanges <= 1, p[:800]


def test_crossmodal_topk_is_two_phase_and_sheds_vectors(spark):
    """Cross-modal recall must rank via the two-phase top-K — a
    (query_id, pid) partial rank before the global (query_id) rank, so
    ranking never collapses to |Q| partitions — and no hash exchange
    may carry the widened embedding vectors (scores travel as ints)."""
    p = plan_str(spark, "sim_crossmodal_recall")
    hashex = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    assert any("pid" in h and "query_id" in h for h in hashex), hashex
    assert any("pid" not in h and "query_id" in h for h in hashex), hashex
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange") and "hashpartitioning" in section:
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "demb#" not in input_line, section[:400]


def test_scene_cuts_single_doc_exchange_no_payload_shuffle(spark):
    """Scene-cut detection: the binary payload must die inside the
    mapInPandas sampler — no hash exchange may carry payload bytes —
    and the lag window, shot sessionization, and aggregates must all
    ride hash(doc_id) partitioning (no other hash keys appear)."""
    p = plan_str(spark, "media_scene_cuts")
    assert "MapInPandas" in p
    hashex = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    assert hashex, p[:400]
    for h in hashex:
        assert "doc_id" in h and "payload" not in h, hashex
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange") and "hashpartitioning" in section:
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "payload#" not in input_line, section[:400]


def test_wordpiece_vocab_is_rank_window_decode_is_cogrouped(spark):
    """WordPiece: vocabulary training aggregates with map-side partials,
    per-class top-K is a rank window over the bounded piece table (never
    a global sort of the corpus), the word panel is TakeOrdered, and the
    greedy decode is ONE cogrouped applyInPandas — no join, no iterative
    construct."""
    p = plan_str(spark, "tokenizer_wordpiece_apply")
    assert "FlatMapCoGroupsInPandas" in p
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p or "partial_sum" in p
    assert "CartesianProduct" not in p
    assert "UnionLoop" not in p


def test_nn_descent_rounds_are_checkpoint_truncated(spark):
    """NN-Descent's visible plan proves the iterative-lineage
    discipline (the PageRank / connected-components pattern): every
    round's edge list is an eager localCheckpoint, so the final plan is
    just per-round aggregates over checkpointed RDDs (Scan ExistingRDD)
    unioned together — no join/window lineage accumulates across
    rounds, no cartesian anywhere, and the driver holds only the loop
    index. (The per-round join+window shape itself executes inside each
    checkpointed round; its candidate generation is equi-joins on edge
    ids by construction — see q_nn_descent.)"""
    p = plan_str(spark, "graph_nn_descent")
    assert "CartesianProduct" not in p
    assert "Scan ExistingRDD" in p, p[:400]
    assert "Union" in p and "HashAggregate" in p
    assert "Join" not in p, "round lineage leaked past a checkpoint"


def test_greedy_search_state_checkpointed_and_sheds_vectors(spark):
    """Greedy graph search: the per-hop visited/frontier state must be
    checkpoint-truncated (Scan ExistingRDD in the final plan — no hop
    lineage accumulates), the query panel must attach via broadcast
    (never a shuffle keyed on |Q| queries alone for scoring), the exact
    baseline must rank via the two-phase top-K ((query_id, pid) partial
    rank then global), and no hash exchange may carry the widened
    embedding vectors — ids and int scores only."""
    p = plan_str(spark, "graph_greedy_search")
    assert "CartesianProduct" not in p
    assert "Scan ExistingRDD" in p, p[:400]
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    hashex = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    assert any("pid" in h and "query_id" in h for h in hashex), hashex
    assert any("pid" not in h and "query_id" in h for h in hashex), hashex
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange") and "hashpartitioning" in section:
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "demb#" not in input_line, section[:400]


def test_shot_curation_one_scan_one_doc_exchange_no_payload(spark):
    """Shot-level curation: the text-quality token count must be
    computed in the SAME pass that derives the payload (no second
    documents scan, no join back to text — FileScan appears once), the
    binary payload must die inside the mapInPandas sampler, and every
    hash exchange must be keyed on doc_id carrying ints only."""
    p = plan_str(spark, "media_shot_curation")
    assert "MapInPandas" in p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p[:600]
    assert "Join" not in p, "quality join crept back in"
    hashex = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    assert hashex, p[:400]
    for h in hashex:
        assert "doc_id" in h and "payload" not in h, hashex
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange") and "hashpartitioning" in section:
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "payload#" not in input_line, section[:400]
            assert "text#" not in input_line, section[:400]


@pytest.mark.parametrize("name", ["graph_beam_sweep", "graph_knn_insert"])
def test_graph_ann_extensions_checkpointed_and_shed_vectors(spark, name):
    """The beam sweep and the incremental-insert eval inherit greedy
    search's scale contract: per-hop state checkpoint-truncated (Scan
    ExistingRDD; no hop lineage in the final plan), panels attached via
    broadcast, no cartesian anywhere, and no hash exchange carrying the
    widened embedding vectors."""
    p = plan_str(spark, name)
    assert "CartesianProduct" not in p
    assert "Scan ExistingRDD" in p, p[:400]
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange") and "hashpartitioning" in section:
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "demb#" not in input_line, section[:400]


def test_cohort_retention_broadcasts_sizes_single_event_shuffle(spark):
    """Cohort retention: the events volume rides the distinct
    (user, week) path and the user-keyed cohort join; the tiny
    per-cohort sizes side must BROADCAST into the final matrix join,
    never shuffle the matrix for it."""
    p = plan_str(spark, "events_cohort_retention")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    hashex = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    assert any("user_id" in h for h in hashex), hashex


def test_props_variant_parses_once_partial_final_agg(spark):
    """The VARIANT path: parse_json/variant_get are map-side
    expressions feeding ONE partial+final hash aggregate on
    event_type — no join, no extra exchange beyond the group-by."""
    p = plan_str(spark, "events_props_variant")
    assert "variant_get" in p and "parseJson" in p, p[:600]
    assert "Join" not in p
    assert "partial_count" in p or "partial_sum" in p or \
        len(re.findall(r"HashAggregate", p)) >= 2


def test_zorder_report_broadcasts_bounds_and_probes(spark):
    """The layout report: quantization bounds (a 1-row aggregate) and
    the probe table attach via broadcast; file stats are partial+final
    hash aggregates over int rows; no cartesian anywhere; the fact
    columns shuffle only as quantized ints (no raw keys needed past
    the map side)."""
    p = plan_str(spark, "layout_zorder_report")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    assert len(re.findall(r"HashAggregate", p)) >= 4


def test_hll_sketch_union_is_object_agg_no_raw_rescan(spark):
    """The mergeable-sketch pipeline: sketch building is an
    ObjectHashAggregate with partial buffers (constant memory per
    group), the merged row re-aggregates the |groups| sketch binaries
    (not events), and the global exact distinct attaches via
    broadcast — no cartesian anywhere."""
    p = plan_str(spark, "agg_hll_sketch_union")
    assert "ObjectHashAggregate" in p, p[:600]
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_expectations_fold_checks_into_one_agg_per_table(spark):
    """The expectations suite must evaluate ALL of a table's checks in
    ONE conditional aggregate over a single scan (unpivoted via
    Expand) — five warehouse tables plus the referential LeftAnti
    join's two sides (orders probe + customer build re-scanned) = at
    most 7 parquet scans total for 12 checks, with no cartesian
    anywhere. Adding a check must not add a scan."""
    p = plan_str(spark, "quality_expectations_report")
    assert "CartesianProduct" not in p
    assert "Expand" in p, p[:600]
    assert "LeftAnti" in p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) <= 7, p[:600]


def test_interval_overlap_join_is_equi_never_nested_loop(spark):
    """The binned interval-overlap join's whole point: the overlap
    condition rides an EQUI-join on the bucket key — never a
    BroadcastNestedLoopJoin or cartesian (the shapes the range-join
    family needs a tiny side for). At fixture scale Catalyst may
    broadcast the small burst side (fine — still an equi-join); with
    broadcast disabled the join must shuffle BOTH sides on the bucket
    key, proving the large-x-large path exists."""
    p = plan_str(spark, "join_interval_overlap_binned")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", p)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p2 = plan_str(spark, "join_interval_overlap_binned")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "BroadcastNestedLoopJoin" not in p2
    hashex = re.findall(r"hashpartitioning\(([^)]*)\)", p2)
    assert any("bucket" in h for h in hashex), hashex


def test_interval_overlap_burst_sessionization_is_chunked(spark):
    """The r9 verdict's one plan defect, fixed r10: the burst side keys
    on event_type (cardinality 5 — low BY CONSTRUCTION), so raw event
    volume must never shuffle or sort on the bare key. The chunked
    decomposition windows raw events on (event_type, chunk); the only
    bare-event_type window runs over per-chunk boundary islands
    (<= 2 per chunk per type). Asserted two ways: (a) the full plan
    contains a hashpartitioning on (event_type, chunk); (b) the
    chunked sessionizer IN ISOLATION plans every pre-aggregate window
    exchange on the composite key — the islands stage (everything up
    to its first aggregate) has no bare-event_type exchange at all."""
    p = plan_str(spark, "join_interval_overlap_binned")
    hashex = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    assert any("event_type" in h and "chunk" in h for h in hashex), hashex

    from nats_stream_processor_spark.queries import llm_ext8 as x8
    ev = registry.table(spark, SF, "events")
    buf = io.StringIO()
    with redirect_stdout(buf):
        x8._sessionize_chunked(ev, "event_type", x8.IOV_TYPE_GAP_US,
                               "event_type",
                               x8.IOV_CHUNK_US).explain("formatted")
    iso = buf.getvalue()
    bare = [h for h in re.findall(r"hashpartitioning\(([^)]*)\)", iso)
            if "event_type" in h and "chunk" not in h]
    # Exactly ONE bare-key exchange may exist: the boundary-island
    # merge pass (post-aggregate, bounded input). More than one means
    # raw events leaked onto the skewed key.
    assert len(bare) <= 1, bare


def _frame_plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_freq_items_pass1_narrow_reconcile_candidate_bounded(spark):
    """The mergeable frequent-items workflow's scale claims, stage by
    stage (the final head reads a pinned intermediate, so the audit
    drives the shared stage builders directly, spread disabled to see
    the at-scale shape): pass 1 must be a PURE MAP plan — scan ->
    explode -> MapInPandas with no exchange touching raw token volume;
    the reconciliation pass must semi-join the broadcast candidates
    BEFORE its aggregate, so the only hash exchange carries candidate
    keys that already passed the prune; and the returned head must be
    TakeOrderedAndProject, never a full-relation window sort."""
    from nats_stream_processor_spark.queries import llm_ext9 as x9

    spark.conf.set("spark.nats_spark.spread.enabled", "false")
    try:
        d = registry.table(spark, SF, "documents")
        p1 = _frame_plan(x9._fi_pass1(d))
        assert "MapInPandas" in p1
        assert "Exchange" not in p1, p1[:600]

        derr, cand = x9._fi_candidates(x9._fi_pass1(d))
        p2 = _frame_plan(x9._fi_reconcile(d, cand))
        assert "BroadcastHashJoin" in p2 and "LeftSemi" in p2, p2[:600]
        # the semi join must sit BELOW the aggregate: the map-side
        # partial agg consumes the join output (formatted mode prints
        # children before parents, so the join line comes first)
        assert p2.index("LeftSemi") < p2.index("partial_count"), p2[:900]

        p = plan_str(spark, "sketch_freq_items_topk", "simple")
        assert "TakeOrderedAndProject" in p
        assert "CartesianProduct" not in p
    finally:
        spark.conf.set("spark.nats_spark.spread.enabled", "true")


def test_rebuild_decision_same_discipline_as_insert(spark):
    """The successive-insertion drift report must keep graph_knn_insert's
    audited shape as the graph grows: per-hop visited state checkpoint-
    truncated (the plan reads from checkpointed RDD scans, its lineage
    never re-derives a hop), every cross-shaped join a broadcast of a
    1-row bound or a bounded panel (no CartesianProduct), and the
    second batch's scoring join still id-keyed (no vector ever rides a
    shuffle wider than the id-keyed joins)."""
    p = plan_str(spark, "graph_rebuild_decision")
    assert "CartesianProduct" not in p
    assert "Scan ExistingRDD" in p  # checkpoint-truncated search state
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange") and "hashpartitioning" in section:
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "demb#" not in input_line, section[:400]


def test_pareto_frontier_local_skyline_is_pure_map(spark):
    """The Pareto frontier's scale claim: the local-skyline pass is a
    pure map (scan -> metrics -> MapInPandas, no exchange touches
    per-document volume — spread disabled to see the at-scale shape),
    and the one exchange in the full plan feeds the explicit
    single-partition global pass with local-skyline SURVIVORS only
    (its input is the mapInPandas output schema, never text)."""
    from nats_stream_processor_spark.queries import llm_ext9 as x9

    spark.conf.set("spark.nats_spark.spread.enabled", "false")
    try:
        d = registry.table(spark, SF, "documents")
        p1 = _frame_plan(
            x9._pf_metrics(d).mapInPandas(
                x9._pf_local, "doc_id long, x long, y long"))
        assert "MapInPandas" in p1
        assert "Exchange" not in p1, p1[:600]

        p = plan_str(spark, "curation_pareto_frontier")
        assert "CartesianProduct" not in p
        for section in re.split(r"\n\(\d+\) ", p):
            if section.startswith("Exchange"):
                input_line = next(
                    (ln for ln in section.splitlines()
                     if ln.startswith("Input")), "")
                assert "text#" not in input_line, section[:400]
    finally:
        spark.conf.set("spark.nats_spark.spread.enabled", "true")


def test_sliding_hll_fans_out_sketches_not_events(spark):
    """The sliding-window distinct's scale claim: sketch building is one
    ObjectHashAggregate over the raw scan; the per-window union
    re-aggregates exploded SKETCH rows (a second ObjectHashAggregate on
    the window key); raw events are scanned at most three times in
    the whole plan (sketch side + the exact-eval side + the pinned
    1-row hmax bound's own cached build, which formatted mode prints
    once inside its InMemoryRelation while both consumers read the
    cache) — window fan-out must never multiply parquet scans — and
    no cartesian anywhere."""
    p = plan_str(spark, "events_sliding_distinct_hll")
    assert "CartesianProduct" not in p
    assert p.count("ObjectHashAggregate") >= 2, p[:600]
    assert "InMemoryTableScan" in p, p[:600]
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) <= 3, p[:600]


def test_weighted_reservoir_head_is_take_ordered_never_global_sort(spark):
    """sample_weighted_reservoir's whole scale claim is 'one scan +
    TakeOrderedAndProject's K-row heaps, never a global sort' — assert
    exactly that: the top-K is a TakeOrderedAndProject, and the ONLY
    Sort in the plan is the K-row presentation sort on rank sitting
    ABOVE it (a corpus-scale Sort below the heap would be the silent
    regression this pin exists to catch)."""
    p = plan_str(spark, "sample_weighted_reservoir", "simple")
    assert "TakeOrderedAndProject" in p
    sorts = re.findall(r"Sort \[(\w+)", p)
    assert sorts == ["rank"], p[:800]
    # parents print first in simple mode: the presentation Sort and the
    # rank Window must both consume the TakeOrdered output (K rows)
    assert p.index("Sort [rank") < p.index("TakeOrderedAndProject")
    assert p.index("Window") < p.index("TakeOrderedAndProject")


def test_freq_items_head_never_global_sort(spark):
    """The companion pin for sketch_freq_items_topk (its stage-by-stage
    audit lives above): the returned head must contain NO Sort other
    than the FI_TOP-row presentation sort on rank — the candidate-
    bounded top-K must stay a TakeOrderedAndProject heap."""
    p = plan_str(spark, "sketch_freq_items_topk", "simple")
    assert "TakeOrderedAndProject" in p
    sorts = re.findall(r"Sort \[(\w+)", p)
    assert sorts == ["rank"], p[:800]
    assert p.index("Sort [rank") < p.index("TakeOrderedAndProject")


def test_max_run_shuffles_positions_not_text_window_is_pair_keyed(spark):
    """dedup_max_duplicated_run's scale claims: the pair match is an
    equi-join on span_id (never a nested loop over the corpus), every
    exchange carries (span_id, doc_id, pos) ints — document text never
    rides a shuffle — and the islands Window is partitioned by
    (pair, diagonal), whose per-partition mass is bounded by one
    document's span count (never a SinglePartition window over the
    match relation). Spread disabled to see the at-scale shape (its
    fixture-only round-robin is the one exchange allowed to carry
    text)."""
    spark.conf.set("spark.nats_spark.spread.enabled", "false")
    try:
        p = plan_str(spark, "dedup_max_duplicated_run")
    finally:
        spark.conf.set("spark.nats_spark.spread.enabled", "true")
    assert "CartesianProduct" not in p
    assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", p)
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange"):
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "text#" not in input_line, section[:400]
    m = re.search(r"Window.*?Arguments: \[.*?windowspecdefinition\("
                  r"(doc_a\S+, doc_b\S+, diag\S+),", p, re.S)
    assert m, p[:900]


def test_rebuild_policy_adds_only_bounded_bounds_to_the_curve(spark):
    """graph_rebuild_policy's scale claim: everything corpus-scale is
    the audited curve; the policy layer itself must attach its 1-row
    bounds (decision batch, embeddings count) via BROADCAST joins and
    keep the curve's discipline (checkpoint-truncated search state, no
    cartesian, no vector-carrying hash exchange)."""
    p = plan_str(spark, "graph_rebuild_policy")
    assert "CartesianProduct" not in p
    assert "Scan ExistingRDD" in p, p[:400]
    assert "BroadcastNestedLoopJoin" in p
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange") and "hashpartitioning" in section:
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "demb#" not in input_line, section[:400]


def test_rebuild_execute_act_layer_is_id_keyed_and_bounded(spark):
    """graph_rebuild_execute's scale claim: everything corpus-scale is
    the three already-audited plans (insert replay, full-corpus
    NN-Descent, beam re-search — all visible as checkpoint-truncated
    ExistingRDD scans); the act layer itself adds only id-keyed hit
    joins against the pinned exact baseline and BROADCAST-attached
    1-row bounds — no cartesian, and no hash exchange ever carries a
    vector column."""
    p = plan_str(spark, "graph_rebuild_execute")
    assert "CartesianProduct" not in p
    assert "Scan ExistingRDD" in p, p[:400]
    assert "BroadcastNestedLoopJoin" in p
    assert "InMemoryTableScan" in p, p[:400]  # the pinned exact set
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange") and "hashpartitioning" in section:
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "demb#" not in input_line, section[:400]
            assert "qvec#" not in input_line, section[:400]


def test_drop_plan_inherits_pair_builder_discipline(spark):
    """dedup_containment_drop_plan rides the audited pair builder; the
    drop layer itself must add only a per-dropped-doc rank window
    (keyed on doc_id — bounded by that doc's container count, never
    SinglePartition) and id-keyed joins. Same text-free-exchange pin
    as the max-run audit (spread disabled to see the at-scale shape)."""
    spark.conf.set("spark.nats_spark.spread.enabled", "false")
    try:
        p = plan_str(spark, "dedup_containment_drop_plan")
    finally:
        spark.conf.set("spark.nats_spark.spread.enabled", "true")
    assert "CartesianProduct" not in p
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange"):
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "text#" not in input_line, section[:400]
    assert re.search(r"windowspecdefinition\(doc_id\S+, c_spans\S+ DESC",
                     p), p[:900]


def test_span_pair_joins_are_df_capped(spark):
    """The r11 weak marker's fix must be visible in the PLAN: the span
    relation feeding each pair self-join rides a left-ANTI join against
    the hot-span set (DF > SPAN_DF_CAP) — the guard that keeps a
    thousand-document boilerplate span from quadraticing the span_id
    key at 100 TB."""
    for name in ("dedup_max_duplicated_run", "dedup_containment",
                 "dedup_containment_drop_plan"):
        p = plan_str(spark, name)
        assert "LeftAnti" in p, (name, p[:600])


def test_span_df_stats_is_two_aggregates_no_pairs(spark):
    """dedup_span_df_stats (the cap's receipts) must itself be cheap:
    one partial+final aggregate onto span_id, one onto the bucket
    keys — no self-join, no pair relation, no window, and no exchange
    carrying text."""
    spark.conf.set("spark.nats_spark.spread.enabled", "false")
    try:
        p = plan_str(spark, "dedup_span_df_stats")
    finally:
        spark.conf.set("spark.nats_spark.spread.enabled", "true")
    assert "CartesianProduct" not in p
    assert not re.search(r"SortMergeJoin|ShuffledHashJoin"
                         r"|BroadcastHashJoin", p), p[:600]
    assert "() Window" not in p and "Window\n" not in p, p[:600]
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange"):
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "text#" not in input_line, section[:400]
    assert re.search(r"partial_count|partial", p), p[:400]


def test_split_leakage_inherits_lsh_plan_adds_map_side_labels(spark):
    """split_leakage_report composes the audited LSH pair pipeline with
    MAP-SIDE split labels: the candidate stage stays an equi-join
    (never a nested loop over the corpus), no exchange carries text,
    and no join against a membership table appears — the split label
    is a pure md5 expression over the pair ids, so the report layer
    adds exactly one partial+final aggregate onto <= 3 class rows."""
    spark.conf.set("spark.nats_spark.spread.enabled", "false")
    try:
        p = plan_str(spark, "split_leakage_report")
    finally:
        spark.conf.set("spark.nats_spark.spread.enabled", "true")
    assert "CartesianProduct" not in p
    assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", p)
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange"):
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "text#" not in input_line, section[:400]
    # exactly the pair pipeline's joins — no extra membership join
    # (labels are expressions over doc_a/doc_b, visible in the agg keys)
    assert re.search(r"partial_count|partial", p), p[:400]


def test_sliding_quantile_fans_out_histograms_not_events(spark):
    """The sliding-quantile scale claim, mirroring the sliding-HLL
    audit: the histogram build is one partial+final hourly aggregate;
    window fan-out multiplies HISTOGRAM rows; raw events are scanned a
    bounded number of times in the whole plan (the pinned histogram's
    own build + the exact-eval side + the pinned hmax bound's build;
    every histogram consumer reads the cache) — never once per
    window — and no cartesian anywhere (the 1-row hmax bound rides
    broadcast nested loops)."""
    p = plan_str(spark, "events_sliding_quantile_hist")
    assert "CartesianProduct" not in p
    assert "InMemoryTableScan" in p, p[:600]
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) <= 3, p[:600]


def test_looping_run_self_match_is_binned_equi_join(spark):
    """text_looping_run_report's scale claim: the intra-doc shifted
    self-match must be the position-binned EQUI-join (never a nested
    loop / cartesian — the unbinned form is quadratic on a degenerate
    all-same-token doc), no exchange carries text, and the islands
    window is (doc, diag)-keyed."""
    spark.conf.set("spark.nats_spark.spread.enabled", "false")
    try:
        p = plan_str(spark, "text_looping_run_report")
    finally:
        spark.conf.set("spark.nats_spark.spread.enabled", "true")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p, p[:600]
    assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", p)
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange"):
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "text#" not in input_line, section[:400]
    assert re.search(r"windowspecdefinition\(doc_id\S+, diag\S+, pa\S+",
                     p), p[:900]


def test_moments_merge_is_two_level_agg_no_window_no_join(spark):
    """events_moments_merge's scale claim: raw events collapse in ONE
    partial+final aggregate onto (type, hour) keys, the merge is a
    second aggregate over summary rows, and nothing else touches the
    data — no Window, no Join anywhere, and the only Sort is the
    |types|-row presentation sort."""
    p = plan_str(spark, "events_moments_merge")
    assert "Window" not in p and "Join" not in p
    assert "partial_sum" in p  # map-side combine on the raw scan
    sorts = re.findall(r"\bSort \[(\w+)", plan_str(
        spark, "events_moments_merge", "simple"))
    assert sorts == ["event_type"]


def test_ivm_both_routes_are_partial_final_aggregates(spark):
    """ivm_agg_delta: the maintained route and the proof route must
    both be partial+final hash aggregates (map-side combine before any
    exchange), and the reconciliation join must join 5-row aggregates
    — never re-scan orders as a join probe without aggregation."""
    p = plan_str(spark, "ivm_agg_delta")
    assert p.count("partial_count") >= 2
    assert "HashAggregate" in p
    assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", p)


def test_theil_sen_pairs_join_daily_aggregates_never_raw_events(spark):
    """events_theil_sen_trend: the pairwise self-join must consume the
    DAILY aggregate (pruned scan: ts + event_type only — value/props
    never read), the join must be an equi-join on event_type, and the
    median Window must be event_type-keyed, never SinglePartition."""
    p = plan_str(spark, "events_theil_sen_trend")
    schemas = " ".join(re.findall(r"ReadSchema: (.+)", p))
    assert "value" not in schemas and "props" not in schemas
    assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", p)
    assert "CartesianProduct" not in p
    assert re.search(r"windowspecdefinition\(event_type", p)
    assert not re.search(r"Window.*SinglePartition", p, re.S)


def test_scd2_windows_are_user_keyed_and_filter_reaches_scan(spark):
    """scd2_build_intervals: every window pass must be user-partitioned
    (per-key history license — a SinglePartition window would serialize
    the whole changelog through one task), and the key-subset filter
    must sit directly on the scan, not after a shuffle."""
    p = plan_str(spark, "scd2_build_intervals")
    specs = re.findall(r"windowspecdefinition\((\w+)#", p)
    assert specs and all(s == "user_id" for s in specs), specs
    # the modulo filter evaluates pre-exchange: formatted mode numbers
    # operators bottom-up, so the Filter carrying the % 10 condition
    # must have a SMALLER operator number than every Exchange
    filt = re.search(r"\((\d+)\) Filter\nInput[^\n]*\n"
                     r"Condition[^\n]*% 10", p)
    assert filt, p[:900]
    exchanges = [int(n) for n in re.findall(r"\((\d+)\) Exchange", p)]
    assert exchanges and int(filt.group(1)) < min(exchanges)


def test_bootstrap_never_reads_text_and_aggregates_weight_rows(spark):
    """corpus_bootstrap_ci: the resample must be metadata-only — the
    documents scan reads (doc_id, source, n_chars), never text — and
    the replica reduction is a partial+final aggregate onto
    (source, replica) keys with the CI pick riding a source-keyed
    window over <= B replica rows."""
    spark.conf.set("spark.nats_spark.spread.enabled", "false")
    try:
        p = plan_str(spark, "corpus_bootstrap_ci")
    finally:
        spark.conf.set("spark.nats_spark.spread.enabled", "true")
    schemas = " ".join(re.findall(r"ReadSchema: (.+)", p))
    assert "text" not in schemas, schemas
    assert "partial_sum" in p
    assert re.search(r"windowspecdefinition\(source", p)


def test_calibration_is_scan_project_aggregate_no_join_no_window(spark):
    """score_calibration_report: inference must stay the
    score_quality_logreg shape — trained weights inlined as literals,
    one map-only scoring pass over the pinned feature projection, then
    a single partial+final aggregate onto <= 10 bin keys. No Join, no
    Window, no Python UDF."""
    p = plan_str(spark, "score_calibration_report")
    assert "Join" not in p and "Window" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "partial_count" in p
    assert "InMemoryTableScan" in p  # the pinned feature projection


def test_mutual_nn_layers_are_id_keyed_over_audited_graph(spark):
    """sim_mutual_nn_pairs: above the audited kNN-graph builder, the
    mutuality test and the label decoration must be equi-joins on ids
    — no nested loop, and no exchange introduced by those layers may
    carry an embedding array (vectors stay inside the builder)."""
    p = plan_str(spark, "sim_mutual_nn_pairs")
    assert "CartesianProduct" not in p
    assert re.search(r"windowspecdefinition\(src", p)  # the rn=1 edge set
    # the label joins consume 2-column (vec_id, label) scans
    schemas = re.findall(r"ReadSchema: struct<vec_id:bigint,label:int>", p)
    assert len(schemas) >= 1, "label decoration must prune embedding"


def test_gazetteer_matching_is_map_side_until_terms_aggregate(spark):
    """text_gazetteer_mentions: the dictionary must arrive by broadcast
    (BroadcastNestedLoopJoin over 8 literal rows), the positional match
    must be a map-side higher-order expression, and NO exchange may
    carry the token arrays or raw text — the only shuffles are the
    <= |terms|-key aggregate and the presentation sort."""
    spark.conf.set("spark.nats_spark.spread.enabled", "false")
    try:
        p = plan_str(spark, "text_gazetteer_mentions")
    finally:
        spark.conf.set("spark.nats_spark.spread.enabled", "true")
    assert "BroadcastNestedLoopJoin" in p
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange"):
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "toks#" not in input_line, section[:400]
            assert "text#" not in input_line, section[:400]


def test_hll_overlap_prunes_scan_and_pairs_summary_rows(spark):
    """sketch_hll_overlap_matrix: the events scan must read only
    (event_type, user_id) — sketches and exact distincts come from one
    deduplicated relation — and the estimate layer must consume the
    pinned |types|-row summary (InMemoryTableScan), never re-scan
    events per pair."""
    p = plan_str(spark, "sketch_hll_overlap_matrix")
    schemas = re.findall(r"ReadSchema: (\S+)", p)
    assert schemas, p[:400]
    for s in schemas:
        fields = set(re.findall(r"(\w+):", s))
        assert fields <= {"event_type", "user_id"}, s
    assert "InMemoryTableScan" in p


def test_auc_aggregates_score_grid_no_python_no_join(spark):
    """score_auc_report: after the pinned feature projection the plan
    must be aggregate -> (bounded) cumulative window -> 1-row total —
    no Join, no Python eval; the one unpartitioned window is licensed
    by the micro-unit score grid bound (<= 1e6+1 summary rows)."""
    p = plan_str(spark, "score_auc_report")
    assert "Join" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "InMemoryTableScan" in p
    assert p.count("Window") >= 1


def test_hard_negatives_inherit_knn_builder_discipline(spark):
    """sim_hard_negatives: bucket-blocked equi-join (never a cartesian),
    label filter applied BEFORE the per-anchor rank window (the window
    input must already be the filtered pair relation), k-bounded
    anchor-keyed window."""
    p = plan_str(spark, "sim_hard_negatives")
    assert "CartesianProduct" not in p
    assert re.search(r"windowspecdefinition\(anchor", p)
    # the label inequality must appear in a Filter/Join section, and no
    # window section may precede every occurrence of it (formatted mode
    # numbers bottom-up: the filter's operator id < the window's)
    filt = re.search(r"\((\d+)\) (?:Filter|SortMergeJoin|BroadcastHashJoin|"
                     r"ShuffledHashJoin)[^\0]*?NOT \(label", p)
    win = re.search(r"\((\d+)\) Window", p)
    assert filt and win, p[:800]
    assert int(filt.group(1)) < int(win.group(1))


def test_ivf_list_balance_is_one_scan_no_vector_exchange(spark):
    """sim_ivf_list_balance's scale claim: the assignment is one corpus
    scan against the BROADCAST centroid table; the per-vector rank
    window's exchange carries (vec_id, cent_id, score) — never the
    vector column — and the report layer is an aggregate onto <= nlist
    keys with the 1-row total attached by broadcast. No cartesian."""
    spark.conf.set("spark.nats_spark.spread.enabled", "false")
    try:
        p = plan_str(spark, "sim_ivf_list_balance")
    finally:
        spark.conf.set("spark.nats_spark.spread.enabled", "true")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # 1-row total + centroid table
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) <= 1, p[:600]
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange") and "hashpartitioning" in section:
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "demb#" not in input_line, section[:400]


def test_gate_agreement_flags_are_map_side_single_scan(spark):
    """quality_gate_agreement's scale claim: the C4 and Gopher flags
    are pure JVM expressions over the scan, the logreg gate joins the
    pinned feature projection by id only, and every pair row is a
    partial+final aggregate of 0/1 products — no exchange carries
    text, no cartesian beyond the broadcast 1-row unions."""
    spark.conf.set("spark.nats_spark.spread.enabled", "false")
    try:
        p = plan_str(spark, "quality_gate_agreement")
    finally:
        spark.conf.set("spark.nats_spark.spread.enabled", "true")
    assert "CartesianProduct" not in p
    assert "InMemoryTableScan" in p, p[:400]  # the pinned projections
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange"):
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "text#" not in input_line, section[:400]
    assert re.search(r"partial_sum|partial_count", p), p[:400]


def test_scd2_incremental_apply_windows_user_keyed_filter_at_scan(spark):
    """scd2_incremental_apply: all three run folds keep the certified
    scd2 discipline — every window pass user-partitioned (per-key
    history license), the key-subset filter evaluating before the
    first exchange — and the apply/theorem layers add only id-keyed
    joins over version rows plus broadcast 1-row bounds (no
    cartesian)."""
    p = plan_str(spark, "scd2_incremental_apply")
    assert "CartesianProduct" not in p
    specs = re.findall(r"windowspecdefinition\((\w+)#", p)
    assert specs and all(s == "user_id" for s in specs), specs
    filt = re.search(r"\((\d+)\) Filter\nInput[^\n]*\n"
                     r"Condition[^\n]*% 10", p)
    assert filt, p[:900]
    exchanges = [int(n) for n in re.findall(r"\((\d+)\) Exchange", p)]
    assert exchanges and int(filt.group(1)) < min(exchanges)
    assert "InMemoryTableScan" in p  # pinned version-row intermediates


def test_sliding_topk_fans_out_summaries_not_events(spark):
    """events_sliding_topk's scale claim, mirroring the sliding-HLL and
    sliding-quantile audits: the per-(hour, user) aggregate is the one
    event-volume pass (pinned — every window-layer consumer reads the
    cache), window fan-out multiplies SUMMARY rows, and the prune /
    verify / fallback layers are aggregates and semi-joins over those
    rows — a bounded number of parquet scans in the whole plan and no
    cartesian (the 1-row hmax bound rides broadcast)."""
    p = plan_str(spark, "events_sliding_topk")
    assert "CartesianProduct" not in p
    assert "InMemoryTableScan" in p, p[:600]
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) <= 2, p[:600]


def test_drop_execute_inherits_pair_discipline_both_passes(spark):
    """dedup_drop_plan_execute runs the audited pair builder TWICE
    (documents, then survivors) — both passes must carry the DF-cap
    anti-join, no exchange may carry text (the survivor anti-join
    broadcasts the id-only drop set, so the corpus text stays
    map-side), the drop set is the only cached intermediate, and the
    receipt layer is broadcast 1-row joins (no cartesian)."""
    spark.conf.set("spark.nats_spark.spread.enabled", "false")
    try:
        p = plan_str(spark, "dedup_drop_plan_execute")
    finally:
        spark.conf.set("spark.nats_spark.spread.enabled", "true")
    assert "CartesianProduct" not in p
    assert len(re.findall(r"LeftAnti", p)) >= 3, p[:600]  # 2 caps + drop
    assert "InMemoryTableScan" in p, p[:400]  # the pinned drop set
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange"):
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "text#" not in input_line, section[:400]


def test_ivf_rebalance_broadcast_centroids_bounded_scans(spark):
    """sim_ivf_rebalance's scale claim: every centroid/sub-centroid
    table rides BROADCAST joins against the corpus (never shuffled as
    a join side), the whole act touches the embeddings scan a bounded
    number of times with the assignment relation pinned (every
    consumer — split training, post lists, candidates — reads the
    cache), and the receipt layer is broadcast 1-row crossJoins, so no
    cartesian beyond those bounded nested-loops."""
    spark.conf.set("spark.nats_spark.spread.enabled", "false")
    try:
        p = plan_str(spark, "sim_ivf_rebalance")
    finally:
        spark.conf.set("spark.nats_spark.spread.enabled", "true")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "InMemoryTableScan" in p, p[:400]  # pinned assignment et al.
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) <= 3, p[:600]


def test_ivf_merge_moves_only_merged_members_no_retrain(spark):
    """sim_ivf_merge's scale claim: the base is the shared audited
    assignment; the shrink layer re-ranks ONLY the merged lists'
    members against the broadcast surviving-centroid table (no
    training loop, no extra corpus scan), and receipts ride broadcast
    1-row joins — bounded parquet scans, no cartesian."""
    spark.conf.set("spark.nats_spark.spread.enabled", "false")
    try:
        p = plan_str(spark, "sim_ivf_merge")
    finally:
        spark.conf.set("spark.nats_spark.spread.enabled", "true")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "InMemoryTableScan" in p, p[:400]
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) <= 3, p[:600]


def test_inc_near_dup_probes_corpus_never_self_joins_it(spark):
    """dedup_incremental_near_dup's scale claim: both candidate joins
    are (band, bucket)-keyed over the PINNED band table with the cut
    filter applied on every join side — the corpus side appears only
    opposite a batch-filtered side (doc_id > c), never against itself
    — and the verify joins are id-keyed over the pinned shingle table.
    No cartesian; text never crosses an exchange."""
    spark.conf.set("spark.nats_spark.spread.enabled", "false")
    try:
        p = plan_str(spark, "dedup_incremental_near_dup")
    finally:
        spark.conf.set("spark.nats_spark.spread.enabled", "true")
    assert "CartesianProduct" not in p
    assert "InMemoryTableScan" in p, p[:400]
    # every band-side of a candidate join is cut-filtered: the batch
    # predicate (doc_id > c) appears at least twice (corpus probe +
    # both sides of the within-batch join are batch rows), the corpus
    # predicate once
    assert len(re.findall(r"doc_id#\d+L? > c#", p)) >= 2, p[:800]
    assert len(re.findall(r"doc_id#\d+L? <= c#", p)) >= 1, p[:800]
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange"):
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "text#" not in input_line, section[:400]


def test_ivf_insert_single_scan_pinned_assignment(spark):
    """sim_ivf_insert's scale claim: the whole receipt — pre/post list
    stats, drift counts, both recall panels, the brute reference —
    rides ONE embeddings scan (the pinned shared assignment; every
    other consumer reads the cache), centroids and 1-row receipts ride
    broadcast joins, and no cartesian appears beyond those bounded
    nested-loops."""
    spark.conf.set("spark.nats_spark.spread.enabled", "false")
    try:
        p = plan_str(spark, "sim_ivf_insert")
    finally:
        spark.conf.set("spark.nats_spark.spread.enabled", "true")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "InMemoryTableScan" in p, p[:400]
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) <= 1, p[:600]


def test_ivf_lifecycle_single_scan_all_phases(spark):
    """sim_ivf_lifecycle's scale claim: build, detect, the chosen act,
    and BOTH recall panels share one pinned corpus assignment — a
    single embeddings scan in the whole fused plan (the decision read
    is a 1-row aggregate on the cache, not a second scan), broadcast
    centroid/receipt joins, no cartesian."""
    spark.conf.set("spark.nats_spark.spread.enabled", "false")
    try:
        p = plan_str(spark, "sim_ivf_lifecycle")
    finally:
        spark.conf.set("spark.nats_spark.spread.enabled", "true")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "InMemoryTableScan" in p, p[:400]
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) <= 1, p[:600]


def test_rank_quality_single_scan_broadcast_panel(spark):
    """sim_eval_rank_quality's scale claim: probed candidates and the
    brute reference both read the PINNED shared assignment (one
    embeddings scan in the whole plan), the query panel and discount
    table ride broadcast joins, metric layers join K-bounded rank
    rows — no cartesian beyond the bounded nested-loops."""
    spark.conf.set("spark.nats_spark.spread.enabled", "false")
    try:
        p = plan_str(spark, "sim_eval_rank_quality")
    finally:
        spark.conf.set("spark.nats_spark.spread.enabled", "true")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "InMemoryTableScan" in p, p[:400]
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) <= 1, p[:600]


def test_band_efficiency_banded_join_never_all_pairs(spark):
    """dedup_lsh_band_efficiency's scale claim: the pair join is
    (band, bucket)-keyed over the pinned band table — never an
    all-pairs doc join — verification is id-keyed on the pinned
    shingle table, and no exchange carries text."""
    spark.conf.set("spark.nats_spark.spread.enabled", "false")
    try:
        p = plan_str(spark, "dedup_lsh_band_efficiency")
    finally:
        spark.conf.set("spark.nats_spark.spread.enabled", "true")
    assert "CartesianProduct" not in p
    assert "InMemoryTableScan" in p, p[:400]
    assert re.search(r"\[band#\d+, bucket#\d+\]", p) or \
        "band#" in p, p[:600]
    for section in re.split(r"\n\(\d+\) ", p):
        if section.startswith("Exchange"):
            input_line = next(
                (ln for ln in section.splitlines()
                 if ln.startswith("Input")), "")
            assert "text#" not in input_line, section[:400]


def test_ivf_drift_psi_one_scan_bucket_table_windows(spark):
    """sim_ivf_drift_psi's scale claim: the audited shared assignment
    is the only corpus scan (pinned); the counts aggregate onto <=
    nlist keys and every window runs over that bucket table, never the
    vectors. No cartesian beyond the broadcast 1-row cut join."""
    spark.conf.set("spark.nats_spark.spread.enabled", "false")
    try:
        p = plan_str(spark, "sim_ivf_drift_psi")
    finally:
        spark.conf.set("spark.nats_spark.spread.enabled", "true")
    assert "CartesianProduct" not in p
    assert "InMemoryTableScan" in p, p[:400]
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) <= 1, p[:600]


def test_enrich_posts_one_python_crossing_two_json_parses(spark):
    """enrich_posts over decoded payloads crosses into Python once per
    batch (one fused ArrowEvalPython for U1 -> F5 -> U2) and parses each
    JSON payload at most twice: the full struct plus the ``uri`` guard.
    A Filter between the classifiers, or F4 as a Column filter below
    them, brings back the second crossing or the per-field from_json
    probes Catalyst pushes into the decode filter."""
    import json

    from nats_stream_processor_spark.operators.enrich import enrich_posts
    from nats_stream_processor_spark.streaming.pipeline import decode_posts

    raw = spark.createDataFrame(
        [(json.dumps({"uri": "u1", "cid": "c", "text": "great day"}),),
         (json.dumps({"uri": "u2", "content": "love hate"}),),
         ("not json",)], "value string")
    df = enrich_posts(decode_posts(raw))
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("ArrowEvalPython") == 1, p
    assert 1 <= p.count("from_json(") <= 2, p
    assert [r["uri"] for r in df.collect()] == ["u1"]

"""Deduplication operators for LLM training-data pipelines.

Four tiers, all shuffle-safe and expressed as DataFrame programs:

- exact:   normalize -> md5 key -> groupBy (one shuffle on the hash key).
- minhash: token-3-gram shingles -> K=32 minhash signature -> 8 bands of 4
           -> band-bucket self-join for candidates -> exact Jaccard verify.
           The standard LSH pipeline: candidate generation is a shuffle on
           (band, bucket) — never an O(n^2) cross join — and the exact
           verify only touches candidate pairs.
- simhash: 60-bit simhash -> 4 chunks of 15 bits -> chunk-bucket join
           (pigeonhole guarantees recall for hamming distance <= 3) ->
           popcount verify.
- n-gram:  blocked pairwise token-bigram Jaccard (block = `source` here;
           at 100 TB the block key is whatever bounds the quadratic term:
           LSH bucket, length band, URL host...).

Everything is deterministic (md5-derived hashes, pinned permutation
parameters — functions/hashing.py), so each stage has an exact DuckDB twin.

The token-hash n-gram front end is built once, here: ``token_ngram_frame``
(per-token hashes -> distinct n-gram shingle ids), ``span_ids_col``
(positioned k-token span ids), ``minhash_band_explode`` and
``band_pairs`` (LSH candidates). Their DuckDB twins are the ``*_sql``
helpers below, composed once into ``queries/llm.py:_SH_CTE``. The batch
near-dup queries and the streaming near-dup index
(``streaming/neardup.banded``) share this one front end.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import (
    MERSENNE_P,
    hash32_col,
    hash32_sql_duck,
    minhash_params,
)
from ..functions.text import tokens_col

MINHASH_K = 32
LSH_BANDS = 8
LSH_ROWS = 4  # K / BANDS
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4
SIMHASH_CHUNK_BITS = 15  # BITS / CHUNKS; pigeonhole recall for dist <= 3

_PARAMS = minhash_params(MINHASH_K)


def normalized_key(text: Column) -> Column:
    """Exact-dedup key: md5 of the lower-cased, trimmed text."""
    return F.md5(F.lower(F.trim(text)))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group by content hash; keep the minimum id as canonical survivor.
    One shuffle on a 32-byte key regardless of document size."""
    return (
        df.select(normalized_key(F.col(text_col)).alias("content_key"),
                  F.col(id_col))
        .groupBy("content_key")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


# Polynomial combine multiplier for token-hash shingles. Bounds: a token
# hash h < 2^32, so h * COMB < 2^49; after each % MERSENNE_P the accumulator
# is < 2^31 and acc * COMB + h < 2^49 — exact signed-64 arithmetic in both
# Spark and DuckDB, no overflow.
SHINGLE_COMB = 65599

# Document-frequency cap for the substring-span PAIR joins
# (dedup_containment, dedup_max_duplicated_run,
# dedup_containment_drop_plan): a span occurring in D documents emits
# ~D^2/2 candidate pairs through the span-bucket self-join, and real
# web corpora carry 16-token boilerplate (license headers, nav chrome,
# disclaimers) with DF in the thousands — one such span is a quadratic
# shuffle on a single key at 100 TB. Spans with DF > cap are dropped
# from the PAIR relation before joining (denominator span counts stay
# uncapped). The semantic license is the MOSS/winnowing convention:
# ubiquitous boilerplate is noise for containment/extract decisions,
# not evidence of copying. The drop is never silent — the
# dedup_span_df_stats diagnostic reports the full DF spectrum with
# per-bucket pair mass and the capped occurrence mass. Fixture
# headroom: max observed span DF is 4 at every shipped SF (16x under
# the cap), so capped and uncapped outputs agree there; the planted
# hot-span tests exercise the capped path.
SPAN_DF_CAP = 64

# Tokens per substring span: the one granularity of every span operator
# (dedup_substring_spans, dedup_containment, text_novelty_score, and the
# duplicated-run, coverage and removal families).
SPAN_K = 16


def token_hashes_32_col(text: Column, fast: bool = False) -> Column:
    """One 32-bit hash per token: md5-derived (portable, oracle-checkable)
    or xxhash64-masked (production, whole-stage codegen)."""
    toks = tokens_col(text)
    if fast:
        return F.transform(
            toks, lambda t: F.xxhash64(t).bitwiseAND(F.lit((1 << 32) - 1)))
    return F.transform(toks, hash32_col)


def shingle_ids_tok_col(hs: Column, n: int = 3) -> Column:
    """Numeric n-gram shingle ids from per-token hashes.

    Hashing per *token* instead of per shingle string does 1/n-th the md5
    work and skips the per-gram concat allocation entirely: the shingle id
    is an exact-int64 polynomial combine of n consecutive token hashes.
    Short docs (< n tokens) fall back to a fold over all token hashes so
    they still carry one shingle. Ids land in [0, 2^31-1), satisfying the
    minhash permutation bound (< 2^32).

    Formulated as chained zip_with over n shifted slices, each of which
    reads ``hs`` once; :func:`token_ngram_frame` is the one caller and
    hands it a projected ``hs``."""
    cnt = F.size(hs) - (n - 1)
    grams = F.slice(hs, 1, cnt)
    for j in range(1, n):
        def comb(a: Column, b: Column) -> Column:
            return (a * SHINGLE_COMB + b) % MERSENNE_P
        grams = F.zip_with(F.slice(hs, j + 1, cnt), grams,
                           lambda b, a: comb(a, b))
    whole = F.aggregate(
        hs, F.lit(0).cast("long"),
        lambda acc, h: (acc * SHINGLE_COMB + h) % MERSENNE_P)
    return F.array_distinct(
        F.when(F.size(hs) >= n, grams).otherwise(F.array(whole)))


def token_ngram_frame(df: DataFrame, keys: Sequence[str | Column],
                      n: int | None = 3, fast: bool = False,
                      out: str = "sids") -> DataFrame:
    """The Spark front end of every token-hash n-gram stage: ``keys``
    (column names or Columns, carried through) plus ``out``, the doc's
    distinct n-gram shingle-id set (:func:`shingle_ids_tok_col`) over
    the ``text`` column. With ``n=None`` the frame stops at the
    per-token hashes ``hs``, which :func:`span_ids_col` reads.

    ``hs`` is projected as a NAMED column before anything reads it.
    Catalyst cannot share a subexpression that holds a lambda, so every
    reference to an inline token-hash transform re-runs md5 over every
    token: the shingle fold reads ``hs`` 2n times, the span fold once per
    span (the r2 8-gram decontamination stage took 95 s vs 1 s at sf0.1
    for this reason). Inline vs named, sf0.1 documents (5,000 rows), 4 cores, noop
    sink, warm median of 3: 1.00 s vs 0.32 s at n=3, 2.44 s vs 0.35 s at
    n=16, 3.28 s vs 0.35 s for 16-token spans."""
    h = df.select(*keys,
                  token_hashes_32_col(F.col("text"), fast).alias("hs"))
    if n is None:
        return h
    return h.select(*h.columns[:-1],
                    shingle_ids_tok_col(F.col("hs"), n).alias(out))


def span_ids_col(hs: Column, k: int) -> Column:
    """Rolling-hash id of every k-token span in token order, duplicates
    kept (a posexplode position p is the span starting at token p);
    empty below k tokens. ``hs`` must be the projected column of
    :func:`token_ngram_frame` — the fold reads it once per span. Same
    polynomial as :func:`shingle_ids_tok_col`, so the distinct span ids
    of a doc with >= k tokens are its k-gram shingle ids."""
    spans = F.transform(
        F.sequence(F.lit(1), F.size(hs) - k + 1),
        lambda i: F.aggregate(
            F.slice(hs, i, k), F.lit(0).cast("long"),
            lambda acc, x: (acc * SHINGLE_COMB + x) % MERSENNE_P))
    return F.when(F.size(hs) >= k, spans).otherwise(F.array())


def token_hashes_32_duck_sql(toks_expr: str) -> str:
    return f"list_transform({toks_expr}, t -> {hash32_sql_duck('t')})"


def shingle_ids_tok_sql(hs_expr: str, n: int = 3) -> str:
    """DuckDB twin of :func:`shingle_ids_tok_col`. ``hs_expr`` should be a
    projected column (one md5 pass), not an inline expression — it is
    referenced ~2n times here."""
    e = f"{hs_expr}[i]"
    for j in range(1, n):
        e = f"(({e}) * {SHINGLE_COMB} + {hs_expr}[i+{j}]) % {MERSENNE_P}"
    whole = (f"list_reduce([CAST(0 AS BIGINT)] || {hs_expr}, "
             f"(acc, h) -> (acc * {SHINGLE_COMB} + h) % {MERSENNE_P})")
    return (
        f"list_distinct(CASE WHEN len({hs_expr}) >= {n} THEN "
        f"list_transform(range(1, len({hs_expr}) - {n - 2}), i -> {e}) "
        f"ELSE [{whole}] END)"
    )


# The K permutation parameters as ONE literal array-of-structs: the
# signature below is a single nested higher-order expression over it,
# not K independent array_min(transform(...)) subtrees. Values are
# identical either way (same affine permutations, same mins); the win is
# plan size — Catalyst analyzes/optimizes one HOF node instead of K=32,
# which measured 0.9 s -> 0.5 s of driver plan-build time per minhash
# query at sf0.1 (r15 optimization round), multiplied across every
# query that builds signatures. HOF lambdas are interpreted in both
# forms, so executor-side work is unchanged. (Built lazily, not at
# module level: Column construction needs an active SparkContext.)
#
# Cached per SparkContext (r16): building the 64 literal/struct Columns
# costs ~64 py4j round-trips, measured ~230 ms per call — ~94% of a
# signature Column's construction — and ~20 registered queries build a
# signature on every invocation. A Column is an immutable expression
# wrapper, so one instance is safely shared across plans; the cache key
# (applicationId) drops stale entries when the JVM context changes.
# Driver-side construction caching only — no data, no results.
_PARAMS_COL_CACHE: dict[str, Column] = {}


def _params_arr() -> Column:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    key = sc.applicationId if sc is not None else None
    col = _PARAMS_COL_CACHE.get(key) if key is not None else None
    if col is None:
        col = F.array(*[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in _PARAMS
        ])
        if key is not None:
            _PARAMS_COL_CACHE.clear()  # stale-context entries
            _PARAMS_COL_CACHE[key] = col
    return col


def minhash_signature_col(sids: Column) -> Column:
    """K minimums over pinned affine permutations of the shingle-id set."""
    return F.transform(
        _params_arr(),
        lambda p: F.array_min(
            F.transform(sids, lambda x: (p["a"] * x + p["b"]) % MERSENNE_P)),
    )


def minhash_signature_sql(sids_expr: str) -> str:
    mins = ", ".join(
        f"list_min(list_transform({sids_expr}, x -> ({a} * x + {b}) % {MERSENNE_P}))"
        for a, b in _PARAMS
    )
    return f"[{mins}]"


def minhash_band_explode(df: DataFrame, keys: Sequence[str], sig_col: str,
                         bands_n: int = LSH_BANDS,
                         rows_n: int = LSH_ROWS) -> DataFrame:
    """One row per (doc, band): the ``keys`` columns carried through, plus
    the band and its bucket key — the band's slice of the signature
    '_'-joined. This is the unit that shuffles: equal (band, bucket) =>
    candidate pair. band/row counts are the recall knob: fewer rows per
    band => more candidates => higher recall at lower Jaccard thresholds
    (P[candidate] = 1-(1-j^r)^b). The batch LSH operators and the
    streaming near-dup band index (streaming/neardup.banded) both band
    here, so their bucket strings — and the streaming state bytes —
    agree."""
    bands = F.explode(F.transform(
        F.sequence(F.lit(0), F.lit(bands_n - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.array_join(
                F.slice(F.col(sig_col), b * rows_n + 1, rows_n), "_"
            ).alias("bucket"),
        )))
    return df.select(*keys, bands.alias("bk")).select(
        *keys, F.col("bk.band").alias("band"),
        F.col("bk.bucket").alias("bucket"))


def band_pairs(bands: DataFrame) -> DataFrame:
    """Distinct LSH candidate pairs (doc_a, doc_b), doc_a < doc_b: the
    doc_id self-join of :func:`minhash_band_explode` rows on (band,
    bucket) — a shuffle on the bucket key, never all-pairs. The Spark
    twin of _SH_CTE's ``cand``."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct())


def jaccard(a_ids: Column, b_ids: Column) -> Column:
    # round6_stable, not F.round: int/int ratios can land exactly on a
    # 7th-decimal half-boundary (union sizes of the form 2^7*5^j) where
    # engine round() builtins disagree — and jaccard drives the >=
    # threshold decision, so the rounding must match bit-for-bit.
    from .similarity import round6_stable
    inter = F.size(F.array_intersect(a_ids, b_ids))
    union = F.size(F.array_union(a_ids, b_ids))
    return round6_stable(inter / F.greatest(union, F.lit(1)))


def jaccard_sql(a_ids: str, b_ids: str) -> str:
    """DuckDB twin of :func:`jaccard` (stable 6-dp rounding included)."""
    from .similarity import round6_stable_sql
    return round6_stable_sql(
        f"len(list_intersect({a_ids}, {b_ids}))"
        f" / CAST(greatest(len(list_distinct({a_ids} || {b_ids})), 1)"
        f" AS DOUBLE)")


def connected_components(edges: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b", max_iter: int = 25) -> DataFrame:
    """Connected components by iterative min-label propagation — the
    cluster step that turns near-dup PAIRS into dedup GROUPS (keep the
    minimum id per component, drop the rest).

    Each iteration: every node adopts min(own label, neighbors' labels);
    converges in O(graph diameter) rounds — near-dup clusters are short
    chains, so typically <= 5. Per round: one shuffle on the join key and
    an eager localCheckpoint to truncate lineage (at cluster scale, a
    reliable checkpoint dir; this is the GraphX/GraphFrames CC pattern
    without the library dependency). The driver-side loop carries only a
    convergence count, never data."""
    import math
    import warnings

    # Materialize the PAIR pipeline once, BEFORE the symmetrizing union:
    # the union's two branches are separate subtrees, so checkpointing the
    # union re-ran the whole upstream pair pipeline (banded candidate join
    # + Jaccard verify for the minhash callers) twice — measured 3.0 s vs
    # 1.5 s at sf0.1 (r15 optimization round). Checkpointing the one-sided
    # edge list first makes the union a cheap map over checkpointed rows;
    # at cluster scale the same argument holds with a reliable checkpoint.
    one = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    one = one.localCheckpoint(eager=True)
    sym = one.union(one.select(F.col("b").alias("a"), F.col("a").alias("b")))

    # The iteration graph is the near-dup PAIR set — orders of magnitude
    # smaller than the corpus (256 edges at sf0.1 vs 5k docs). Size the
    # loop's shuffle width to IT, not to the corpus-wide session default:
    # with AQE the post-shuffle tasks coalesce either way (the loop's
    # wall clock is driver/job-latency bound locally, ~0.3 s/round), but
    # the map side still writes one shuffle file per configured partition
    # — 200 near-empty files per job per round under a driver-default
    # session. ~100k edges per task; the session's batch shuffle width is
    # the ceiling so a billion-edge graph at 100 TB still fans out fully.
    #
    # The width is scoped PER-PLAN with explicit hash repartition() calls
    # (never by mutating spark.sql.shuffle.partitions: a concurrent query
    # planned mid-loop on the same session would inherit the tiny loop
    # width — r3 verdict). HashPartitioning(key, loop_p) on both join
    # inputs satisfies the join's distribution requirement at loop_p
    # partitions, and the one remaining width-bearing exchange per round
    # (the groupBy on "a") gets its own explicit repartition below.
    spark = edges.sparkSession
    n_edges = 2 * one.count()  # symmetrized size; count scans the checkpoint
    # The batch width is AQE's initial partition number (get_spark sets it;
    # spark.sql.shuffle.partitions there is the streaming state width).
    # Unset — the driver's plain session — Spark itself starts batch
    # shuffles at spark.sql.shuffle.partitions, and so does the loop bound.
    session_p = int(spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", None)
        or spark.conf.get("spark.sql.shuffle.partitions"))
    loop_p = max(1, min(session_p, math.ceil(n_edges / 100_000)))
    return _cc_loop(sym, loop_p, max_iter, warnings)


def _cc_loop(sym: DataFrame, loop_p: int, max_iter: int, warnings) -> DataFrame:
    # sym partitioned on the join key "b"; labels on "node". localCheckpoint
    # preserves the physical partitioning in the LogicalRDD, so every
    # round's sym-labels join starts from compatible loop_p-wide hash
    # partitioning and inserts no session-width exchange.
    sym = sym.repartition(loop_p, "b").localCheckpoint(eager=True)
    # Round 1 folded (r16, guide §2.4): with identity labels the first
    # round's neighbor-min is just min(b) per a — the same groupBy the
    # loop would run, minus the join against an identity labels frame.
    # That also subsumes the old distinct-nodes labels bootstrap (every
    # node appears as "a" in the symmetrized edge list, and groupBy
    # yields the distinct node set), saving one shuffle + checkpoint +
    # join before the loop. comp = least(node, min neighbor), changed =
    # a neighbor label beat the node's own — exactly round 1's output.
    first = (sym.repartition(loop_p, "a")
             .groupBy("a").agg(F.min("b").alias("ncomp"))
             .select(F.col("a").alias("node"),
                     F.least(F.col("a"), F.col("ncomp")).alias("comp"),
                     (F.col("ncomp") < F.col("a")).alias("chg"))
             .localCheckpoint(eager=True))
    changed = first.filter("chg").count()
    labels = first.select("node", "comp")
    for _ in range(max_iter - 1):
        if changed == 0:
            break
        neigh = (
            sym.join(labels, sym["b"] == labels["node"])
            .repartition(loop_p, "a")
            .groupBy("a").agg(F.min("comp").alias("ncomp"))
        )
        new = (
            labels.join(neigh, labels["node"] == neigh["a"], "left")
            .select(
                "node",
                F.least(F.col("comp"),
                        F.coalesce("ncomp", F.col("comp"))).alias("comp"),
                # min-label only decreases, so "changed" == a neighbor
                # label beat the current one; carrying the flag here lets
                # the convergence check scan the checkpointed partitions
                # instead of re-joining new vs old labels every round
                (F.coalesce("ncomp", F.col("comp"))
                 < F.col("comp")).alias("chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new.filter("chg").count()
        labels = new.select("node", "comp")
        if changed == 0:
            break
    if changed != 0:
        # Wrong labels are worse than slow labels: surface non-convergence
        # loudly instead of returning a silently-truncated fixpoint.
        warnings.warn(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter (rounds "
            "needed = graph diameter)", RuntimeWarning, stacklevel=2)
    return labels.select(F.col("node").alias("doc_id"), "comp")


def token_hashes_spark_sql(text_expr: str) -> str:
    """60-bit per-token hashes, Spark SQL dialect. Projected once per row
    (a named column) so the 60 per-bit folds below don't recompute md5."""
    toks = f"regexp_extract_all(lower({text_expr}), '[a-z0-9]+', 0)"
    return f"transform({toks}, t -> CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT))"


def token_hashes_duck_sql(text_expr: str) -> str:
    toks = f"regexp_extract_all(lower({text_expr}), '[a-z0-9]+')"
    return f"list_transform({toks}, t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT))"


def simhash_spark_sql(hs_col: str = "tok_hashes") -> str:
    """60-bit simhash folded directly into a packed BIGINT:
    bit i = sign of sum over tokens of (+1 if bit i of hash60(token) else -1);
    simhash = sum of set bits << i. Term-frequency weighted (duplicate
    tokens count). Nested higher-order functions — stays JVM-side."""
    bit_sum = (
        f"aggregate({hs_col}, 0L, (acc, h) -> acc + "
        "(CASE WHEN (shiftright(h, i) & 1) = 1 THEN 1 ELSE -1 END))"
    )
    return (
        f"aggregate(sequence(0, {SIMHASH_BITS - 1}), 0L, (acc2, i) -> acc2 + "
        f"(CASE WHEN {bit_sum} > 0 THEN shiftleft(1L, i) ELSE 0L END))"
    )


def simhash_duck_sql(hs_col: str = "tok_hashes") -> str:
    bit_sum = (
        f"coalesce(list_sum(list_transform({hs_col}, "
        "h -> CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)), 0)"
    )
    return (
        f"coalesce(list_sum(list_transform(range(0, {SIMHASH_BITS}), "
        f"i -> CASE WHEN {bit_sum} > 0 THEN (CAST(1 AS BIGINT) << i) "
        f"ELSE CAST(0 AS BIGINT) END)), 0)"
    )

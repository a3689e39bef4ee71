"""Similarity search over embedding columns (array<float>).

Two paths, mirroring what a 100 TB pipeline needs:

- Brute-force cosine top-k: broadcast the (small) query set against the
  corpus, fold the dot product JVM-side, rank per query. Exact; cost is
  |Q| x |corpus| dot products with NO shuffle of the corpus (queries are
  broadcast), so it scales linearly in corpus size for bounded |Q|.
- LSH-bucketed ANN: sign-random-projection buckets (pinned hyperplanes) on
  both sides; candidates = bucket collisions; exact cosine within bucket.
  Sub-linear candidate sets; recall < 1 by construction (single table —
  production would union several hyperplane tables to trade compute for
  recall; the plan shape is identical).

Determinism: hyperplane weights derive from md5 (functions/hashing.py) at
Python build time and are embedded as literals in both engines' plans; dot
products fold left-to-right over the same element order in both engines, so
values are bit-identical and every query here is oracle-checkable.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column
from pyspark.sql import functions as F

EMBED_DIM = 64
LSH_PLANES = 4  # 16 buckets — sized for the test corpus; see module doc


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def hyperplanes(planes: int = LSH_PLANES, dim: int = EMBED_DIM) -> list[list[float]]:
    """Pinned pseudo-random hyperplanes in [-1, 1]^dim."""
    return [
        [((_h32(f"{p}_{d}") % 2001) - 1000) / 1000.0 for d in range(dim)]
        for p in range(planes)
    ]


def as_double(arr: Column) -> Column:
    """Cast array<float> to array<double> BEFORE any arithmetic — per-element
    widening is exact, so both engines then do identical double math."""
    return F.transform(arr, lambda x: x.cast("double"))


def as_double_sql(expr: str) -> str:
    return f"list_transform({expr}, x -> CAST(x AS DOUBLE))"


def dot(a: Column, b: Column) -> Column:
    """Left-to-right fold of the element products — same summation order as
    the DuckDB twin, hence bit-identical doubles."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_sql(a: str, b: str, dim: int = EMBED_DIM) -> str:
    """Lambda-fold dot product — same IEEE add sequence as the Spark twin's
    F.aggregate fold, so the doubles are bit-identical. DuckDB interprets
    the lambda per element (~12 us/element), which is fine when the dot
    appears a handful of times; in deeply-inlined CTE chains (the iterative
    k-means / IVF / PQ oracles) this compact form is REQUIRED — the
    unrolled variant below makes DuckDB's inlined expression trees blow
    past its memory budget there."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {dim + 1}), i -> {a}[i] * {b}[i])), "
        f"(acc, v) -> acc + v)"
    )


def dot_unrolled_sql(a: str, b: str, dim: int = EMBED_DIM) -> str:
    """Unrolled left-associated dot: ((0.0 + a[1]*b[1]) + a[2]*b[2])...

    Bit-identical fold order to dot_sql, but flat arithmetic that DuckDB
    vectorizes natively (~30x faster than the interpreted lambda). Use
    ONLY where ``a``/``b`` are plain column references in a flat query —
    each operand is textually repeated ``dim`` times, so nesting this
    inside iterated/inlined CTEs multiplies planner memory (observed OOM
    in the k-means-replay oracles)."""
    e = "CAST(0.0 AS DOUBLE)"
    for i in range(1, dim + 1):
        e = f"({e} + {a}[{i}] * {b}[{i}])"
    return e


def dot_weights_sql(weights: list[float], b: str) -> str:
    """Unrolled dot with one side a Python literal vector, inlined per term
    (indexing a literal list per element would replicate the whole list
    dim times in the SQL text). Fold order and operand order match
    dot(plane_lit(w), demb) on the Spark side exactly.

    Weights are inlined as CAST('<repr>' AS DOUBLE): a bare numeric
    literal parses as DECIMAL, and DuckDB's DECIMAL->DOUBLE cast is not
    correctly rounded (observed 1 ulp off for 17-significant-digit
    literals, caught by test_dot_sql_forms_bit_identical) — the
    string->double parse IS correctly rounded and matches Spark's
    F.lit(w) bit-for-bit."""
    e = "CAST(0.0 AS DOUBLE)"
    for i, w in enumerate(weights, start=1):
        e = f"({e} + CAST('{w!r}' AS DOUBLE) * {b}[{i}])"
    return e


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def norm_sql(a: str, dim: int = EMBED_DIM) -> str:
    return f"sqrt({dot_sql(a, a, dim)})"


def cosine(dot_ab: Column, norm_a: Column, norm_b: Column, dp: int = 6) -> Column:
    return F.round(dot_ab / (norm_a * norm_b), dp)


def round6_stable(col: Column) -> Column:
    """6-dp rounding computed as floor(x*1e6 + 0.5)/1e6 in pure double
    arithmetic. Unlike engine round() builtins (which disagree at exact
    half-boundaries because they rescale through decimal differently),
    every step here is an IEEE double op both engines perform
    bit-identically, so the rounded value — and any comparison made on
    it — matches across Spark and DuckDB by construction. Use when a
    rounded value is emitted per-row or drives a decision boundary.

    Domain: |x| < 2^63/1e6 (~9.2e12). Spark's F.floor returns LONG, so
    larger magnitudes overflow where DuckDB's floor (DOUBLE out) does
    not — keep this to ratios/cosines/means and other O(1) values, never
    raw sums at scale."""
    return F.floor(col * F.lit(1e6) + F.lit(0.5)).cast("double") / F.lit(1e6)


def round6_stable_sql(expr: str) -> str:
    return f"(CAST(floor(({expr}) * 1e6 + 0.5) AS DOUBLE) / 1e6)"


def ppm(col: Column) -> Column:
    """floor(x * 1e6 + 0.5) as an int64: the round6_stable quantization
    kept as an exact integer — the rank key of the IVF assignment and
    probe orders, where a raw double cosine can differ by 1 ulp across
    engines on a near-tie and flip the rank."""
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)).cast("long")


def plane_lit(weights: list[float]) -> Column:
    return F.array(*[F.lit(w) for w in weights])


def lsh_bucket(demb: Column, planes: list[list[float]] | None = None) -> Column:
    """Sign-random-projection bucket id: bit p = (dot(w_p, v) >= 0)."""
    planes = planes or hyperplanes()
    bucket = F.lit(0)
    for p, w in enumerate(planes):
        bucket = bucket + F.when(dot(plane_lit(w), demb) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


LSH_TABLES = 8  # hash tables unioned for recall (multi-probe tradeoff)


def lsh_buckets_multi(demb: Column, tables: int = LSH_TABLES,
                      planes: int = LSH_PLANES) -> Column:
    """Array of per-table sign-random-projection bucket ids (each table its
    own pinned hyperplane set). Candidates = collision in ANY table:
    recall 1-(1-p^b)^L instead of p^b — compute traded for recall by L,
    the standard multi-table LSH layout."""
    all_planes = hyperplanes(tables * planes)
    return F.array(*[
        lsh_bucket(demb, all_planes[t * planes:(t + 1) * planes])
        for t in range(tables)
    ])


def lsh_buckets_multi_sql(demb_expr: str, tables: int = LSH_TABLES,
                          planes: int = LSH_PLANES,
                          dim: int = EMBED_DIM) -> str:
    all_planes = hyperplanes(tables * planes)
    exprs = [
        lsh_bucket_sql(demb_expr, all_planes[t * planes:(t + 1) * planes], dim)
        for t in range(tables)
    ]
    return "[" + ", ".join(exprs) + "]"


# ---------------------------------------------------------------- PQ (ADC)
# Product quantization: split the 64-dim vector into PQ_M subspaces of
# PQ_SUB dims, encode each as the index of its nearest codebook centroid
# (PQ_K entries), and score queries against CODES with an asymmetric
# distance table — 8 bytes per vector instead of 256, the layout that
# makes billion-vector scans memory-resident. Codebooks are pinned
# pseudo-random here (production k-means them offline; the plan and the
# arithmetic are identical) and embedded as literals in both engines.

PQ_M = 8    # subspaces
PQ_SUB = EMBED_DIM // PQ_M
PQ_K = 16   # centroids per subspace -> 4-bit codes


def pq_codebook_from(vectors: list[list[float]]) -> list[list[list[float]]]:
    """codebook[s][c] = subspace slice s of training vector c. Centroids
    must live in the data distribution (pinned uniform [-1,1] codebooks
    measured recall ~0 on these ~N(0, 0.125) embeddings); production runs
    k-means per subspace — the first-k pinning keeps it deterministic with
    the identical plan shape. After training, codebooks are always tiny
    driver-side constants broadcast into the encode expressions."""
    return [
        [list(v[s * PQ_SUB:(s + 1) * PQ_SUB]) for v in vectors[:PQ_K]]
        for s in range(PQ_M)
    ]


def _dlit(w: float) -> str:
    """Exact double literal for Spark SQL: repr() is shortest-roundtrip and
    string->double cast is correctly rounded, so the value is bit-preserved."""
    return f"CAST('{repr(w)}' AS DOUBLE)"


def _arr_lit(ws: list[float]) -> str:
    return "array(" + ", ".join(_dlit(w) for w in ws) + ")"


def _l2_fold_expr(a: str, b: str) -> str:
    """Squared L2 as a Spark-SQL fold: zip_with + aggregate, left to right,
    the op order of the DuckDB twin _l2_expr_sql and the in-process
    kmeans._l2_py, hence bit-identical doubles."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")


def pq_codes(demb: str, cb: list[list[list[float]]]) -> Column:
    """array<int> of PQ_M 1-based centroid indices (argmin squared-L2 per
    subspace; first-minimum tie-break via array_position). `demb` is a
    column NAME: the whole expression is built as ONE SQL string parsed
    server-side — the per-element Column-DSL version cost ~4 s of py4j
    round-trips per build (measured r2) for the 128 literal centroids."""
    parts = []
    for s in range(PQ_M):
        sl = f"slice({demb}, {s * PQ_SUB + 1}, {PQ_SUB})"
        dists = "array(" + ", ".join(
            _l2_fold_expr(sl, _arr_lit(cb[s][c])) for c in range(PQ_K)) + ")"
        parts.append(
            f"CAST(array_position({dists}, array_min({dists})) AS INT)")
    return F.expr("array(" + ", ".join(parts) + ")")


def pq_lut_cols(q_demb: str, cb: list[list[list[float]]]) -> list[Column]:
    """Per-query ADC lookup tables: lut[s][c] = l2(q_slice_s, centroid).
    `q_demb` is a column name (single-SQL-string build, see pq_codes)."""
    return [
        F.expr("array(" + ", ".join(
            _l2_fold_expr(
                f"slice({q_demb}, {s * PQ_SUB + 1}, {PQ_SUB})",
                _arr_lit(cb[s][c]))
            for c in range(PQ_K)) + ")")
        for s in range(PQ_M)
    ]


def pq_adc_dist(codes: Column, luts: list[Column], dp: int = 6) -> Column:
    """Asymmetric distance: sum_s lut[s][code[s]] (left-assoc sum, same
    order as the SQL twin)."""
    total = F.element_at(luts[0], F.element_at(codes, 1))
    for s in range(1, PQ_M):
        total = total + F.element_at(luts[s], F.element_at(codes, s + 1))
    return F.round(total, dp)


# --- DuckDB twins. The oracle string must be static across scale factors,
# so it derives the SAME codebook from the table (list-of-lists cb3 on a
# single cross-joined row) instead of baking literals.

def _l2_expr_sql(a_expr: str, b_expr: str, dim: int = PQ_SUB) -> str:
    # Compact lambda fold on purpose — this lands inside the PQ codebook
    # CTE chains, where an unrolled form overruns DuckDB's planner memory
    # (see dot_unrolled_sql).
    terms = (f"list_transform(range(1, {dim + 1}), "
             f"i -> ({a_expr}[i] - {b_expr}[i]) * ({a_expr}[i] - {b_expr}[i]))")
    return (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {terms}), "
            f"(acc, v) -> acc + v)")


def pq_cb_cte_sql(e_cte: str = "e") -> str:
    """CTE fragment producing cbrow(cb3): cb3[s+1][c] = centroid vector."""
    return f"""
    cb AS (SELECT sx.s AS s, {e_cte}.vec_id AS c,
                  list_slice({e_cte}.demb, sx.s * {PQ_SUB} + 1,
                             (sx.s + 1) * {PQ_SUB}) AS cvec
           FROM {e_cte} CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS s) sx
           WHERE {e_cte}.vec_id < {PQ_K}),
    cbl AS (SELECT s, list(cvec ORDER BY c) AS cents FROM cb GROUP BY s),
    cbrow AS (SELECT list(cents ORDER BY s) AS cb3 FROM cbl)"""


def pq_codes_sql(demb_expr: str, cb3: str = "cb3") -> str:
    parts = []
    for s in range(PQ_M):
        sl = f"list_slice({demb_expr}, {s * PQ_SUB + 1}, {(s + 1) * PQ_SUB})"
        dists = (f"list_transform(range(1, {PQ_K + 1}), "
                 f"k -> {_l2_expr_sql(sl, f'{cb3}[{s + 1}][k]')})")
        parts.append(
            f"CAST(list_position({dists}, list_min({dists})) AS INT)")
    return "[" + ", ".join(parts) + "]"


def pq_adc_dist_sql(q_demb_expr: str, codes_expr: str, cb3: str = "cb3",
                    dp: int = 6) -> str:
    terms = []
    for s in range(PQ_M):
        sl = (f"list_slice({q_demb_expr}, {s * PQ_SUB + 1}, "
              f"{(s + 1) * PQ_SUB})")
        terms.append(_l2_expr_sql(sl, f"{cb3}[{s + 1}][{codes_expr}[{s + 1}]]"))
    return f"round({' + '.join(terms)}, {dp})"


def lsh_bucket_sql(demb_expr: str, planes: list[list[float]] | None = None,
                   dim: int = EMBED_DIM) -> str:
    planes = planes or hyperplanes()
    terms = [
        f"(CASE WHEN {dot_weights_sql(w, demb_expr)} >= 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p, w in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")"


# --------------------------------------------- pinned retrieval query

# Pinned pseudo-random query vector shared by the retrieval-shaped
# queries (sim_mmr_diverse_topk, sim_rrf_fusion). Defined HERE — a leaf
# module with no query-module imports — so a Python WORKER re-importing
# one query module never reaches into a partially-initialized sibling
# for these constants (the circular-import class caught by the r7
# llm_ext5 <- llm_ext4 incident: a worker unpickling an llm_ext4 UDF
# re-imports llm_ext4 -> registry -> llm_ext5, whose oracle builder
# then imported llm_ext4 names that did not exist yet at line 34).
PINNED_QUERY_VEC = [((_h32(f"mmr_q_{d}") % 2001) - 1000) / 1000.0
                    for d in range(EMBED_DIM)]
# Norm via the same left-fold add sequence the engines use; each step is
# an IEEE double op and sqrt is correctly rounded by mandate, so the
# literal both plans embed is bit-identical to in-engine evaluation.
_QACC = 0.0
for _w in PINNED_QUERY_VEC:
    _QACC = _QACC + _w * _w
PINNED_QUERY_NORM = math.sqrt(_QACC)

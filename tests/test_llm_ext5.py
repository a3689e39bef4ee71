"""Round-7 late additions (queries/llm_ext5.py): RRF fusion invariants
and Python-reference replication of the fusion arithmetic."""

from __future__ import annotations

import math

import pytest

from nats_stream_processor_spark import registry
from nats_stream_processor_spark.queries import llm_ext5 as x5

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _release():
    yield
    registry.release_pins()


def test_rrf_matches_python_fusion_of_ranker_outputs(spark):
    """Recompute the fusion in Python from the two ranker outputs (BM25's
    query is itself value-certified against its oracle; the dense pool is
    re-derived exactly via the shared left-fold/ppm helpers in
    test_llm_ext4) and compare the fused rows exactly."""
    from tests.test_llm_ext4 import x4
    bm = {r.doc_id: r.rank for r in
          registry.REGISTRY["text_bm25_topk"].fn(spark, SF).collect()}
    registry.release_pins()
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()}

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    rel = {}
    for v, e in vecs.items():
        nrm = math.sqrt(dot(e, e))
        rel[v] = math.floor(dot(x4.MMR_QUERY, e)
                            / (x4.MMR_QNORM * nrm) * 1e6 + 0.5)
    pool = sorted(rel, key=lambda v: (-rel[v], v))[:x5.RRF_POOL]
    dn = {v: i + 1 for i, v in enumerate(pool)}
    scores = {}
    for d in set(bm) | set(dn):
        s = 0
        if d in bm:
            s += 1_000_000_000 // (x5.RRF_K + bm[d])
        if d in dn:
            s += 1_000_000_000 // (x5.RRF_K + dn[d])
        scores[d] = s
    expect = [(d, bm.get(d, 0), dn.get(d, 0), scores[d])
              for d in sorted(scores, key=lambda d: (-scores[d], d))
              [:x5.RRF_TOPK]]
    got = [(r.doc_id, r.rank_bm25, r.rank_dense, r.rrf_score)
           for r in registry.REGISTRY["sim_rrf_fusion"].fn(spark, SF)
           .collect()]
    assert got == expect
    # docs in BOTH pools must outrank equal-rank single-pool docs
    both = [g for g in got if g[1] > 0 and g[2] > 0]
    assert got, "fusion returned nothing"
    if both:
        assert got[0][3] >= max(g[3] for g in got)


def test_ext5_certified_r8_and_rotated_behind():
    """llm_ext5 operators were deliberately OUTSIDE the r7 50-slot
    sample; the r8 rotation led with sim_rrf_fusion and its formal row
    landed in CORRECTNESS_r08 (hash green), so from r9 on it rotates
    BEHIND the window like any other certified-and-unchanged query —
    what stays pinned is that it remains registered with an oracle."""
    ext5 = [n for n, e in registry.REGISTRY.items()
            if e.fn.__wrapped__.__module__.endswith(".llm_ext5")]
    assert ext5 == ["sim_rrf_fusion"]
    for n in ext5:
        assert n in registry.REGISTRY
        assert registry.REGISTRY[n].oracle is not None

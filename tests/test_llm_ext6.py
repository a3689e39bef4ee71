"""Invariants and Python-reference replications for the round-8
extension queries (queries/llm_ext6.py): Flesch readability arithmetic,
exact-substring removal materialization, and cross-modal recall@K.
Each operator is recomputed end-to-end in plain Python over the
sf0.001 corpus and compared row-for-row — independent of the DuckDB
oracle, which shares no code with these references."""

from __future__ import annotations

import hashlib
import math
import re

import pytest

from nats_stream_processor_spark import registry
from nats_stream_processor_spark.queries import llm_ext6 as x6

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _release():
    yield
    registry.release_pins()


def _run(spark, name, sf=SF):
    return registry.REGISTRY[name].fn(spark, sf)


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").collect()


def _toks(text):
    return re.findall("[a-z0-9]+", text.lower())


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


# ------------------------------------------------- Flesch readability


def _flesch_row(text):
    toks = _toks(text)
    n_words = len(toks)
    n_sent = len(re.findall(r"[.!?]+", text))
    n_syl = 0
    for w in toks:
        runs = len(re.findall("[aeiouy]+", w))
        silent = 1 if (w.endswith("e") and runs >= 2) else 0
        n_syl += max(1, runs - silent)
    ww, ss = max(n_words, 1), max(n_sent, 1)
    micro = 206835000 - (1015000 * ww) // ss - (84600000 * n_syl) // ww
    band = "very_difficult"
    for lo, label in x6.FLESCH_BANDS:
        if micro >= lo:
            band = label
            break
    return (n_words, n_sent, n_syl, micro, band)


def test_flesch_matches_python_reference(spark):
    expect = {r.doc_id: _flesch_row(r.text) for r in _docs(spark)}
    got = {r.doc_id: (r.n_words, r.n_sentences, r.n_syllables,
                      r.flesch_micro, r.band)
           for r in _run(spark, "text_flesch_readability").collect()}
    assert got == expect
    bands = {v[4] for v in got.values()}
    assert len(bands) >= 2, f"fixture hit only {bands} — banding vacuous"


def test_flesch_known_values():
    """Hand-checked sentences pin the arithmetic (not just fixture
    agreement): a short simple sentence scores easier than a long
    polysyllabic one."""
    simple = _flesch_row("the cat sat. the dog ran.")
    hard = _flesch_row(
        "notwithstanding considerable organizational heterogeneity "
        "interdepartmental communication necessitates comprehensive "
        "documentation")
    assert simple[3] > hard[3]
    # "the cat sat" tokens: 6 words, 2 sentences, 6 syllables
    assert simple[0] == 6 and simple[1] == 2 and simple[2] == 6


# --------------------------------------- exact-substring removal apply


def test_substring_apply_matches_python_reference(spark):
    from nats_stream_processor_spark.operators.dedup import (
        MERSENNE_P,
        SHINGLE_COMB,
        SPAN_K as K,
    )
    docs = _docs(spark)
    toks = {r.doc_id: _toks(r.text) for r in docs}
    hs = {d: [_h32(t) for t in ts] for d, ts in toks.items()}
    gram_docs = {}
    positions = {}
    for d, h in hs.items():
        positions[d] = []
        for p in range(1, len(h) - K + 2):
            acc = 0
            for x in h[p - 1:p - 1 + K]:
                acc = (acc * SHINGLE_COMB + x) % MERSENNE_P
            positions[d].append((p, acc))
            gram_docs.setdefault(acc, set()).add(d)
    dup = {g for g, ds in gram_docs.items() if len(ds) >= 2}
    expect = {}
    for d, ts in toks.items():
        covered = set()
        for p, g in positions[d]:
            if g in dup:
                covered.update(range(p, p + K))
        kept = [t for i, t in enumerate(ts, start=1) if i not in covered]
        expect[d] = (len(ts), len(ts) - len(kept), " ".join(kept))
    got = {r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_text)
           for r in _run(spark, "dedup_substring_apply").collect()}
    assert got == expect
    assert any(v[1] > 0 for v in got.values()), \
        "no doc had tokens removed — apply path is vacuous"
    assert any(v[1] == 0 for v in got.values()), \
        "every doc was trimmed — suspicious for the fixture corpus"


def test_substring_apply_consistent_with_removal_plan(spark):
    """The apply query's n_removed must equal the r4 plan query's
    tokens_covered for every doc — same spans, same union, one
    reported and one materialized."""
    plan = {r.doc_id: r.tokens_covered
            for r in _run(spark, "dedup_span_removal_plan").collect()}
    registry.release_pins()
    got = {r.doc_id: r.n_removed
           for r in _run(spark, "dedup_substring_apply").collect()}
    assert got == plan


# --------------------------------------------- cross-modal recall@K


def test_crossmodal_recall_matches_python_reference(spark):
    embs = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in embs}

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def fold_norm(v):
        acc = 0.0
        for x in v:
            acc = acc + x * x
        return math.sqrt(acc)

    from nats_stream_processor_spark.operators import similarity as sim
    planes = sim.hyperplanes(sim.LSH_TABLES * sim.LSH_PLANES)

    def buckets(v):
        out = []
        for t in range(sim.LSH_TABLES):
            b = 0
            for p in range(sim.LSH_PLANES):
                if fold_dot(planes[t * sim.LSH_PLANES + p], v) >= 0.0:
                    b += 1 << p
            out.append(b)
        return out

    doc_b = {vid: buckets(v) for vid, v in vecs.items()}
    expect = {}
    for q in range(x6.XM_NQ):
        qv, qn, qb = x6.XM_QVECS[q], x6.XM_QNORMS[q], x6.XM_QBUCKETS[q]
        scored = []
        for vid, v in vecs.items():
            ppm = math.floor(fold_dot(qv, v) / (qn * fold_norm(v))
                             * 1e6 + 0.5)
            cand = any(doc_b[vid][t] == qb[t]
                       for t in range(sim.LSH_TABLES))
            scored.append((vid, ppm, cand))
        order = sorted(scored, key=lambda r: (-r[1], r[0]))
        exact = {vid for vid, _, _ in order[:x6.XM_TOPK]}
        cands = [r for r in order if r[2]]
        ann = {vid for vid, _, _ in cands[:x6.XM_TOPK]}
        hits = len(exact & ann)
        expect[q] = (len(cands), hits, hits * 1000000 // x6.XM_TOPK)
    got = {r.query_id: (r.n_candidates, r.n_hits, r.recall_ppm)
           for r in _run(spark, "sim_crossmodal_recall").collect()}
    assert got == expect
    assert any(v[1] > 0 for v in got.values()), \
        "zero hits on every query — recall eval is vacuous"
    assert any(v[0] < len(vecs) for v in got.values()), \
        "every vector is a candidate for some query — LSH never prunes"


# --------------------------------------------------- video scene cuts


def test_scene_cuts_matches_python_reference(spark):
    docs = _docs(spark)
    expect = {}
    for r in docs:
        p = r.text.encode("utf-8")
        n = len(p)
        step = x6.SCENE_WINDOW // x6.SCENE_SAMPLES
        feats = []
        for j in range(x6.SCENE_FRAMES):
            off = (j * n) // x6.SCENE_FRAMES
            feats.append(sum(p[off + s * step]
                             for s in range(x6.SCENE_SAMPLES)
                             if off + s * step < n))
        ads = [0] + [abs(b - a) for a, b in zip(feats, feats[1:])]
        cuts = [1 if a >= x6.SCENE_THRESH else 0 for a in ads]
        shot_len = {}
        sid = 0
        for i, c in enumerate(cuts):
            sid += c
            shot_len[sid] = shot_len.get(sid, 0) + 1
        expect[r.doc_id] = (sum(cuts), sum(cuts) + 1,
                            max(shot_len.values()), sum(ads))
    got = {r.doc_id: (r.n_cuts, r.n_shots, r.max_shot_frames,
                      r.total_delta)
           for r in _run(spark, "media_scene_cuts").collect()}
    assert got == expect
    # the detector must discriminate WITHIN videos: at least one doc
    # where some transitions cut and some do not
    assert any(0 < v[0] < x6.SCENE_FRAMES - 1 for v in got.values())


# --------------------------------------------- WordPiece greedy apply


def test_wordpiece_matches_python_reference(spark):
    from collections import Counter
    docs = _docs(spark)
    wc = Counter()
    for r in docs:
        wc.update(_toks(r.text))
    counts = {}
    for w, c in wc.items():
        for i in range(len(w)):
            for l in range(1, min(x6.WP_MAX_PIECE, len(w) - i) + 1):
                key = (w[i:i + l], 0 if i == 0 else 1)
                counts[key] = counts.get(key, 0) + c
    vocab = {0: set(), 1: set()}
    multi = {0: [], 1: []}
    for (p, ic), c in counts.items():
        if len(p) == 1:
            vocab[ic].add(p)
        else:
            multi[ic].append((-c, p))
    for ic in (0, 1):
        for _, p in sorted(multi[ic])[:x6.WP_VOCAB_K]:
            vocab[ic].add(p)
    words = sorted((w for w in wc if len(w) <= x6.WP_WORD_MAXLEN),
                   key=lambda w: (-wc[w], w))[:x6.WP_WORDS_K]
    expect = {}
    for word in words:
        pos, segs, ncont = 0, [], 0
        while pos < len(word):
            v = vocab[0] if pos == 0 else vocab[1]
            l = min(x6.WP_MAX_PIECE, len(word) - pos)
            while l > 1 and word[pos:pos + l] not in v:
                l -= 1
            piece = word[pos:pos + l]
            segs.append(piece if pos == 0 else "##" + piece)
            ncont += 0 if pos == 0 else 1
            pos += l
        expect[word] = (len(segs), "|".join(segs), ncont)
    got = {r.word: (r.n_pieces, r.seg, r.n_cont)
           for r in _run(spark, "tokenizer_wordpiece_apply").collect()}
    assert got == expect
    assert any(v[0] >= 2 for v in got.values()), \
        "no word split into pieces — greedy path is vacuous"
    assert any("##" in v[1] for v in got.values()), \
        "no continuation piece ever used"
    assert any(v[0] == 1 for v in got.values()), \
        "every word split — top words should often be whole pieces"


def test_wordpiece_greedy_differs_from_unigram_viterbi(spark):
    """The two tokenizers must be genuinely different algorithms, not
    the same query twice: on the same corpus the greedy longest-match
    segmentation disagrees with the max-likelihood Viterbi segmentation
    on at least one shared word (stripping the '##' markers)."""
    wp = {r.word: r.seg.replace("##", "")
          for r in _run(spark, "tokenizer_wordpiece_apply").collect()}
    registry.release_pins()
    uni = {r.word: r.seg
           for r in _run(spark, "tokenizer_unigram_viterbi").collect()}
    shared = set(wp) & set(uni)
    assert shared, "tokenizers scored disjoint word panels"
    assert any(wp[w] != uni[w] for w in shared), \
        "greedy and Viterbi agreed everywhere — suspicious"


def test_substring_apply_excludes_over_cap_docs(spark, tmp_path):
    """The SUBSTR_MAX_DOC_TOKENS guard: a doc at/over the cap is
    excluded outright on BOTH engines — it emits no output row AND
    contributes no duplication evidence (a span it shares with exactly
    one normal doc stays un-removed). Docs 0/1 share span A (removed);
    the over-cap doc 2 shares span B with doc 0 only (kept). Output at
    the shipped fixtures is unchanged by the guard — no fixture doc
    comes near 2^20 tokens."""
    import duckdb

    span_a = " ".join(f"aa{i}" for i in range(16))
    span_b = " ".join(f"bb{i}" for i in range(16))
    big = span_b + " " + " ".join(
        "zz" for _ in range(x6.SUBSTR_MAX_DOC_TOKENS))
    docs = [
        (0, f"{span_a} left {span_b} tail0"),
        (1, f"{span_a} tail1"),
        (2, big),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))

    entry = registry.REGISTRY["dedup_substring_apply"]
    rows = {r.doc_id: r for r in entry.fn(spark, str(tmp_path)).collect()}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet/*.parquet'")
    oracle = {r[0]: r for r in con.sql(entry.oracle).fetchall()}

    assert set(rows) == {0, 1}, "over-cap doc must emit no row"
    assert set(oracle) == {0, 1}
    for did in (0, 1):
        r = rows[did]
        assert (r.doc_id, r.n_tokens, r.n_removed, r.cleaned_text) \
            == tuple(oracle[did])
    # span A (cross-doc duplicated among in-cap docs) removed everywhere;
    # span B survived in doc 0 because its only other holder is excluded.
    assert "aa0" not in rows[0].cleaned_text
    assert "aa0" not in rows[1].cleaned_text
    assert "bb0" in rows[0].cleaned_text
    assert rows[0].n_removed == 16
    assert rows[1].n_removed == 16

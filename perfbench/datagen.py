"""Seeded inputs for the benchmark: the ten parquet tables the registry
queries read, and JSON posts for the streaming workloads.

The tables follow the schemas and value ranges of the synthetic star
schema the query oracles were written against (one parquet file per table,
``scale`` rows relative to a scale-factor-1 database). Everything is a pure
function of the seed, so the same seed gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# The document vocabulary. The sentiment and topic lexicons of the package
# were tuned on these words; "dup" marks a planted near-duplicate.
WORDS = ("a the data row column table key value part line order customer "
         "query scan filter join merge sort group agg hash window stream "
         "batch spark vector fast slow big small").split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
P_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
COLORS = ("red", "blue", "green", "black", "white", "small", "large", "steel")
NOUNS = ("widget", "bolt", "ring", "gear", "pipe", "valve", "plate", "spring")
LANGS = (("en", 0.43), ("zh", 0.15), ("es", 0.14), ("fr", 0.14), ("de", 0.14))
EMBED_DIM = 64


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def documents(seed: int, n: int) -> pd.DataFrame:
    """Random-word documents; about 5% are near-duplicates of an earlier
    document with one word replaced by ``dup``."""
    rng = np.random.default_rng([seed, 1])
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, int(rng.integers(10, 101))))
    langs, weights = zip(*LANGS)
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(langs, n, p=weights),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def tables(seed: int, scale: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng([seed, 0])
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 100)
    n_ord = max(int(1_500_000 * scale), 500)
    n_li = 4 * n_ord
    n_ev = max(int(1_000_000 * scale), 1000)
    n_users = max(int(15_000 * scale), 20)
    n_doc = max(int(50_000 * scale), 200)

    ev_ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                    + rng.integers(0, 30 * 86_400 * 10**6, n_ev)
                    .astype("timedelta64[us]"))
    emb = rng.standard_normal((n_doc, EMBED_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": list(REGIONS)}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -1000, 10_000),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)}),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -1000, 10_000)}),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{COLORS[c]} {NOUNS[k]}" for c, k in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(P_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(("O", "F", "P"), n_ord),
            "o_totalprice": _money(rng, n_ord, 1000, 500_000),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)}),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900, 105_000),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": rng.choice(("A", "N", "R"), n_li),
            "l_linestatus": rng.choice(("O", "F"), n_li),
            "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4))}),
        "events": pd.DataFrame({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ev_ts,
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        "documents": documents(seed, n_doc),
        "embeddings": pd.DataFrame({
            "vec_id": np.arange(n_doc, dtype=np.int64),
            "embedding": list(emb),
            "label": rng.integers(0, 10, n_doc).astype(np.int32)}),
    }


_ARROW_TYPES = {"embedding": pa.list_(pa.float32())}


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(seed, scale).items():
        schema = pa.Schema.from_pandas(df, preserve_index=False)
        for col, typ in _ARROW_TYPES.items():
            if col in df.columns:
                schema = schema.set(schema.get_field_index(col), pa.field(col, typ))
        pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False),
                       f"{out_dir}/{name}.parquet")


# ------------------------------------------------------------------ posts

# Share of post slots that re-send an earlier post unchanged.
REPLAY_FRAC = 0.05


def iso(t: float) -> str:
    """ISO-8601 UTC time with microseconds, as posts carry ``created_at``."""
    return dt.datetime.fromtimestamp(t, dt.timezone.utc).isoformat(
        timespec="microseconds")


def post(seed: int, i: int, text: str, created_at: str) -> str:
    """One post message as the service receives it (RAW_POST_SCHEMA).
    Each post gets a fresh ``(uri, cid)`` key."""
    return json.dumps({"uri": f"at://bench/{seed}/{i}", "cid": f"c{seed}-{i}",
                       "author": f"did:plc:bench{i % 97}", "text": text,
                       "created_at": created_at})


def post_slots(seed: int, n: int):
    """Yield ``n`` post slots as ``(post_index, is_replay)``: fresh posts
    count up from 0, and about ``REPLAY_FRAC`` of the slots re-send an
    earlier post unchanged (a redelivery the dedup stage must drop)."""
    rng = np.random.default_rng([seed, 2])
    fresh = 0
    for _ in range(n):
        if fresh > 0 and rng.random() < REPLAY_FRAC:
            yield int(rng.integers(0, fresh)), True
        else:
            yield fresh, False
            fresh += 1


def post_lines(seed: int, texts: list[str], n: int, stamp) -> list[str]:
    """The messages of ``n`` post slots. A fresh post takes its text from
    the corpus and ``created_at = stamp(slot)``; a replay repeats its
    original message byte for byte."""
    sent: dict[int, str] = {}
    lines = []
    for slot, (i, replay) in enumerate(post_slots(seed, n)):
        if not replay:
            sent[i] = post(seed, i, texts[(i * 7919 + seed) % len(texts)], stamp(slot))
        lines.append(sent[i])
    return lines

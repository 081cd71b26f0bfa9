"""Seeded generator for the benchmark's input directories.

Writes the ten fixture tables the engine reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
schemas and value ranges documented in FIXTURES.md. Every column is drawn
from one ``numpy`` generator seeded by the workload seed, and parquet is
written with fixed writer settings, so the same seed gives byte-identical
files.

``generate(..., dedup=...)`` replaces the documents table with a
near-duplicate corpus whose structure does not depend on the seed (see
:func:`dedup_texts`); the seed only picks the tokens.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE")
P_TYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
P_ADJ = "red small hot old blue big new cold".split()
P_NOUN = "ring widget bolt plate rod gear nut pipe".split()
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
DAY_US = 86_400_000_000


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(
        pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
        compression="snappy", row_group_size=1 << 24,
    )


def _days(base: dt.date, offsets: np.ndarray) -> pa.Array:
    epoch = (base - dt.date(1970, 1, 1)).days
    return pa.array((epoch + offsets).astype("int64") * DAY_US, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n: int, lo: int = 8, vocab=VOCAB) -> list[str]:
    lens = rng.integers(lo, 90, n)
    toks = rng.integers(0, len(vocab), int(lens.sum()))
    out, at = [], 0
    for m in lens:
        out.append(" ".join(vocab[t] for t in toks[at:at + m]))
        at += m
    return out


def _documents(rng, texts: list[str]) -> dict:
    n = len(texts)
    ids = np.arange(n, dtype="int64")
    return {
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


#: Base-document vocabulary of the dedup corpus: large enough that two
#: unrelated documents never share an LSH band bucket, so no accidental
#: edge merges two planted clusters.
DEDUP_VOCAB = tuple(f"w{i}" for i in range(1000))
#: Marker tokens appended to planted variants: one per variant, each
#: adding a single 3-word shingle to its base document.
MARKERS = ("dup", "copy", "near", "again", "more", "echo")


def dedup_texts(rng, n_base: int, clusters: int, variants: int, viral: int) -> list[str]:
    """Base documents followed by planted near-duplicates.

    ``clusters`` base documents each get ``variants`` (at most
    ``len(MARKERS)``) copies with a distinct marker token appended: a
    Jaccard of at least 0.95 on 3-word shingles, so every variant shares
    at least one LSH band bucket with its base with near certainty. One
    more base document gets ``viral`` identical copies, a band bucket far
    larger than ``LSH_BUCKET_CAP``. Base documents take the low doc_ids and
    the (shuffled) variants the ids after them, so each cluster's
    representative is its base and every member is at most two star edges
    from it: connected components converges in its first round on every
    seed. A variant that shares no bucket with any cluster mate (rare)
    only drops out of its cluster."""
    if variants > len(MARKERS):
        raise ValueError(f"at most {len(MARKERS)} variants per cluster")
    base = _texts(rng, n_base, lo=24, vocab=DEDUP_VOCAB)
    extra = [
        f"{base[c]} {MARKERS[v]}" for c in range(clusters) for v in range(variants)
    ]
    extra += [f"{base[clusters]} viral"] * viral
    return base + [extra[i] for i in rng.permutation(len(extra))]


def generate(out_dir: str, seed: int, sf: float, dedup: dict | None = None) -> None:
    """Write all ten tables at scale factor ``sf`` into ``out_dir``.

    ``dedup`` (keyword arguments of :func:`dedup_texts`) swaps the
    documents table for the near-duplicate corpus."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype="int32"), "r_name": list(REGIONS),
    })
    nk = np.arange(25, dtype="int32")
    _write(out_dir, "nation", {
        "n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": (nk % 5).astype("int32"),
    })
    ck = np.arange(n_cust, dtype="int64")
    _write(out_dir, "customer", {
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp, dtype="int64")
    _write(out_dir, "supplier", {
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype="int64")
    price = np.round(900.0 + (pk % 1000) * 0.1, 1)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": price,
    })
    ok = np.arange(n_ord, dtype="int64")
    odate = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": [("P", "O", "F")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(dt.date(1995, 1, 1), odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_ok = np.repeat(ok, lines)
    l_no = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    l_pk = rng.integers(0, n_part, n_li).astype("int64")
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(out_dir, "lineitem", {
        "l_orderkey": l_ok,
        "l_partkey": l_pk,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": l_no.astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[l_pk] * rng.uniform(0.9, 2.1, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(dt.date(1995, 1, 2), rng.integers(0, 2498, n_li)),
    })
    span_us = 30 * DAY_US
    ts0 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * DAY_US
    ts = ts0 + np.sort(rng.integers(0, span_us, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(np.maximum(rng.lognormal(3.5, 1.0, n_ev), 0.01), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    texts = dedup_texts(rng, **dedup) if dedup else _texts(rng, n_docs)
    _write(out_dir, "documents", _documents(rng, texts))
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, 64))
    emb = centers[labels] + rng.normal(0.0, 0.8, (n_vec, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })

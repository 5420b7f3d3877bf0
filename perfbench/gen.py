"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(out_dir, seed, size)``: the
same seed writes the same parquet bytes' worth of rows, so two runs
with one seed measure identical inputs.  Pure numpy + pyarrow, so the
inputs exist before any Spark session does.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Word inventory of the TESTDATA.md ``documents`` table: a small
# shared vocabulary, so shingle sets overlap and the dedup, LSH and
# TF-IDF queries find real structure.
WORDS = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream "
    "merge data vector join customer"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(8, 100, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(WORDS[i] for i in idx[pos:pos + k]))
        pos += k
    return out


def _day_stamps(rng, n, lo: datetime, n_days: int) -> np.ndarray:
    base = np.datetime64(lo, "us")
    return base + (rng.integers(0, n_days, n) * 86_400_000_000).astype("timedelta64[us]")


def query_tables(out_dir: str, seed: int, sf: float) -> int:
    """The ten TPC-H-ish + corpus tables the headline queries read,
    in the schemas of TESTDATA.md at scale factor ``sf``.
    Returns the total row count."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = n_emb = int(50_000 * sf)
    total = 0
    total += _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    total += _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    total += _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    total += _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(["blue", "hot", "small", "old", "cold", "red", "new", "large"])
    noun = np.array(["anvil", "bolt", "gear", "widget", "ring", "rod", "plate", "gizmo"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    total += _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    total += _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _day_stamps(rng, n_ord, datetime(1995, 1, 1), 2405),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    total += _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _day_stamps(rng, n_li, datetime(1995, 1, 2), 2499),
    })
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    total += _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, n_ev // 66), n_ev).astype(np.int64),
        "event_type": np.array(["click", "view", "signup", "purchase", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _texts(rng, n_doc)
    # a few exact duplicates, as in the TESTDATA.md corpus
    for i in rng.choice(n_doc, max(1, n_doc // 600), replace=False):
        texts[i] = texts[(i + 1) % n_doc]
    total += _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.2, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    total += _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return total


def corpus_increments(
    out_dir: str, text_seed: int, seed: int, n_docs: int, n_increments: int
) -> tuple[list[str], dict[int, int]]:
    """``n_increments`` parquet increments of (doc_id, text), each of
    ``n_docs // n_increments`` TESTDATA.md-shaped documents (texts drawn
    from ``text_seed``, their order from ``seed``) plus a fifth as
    many near-duplicate copies (a few words replaced).  Half of an
    increment's copies come from its own documents, the rest from
    earlier increments (the first increment's from its own), so every
    later increment holds within- and cross-increment pairs.  Equal
    sizes keep each pass's work comparable across seeds.  Returns the
    paths and the source id of every copy."""
    per = n_docs // n_increments
    base = _texts(np.random.default_rng(text_seed), per * n_increments)
    rng = np.random.default_rng(seed)
    texts = [base[i] for i in rng.permutation(len(base))]
    n_copies = per // 5
    os.makedirs(out_dir, exist_ok=True)
    paths, source_of = [], {}
    for k in range(n_increments):
        ids = list(range(k * per, (k + 1) * per))
        earlier = np.arange(k * per) if k else np.array(ids)
        sources = [*rng.choice(ids, n_copies - n_copies // 2, replace=False),
                   *rng.choice(earlier, n_copies // 2, replace=False)]
        for i in sources:
            words = texts[i].split()
            for j in rng.choice(len(words), max(1, len(words) // 20), replace=False):
                words[j] = WORDS[rng.integers(0, len(WORDS))]
            source_of[len(texts)] = int(i)
            ids.append(len(texts))
            texts.append(" ".join(words))
        path = os.path.join(out_dir, f"inc{k}.parquet")
        pq.write_table(pa.table({
            "doc_id": np.array(ids, dtype=np.int64), "text": [texts[i] for i in ids],
        }), path)
        paths.append(path)
    return paths, source_of

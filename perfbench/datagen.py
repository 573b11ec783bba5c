"""Seeded input generators for the benchmark.

Everything here is a pure function of its seed: the same seed writes
byte-identical parquet. The shapes follow the repository's committed
test data (single-space-joined words from a 30-word vocabulary,
10-100 tokens, i.e. 44-577 characters; a TPC-H-like star schema plus
an events stream and 64-d unit embeddings), so the registry queries
and their DuckDB oracles behave as they do on that data.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
DIM = 64

# dedup_minhash_lsh's defaults: word 3-shingles, 8 hashes, 4 bands x 2 rows.
_SHINGLE, _HASHES, _BANDS, _ROWS = 3, 8, 4, 2


def texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` documents of 10-100 words drawn uniformly from VOCAB."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[at : at + k]))
        at += k
    return out


def _md5_int(s: str, hex_width: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:hex_width], 16)


def lsh_bands(text: str) -> set[tuple[int, int, int]]:
    """(band, h_a, h_b) keys of ``dedup_minhash_lsh`` with its defaults,
    recomputed in Python: two docs are candidates iff they share one."""
    toks = text.split(" ")
    shingles = {" ".join(toks[i : i + _SHINGLE]) for i in range(len(toks) - _SHINGLE + 1)}
    pairs = [(_md5_int(f"0:{s}", 15), _md5_int(f"1:{s}", 14)) for s in shingles if s]
    if not pairs:
        return set()
    sig = [min(a + r * b for a, b in pairs) for r in range(_HASHES)]
    return {(b, *sig[b * _ROWS : (b + 1) * _ROWS]) for b in range(_BANDS)}


def corpus(seed: int, n_docs: int, dup_frac: float = 0.05) -> tuple[pa.Table, list[tuple[int, int]]]:
    """Documents table plus planted near-duplicate pairs.

    A planted copy is an earlier document with one token (" dup")
    appended. Copies are kept only where the pair shares an LSH band,
    so every planted pair must come back as a candidate."""
    rng = np.random.default_rng([seed, 1])
    docs = texts(rng, n_docs)
    n_dup = int(n_docs * dup_frac)
    copies = rng.choice(np.arange(n_docs // 2, n_docs), n_dup, replace=False)
    planted = []
    for c in sorted(int(x) for x in copies):
        for src in rng.integers(0, n_docs // 2, 8):
            src = int(src)
            cand = docs[src] + " dup"
            if lsh_bands(docs[src]) & lsh_bands(cand):
                docs[c] = cand
                planted.append((src, c))
                break
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(docs, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in docs], pa.int64()),
        }
    ), planted


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> pa.Array:
    d = np.datetime64(start, "D") + rng.integers(0, n_days, n)
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten registry tables at scale factor ``sf`` (row counts as in
    the committed test data: lineitem = 6M x sf, documents and
    embeddings at least 500)."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_ord, n_line = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp, n_ev = int(200_000 * sf), int(10_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_vec = int(15_000 * sf), max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", 2499, n_line),
        }
    )
    gaps = rng.exponential(30 * 86400 / n_ev, n_ev)
    ts_us = np.datetime64("2024-01-01T00:00:00", "us") + (np.cumsum(gaps) * 1e6).astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = corpus(seed, n_docs)[0]
    labels = rng.integers(0, 10, n_vec)
    centers = rng.standard_normal((10, DIM)) * 0.5
    vecs = rng.standard_normal((n_vec, DIM)) + centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

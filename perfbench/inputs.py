"""Seeded input generators. The program only ever sees what these write:
the same seed gives byte-identical inputs.

The shapes follow the repo's fixture schema (TESTDATA.md): a TPC-H-like
star schema, a document corpus and an embedding table, so the registry's
builders and oracle SQL texts run on them unchanged.
"""

from __future__ import annotations

import os
from datetime import date

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
VOCAB = (
    "query row stream the part column order scan a slow agg key window "
    "table merge vector join batch sort value hash filter big data dup "
    "spark line small fast group customer"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
EMB_DIM = 64


def _write(out_dir: str, name: str, cols: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: date, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _pick(rng, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def tpch_tables(seed: int, sf: float, out_dir: str) -> None:
    """The eight-table TPC-H-like fixture at scale ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, date(1995, 1, 1), 2405, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, date(1995, 1, 2), 2499, n_li),
    })


NEAR_DUP_SHARE = 0.2


def corpus_batch(seed: int, batch: int, n_docs: int, out_dir: str) -> None:
    """One document batch plus one embedding batch.

    ``NEAR_DUP_SHARE`` of the documents copy an earlier document with
    about a tenth of its tokens replaced, and the same share of vectors
    copy an earlier vector with small noise; a further 3% are exact text
    copies. The near-duplicate share sets how many rows land in the same
    LSH buckets."""
    rng = np.random.default_rng([seed, 2, batch])
    vocab = np.asarray(VOCAB, dtype=object)
    docs: list[list[str]] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < NEAR_DUP_SHARE:
            toks = list(docs[rng.integers(0, i)])
            for j in rng.choice(len(toks), max(1, len(toks) // 10), replace=False):
                toks[j] = vocab[rng.integers(0, len(vocab))]
        elif i > 0 and r < NEAR_DUP_SHARE + 0.03:
            toks = list(docs[rng.integers(0, i)])
        else:
            toks = list(vocab[rng.integers(0, len(vocab), rng.integers(8, 91))])
        docs.append(toks)
    text = [" ".join(t) for t in docs]
    first = batch * n_docs  # ids stay unique across batches
    _write(out_dir, "documents", {
        "doc_id": np.arange(first, first + n_docs, dtype=np.int64),
        "text": text,
        "lang": _pick(rng, LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.asarray([len(t) for t in text], dtype=np.int64),
    })
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    label = rng.integers(0, 10, n_docs)
    vecs = centers[label] + rng.normal(0.0, 1.2, (n_docs, EMB_DIM))
    for i in range(1, n_docs):
        if rng.random() < NEAR_DUP_SHARE:
            src = rng.integers(0, i)
            vecs[i] = vecs[src] + rng.normal(0.0, 0.05, EMB_DIM)
            label[i] = label[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(first, first + n_docs, dtype=np.int64),
        "embedding": pa.array(
            list(vecs.astype(np.float32)), pa.list_(pa.float32())
        ),
        "label": label.astype(np.int32),
    })


class ChangeStream:
    """Seeded change batches over integer order keys, applied to an
    in-memory model of the table so every commit can be checked.

    Each batch mixes inserts of new keys, updates and deletes in fixed
    shares; updates and deletes are skewed so half of them hit the
    hottest 5% of live keys. No key appears twice in a batch."""

    N_GROUPS = 40

    def __init__(self, seed: int, n_initial: int):
        self.rng = np.random.default_rng([seed, 3])
        self.model = {
            k: (f"g{k % self.N_GROUPS}", int(v))
            for k, v in enumerate(self.rng.integers(1, 10_000, n_initial))
        }
        self.next_key = n_initial

    def rows(self) -> list[tuple[int, str, int]]:
        return [(k, g, v) for k, (g, v) in sorted(self.model.items())]

    INSERT_SHARE, DELETE_SHARE = 0.4, 0.15  # the rest are updates

    def batch(self, size: int) -> dict:
        """Returns ``{"k", "g", "v", "op"}`` columns; ``op`` is 'U' for
        an insert or update and 'D' for a delete."""
        rng = self.rng
        live = sorted(self.model)
        hot = live[: max(1, len(live) // 20)]
        out: dict[int, tuple[str, int, str]] = {}
        while len(out) < size:
            r = rng.random()
            if r < self.INSERT_SHARE:
                k = self.next_key
                self.next_key += 1
                out[k] = (f"g{k % self.N_GROUPS}", int(rng.integers(1, 10_000)), "U")
                continue
            pool = hot if rng.random() < 0.5 else live
            k = int(pool[rng.integers(0, len(pool))])
            if k in out:
                continue
            g = self.model[k][0]
            if r < self.INSERT_SHARE + self.DELETE_SHARE:
                out[k] = (g, 0, "D")
            else:
                out[k] = (g, int(rng.integers(1, 10_000)), "U")
        for k, (g, v, op) in out.items():
            if op == "D":
                self.model.pop(k)
            else:
                self.model[k] = (g, v)
        ks = sorted(out)
        return {
            "k": np.asarray(ks, dtype=np.int64),
            "g": [out[k][0] for k in ks],
            "v": np.asarray([out[k][1] for k in ks], dtype=np.int64),
            "op": [out[k][2] for k in ks],
        }

"""Seeded input generators for the benchmark.

``write_tables`` writes the ten catalog tables (the TPC-H-like star
schema, ``events``, ``documents`` and ``embeddings``) as one parquet
file each, with the column names, types and value distributions of the
engine's test fixtures. ``write_corpus`` writes the MapReduce text
corpus: whole files of Zipf-distributed words, grouped into job
directories. The same seed always gives the same bytes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.44, 0.14, 0.14, 0.14)


@dataclass(frozen=True)
class TableSizes:
    """Row counts; ``lineitem`` and its parents follow TPC-H ratios."""

    orders: int = 15_000
    documents: int = 500
    embeddings: int = 500
    events: int = 10_000

    @property
    def customer(self) -> int:
        return max(10, self.orders // 10)

    @property
    def supplier(self) -> int:
        return max(10, self.orders // 150)

    @property
    def part(self) -> int:
        return max(10, self.orders // 15 * 2)

    @property
    def lineitem(self) -> int:
        return self.orders * 4


def _day_stamps(rng: np.random.Generator, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def _money(values: np.ndarray) -> np.ndarray:
    return np.round(values, 2)


def _write(out_dir: str, name: str, columns: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as the dedup and
            # decontamination queries expect to find
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        k = int(rng.integers(10, 100))
        texts.append(" ".join(DOC_WORDS[j] for j in rng.integers(0, len(DOC_WORDS), k)))
    return texts


def write_tables(out_dir: str, seed: int, sizes: TableSizes) -> int:
    """Write every catalog table under ``out_dir``; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = sizes.customer, sizes.supplier, sizes.part
    n_ord, n_li = sizes.orders, sizes.lineitem

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, n_cust))),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, n_supp))),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng.uniform(1000, 500_000, n_ord))),
        "o_orderdate": pa.array(_day_stamps(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(qty * rng.uniform(900, 2100, n_li))),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(("A", "N", "R"))[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(("F", "O"))[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_day_stamps(rng, n_li, "1995-01-02", "2001-11-04")),
    })
    n_ev = sizes.events
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.sort(start + rng.integers(0, span_us, n_ev)).astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(10, n_ev // 66), n_ev).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.maximum(0.01, _money(rng.exponential(50.0, n_ev)))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts = _documents(rng, sizes.documents)
    n_doc = len(texts)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    n_emb = sizes.embeddings
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.3 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return sum(
        os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir)
    )


@dataclass(frozen=True)
class CorpusSpec:
    """A MapReduce corpus: ``jobs`` directories of ``files_per_job`` whole
    text files, ``tokens_per_file`` Zipf(``zipf_s``) words each over a
    vocabulary of ``vocab`` words."""

    jobs: int = 8
    files_per_job: int = 8
    tokens_per_file: int = 2_000
    vocab: int = 20_000
    zipf_s: float = 1.1
    words_per_line: int = 12


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(2, 10)))])
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def write_corpus(out_dir: str, seed: int, spec: CorpusSpec) -> list[str]:
    """Write the corpus; returns the job directories in job order."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, spec.vocab)
    ranks = np.arange(1, spec.vocab + 1, dtype=np.float64)
    p = ranks ** -spec.zipf_s
    p /= p.sum()
    job_dirs = []
    for j in range(spec.jobs):
        job_dir = os.path.join(out_dir, f"job_{j:02d}")
        os.makedirs(job_dir, exist_ok=True)
        for f in range(spec.files_per_job):
            ids = rng.choice(spec.vocab, spec.tokens_per_file, p=p)
            words = [vocab[i] for i in ids]
            lines = [
                " ".join(words[k : k + spec.words_per_line])
                for k in range(0, len(words), spec.words_per_line)
            ]
            with open(os.path.join(job_dir, f"part_{f:03d}.txt"), "w") as fh:
                fh.write("\n".join(lines) + "\n")
        job_dirs.append(job_dir)
    return job_dirs

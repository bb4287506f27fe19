"""Seeded input generator.

Everything a workload feeds the program comes from here, so one seed gives
byte-identical files: the BM25 corpus (parquet ``documents`` table), the
query stream, the lifecycle delta (reference-format TSV), edit and delete
batches, and the registry fixture (TPC-H-ish star schema + events,
documents, embeddings).

Corpus terms are ASCII lowercase words, so the DuckDB oracle's plain
space split agrees with the engine's Unicode tokenizer on every token.
"""

from __future__ import annotations

import datetime as dt
import os
import string
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZIPF_S = 1.0
HEAD_RANKS = 200  # "head" terms: long postings lists


@dataclass(frozen=True)
class CorpusSpec:
    docs: int
    vocab: int
    mean_tokens: int


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per input kind: adding a draw to one kind never
    shifts another kind's inputs."""
    return np.random.default_rng([seed, *stream.encode()])


def vocabulary(seed: int, size: int) -> list[str]:
    rng = _rng(seed, "vocab")
    letters = np.array(list(string.ascii_lowercase))
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < size:
        n = int(rng.integers(3, 11))
        w = "".join(rng.choice(letters, n))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_cdf(size: int) -> np.ndarray:
    w = 1.0 / np.arange(1, size + 1) ** ZIPF_S
    return np.cumsum(w / w.sum())


def _texts(rng: np.random.Generator, vocab: list[str], n: int, mean: int) -> list[str]:
    cdf = _zipf_cdf(len(vocab))
    lengths = rng.integers(mean // 3, 2 * mean - mean // 3 + 1, n)
    ids = np.searchsorted(cdf, rng.random(int(lengths.sum())), side="right")
    ids = np.minimum(ids, len(vocab) - 1)
    words = np.array(vocab, dtype=object)[ids]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    return [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]


def corpus(seed: int, spec: CorpusSpec) -> tuple[list[int], list[str]]:
    vocab = vocabulary(seed, spec.vocab)
    texts = _texts(_rng(seed, "corpus"), vocab, spec.docs, spec.mean_tokens)
    return list(range(spec.docs)), texts


def write_documents(path: str, ids: list[int], texts: list[str]) -> None:
    """The ``documents`` table shape ``read_documents`` reads."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}),
        os.path.join(path, "documents.parquet"),
    )


def write_tsv(path: str, ids: list[int], texts: list[str]) -> None:
    """Reference corpus format: ``doc_id\\tdoc_title\\ttext`` lines."""
    with open(path, "w", encoding="utf-8") as f:
        for i, t in zip(ids, texts):
            f.write(f"{i}\tdoc_{i}\t{t}\n")


def corpus_stats(texts: list[str], path: str) -> dict:
    tokens = [t.split() for t in texts]
    return {
        "docs": len(texts),
        "tokens": sum(len(t) for t in tokens),
        "vocabulary": len({w for t in tokens for w in t}),
        "bytes": os.path.getsize(path),
    }


def queries(seed: int, spec: CorpusSpec, n: int) -> list[str]:
    """Query ``i`` has ``1 + i % 4`` terms; every tenth query is made only
    of unseen terms, the others alternate head and tail terms. The seed
    picks the terms, so any run of consecutive queries has the same mix of
    shapes under every seed."""
    vocab = vocabulary(seed, spec.vocab)
    rng = _rng(seed, "queries")
    known = set(vocab)
    out = []
    for i in range(n):
        terms = []
        for j in range(1 + i % 4):
            if i % 10 == 9:
                w = "q" + "".join(rng.choice(list(string.ascii_lowercase), 8))
                while w in known:
                    w = "q" + "".join(rng.choice(list(string.ascii_lowercase), 8))
            elif (i + j) % 2 == 0:
                w = vocab[int(rng.integers(0, HEAD_RANKS))]
            else:
                w = vocab[int(rng.integers(HEAD_RANKS, spec.vocab))]
            terms.append(w)
        out.append(" ".join(terms))
    return out


@dataclass(frozen=True)
class Lifecycle:
    delta_ids: list[int]
    delta_texts: list[str]
    edit_ids: list[int]
    edit_texts: list[str]
    delete_ids: list[int]


def lifecycle(seed: int, spec: CorpusSpec, batch: int) -> Lifecycle:
    """Accumulate ``batch`` new ids; rebuild an overlapping batch (half old
    corpus ids, half delta ids) with new text; delete a batch of ids."""
    vocab = vocabulary(seed, spec.vocab)
    rng = _rng(seed, "lifecycle")
    delta_ids = list(range(spec.docs, spec.docs + batch))
    delta_texts = _texts(rng, vocab, batch, spec.mean_tokens)
    edit_ids = sorted(
        rng.choice(spec.docs, batch // 2, replace=False).tolist()
        + rng.choice(delta_ids, batch - batch // 2, replace=False).tolist()
    )
    edit_texts = _texts(rng, vocab, len(edit_ids), spec.mean_tokens)
    delete_ids = sorted(rng.choice(spec.docs + batch, batch, replace=False).tolist())
    return Lifecycle(delta_ids, delta_texts, edit_ids, edit_texts, delete_ids)


# --- registry fixture -------------------------------------------------------

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_PART_ADJ = "red new hot small cold large old blue".split()
_PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _ts(rng, start: dt.datetime, days: int, n: int, unit: str = "D") -> np.ndarray:
    base = np.datetime64(start, "us")
    if unit == "D":
        return base + rng.integers(0, days, n).astype("timedelta64[D]")
    return base + rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")


def write_registry_fixture(path: str, seed: int, scale: float) -> None:
    """TPC-H-ish tables with the schemas of the sf* fixtures the registry
    queries and their DuckDB oracles read; ``scale`` 0.01 gives 60k
    lineitem rows."""
    rng = _rng(seed, "registry-fixture")
    os.makedirs(path, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), max(int(10_000 * scale), 25), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_evt, n_doc, n_users = int(1_000_000 * scale), int(50_000 * scale), max(int(150_000 * scale), 10)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1),
    })
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _ts(rng, dt.datetime(1995, 1, 1), 2404, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(float)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(rng, dt.datetime(1995, 1, 2), 2499, n_line),
    })
    put("events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": np.sort(_ts(rng, dt.datetime(2024, 1, 1), 30, n_evt, unit="us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_evt),
        "value": np.round(rng.exponential(50, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts = []
    for _ in range(n_doc):
        if texts and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_doc)
    centers = rng.normal(0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.08, (n_doc, 64))).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_doc), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

"""Product-quantization ANN: recall bound vs exact L2 brute force, encoding
properties, and the compression claim (operators/pq.py)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.operators.pq import (
    pq_encode,
    pq_topk,
    pq_topk_fused,
    pq_train_codebooks,
)
from big_data_assignment2_2025_spark.sources.readers import load_table
from tests.conftest import SF_SMALL

K = 5
N_QUERIES = 10


def _exact_l2_topk(vecs: dict, q_ids: list, k: int) -> dict:
    out = {}
    ids = np.array(sorted(vecs), dtype=np.int64)
    mat = np.array([vecs[i] for i in ids], dtype=np.float64)
    for qid in q_ids:
        d2 = ((mat - np.array(vecs[qid])) ** 2).sum(axis=1)
        order = np.lexsort((ids, d2))
        out[qid] = [int(i) for i in ids[order] if i != qid][:k]
    return out


def test_pq_recall_against_exact_l2(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    codebooks = pq_train_codebooks(emb, m=16, k=32)
    codes = pq_encode(emb, codebooks)
    queries = emb.orderBy("vec_id").limit(N_QUERIES)
    # production recipe: ADC shortlist (10k) + exact re-rank of candidates
    got = pq_topk(codes, queries, codebooks, k=K, shortlist=10 * K, corpus=emb).collect()

    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    exact = _exact_l2_topk(vecs, [r.vec_id for r in queries.collect()], K)

    hits = tot = 0
    for qid, want in exact.items():
        found = {r.neighbor_id for r in got if r.query_id == qid}
        hits += len(found & set(want))
        tot += len(want)
    recall = hits / tot
    # near-random unit vectors are PQ's worst case (distances concentrate);
    # measured 0.86-0.92 at m=16/k=32/shortlist=50 — bound loose on purpose
    assert recall >= 0.6, f"recall@{K} = {recall:.2f}"


def test_pq_codes_are_valid_and_compressed(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    codebooks = pq_train_codebooks(emb, m=16, k=32)
    codes = pq_encode(emb, codebooks)
    rows = codes.collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        assert len(r.codes) == 16
        assert all(0 <= c < 32 for c in r.codes)


def test_pq_encode_is_scan_side_projection(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    codebooks = pq_train_codebooks(emb, m=16, k=32)
    df = pq_encode(emb, codebooks)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    assert "Exchange" not in plan  # no shuffle: encode rides the scan


def test_pq_topk_deterministic_across_runs(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    codebooks = pq_train_codebooks(emb, m=16, k=32)
    codes = pq_encode(emb, codebooks)
    queries = emb.orderBy("vec_id").limit(3)
    a = sorted(map(tuple, pq_topk(codes, queries, codebooks, k=K, shortlist=10 * K, corpus=emb).collect()))
    b = sorted(map(tuple, pq_topk(codes, queries, codebooks, k=K, shortlist=10 * K, corpus=emb).collect()))
    assert a == b


@pytest.mark.parametrize(
    "dirty", [[float("nan"), 0.0, 0.0, 0.0], [None, 0.0, 0.0, 0.0]],
    ids=["nan", "null-element"],
)
def test_pq_fused_rejects_nonfinite_elements(spark, dirty):
    """The fused encode must fail loudly on a NaN or null element instead
    of argmin-ing differently from pq_encode's Catalyst expression."""
    codebooks = np.array(
        [[[0.0, 0.0], [1.0, 1.0]], [[0.0, 0.0], [1.0, 1.0]]]
    )  # m=2 subspaces, 2 centroids, 2 dims each
    corpus = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0, 0.0]), (2, [1.0, 1.0, 1.0, 1.0]), (3, dirty)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.where(F.col("vec_id") == 1)
    with pytest.raises(Exception, match="finite embeddings"):
        pq_topk_fused(corpus, queries, codebooks, k=1).collect()

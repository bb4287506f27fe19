"""Product quantization (PQ) ANN — the memory-bounded scale path for
similarity search over embedding columns.

PQ splits each d-dim vector into ``m`` subvectors and replaces every
subvector with the id of its nearest centroid from a per-subspace codebook
(k entries), compressing d floats to m small ints (here 64 floats →
8 codes: 32× smaller). Search uses the asymmetric distance computation
(ADC): per query, a lookup table of query-subvector→centroid distances is
built once, and each corpus vector's approximate distance is m table
lookups — no float vector ever touched at scan time.

Spark mapping (and the 100 TB story):
- **Training** is a bounded-sample driver job (codebooks are tiny constants
  — k·d floats — and production PQ always trains on a sample, so collect()
  here is the correct distributed design, not a shortcut).
- **Encoding** has two shapes with bit-identical codes: the INGEST path
  (``pq_encode``) is a scan-side Catalyst projection — zero shuffles, zero
  Python, how a 100 TB corpus is encoded once and stored as a tiny codes
  column next to the parquet; the QUERY path (``pq_topk_fused``) encodes
  on the fly with numpy inside the ADC scorer's existing Arrow pass,
  because a Catalyst argmin over literal codebooks runs its per-centroid
  lambdas through the interpreted higher-order-function path (~1024
  closure evaluations per row — measured ~3 s per 2000-row encode, r13).
- **Search** is an Arrow-batched ``mapInPandas``: the numpy LUT scores a
  whole batch against all queries at once and emits only each batch's
  per-query top-k (partial top-k, ≤ |Q|·k rows per batch — the same
  partial-then-global pattern as TakeOrderedAndProject), then a window
  takes the global top-k.

Gating: the TRAINED-codebook variant is verified by a recall bound against
exact L2 brute force in tests/test_pq.py (k-means codebooks aren't
SQL-replayable — same discipline as ivf_kmeans_topk and the MLlib
MinHashLSH cross-check). The full encode→ADC→top-k chain is additionally
HASH-GATED through a deterministic-codebook twin
(``pq_lowest_id_codebooks`` + plans/round9_queries.py ``ann_pq_topk`` /
``ann_pq_rerank``), whose DuckDB oracle replays codebooks, codes, lookup
tables and ranking from the parquet table alone.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def _kmeans(data: np.ndarray, k: int, seed: int, iters: int = 15) -> np.ndarray:
    """Deterministic Lloyd k-means (kmeans++-free: seeded random init from
    distinct rows). Driver-side on a bounded sample by design."""
    rng = np.random.RandomState(seed)
    n = data.shape[0]
    cents = data[rng.choice(n, size=min(k, n), replace=False)].astype(np.float64)
    if cents.shape[0] < k:  # degenerate tiny sample: pad by repeating
        cents = np.vstack([cents] * (k // cents.shape[0] + 1))[:k]
    for _ in range(iters):
        d2 = ((data[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(k):
            mask = assign == j
            if mask.any():
                cents[j] = data[mask].mean(axis=0)
    return cents


def pq_train_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    sample_n: int = 10000,
    seed: int = 7,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train per-subspace codebooks on a bounded sample.

    Returns array (m, k, d_sub). The sample is order-deterministic
    (sorted limit) so codebooks are reproducible run to run."""
    id_sorted = corpus.select(vec_col).limit(sample_n)
    sample = np.array(
        [r[0] for r in id_sorted.collect()], dtype=np.float64
    )
    d = sample.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    d_sub = d // m
    return np.stack(
        [
            _kmeans(sample[:, j * d_sub : (j + 1) * d_sub], k, seed + j)
            for j in range(m)
        ]
    )


def pq_lowest_id_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic-codebook twin of ``pq_train_codebooks``: the per-
    subspace codebook is simply the subvectors of the ``k`` LOWEST-ID
    corpus vectors — the same trick ``ivf_topk`` uses for its coarse
    centroids. No k-means, so any engine (the DuckDB oracle included) can
    reconstruct the exact codebooks from the table alone, which is what
    makes the full encode→ADC→top-k chain hash-gateable. Swap in the
    trained codebooks for production recall; the plumbing is identical."""
    rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    )
    sample = np.array([r[1] for r in rows], dtype=np.float64)
    d = sample.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    d_sub = d // m
    return np.stack(
        [sample[:, j * d_sub : (j + 1) * d_sub] for j in range(m)]
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — nearest-centroid id per subspace.

    Pure Catalyst: the codebooks become literals and the per-subspace
    argmin runs inside the scan's whole-stage-codegen projection. No
    shuffle, no UDF.

    The distances are UNROLLED into plain arithmetic (r13): the original
    ``transform(cents, c -> aggregate(zip_with(c, sub, (a,b)->(a-b)*(a-b)),
    0D, acc+x))`` form evaluates every lambda per element through the
    INTERPRETED higher-order-function path — m*k*d_sub (~1024) closure
    evaluations per row, measured at ~3 s for a 2000-row encode. The
    unrolled ``(c0-x0)*(c0-x0) + ...`` chain is ordinary codegen'd
    expressions. IEEE-identical by construction: the fold computed
    ``(((0D + t0) + t1) + ...)`` with every ``t_i = (c_i-x_i)^2 >= 0``,
    and ``0D + t0 == t0`` exactly for non-negative t0, so the left-to-root
    addition order — and therefore every distance bit and every argmin
    tie — is unchanged (the DuckDB oracle replays the same sequence)."""
    m, k, d_sub = codebooks.shape
    code_exprs = []
    for j in range(m):
        dists = []
        for c in codebooks[j]:
            terms = []
            for i in range(d_sub):
                lit = repr(float(c[i]))
                # [] indexing is 0-based; identical element to
                # transform(slice(vec, j*d_sub+1, d_sub))[i]
                el = f"cast({vec_col}[{j * d_sub + i}] as double)"
                terms.append(f"({lit} - {el}) * ({lit} - {el})")
            dists.append("(" + " + ".join(terms) + ")")
        arr = "array(" + ",".join(dists) + ")"
        code_exprs.append(
            f"cast(array_position({arr}, array_min({arr})) - 1 as int)"
        )
    return corpus.select(
        F.col(id_col), F.expr("array(" + ",".join(code_exprs) + ")").alias("codes")
    )


def _encode_np(X: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Nearest-centroid codes for a float64 batch, BIT-IDENTICAL to
    ``pq_encode``'s Catalyst expression: per dimension the term is
    ``(c_i - x_i)^2`` and the accumulation is the same left-to-right
    IEEE double chain (sequential adds, acc starts at 0), and
    ``argmin`` breaks ties to the lowest centroid index exactly like
    ``array_position(dists, array_min(dists))``."""
    m, kc, d_sub = codebooks.shape
    # precondition made LOUD: the fused query path assumes clean
    # fixed-length embeddings — np.stack upstream already raises on
    # ragged rows, a null element arrives here as NaN, and a NaN
    # component would argmin differently from Catalyst's array_min (NaN
    # sorts greatest there) — so reject rather than silently diverge
    # from pq_encode
    if X.ndim != 2 or X.shape[1] != m * d_sub:
        raise ValueError(
            f"pq encode expects dense {m * d_sub}-dim embeddings, got "
            f"shape {X.shape}"
        )
    if not np.isfinite(X).all():
        raise ValueError(
            "pq encode expects finite embeddings, got a null or non-finite "
            "element"
        )
    n = X.shape[0]
    codes = np.empty((n, m), dtype=np.int64)
    for j in range(m):
        sub = X[:, j * d_sub : (j + 1) * d_sub]
        d2 = np.zeros((n, kc), dtype=np.float64)
        for i in range(d_sub):
            t = codebooks[j][None, :, i] - sub[:, i][:, None]
            d2 = d2 + t * t
        codes[:, j] = d2.argmin(axis=1)
    return codes


def _adc_broadcasts(spark, queries, codebooks, id_col, vec_col):
    """(broadcast LUT, broadcast query ids): LUT[i, j, c] =
    ||query_i subvec_j - centroid_c||^2."""
    m, kc, d_sub = codebooks.shape
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_vecs = np.array([r[1] for r in q_rows], dtype=np.float64)
    lut = np.empty((len(q_ids), m, kc), dtype=np.float64)
    for j in range(m):
        diff = (
            q_vecs[:, None, j * d_sub : (j + 1) * d_sub]
            - codebooks[None, j, :, :]
        )
        lut[:, j, :] = (diff**2).sum(axis=2)
    return (
        spark.sparkContext.broadcast(lut),
        spark.sparkContext.broadcast(q_ids),
    )


def _adc_score_fn(b_lut, b_qids, take, id_col, codebooks=None):
    """Per-batch ADC scorer for ``mapInPandas``. With ``codebooks`` set
    the batch carries FLOAT VECTORS and is encoded in-batch first
    (``_encode_np`` — the fused query path); otherwise it carries
    pre-computed ``codes``."""
    import pandas as pd

    def score(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        L, qid = b_lut.value, b_qids.value
        for pdf in batches:
            if not len(pdf):
                continue
            if codebooks is not None:
                X = np.stack(pdf["__vec"].to_numpy()).astype(np.float64)
                c = _encode_np(X, codebooks)
            else:
                c = np.stack(pdf["codes"].to_numpy())  # (B, m)
            ids = pdf[id_col].to_numpy()
            # gather: d2[q, b] = sum_j L[q, j, c[b, j]], then ROUND to 6
            # decimals before any ordering — double accumulation order
            # differs between engines, and ranking on the rounded value
            # keeps the top-k cut deterministic (ties break by id), the
            # same engine-parity discipline as plans/similarity_queries
            d2 = np.zeros((len(qid), len(ids)), dtype=np.float64)
            for j in range(L.shape[1]):
                d2 += L[:, j, c[:, j]]
            d2 = np.round(d2, 6)
            out = {"query_id": [], "neighbor_id": [], "approx_d2": []}
            for qi in range(len(qid)):
                # deterministic partial top-k: (distance, id) lexsort.
                # Exclude the query's own row BEFORE the cut — it would
                # otherwise occupy one of the take slots in its home
                # batch and the global top-k would come up one short.
                order = np.lexsort((ids, d2[qi]))
                order = order[ids[order] != qid[qi]][:take]
                out["query_id"].extend([qid[qi]] * len(order))
                out["neighbor_id"].extend(ids[order].tolist())
                out["approx_d2"].extend(d2[qi][order].tolist())
            yield pd.DataFrame(out)

    return score


def pq_topk_fused(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    shortlist: int | None = None,
    rerank_corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode + ADC top-k FUSED into one Arrow pass over the float
    vectors — the query-path twin of ``pq_encode`` + ``pq_topk`` with
    bit-identical output (``_encode_np``'s IEEE-order guarantee).

    Why it exists (r13): the pure-Catalyst encode expression evaluates
    its per-centroid distance lambdas through the interpreted
    higher-order-function path — ~1024 closure evaluations per row,
    measured at ~3 s for a 2000-row corpus, with a further ~1 s of
    per-run parse/optimize when unrolled into plain expressions. The
    numpy encode inside the existing ADC ``mapInPandas`` runs the same
    arithmetic vectorized (~0.4 s), adds ZERO extra Python passes (the
    scorer already crossed the boundary), and drops the JVM round trip
    for the codes column. At ingest scale the story is unchanged:
    ``pq_encode`` stays the store-the-codes-column path; this is the
    encode-on-the-fly QUERY path."""
    spark = corpus.sparkSession
    b_lut, b_qids = _adc_broadcasts(spark, queries, codebooks, id_col, vec_col)
    take = max(k, shortlist or 0)
    m, _, d_sub = codebooks.shape
    # dirty-input guard (r14, ADVICE): pq_encode's Catalyst expression
    # tolerated null/short embeddings (null distances sort away); the
    # numpy batch encode would raise on them instead — filter the rows
    # that could never encode BEFORE the Arrow pass (no-op on the clean
    # fixtures, same contract as ann_sq8_topk's null filter)
    partial = corpus.where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == m * d_sub)
    ).select(
        F.col(id_col), F.col(vec_col).alias("__vec")
    ).mapInPandas(
        _adc_score_fn(b_lut, b_qids, take, id_col, codebooks=codebooks),
        "query_id long, neighbor_id long, approx_d2 double",
    )
    return _finish_topk(
        partial, queries, rerank_corpus, k, take, shortlist, id_col, vec_col
    )


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    shortlist: int | None = None,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: numpy LUT scoring over Arrow batches, partial top-k per
    batch, global top-k via window. Returns (query_id, neighbor_id,
    approx_d2, rank) with deterministic (distance, id) tie-breaks.

    With ``shortlist``/``corpus`` set, runs the production IVFADC recipe:
    ADC selects a shortlist (~10k per query), then ONLY those candidates
    are re-ranked with exact L2 against the float vectors (a broadcast-able
    |Q|·shortlist join — the full corpus floats are never scanned at query
    time). Quantization error then only costs recall when a true neighbor
    misses the shortlist entirely."""
    spark = codes.sparkSession
    b_lut, b_qids = _adc_broadcasts(spark, queries, codebooks, id_col, vec_col)
    take = max(k, shortlist or 0)
    partial = codes.mapInPandas(
        _adc_score_fn(b_lut, b_qids, take, id_col, codebooks=None),
        "query_id long, neighbor_id long, approx_d2 double",
    )
    return _finish_topk(
        partial, queries, corpus, k, take, shortlist, id_col, vec_col
    )


def _finish_topk(
    partial: DataFrame,
    queries: DataFrame,
    corpus: DataFrame | None,
    k: int,
    take: int,
    shortlist: int | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Global top-k over the per-batch ADC partials (+ optional exact
    rerank of the shortlist) — shared by ``pq_topk`` and
    ``pq_topk_fused``."""
    w = W.partitionBy("query_id").orderBy(
        F.asc("approx_d2"), F.asc("neighbor_id")
    )
    adc = (
        partial.where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= take)
    )
    if not shortlist or corpus is None:
        return adc.where(F.col("rank") <= k).select(
            "query_id",
            "neighbor_id",
            F.round("approx_d2", 6).alias("approx_d2"),
            "rank",
        )

    # exact re-rank of the shortlist: fetch the float vectors of ONLY the
    # shortlisted candidates, compute true L2 JVM-side, re-rank
    qdf = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("q_vec"),
    )
    cdf = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("n_vec"),
    )
    exact_d2 = F.aggregate(
        F.zip_with("q_vec", "n_vec", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rw = W.partitionBy("query_id").orderBy(F.asc("exact_d2"), F.asc("neighbor_id"))
    return (
        adc.select("query_id", "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
        .join(cdf, "neighbor_id")
        .withColumn("exact_d2", F.round(exact_d2, 6))
        .withColumn("rank", F.row_number().over(rw))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "exact_d2", "rank")
    )

"""Round-9 declared queries: the product-quantization ANN family,
hash-gated end to end.

PQ was the one ANN family without a CORRECTNESS entry (the trained
codebooks of ``pq_train_codebooks`` aren't SQL-replayable). These queries
run the SAME production operators — ``pq_encode``'s Catalyst argmin
encoding and ``pq_topk``'s Arrow-batched ADC scan / exact rerank — over a
deterministic-codebook twin (``pq_lowest_id_codebooks``: per-subspace
centroids are the subvectors of the 16 lowest-id corpus vectors, the
``ivf_topk`` trick), so DuckDB can reconstruct codebooks, codes, lookup
tables and the ranked result from the parquet table alone.

Engine-parity rules (same discipline as plans/similarity_queries.py):
every distance is an IEEE-double chain over CAST-to-double floats; ADC
distances are rounded to 6 decimals BEFORE ranking on both sides (double
accumulation order differs between numpy's unrolled reduction and
DuckDB's list_sum fold); all ranking ties break by neighbor id. The
encode argmin compares full-precision subspace distances computed by the
identical (a-b)*(a-b) left-fold on both engines, with ties to the lowest
centroid index (``array_position`` picks the first minimum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens_of
from ..operators.pq import pq_lowest_id_codebooks, pq_topk_fused
from ..sources.readers import fixture_fingerprint, load_table, staged_dir
from .round8c_queries import _DELETES_SQL

#: PQ geometry for the 64-dim fixture: 8 subspaces x 8 dims, 16 centroids
_M, _K_CENTS, _D_SUB = 8, 16, 8
#: Hamming-family-style shortlist for the IVFADC-style exact rerank
_PQ_SHORTLIST = 32

#: codebooks are TRAINING ARTIFACTS (tiny driver constants, built once per
#: corpus in production); memoize per fixture fingerprint so repeated
#: bench/oracle invocations don't re-run the lowest-id collect job
_BOOKS_CACHE: dict = {}


def _pq_books(spark: SparkSession, sf_dir: str):
    key = fixture_fingerprint(sf_dir)
    if key not in _BOOKS_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        _BOOKS_CACHE[key] = pq_lowest_id_codebooks(
            emb, m=_M, k=_K_CENTS
        )
    return _BOOKS_CACHE[key]


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-5 neighbors (approximate L2) for query vectors vec_id < 5
    over 8x16 lowest-id-codebook product quantization. Encode + ADC run
    fused in one Arrow pass (``pq_topk_fused``, r13): bit-identical to
    ``pq_encode`` + ``pq_topk`` and ~2x faster — the Catalyst encode's
    interpreted HOF lambdas were the cost, not the arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = _pq_books(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5)
    return pq_topk_fused(emb, queries, books, k=5)


def ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC-style two-stage retrieval: 32-candidate ADC shortlist over
    the 8-byte PQ codes, exact-L2 rerank of only those candidates against
    the float vectors — the production read path where the full-precision
    table is probed per shortlist row, never scanned."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = _pq_books(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5)
    return pq_topk_fused(
        emb, queries, books, k=5, shortlist=_PQ_SHORTLIST, rerank_corpus=emb
    )


# Shared oracle CTEs: cents = lowest-id codebooks; cdist = every
# (vector, subspace, centroid) squared L2 over the subvector (the same
# left-fold (a-b)*(a-b) chain as pq_encode's Catalyst expression); codes =
# per-(vector, subspace) argmin with ties to the lowest centroid index;
# adc = LUT-summed approximate distances, rounded before ranking.
_PQ_CTES = f"""
cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cidx, embedding AS cv
  FROM embeddings ORDER BY vec_id LIMIT {_K_CENTS}),
sub AS (SELECT unnest(range({_M})) AS j),
cdist AS (
  SELECT e.vec_id, s.j, c.cidx,
         list_sum(list_transform(range(1, {_D_SUB} + 1), i ->
           (CAST(c.cv[CAST(s.j * {_D_SUB} + i AS INTEGER)] AS DOUBLE)
            - CAST(e.embedding[CAST(s.j * {_D_SUB} + i AS INTEGER)] AS DOUBLE))
           * (CAST(c.cv[CAST(s.j * {_D_SUB} + i AS INTEGER)] AS DOUBLE)
              - CAST(e.embedding[CAST(s.j * {_D_SUB} + i AS INTEGER)] AS DOUBLE))
         )) AS d2
  FROM embeddings e CROSS JOIN sub s CROSS JOIN cents c),
codes AS (
  SELECT vec_id, j, cidx FROM (
    SELECT vec_id, j, cidx,
           ROW_NUMBER() OVER (PARTITION BY vec_id, j
                              ORDER BY d2 ASC, cidx ASC) AS r
    FROM cdist) t WHERE r = 1),
adc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(SUM(q.d2), 6) AS approx_d2
  FROM codes c
  JOIN cdist q ON q.j = c.j AND q.cidx = c.cidx AND q.vec_id < 5
  WHERE c.vec_id <> q.vec_id
  GROUP BY 1, 2),
adc_ranked AS (
  SELECT query_id, neighbor_id, approx_d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY approx_d2 ASC, neighbor_id ASC) AS rank
  FROM adc)
"""

ANN_PQ_TOPK_SQL = f"""
WITH {_PQ_CTES}
SELECT query_id, neighbor_id, approx_d2, CAST(rank AS INTEGER) AS rank
FROM adc_ranked WHERE rank <= 5
"""

ANN_PQ_RERANK_SQL = f"""
WITH {_PQ_CTES},
shortlist AS (
  SELECT query_id, neighbor_id FROM adc_ranked
  WHERE rank <= {_PQ_SHORTLIST}),
rer AS (
  SELECT s.query_id, s.neighbor_id,
         round(list_sum(list_transform(range(1, len(eq.embedding) + 1), i ->
           (CAST(eq.embedding[CAST(i AS INTEGER)] AS DOUBLE)
            - CAST(ec.embedding[CAST(i AS INTEGER)] AS DOUBLE))
           * (CAST(eq.embedding[CAST(i AS INTEGER)] AS DOUBLE)
              - CAST(ec.embedding[CAST(i AS INTEGER)] AS DOUBLE))
         )), 6) AS exact_d2
  FROM shortlist s
  JOIN embeddings eq ON eq.vec_id = s.query_id
  JOIN embeddings ec ON ec.vec_id = s.neighbor_id),
reranked AS (
  SELECT query_id, neighbor_id, exact_d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY exact_d2 ASC, neighbor_id ASC) AS rank
  FROM rer)
SELECT query_id, neighbor_id, exact_d2, CAST(rank AS INTEGER) AS rank
FROM reranked WHERE rank <= 5
"""

# --------------------------------------------------------------------------
# "Did you mean", edit distance 2 — SymSpell deletes-2 blocking
# --------------------------------------------------------------------------

#: out-of-vocabulary query terms, each edit-distance 2 from a common
#: corpus term (table, stream, query, filter, window)
_TYPO2_QUERIES = ["tbl", "strm", "qry", "fltr", "wndw"]

#: {c} ∪ deletes1(c) ∪ deletes2(c): apply the single-deletion expansion
#: to every member of the distance-1 set and dedupe — Garbe's deletes-2
#: index unit, which extends SymSpell's completeness guarantee to ED <= 2
_DELETES2_SQL = (
    "array_distinct(flatten(transform("
    + _DELETES_SQL
    + ", s -> "
    + _DELETES_SQL.format(c="s")
    + ")))"
)


def _staged_spell_vocab2(spark: SparkSession, sf_dir: str) -> str:
    """(term, df, variant) SymSpell deletes-2 index parquet per fixture —
    same build-once-with-the-corpus discipline as the distance-1 index
    (``round8c_queries._staged_spell_vocab``); ~1 + L + C(L,2) variants
    per vocabulary term, the classic SymSpell space-for-probes trade."""
    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        (
            tokens_of(docs)
            .groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df"))
            .select(
                "term", "df",
                F.explode(
                    F.expr(_DELETES2_SQL.format(c="term"))
                ).alias("variant"),
            )
            .write.mode("overwrite")
            .parquet(path)
        )

    return staged_dir(sf_dir, "spellvocab2", build)


def search_spell_suggest_d2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 "did you mean" suggestions per query term at Levenshtein
    distance <= 2, ranked by document frequency then term.

    Candidate generation extends the round-8c SymSpell blocking to edit
    distance 2 with Garbe's deletes-2 sets: if ED(a, b) <= 2 then the
    <=2-deletion neighborhoods of a and b intersect (every substitution /
    transposition / indel combination reduces to deleting at most two
    characters from each side), so the equi-join on the variant key is
    COMPLETE for ED <= 2 — the oracle proves it against the naive
    |vocab| x |queries| levenshtein cross. A non-equi length guard
    (|len(term) - len(query)| <= 2, implied by ED <= 2) prunes the
    short-variant collisions that distance-2 deletion sets of short
    strings otherwise generate. Exact levenshtein verifies candidates;
    ranking is deterministic (df desc, term asc)."""
    from pyspark.sql import Window

    vexp = spark.read.parquet(_staged_spell_vocab2(spark, sf_dir))
    qdf = spark.createDataFrame(
        [(q,) for q in _TYPO2_QUERIES], "query_term string"
    )
    qexp = qdf.select(
        "query_term",
        F.explode(
            F.expr(_DELETES2_SQL.format(c="query_term"))
        ).alias("variant"),
    )
    cands = (
        qexp.join(
            vexp,
            (qexp.variant == vexp.variant)
            & (
                F.abs(F.length("term") - F.length("query_term")) <= 2
            ),
        )
        .select("query_term", "term", "df")
        .distinct()
    )
    scored = cands.where(
        (F.levenshtein("query_term", "term") <= 2)
        & (F.col("term") != F.col("query_term"))
    )
    w = Window.partitionBy("query_term").orderBy(
        F.desc("df"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "query_term", "rank", F.col("term").alias("suggestion"), "df"
        )
        .orderBy("query_term", "rank")
    )


SPELL_SUGGEST_D2_SQL = """
WITH q(query_term) AS (
  VALUES ('tbl'), ('strm'), ('qry'), ('fltr'), ('wndw')),
tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_'']+'))
           AS term
  FROM documents),
vocab AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
scored AS (
  SELECT q.query_term, v.term AS suggestion, v.df,
         CAST(ROW_NUMBER() OVER (PARTITION BY q.query_term
                                 ORDER BY v.df DESC, v.term ASC)
              AS INTEGER) AS rank
  FROM q JOIN vocab v
    ON levenshtein(q.query_term, v.term) <= 2 AND v.term <> q.query_term)
SELECT query_term, rank, suggestion, df
FROM scored WHERE rank <= 3 ORDER BY query_term, rank
"""


# --------------------------------------------------------------------------
# SQ8 scalar-quantized ANN — the int8 compression rung between the binary
# sign signatures (32x smaller, coarse) and PQ codes (32x, trained)
# --------------------------------------------------------------------------

#: quantization levels: symmetric int8, q in [-127, 127]
_SQ8_LEVELS = 127


def _sq8_quantized(emb: DataFrame) -> DataFrame:
    """(vec_id, q array<int>, qnorm2 bigint): per-vector symmetric int8
    quantization — scale = max|x| / 127, code = floor(x/scale + 0.5)
    (explicit floor-half-up, identical IEEE chain in DuckDB, no
    engine-specific round()). The scale cancels out of the cosine, so
    scored distances are INTEGER dot products over int8 codes divided by
    integer norms: exact cross-engine, and the scan reads 4x less than
    fp32 — the standard FAISS SQ8 trade (quantization error only,
    no training)."""
    x = "CAST(e AS DOUBLE)"
    scale = (
        f"greatest(aggregate(embedding, CAST(0 AS DOUBLE),"
        f" (a, e) -> greatest(a, abs({x}))), CAST(1e-12 AS DOUBLE))"
        f" / {_SQ8_LEVELS}"
    )
    # scale and q are HOISTED into their own columns (r13): inlining the
    # scale aggregate into the quantize lambda made the interpreted HOF
    # path re-run it per ELEMENT (64x64 evals/row), and inlining q into
    # the norm re-ran the quantize transform — hoisted, each evaluates
    # once per row (measured 1.1 -> 0.7 s on the sf0.1 noop, identical
    # values row for row; the IEEE chain per element is unchanged)
    return (
        emb.withColumn("_scale", F.expr(scale))
        .withColumn(
            "q",
            F.expr(
                f"transform(embedding, e -> CAST(floor({x} / _scale"
                f" + 0.5D) AS INT))"
            ),
        )
        .withColumn(
            "qnorm2",
            F.expr("aggregate(q, 0L, (a, c) -> a + CAST(c AS BIGINT) * c)"),
        )
        .select("vec_id", "q", "qnorm2")
    )


def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-5 for query vectors vec_id < 5 over int8
    scalar-quantized embeddings: integer dot product of the codes over
    the integer norms (per-vector scales cancel), rounded to 6 decimals
    before ranking, ties by neighbor id."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    )
    sq = _sq8_quantized(emb)
    qs = sq.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("qnorm2").alias("qn"),
    )
    dot = F.expr(
        "aggregate(zip_with(qq, q, (a, b) -> CAST(a AS BIGINT) * b),"
        " 0L, (acc, x) -> acc + x)"
    )
    scored = (
        sq.join(F.broadcast(qs))
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot
                / (
                    F.sqrt(F.col("qn").cast("double"))
                    * F.sqrt(F.col("qnorm2").cast("double"))
                ),
                6,
            ).alias("cosine_q"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_q"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(
            "query_id", "neighbor_id", "cosine_q",
            F.col("rank").cast("int").alias("rank"),
        )
    )


_SQ8_SCALE_SQL = (
    f"greatest(list_max(list_transform(embedding,"
    f" e -> abs(CAST(e AS DOUBLE)))), CAST(1e-12 AS DOUBLE))"
    f" / {_SQ8_LEVELS}"
)
_SQ8_Q_SQL = (
    f"list_transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE)"
    f" / ({_SQ8_SCALE_SQL}) + 0.5) AS INTEGER))"
)

ANN_SQ8_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0
),
sq AS (
  SELECT vec_id, {_SQ8_Q_SQL} AS q FROM e
),
sqn AS (
  SELECT vec_id, q,
         list_sum(list_transform(q, c -> CAST(c AS BIGINT) * c)) AS qnorm2
  FROM sq
),
qs AS (SELECT vec_id AS query_id, q AS qq, qnorm2 AS qn
       FROM sqn WHERE vec_id < 5),
scored AS (
  SELECT qs.query_id, c.vec_id AS neighbor_id,
         round(
           list_sum(list_transform(range(1, len(c.q) + 1),
             i -> CAST(qs.qq[CAST(i AS INTEGER)] AS BIGINT)
                  * c.q[CAST(i AS INTEGER)]))
           / (sqrt(CAST(qs.qn AS DOUBLE)) * sqrt(CAST(c.qnorm2 AS DOUBLE))),
           6) AS cosine_q
  FROM sqn c CROSS JOIN qs
  WHERE qs.query_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine_q,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine_q DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine_q, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
"""


# --------------------------------------------------------------------------
# Z-order clustering + manifest-stats file skipping (functions/zorder.py)
# --------------------------------------------------------------------------

_Z_BITS = 16
_Z_COMMITS = 8


def _scale16_expr(col: str, vmax: int):
    """Monotone exact-integer fixed-point map of ``col`` into
    [0, 2^_Z_BITS): ``v * (2^b - 1) DIV (vmax + 1)`` — integer DIV, so
    no float-boundary flips; ``v * 65535`` stays far under 2^63 for any
    real key domain."""
    return F.expr(
        f"CAST(({col} * {(1 << _Z_BITS) - 1}) DIV {vmax + 1} AS BIGINT)"
    )


def _scale16_py(v: int, vmax: int) -> int:
    return v * ((1 << _Z_BITS) - 1) // (vmax + 1)


def _staged_zorder_store(spark: SparkSession, sf_dir: str) -> str:
    """Lineitem re-clustered BY MORTON KEY into a SnapshotStore of
    ``_Z_COMMITS`` zkey-range members with zkey stats — the layout
    ``OPTIMIZE ZORDER BY (l_partkey, l_suppkey)`` produces: every file's
    [min, max] zkey envelope is tight, so a 2-D box query prunes files
    through ONE column's stats. Fingerprint-gated like all derived
    copies."""
    from ..functions.zorder import zorder_key2
    from ..sources.snapshots import SnapshotStore

    def build(base: str) -> None:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
        )
        # coordinates are NORMALIZED into the _Z_BITS budget by a
        # monotone exact-integer fixed-point map v*(2^b-1) DIV (max+1)
        # (Delta's OPTIMIZE ZORDER range-ids, closed-form): ANY key
        # domain fits — the r11 10x fixture's 9e8 keys used to trip a
        # hard budget guard here. Monotone per-dimension maps preserve
        # the box -> z-range SUPERSET guarantee; coordinate collisions
        # only loosen pruning, never correctness (the exact predicate
        # re-applies after the prune).
        mx = li.agg(
            F.max("l_partkey").alias("p"), F.max("l_suppkey").alias("s")
        ).collect()[0]
        pc = _scale16_expr("l_partkey", int(mx["p"]))
        sc = _scale16_expr("l_suppkey", int(mx["s"]))
        # one materialization of the 32-term bit fold serves the zmax
        # probe and all 8 bucket writes (staging would otherwise rescan
        # lineitem and re-evaluate the fold once per bucket)
        z = li.withColumn(
            "zkey", zorder_key2(pc, sc, bits=_Z_BITS)
        ).persist()
        try:
            zmax = z.agg(F.max("zkey")).collect()[0][0]
            store = SnapshotStore(base)
            for b in range(_Z_COMMITS):
                chunk = z.where(
                    F.col("zkey") * _Z_COMMITS / (zmax + 1) >= b
                ).where(F.col("zkey") * _Z_COMMITS / (zmax + 1) < b + 1)
                store.commit(
                    chunk,
                    mode="overwrite" if b == 0 else "append",
                    stats_cols=["zkey"],
                )
        finally:
            z.unpersist()

    return staged_dir(sf_dir, "zorderstore", build)


def _zkey_py(x: int, y: int, bits: int = _Z_BITS) -> int:
    key = 0
    for i in range(bits):
        key += ((x >> i) & 1) << (2 * i)
        key += ((y >> i) & 1) << (2 * i + 1)
    return key


def storage_zorder_box_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Axis-aligned box aggregate (l_partkey x l_suppkey) served from the
    Z-ORDERED store through manifest-stats pruning: the box maps to the
    zkey range [zkey(p1, s1), zkey(p2, s2)] (valid superset by the Morton
    key's per-coordinate monotonicity), ``read_where`` opens only members
    whose zkey envelope overlaps it, and the exact box predicate
    re-applies after the prune. The oracle is a PLAIN box filter over the
    source table — pruning must be semantically invisible, which is
    precisely what the hash gate checks. tests/test_zorder.py pins that
    members really are skipped (inputFiles) and that a corner box prunes
    most of the store."""
    from ..sources.snapshots import SnapshotStore

    store = SnapshotStore(_staged_zorder_store(spark, sf_dir))
    li = load_table(spark, sf_dir, "lineitem")
    mx = li.agg(
        F.max("l_partkey").alias("p"), F.max("l_suppkey").alias("s")
    ).collect()[0]
    pmax, smax = int(mx["p"]), int(mx["s"])
    p1, p2 = 0, pmax // 4
    s1, s2 = 0, smax // 4
    # box bounds map through the SAME monotone normalization the writer
    # used, so [zkey(f(p1),f(s1)), zkey(f(p2),f(s2))] stays a superset
    lo = _zkey_py(_scale16_py(p1, pmax), _scale16_py(s1, smax))
    hi = _zkey_py(_scale16_py(p2, pmax), _scale16_py(s2, smax))
    pruned = store.read_where(spark, "zkey", lo, hi + 1)
    return (
        pruned.where(
            F.col("l_partkey").between(p1, p2)
            & F.col("l_suppkey").between(s1, s2)
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )


STORAGE_ZORDER_BOX_SQL = """
WITH b AS (
  SELECT CAST(MAX(l_partkey) // 4 AS BIGINT) AS p2,
         CAST(MAX(l_suppkey) // 4 AS BIGINT) AS s2
  FROM lineitem)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem, b
WHERE l_partkey BETWEEN 0 AND b.p2 AND l_suppkey BETWEEN 0 AND b.s2
"""


def zorder_key_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine gate for the Morton-key bit math itself: the 20
    largest zkeys over distinct (l_partkey, l_suppkey) pairs, engine vs
    the oracle's identical integer fold."""
    from ..functions.zorder import zorder_key2

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    return (
        li.withColumn(
            "zkey", zorder_key2("l_partkey", "l_suppkey", bits=_Z_BITS)
        )
        # Tiebreak on the raw coordinates: zkey is injective only while
        # both coordinates fit the bit budget (sf0.1 does; sf1's
        # l_partkey does not), so the LIMIT cut must not depend on it.
        .orderBy(F.desc("zkey"), F.asc("l_partkey"), F.asc("l_suppkey"))
        .limit(20)
        .select("l_partkey", "l_suppkey", "zkey")
    )


def _zorder_topk_sql() -> str:
    from ..functions.zorder import zorder_key2_sql

    z = zorder_key2_sql("l_partkey", "l_suppkey", bits=_Z_BITS)
    return f"""
WITH d AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT l_partkey, l_suppkey, CAST({z} AS BIGINT) AS zkey
FROM d ORDER BY zkey DESC, l_partkey ASC, l_suppkey ASC LIMIT 20
"""


QUERIES = {
    "ann_pq_topk": ann_pq_topk,
    "ann_pq_rerank": ann_pq_rerank,
    "ann_sq8_topk": ann_sq8_topk,
    "search_spell_suggest_d2": search_spell_suggest_d2,
    "storage_zorder_box_read": storage_zorder_box_read,
    "zorder_key_topk": zorder_key_topk,
}

ORACLES = {
    "ann_pq_topk": ANN_PQ_TOPK_SQL,
    "ann_pq_rerank": ANN_PQ_RERANK_SQL,
    "ann_sq8_topk": ANN_SQ8_SQL,
    "search_spell_suggest_d2": SPELL_SUGGEST_D2_SQL,
    "storage_zorder_box_read": STORAGE_ZORDER_BOX_SQL,
    "zorder_key_topk": _zorder_topk_sql(),
}

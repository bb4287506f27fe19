"""Declared queries for the reference's own surface: the inverted index
tables and BM25 ranked retrieval (SURVEY.md §2.1-§2.8), each with a DuckDB
oracle over the same parquet corpus.

The oracle SQL mirrors the index/scoring pipeline in ANSI SQL (CTEs). The
corpus fixture is the synthetic ``documents`` table with
``doc_title = concat('doc_', doc_id)`` per FIXTURES.md Group B.

Float determinism: BM25 ranks are rounded to 6 decimals on BOTH sides —
Spark's ``Math.log`` and DuckDB's ``ln`` can differ in the last ulp and
double summation order is engine-specific; 1e-6 rounding of O(1) scores
makes the hash comparison stable while still pinning the math to ~9
significant digits.

- **reciprocal-rank fusion** (``search_rrf_fusion``): BM25 and TF-IDF
  top-20 lists fused by RRF(60) (Cormack et al., SIGIR'09) — the
  standard hybrid-retrieval combiner. Ranks are assigned over
  6-dp-rounded scores so rank order is engine-stable; the fusion
  arithmetic is then pure integer-rank math.

- **positional phrase search** (``search_phrase_match``): exact-phrase
  retrieval via a positional posting join (term1@p ⋈ term2@p+1) — the
  index shape the reference's TF-only schema cannot answer
  (``app/cassandra/schema.cql`` stores no positions; SURVEY.md §2.8).
  Both posting lists are filtered to the two phrase terms BEFORE the
  join, so the join input is two term-posting lists, not the corpus.

- **search snippets** (``search_snippets``): the result-rendering step a
  search engine runs after ranking — a ±3-token context window around
  the first query-term occurrence in each top-10 BM25 document. The
  reference prints raw doc titles only (``app/query.py:140``); snippets
  complete the retrieval UX. Everything is JVM array functions over the
  SAME tokenizer the index uses, so the snippet is consistent with what
  was matched; cost at 100 TB is re-tokenizing exactly k=10 documents
  (semi-joined to the top-k ids), not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokenize, tokens_of
from ..operators.index import build_index
from ..operators.search import bm25_scores, parse_query
from ..sources.readers import load_table, read_documents, staged_dir


FLAGSHIP_QUERY = "spark join window"


# Tokens of the synthetic documents are plain lowercase ASCII words, so the
# oracle tokenizer regexp matches our Unicode-aware one on this corpus.
_TOKENS_CTE = """
docs AS (
  SELECT doc_id, concat('doc_', CAST(doc_id AS VARCHAR)) AS doc_title, text
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND length(trim(text)) > 0
),
tokens AS (
  SELECT doc_id, doc_title,
         unnest(regexp_extract_all(lower(text), '[a-z0-9_'']+')) AS term
  FROM docs
),
tf AS (
  SELECT term, 'whole_corpus' AS corpus_name, doc_id, doc_title,
         CAST(count(*) AS INTEGER) AS term_frequency
  FROM tokens GROUP BY 1, 2, 3, 4
),
vocab AS (
  SELECT term, 'whole_corpus' AS corpus_name,
         CAST(count(*) AS INTEGER) AS doc_frequency
  FROM tf GROUP BY 1, 2
),
doc_info AS (
  SELECT doc_id, doc_title, CAST(sum(term_frequency) AS INTEGER) AS doc_length
  FROM tf GROUP BY 1, 2
),
corpus_info AS (
  SELECT 'whole_corpus' AS corpus_name, CAST(count(*) AS INTEGER) AS doc_n,
         CAST(sum(doc_length) AS INTEGER) AS total_doc_length
  FROM doc_info
)
"""


def _bm25_core_sql(
    terms: list[str] | None = None,
    term_pred: str | None = None,
    cols: str = "tf.doc_id, tf.doc_title",
) -> str:
    """``WITH`` prefix over ``_TOKENS_CTE`` ending in a ``scored`` CTE of
    per-(doc, term) BM25 contributions: the terms come from a ``q(term)``
    VALUES list of ``terms`` (joined) or from the SQL ``term_pred``
    (filtered). Every BM25 oracle appends its own tail to it."""
    q, join_q, where = "", "", ""
    if terms is not None:
        q = "q(term) AS (VALUES " + ", ".join(f"('{t}')" for t in terms) + "),\n"
        join_q = "\n  JOIN q USING (term)"
    if term_pred is not None:
        where = f"\n  WHERE {term_pred}"
    return f"""
WITH {_TOKENS_CTE},
{q}scored AS (
  SELECT {cols},
         ln(CAST(ci.doc_n AS DOUBLE) / CAST(v.doc_frequency AS DOUBLE))
           * (2.0 * CAST(tf.term_frequency AS DOUBLE))
           / (1.0 * (0.25 + 0.75 * CAST(di.doc_length AS DOUBLE)
                        / (CAST(ci.total_doc_length AS DOUBLE) / CAST(ci.doc_n AS DOUBLE)))
              + CAST(tf.term_frequency AS DOUBLE)) AS bm25
  FROM tf{join_q}
  JOIN vocab v USING (term, corpus_name)
  JOIN doc_info di USING (doc_id, doc_title)
  CROSS JOIN corpus_info ci{where}
)"""


def _bm25_oracle(query: str, k: int = 10) -> str:
    return _bm25_core_sql(parse_query(query)) + f"""
SELECT CAST(doc_id AS INTEGER) AS doc_id, doc_title,
       round(sum(bm25), 6) AS doc_rank
FROM scored
GROUP BY doc_id, doc_title
ORDER BY sum(bm25) DESC, doc_id ASC
LIMIT {k}
"""


def _doc_scores(scored: DataFrame) -> DataFrame:
    """Per-doc BM25 score: the sum of a scored frame's ``bm25`` column."""
    return scored.groupBy("doc_id", "doc_title").agg(F.sum("bm25").alias("rank_raw"))


def _top_k_rounded(ranked: DataFrame, k: int = 10) -> DataFrame:
    """Top ``k`` rows of a per-doc ``rank_raw`` frame (ties by doc_id),
    score rounded to 6 dp — the output shape of the top-k search queries."""
    return (
        ranked.orderBy(F.col("rank_raw").desc(), F.col("doc_id").asc())
        .limit(k)
        .select(
            F.col("doc_id").cast("int").alias("doc_id"),
            "doc_title",
            F.round(F.col("rank_raw"), 6).alias("doc_rank"),
        )
    )


def _search_rounded(spark: SparkSession, sf_dir: str, query: str, k: int = 10) -> DataFrame:
    index = build_index(read_documents(spark, sf_dir))
    return _top_k_rounded(_doc_scores(bm25_scores(index, parse_query(query))), k)


# --- queries() callables ---------------------------------------------------

def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _search_rounded(spark, sf_dir, FLAGSHIP_QUERY)


def q_bm25_search_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's real deployment shape: index once to parquet
    (offline), search from the materialized tables (online) — term
    predicates push down to the index scan instead of re-tokenizing the
    corpus per query."""
    from ..operators.index import load_materialized_index, materialize_index
    from ..operators.search import bm25_search

    def build(path: str) -> None:
        materialize_index(build_index(read_documents(spark, sf_dir)), path)

    idx = load_materialized_index(spark, staged_dir(sf_dir, "bm25_index", build))
    ranked = bm25_search(idx, FLAGSHIP_QUERY, deterministic_ties=True)
    return ranked.select(
        "doc_id", "doc_title", F.round("doc_rank", 6).alias("doc_rank")
    )


def q_bm25_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND-semantics retrieval: only documents containing EVERY query term
    rank (the reference's sum-of-scores is OR-semantics — a doc matching one
    term still scores). Same one-shuffle plan with a countDistinct(term)
    alongside the score sum; no second pass over the index."""
    terms = parse_query(FLAGSHIP_QUERY)
    index = build_index(read_documents(spark, sf_dir))
    scored = bm25_scores(index, terms)
    ranked = (
        scored.groupBy("doc_id", "doc_title")
        .agg(
            F.sum("bm25").alias("rank_raw"),
            F.countDistinct("term").alias("nt"),
        )
        .where(F.col("nt") == len(terms))
    )
    return _top_k_rounded(ranked)


def _bm25_conjunctive_oracle(query: str, k: int = 10) -> str:
    terms = parse_query(query)
    return _bm25_core_sql(terms, cols="tf.doc_id, tf.doc_title, tf.term") + f"""
SELECT CAST(doc_id AS INTEGER) AS doc_id, doc_title,
       round(sum(bm25), 6) AS doc_rank
FROM scored
GROUP BY doc_id, doc_title
HAVING COUNT(DISTINCT term) = {len(terms)}
ORDER BY sum(bm25) DESC, doc_id ASC
LIMIT {k}
"""


def q_tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF ranked retrieval over the same inverted index — the second
    scoring function an IR engine offers beside BM25. score(d) =
    Σ_t tf(t,d) * ln(N/df(t)); identical one-shuffle plan, only the score
    expression changes (no length normalization → no doc_info join)."""
    terms = parse_query(FLAGSHIP_QUERY)
    index = build_index(read_documents(spark, sf_dir))
    tf = index.term_freq.where(
        (F.col("corpus_name") == "whole_corpus") & F.col("term").isin(terms)
    )
    vocab = index.term_doc_freq.where(
        (F.col("corpus_name") == "whole_corpus") & F.col("term").isin(terms)
    )
    stats = index.corpus_info.select("doc_n")
    scored = (
        tf.join(F.broadcast(vocab), ["term", "corpus_name"])
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "w",
            F.col("term_frequency").cast("double")
            * F.log(
                F.col("doc_n").cast("double")
                / F.col("doc_frequency").cast("double")
            ),
        )
    )
    ranked = scored.groupBy("doc_id", "doc_title").agg(
        F.sum("w").alias("rank_raw")
    )
    return _top_k_rounded(ranked)


def _tfidf_oracle(query: str, k: int = 10) -> str:
    values = ", ".join(f"('{t}')" for t in parse_query(query))
    return f"""
WITH {_TOKENS_CTE},
q(term) AS (VALUES {values}),
scored AS (
  SELECT tf.doc_id, tf.doc_title,
         CAST(tf.term_frequency AS DOUBLE)
           * ln(CAST(ci.doc_n AS DOUBLE) / CAST(v.doc_frequency AS DOUBLE)) AS w
  FROM tf
  JOIN q USING (term)
  JOIN vocab v USING (term, corpus_name)
  CROSS JOIN corpus_info ci
)
SELECT CAST(doc_id AS INTEGER) AS doc_id, doc_title,
       round(sum(w), 6) AS doc_rank
FROM scored
GROUP BY doc_id, doc_title
ORDER BY sum(w) DESC, doc_id ASC
LIMIT {k}
"""


def q_tfidf_doc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-doc TF-IDF cosine over the RARE-term subspace (df <= 20), pairs
    with cosine >= 0.2.

    The df cap is the scale discipline: an uncapped shared-term self-join is
    quadratic in hot-term document frequency (every doc shares 'the'), while
    capping df bounds per-term fan-out to df_cap^2 — the same
    candidate-bounding principle as the LSH band join and the fuzzy-match
    blocking key. Both the dot product AND the norms are computed over the
    capped vocabulary, so the result is a proper cosine in that subspace.
    """
    df_cap, threshold = 20, 0.2
    index = build_index(read_documents(spark, sf_dir))
    rare = index.term_doc_freq.where(
        (F.col("corpus_name") == "whole_corpus")
        & (F.col("doc_frequency") <= df_cap)
    ).select("term", "doc_frequency")
    n_docs = index.corpus_info.select("doc_n")
    w = (
        index.term_freq.join(rare, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "doc_id",
            (
                F.col("term_frequency").cast("double")
                * F.log(
                    F.col("doc_n").cast("double")
                    / F.col("doc_frequency").cast("double")
                )
            ).alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")
    )
    a = w.select(F.col("doc_id").alias("doc1"), "term", F.col("w").alias("w1"))
    b = w.select(F.col("doc_id").alias("doc2"), "term", F.col("w").alias("w2"))
    dots = (
        a.join(b, "term")
        .where(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2")
        .agg(F.sum(F.col("w1") * F.col("w2")).alias("dot"))
    )
    return (
        dots.join(norms.select(F.col("doc_id").alias("doc1"), F.col("norm").alias("n1")), "doc1")
        .join(norms.select(F.col("doc_id").alias("doc2"), F.col("norm").alias("n2")), "doc2")
        .withColumn("cosine", F.round(F.col("dot") / (F.col("n1") * F.col("n2")), 6))
        .where(F.col("cosine") >= threshold)
        .select(
            F.col("doc1").cast("int").alias("doc1"),
            F.col("doc2").cast("int").alias("doc2"),
            "cosine",
        )
    )


TFIDF_DOC_SIM_SQL = f"""
WITH {_TOKENS_CTE},
rare AS (SELECT term, doc_frequency FROM vocab WHERE doc_frequency <= 20),
w AS (
  SELECT tf.term, tf.doc_id,
         CAST(tf.term_frequency AS DOUBLE)
           * ln(CAST(ci.doc_n AS DOUBLE) / CAST(r.doc_frequency AS DOUBLE)) AS w
  FROM tf JOIN rare r USING (term) CROSS JOIN corpus_info ci),
norms AS (SELECT doc_id, sqrt(SUM(w * w)) AS norm FROM w GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, SUM(a.w * b.w) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT CAST(doc1 AS INTEGER) AS doc1, CAST(doc2 AS INTEGER) AS doc2,
       round(dot / (n1.norm * n2.norm), 6) AS cosine
FROM dots
JOIN norms n1 ON n1.doc_id = doc1
JOIN norms n2 ON n2.doc_id = doc2
WHERE round(dot / (n1.norm * n2.norm), 6) >= 0.2
"""


def q_bm25_single_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _search_rounded(spark, sf_dir, "spark")


def q_bm25_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    # term absent from the vocabulary -> empty frame, stable schema
    # (reference app/query.py:38-54)
    return _search_rounded(spark, sf_dir, "zzzunseen")


def q_index_term_doc_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = build_index(read_documents(spark, sf_dir))
    return idx.term_doc_freq


def q_index_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = build_index(read_documents(spark, sf_dir))
    return idx.term_freq.select(
        "term", "corpus_name", F.col("doc_id").cast("int").alias("doc_id"),
        "doc_title", "term_frequency",
    )


def q_index_doc_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = build_index(read_documents(spark, sf_dir))
    return idx.doc_info.select(
        F.col("doc_id").cast("int").alias("doc_id"), "doc_title", "doc_length"
    )


def q_index_corpus_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = build_index(read_documents(spark, sf_dir))
    return idx.corpus_info


# --------------------------------------------------------------------------
# Reciprocal-rank fusion
# --------------------------------------------------------------------------

_RRF_K = 60


_RRF_DEPTH = 20


def _ranked_list(scored: DataFrame, rank_name: str) -> DataFrame:
    """Top-``_RRF_DEPTH`` (doc_id, doc_title, rank) by 6-dp-rounded score.

    Ranking over the ROUNDED score (ties split by doc_id) is what makes
    the rank assignment engine-stable: raw float sums can differ in the
    last ulp between engines, and a rank is a discontinuous function of
    the score order. Depth-k selection happens FIRST via orderBy+limit
    (TakeOrderedAndProject — per-partition heaps, never a global sort);
    the row_number window then runs over the LIMIT-bounded 20-row frame,
    so the unpartitioned window is driver-trivial at any corpus size."""
    rounded = scored.select(
        "doc_id", "doc_title", F.round("rank_raw", 6).alias("score")
    )
    top = rounded.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(
        _RRF_DEPTH
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.withColumn("r", F.row_number().over(w)).select(
        "doc_id", "doc_title", F.col("r").alias(rank_name)
    )


def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 and TF-IDF top-20 lists fused with
    reciprocal-rank fusion, RRF(d) = Σ 1/(60 + rank_i(d)).

    Both rankers share one inverted-index build (CacheManager dedups the
    identical sub-plans); the fusion is a full outer join of two <= 20-row
    frames — driver-trivial at any corpus size because the per-ranker
    top-k is TakeOrderedAndProject, never a global sort. The single-
    partition row_number window is over <= |query terms' postings| rows
    already reduced to doc grain; at 100 TB depth-k selection would ride
    the same distributed top-k as ``topk_orders``."""
    terms = parse_query(FLAGSHIP_QUERY)
    index = build_index(read_documents(spark, sf_dir))
    bm25 = _doc_scores(bm25_scores(index, terms))
    tf = index.term_freq.where(
        (F.col("corpus_name") == "whole_corpus") & F.col("term").isin(terms)
    )
    vocab = index.term_doc_freq.where(
        (F.col("corpus_name") == "whole_corpus") & F.col("term").isin(terms)
    )
    stats = index.corpus_info.select("doc_n")
    tfidf = (
        tf.join(F.broadcast(vocab), ["term", "corpus_name"])
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "w",
            F.col("term_frequency").cast("double")
            * F.log(
                F.col("doc_n").cast("double")
                / F.col("doc_frequency").cast("double")
            ),
        )
        .groupBy("doc_id", "doc_title")
        .agg(F.sum("w").alias("rank_raw"))
    )
    a = _ranked_list(bm25, "r_bm25")
    b = _ranked_list(tfidf, "r_tfidf")
    fused = (
        a.join(b, ["doc_id", "doc_title"], "full_outer")
        .withColumn(
            "rrf",
            F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_bm25")).cast("double"),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_tfidf")).cast("double"),
                F.lit(0.0),
            ),
        )
    )
    return (
        fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(10)
        .select(
            F.col("doc_id").cast("int").alias("doc_id"),
            "doc_title",
            F.round("rrf", 6).alias("rrf_score"),
        )
    )


def _rrf_oracle(query: str) -> str:
    return _bm25_core_sql(parse_query(query)) + f""",
bm25_scored AS (
  SELECT doc_id, doc_title, round(sum(bm25), 6) AS score
  FROM scored
  GROUP BY doc_id, doc_title
),
tfidf_scored AS (
  SELECT tf.doc_id, tf.doc_title,
         round(sum(CAST(tf.term_frequency AS DOUBLE)
           * ln(CAST(ci.doc_n AS DOUBLE) / CAST(v.doc_frequency AS DOUBLE))), 6) AS score
  FROM tf
  JOIN q USING (term)
  JOIN vocab v USING (term, corpus_name)
  CROSS JOIN corpus_info ci
  GROUP BY tf.doc_id, tf.doc_title
),
a AS (
  SELECT doc_id, doc_title,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r_bm25
  FROM bm25_scored QUALIFY r_bm25 <= {_RRF_DEPTH}
),
b AS (
  SELECT doc_id, doc_title,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r_tfidf
  FROM tfidf_scored QUALIFY r_tfidf <= {_RRF_DEPTH}
)
SELECT CAST(doc_id AS INTEGER) AS doc_id, doc_title,
       round(coalesce(1.0 / CAST({_RRF_K} + r_bm25 AS DOUBLE), 0.0)
           + coalesce(1.0 / CAST({_RRF_K} + r_tfidf AS DOUBLE), 0.0), 6) AS rrf_score
FROM a FULL OUTER JOIN b USING (doc_id, doc_title)
ORDER BY coalesce(1.0 / CAST({_RRF_K} + r_bm25 AS DOUBLE), 0.0)
       + coalesce(1.0 / CAST({_RRF_K} + r_tfidf AS DOUBLE), 0.0) DESC,
       doc_id ASC
LIMIT 10
"""


# --------------------------------------------------------------------------
# Positional phrase search
# --------------------------------------------------------------------------

#: Fixture-calibrated phrase: ~48 occurrences across ~46 docs at sf0.01 —
#: frequent enough to exercise multi-hit docs, rare enough to rank.
_PHRASE = ("table", "hash")


def search_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval via a positional posting join.

    The positional index the reference never builds: ``posexplode`` over
    the shared tokenizer yields (doc_id, pos, term); the phrase match is
    postings(t1) ⋈ postings(t2) on (doc_id, pos+1). Both inputs are
    filtered to ONE term each before the join, so at 100 TB the join
    touches two posting lists (each pushed down to a term-predicate scan
    of a term-bucketed posting table), not the corpus; fan-out per doc is
    tf(t1) x tf(t2) only for docs containing both terms. Per-doc hit
    count aggregates map-side."""
    t1, t2 = _PHRASE
    docs = read_documents(spark, sf_dir)
    postings = docs.select(
        "doc_id",
        "doc_title",
        F.posexplode(tokenize(F.col("text"))).alias("pos", "term"),
    )
    p1 = postings.where(F.col("term") == t1).select(
        "doc_id", "doc_title", F.col("pos").alias("p1")
    )
    p2 = postings.where(F.col("term") == t2).select(
        "doc_id", F.col("pos").alias("p2")
    )
    hits = (
        p1.join(p2, ["doc_id"])
        .where(F.col("p2") == F.col("p1") + 1)
        .groupBy("doc_id", "doc_title")
        .agg(F.count("*").cast("long").alias("phrase_hits"))
    )
    return (
        hits.orderBy(F.col("phrase_hits").desc(), F.col("doc_id").asc())
        .limit(20)
        .select(
            F.col("doc_id").cast("int").alias("doc_id"),
            "doc_title",
            "phrase_hits",
        )
    )


PHRASE_MATCH_SQL = f"""
WITH docs AS (
  SELECT doc_id, concat('doc_', CAST(doc_id AS VARCHAR)) AS doc_title, text
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND length(trim(text)) > 0
),
postings AS (
  SELECT doc_id, doc_title,
         unnest(a) AS term, unnest(range(1, len(a) + 1)) AS pos
  FROM (SELECT doc_id, doc_title,
               regexp_extract_all(lower(text), '[a-z0-9_'']+') AS a
        FROM docs)
),
hits AS (
  SELECT p1.doc_id, p1.doc_title, CAST(count(*) AS BIGINT) AS phrase_hits
  FROM (SELECT doc_id, doc_title, pos FROM postings WHERE term = '{_PHRASE[0]}') p1
  JOIN (SELECT doc_id, pos FROM postings WHERE term = '{_PHRASE[1]}') p2
    ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
  GROUP BY p1.doc_id, p1.doc_title
)
SELECT CAST(doc_id AS INTEGER) AS doc_id, doc_title, phrase_hits
FROM hits
ORDER BY phrase_hits DESC, doc_id ASC
LIMIT 20
"""


# --------------------------------------------------------------------------
# Search-surface extensions: negation and prefix expansion
# --------------------------------------------------------------------------

_EXCL_QUERY = "spark join"


_EXCL_TERM = "window"


_PREFIX = "win"


def bm25_search_excluding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval with a NOT-term: rank for "spark join" but drop any
    document containing "window" — the exclusion operator every search
    box grows (reference parity gap: ``app/query.py`` has no negation).

    The exclusion is a LEFT ANTI join against the excluded term's posting
    list — one posting-list-sized probe, never a corpus scan: the
    anti-join's build side is exactly df("window") rows, and at 100 TB it
    broadcasts when the posting list is small or shuffles only matching
    doc ids when it is not (AQE decides)."""
    index = build_index(read_documents(spark, sf_dir))
    scored = bm25_scores(index, parse_query(_EXCL_QUERY))
    excl = index.term_freq.where(
        (F.col("corpus_name") == "whole_corpus")
        & (F.col("term") == _EXCL_TERM)
    ).select("doc_id")
    return _top_k_rounded(_doc_scores(scored.join(excl, "doc_id", "left_anti")))


def bm25_prefix_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval for a PREFIX query ("win*"): every vocabulary term
    starting with the prefix contributes its BM25 score.

    The expansion is a predicate on the term column (``startswith``), not
    a driver-side vocabulary collect: on the materialized term-sorted
    index the prefix becomes a pushed range scan, so cost tracks the
    expanded posting volume. Per-doc aggregation and top-k are unchanged
    from the exact-term path."""
    from ..operators.search import bm25_expr

    index = build_index(read_documents(spark, sf_dir))
    tf = index.term_freq.where(
        (F.col("corpus_name") == "whole_corpus")
        & F.col("term").startswith(_PREFIX)
    )
    vocab = index.term_doc_freq.where(
        (F.col("corpus_name") == "whole_corpus")
        & F.col("term").startswith(_PREFIX)
    )
    stats = index.corpus_info.select("doc_n", "total_doc_length")
    scored = (
        tf.join(F.broadcast(vocab), ["term", "corpus_name"])
        .join(index.doc_info, ["doc_id", "doc_title"])
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "bm25",
            bm25_expr(
                F.col("term_frequency"),
                F.col("doc_frequency"),
                F.col("doc_length"),
                F.col("doc_n"),
                F.col("total_doc_length"),
            ),
        )
    )
    return _top_k_rounded(_doc_scores(scored))


def _excl_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in parse_query(_EXCL_QUERY))
    return (
        _bm25_core_sql(term_pred=f"tf.term IN ({terms})")
        + f"""
SELECT CAST(s.doc_id AS INTEGER) AS doc_id, s.doc_title,
       round(sum(s.bm25), 6) AS doc_rank
FROM scored s
WHERE NOT EXISTS (
  SELECT 1 FROM tf x
  WHERE x.term = '{_EXCL_TERM}' AND x.doc_id = s.doc_id
)
GROUP BY s.doc_id, s.doc_title
ORDER BY sum(s.bm25) DESC, s.doc_id ASC
LIMIT 10
"""
    )


def _prefix_oracle() -> str:
    return (
        _bm25_core_sql(term_pred=f"tf.term LIKE '{_PREFIX}%'")
        + """
SELECT CAST(doc_id AS INTEGER) AS doc_id, doc_title,
       round(sum(bm25), 6) AS doc_rank
FROM scored
GROUP BY doc_id, doc_title
ORDER BY sum(bm25) DESC, doc_id ASC
LIMIT 10
"""
    )


# --------------------------------------------------------------------------
# Search snippets
# --------------------------------------------------------------------------

_SNIP_CTX = 3  # tokens of context on each side


def search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 BM25 results with a ±3-token snippet around the first
    query-term hit.

    The ranked top-k is the existing one-shuffle BM25 plan; the snippet
    pass joins the 10-row result back to the documents (broadcast of the
    tiny ranked frame), re-tokenizes those 10 texts only, and slices the
    token array around min(position of any query term) — pure ``slice``/
    ``array_join`` codegen, no explode of the corpus."""
    terms = parse_query(FLAGSHIP_QUERY)
    index = build_index(read_documents(spark, sf_dir))
    ranked = (
        _doc_scores(bm25_scores(index, terms))
        .orderBy(F.col("rank_raw").desc(), F.col("doc_id").asc())
        .limit(10)
        .select("doc_id", "doc_title", F.round("rank_raw", 6).alias("doc_rank"))
    )
    docs = read_documents(spark, sf_dir).select("doc_id", "text")
    hit = docs.join(F.broadcast(ranked), "doc_id").withColumn(
        "toks", tokenize(F.col("text"))
    )
    # 1-based position of the first token that is a query term
    pos = F.array_position(
        F.transform(F.col("toks"), lambda t: t.isin(*terms)), True
    )
    start = F.greatest(pos - _SNIP_CTX, F.lit(1))
    end = F.least(pos + _SNIP_CTX, F.size("toks"))
    return (
        hit.withColumn("p", pos)
        .withColumn(
            "snippet",
            F.when(
                F.col("p") > 0,
                F.array_join(
                    F.slice(F.col("toks"), start, end - start + 1), " "
                ),
            ).otherwise(F.lit("")),
        )
        .select(
            F.col("doc_id").cast("int").alias("doc_id"),
            "doc_title",
            "doc_rank",
            "snippet",
        )
        .orderBy(F.col("doc_rank").desc(), F.col("doc_id").asc())
    )


def _snippets_oracle(query: str) -> str:
    terms = parse_query(query)
    in_list = ", ".join(f"'{t}'" for t in terms)
    return _bm25_core_sql(terms) + f""",
ranked AS (
  SELECT CAST(doc_id AS INTEGER) AS doc_id, doc_title,
         round(sum(bm25), 6) AS doc_rank
  FROM scored GROUP BY doc_id, doc_title
  ORDER BY sum(bm25) DESC, doc_id ASC
  LIMIT 10
),
toked AS (
  SELECT r.doc_id, r.doc_title, r.doc_rank,
         regexp_extract_all(lower(d.text), '[a-z0-9_'']+') AS toks
  FROM ranked r JOIN docs d ON d.doc_id = r.doc_id
),
hitpos AS (
  SELECT doc_id, doc_title, doc_rank, toks,
         (SELECT min(pos) FROM (
            SELECT unnest(toks) AS tok,
                   unnest(range(1, len(toks) + 1)) AS pos) u
          WHERE u.tok IN ({in_list})) AS p
  FROM toked
)
SELECT doc_id, doc_title, doc_rank,
       CASE WHEN p IS NOT NULL THEN
         array_to_string(
           toks[greatest(p - {_SNIP_CTX}, 1):least(p + {_SNIP_CTX}, len(toks))],
           ' ')
       ELSE '' END AS snippet
FROM hitpos
ORDER BY doc_rank DESC, doc_id ASC
"""


# --------------------------------------------------------------------------
# "Did you mean" — SymSpell-style deletion-neighborhood spell suggestion
# --------------------------------------------------------------------------

#: out-of-vocabulary query terms, each edit-distance 1 from corpus vocab
_TYPO_QUERIES = ["tabl", "strem", "qury", "filtr", "windw"]


#: term plus every single-character deletion of it (SymSpell's index
#: unit); array_union already deduplicates ("aab" -> one "ab")
_DELETES_SQL = (
    "array_union(array({c}), "
    "transform(sequence(1, length({c})), "
    "i -> concat(substring({c}, 1, i - 1), "
    "substring({c}, i + 1, length({c})))))"
)


def _staged_spell_vocab(
    spark: SparkSession, sf_dir: str, name: str, deletes_sql: str
) -> str:
    """(variant, term, df) SymSpell index parquet per fixture: the
    vocabulary with its deletion neighborhood (``deletes_sql``)
    PRE-EXPLODED — this is an INDEX TABLE, built once with the corpus
    exactly like the BM25 materialized index
    (``operators/index.py:materialize_index``) and amortized across every
    suggestion query, which then costs only the variant probes of its own
    query terms (L+1 at distance 1; ~1 + L + C(L,2) at distance 2, the
    classic SymSpell space-for-probes trade); fingerprint-gated like all
    derived copies."""
    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        (
            tokens_of(docs)
            .groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df"))
            .select(
                "term", "df",
                F.explode(
                    F.expr(deletes_sql.format(c="term"))
                ).alias("variant"),
            )
            .write.mode("overwrite")
            .parquet(path)
        )

    return staged_dir(sf_dir, name, build)


def _spell_top3(cands: DataFrame, max_ed: int) -> DataFrame:
    """Verify (query_term, term, df) candidates by exact levenshtein
    <= ``max_ed`` and keep the top 3 per query term, ranked
    deterministically (df desc, term asc)."""
    scored = cands.where(
        (F.levenshtein("query_term", "term") <= max_ed)
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


def _spell_suggest_sql(typos: list[str], max_ed: int) -> str:
    """Oracle: the naive |vocab| x |queries| levenshtein cross, top 3 per
    query term by (df desc, term asc)."""
    values = ", ".join(f"('{t}')" for t in typos)
    return f"""
WITH q(query_term) AS (
  VALUES {values}),
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
    ON levenshtein(q.query_term, v.term) <= {max_ed} AND v.term <> q.query_term)
SELECT query_term, rank, suggestion, df
FROM scored WHERE rank <= 3 ORDER BY query_term, rank
"""


def search_spell_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 "did you mean" suggestions per out-of-vocabulary query term:
    vocabulary terms at Levenshtein distance 1, ranked by document
    frequency — the retrieval-UX feature the reference's exact-match
    Cassandra lookup cannot express (an OOV term there just returns
    nothing, ``app/query.py:38``).

    Candidate generation is the SymSpell deletion trick (Garbe, public
    symspell algorithm): block on the set {term} ∪ deletes1(term) built
    for BOTH sides. Completeness for ED ≤ 1 is exact, not heuristic —
    a substitution shares the both-sides-deleted variant, an
    insert/delete shares the shorter string itself — so the equi-join
    probes only deletion-neighborhood collisions (~(L+1) variants per
    term, linear in vocab) instead of the |vocab| × |queries|
    levenshtein cross the DuckDB oracle runs; the gate proves the
    blocked form loses nothing, same discipline as
    ``events_band_join_grid``. At 100 TB the variant index is built once
    with the vocabulary and served like any posting list; per-query cost
    is L+1 point lookups."""
    vexp = spark.read.parquet(
        _staged_spell_vocab(spark, sf_dir, "spellvocab", _DELETES_SQL)
    )
    qdf = spark.createDataFrame(
        [(q,) for q in _TYPO_QUERIES], "query_term string"
    )
    qexp = qdf.select(
        "query_term",
        F.explode(
            F.expr(_DELETES_SQL.format(c="query_term"))
        ).alias("variant"),
    )
    cands = (
        qexp.join(vexp, "variant").select("query_term", "term", "df")
        .distinct()
    )
    return _spell_top3(cands, 1)


SPELL_SUGGEST_SQL = _spell_suggest_sql(_TYPO_QUERIES, 1)


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


def search_spell_suggest_d2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 "did you mean" suggestions per query term at Levenshtein
    distance <= 2, ranked by document frequency then term.

    Candidate generation extends the ``search_spell_suggest`` SymSpell
    blocking to edit distance 2 with Garbe's deletes-2 sets: if ED(a, b) <= 2 then the
    <=2-deletion neighborhoods of a and b intersect (every substitution /
    transposition / indel combination reduces to deleting at most two
    characters from each side), so the equi-join on the variant key is
    COMPLETE for ED <= 2 — the oracle proves it against the naive
    |vocab| x |queries| levenshtein cross. A non-equi length guard
    (|len(term) - len(query)| <= 2, implied by ED <= 2) prunes the
    short-variant collisions that distance-2 deletion sets of short
    strings otherwise generate. Exact levenshtein verifies candidates;
    ranking is deterministic (df desc, term asc)."""
    vexp = spark.read.parquet(
        _staged_spell_vocab(spark, sf_dir, "spellvocab2", _DELETES2_SQL)
    )
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
    return _spell_top3(cands, 2)


SPELL_SUGGEST_D2_SQL = _spell_suggest_sql(_TYPO2_QUERIES, 2)


QUERIES = {
    "bm25_search": q_bm25_search,
    "bm25_search_conjunctive": q_bm25_conjunctive,
    "tfidf_search": q_tfidf_search,
    "tfidf_doc_similarity": q_tfidf_doc_similarity,
    "bm25_single_term": q_bm25_single_term,
    "bm25_empty_result": q_bm25_empty,
    "index_term_doc_freq": q_index_term_doc_freq,
    "index_term_freq": q_index_term_freq,
    "index_doc_info": q_index_doc_info,
    "index_corpus_info": q_index_corpus_info,
    "bm25_search_materialized": q_bm25_search_materialized,
    "search_rrf_fusion": search_rrf_fusion,
    "search_phrase_match": search_phrase_match,
    "bm25_search_excluding": bm25_search_excluding,
    "bm25_prefix_search": bm25_prefix_search,
    "search_snippets": search_snippets,
    "search_spell_suggest": search_spell_suggest,
    "search_spell_suggest_d2": search_spell_suggest_d2,
}

ORACLES = {
    "bm25_search": _bm25_oracle(FLAGSHIP_QUERY),
    "bm25_search_conjunctive": _bm25_conjunctive_oracle(FLAGSHIP_QUERY),
    "tfidf_search": _tfidf_oracle(FLAGSHIP_QUERY),
    "tfidf_doc_similarity": TFIDF_DOC_SIM_SQL,
    "bm25_single_term": _bm25_oracle("spark"),
    "bm25_empty_result": _bm25_oracle("zzzunseen"),
    "index_term_doc_freq": f"WITH {_TOKENS_CTE} SELECT term, corpus_name, doc_frequency FROM vocab",
    "index_term_freq": f"WITH {_TOKENS_CTE} SELECT term, corpus_name, CAST(doc_id AS INTEGER) AS doc_id, doc_title, term_frequency FROM tf",
    "index_doc_info": f"WITH {_TOKENS_CTE} SELECT CAST(doc_id AS INTEGER) AS doc_id, doc_title, doc_length FROM doc_info",
    "index_corpus_info": f"WITH {_TOKENS_CTE} SELECT corpus_name, doc_n, total_doc_length FROM corpus_info",
    "bm25_search_materialized": _bm25_oracle(FLAGSHIP_QUERY),
    "search_rrf_fusion": _rrf_oracle(FLAGSHIP_QUERY),
    "search_phrase_match": PHRASE_MATCH_SQL,
    "bm25_search_excluding": _excl_oracle(),
    "bm25_prefix_search": _prefix_oracle(),
    "search_snippets": _snippets_oracle(FLAGSHIP_QUERY),
    "search_spell_suggest": SPELL_SUGGEST_SQL,
    "search_spell_suggest_d2": SPELL_SUGGEST_D2_SQL,
}

"""The declared query registry — the single source of truth consumed by
``__spark_entry__.py`` (driver contract) and by the differential tests.

Every operator from SURVEY.md §2 that is implemented has a named entry in
``QUERIES`` (callable ``(spark, sf_dir) -> DataFrame``) and, when the
semantics are SQL-expressible, a matching DuckDB oracle in ``ORACLES``.
Column names are aliased identically on both sides (the driver's comparison
sorts columns by name before hashing).

Queries live in one module per domain, placed by what they compute:

- ``search_queries``: inverted index, BM25/TF-IDF retrieval, fusion,
  phrases, snippets, spelling suggestions
- ``tpch_queries``: the TPC-H shapes q1-q22
- ``relational``: joins, aggregations, windows, set ops, subqueries and
  other relational shapes outside TPC-H
- ``sql_queries``: the spark.sql surface, UDAF/UDTF and Python data sources
- ``events_queries``: event analytics — funnels, sessions, retention,
  attribution, sequences
- ``temporal_queries``: as-of and band joins, gap fill, time-series
  statistics and control charts
- ``text_queries``: tokenization, language ID, quality, n-grams
- ``pipeline_queries``: training-data pipeline steps — mixing, sampling,
  chunking, profiling, privacy audits, SCD2/CDC
- ``dedup_queries``: exact, n-gram, MinHash, SimHash and substring dedup
- ``similarity_queries``: embeddings — kNN/ANN (LSH, IVF, PQ, SQ8),
  SemDeDup, moments
- ``graph_queries``: the co-purchase graph — triangles, k-core, BFS,
  PageRank, label propagation, modularity
- ``sketch_queries``: HLL, count-min, KMV, bitmaps, histogram quantiles,
  bloom filters, heavy hitters
- ``storage_queries``: physical layout and pruning — bucketing,
  partitioning, Z-order, file manifests
- ``snapshot_queries``: snapshot-store verbs — time travel, MERGE, deletion
  vectors, constraints, evolution, clones, incremental views
- ``streaming_queries``: Structured Streaming twins of batch queries
- ``multimodal_queries``: binary payload decode and feature extraction
- ``parity_queries``: reference-parity round trips and engine semantics
"""

from __future__ import annotations

from . import (
    dedup_queries,
    events_queries,
    graph_queries,
    multimodal_queries,
    parity_queries,
    pipeline_queries,
    relational,
    search_queries,
    similarity_queries,
    sketch_queries,
    snapshot_queries,
    sql_queries,
    storage_queries,
    streaming_queries,
    temporal_queries,
    text_queries,
    tpch_queries,
)

_MODULES = [
    search_queries,
    tpch_queries,
    relational,
    sql_queries,
    events_queries,
    temporal_queries,
    text_queries,
    pipeline_queries,
    dedup_queries,
    similarity_queries,
    graph_queries,
    sketch_queries,
    storage_queries,
    snapshot_queries,
    streaming_queries,
    multimodal_queries,
    parity_queries,
]

QUERIES = {}
ORACLES = {}
for _m in _MODULES:
    QUERIES.update(_m.QUERIES)
    ORACLES.update(getattr(_m, "ORACLES", {}))

#: FIXTURE-SCALE BASELINE queries -> their measured-linear scale-path twin.
#: A baseline entry is exact and oracle-stable at the shipped fixtures but
#: has a MEASURED superlinear candidate/pair shape at the 10x scale probe;
#: a 100 TB deployment must run the twin instead. Kept in the registry (not
#: removed) because the pair is what makes the scale claim testable: the
#: probe measures both and SCALING.md cites the numbers.
#: - dedup_simhash: plain-signature chunk keyspace 2.27x superlinear at 10x
#:   (template concentration) -> dedup_simhash_idf measured 1.00.
#: - embedding_semdedup: fixed n_cells=8 makes within-cell pairs quadratic
#:   (10.01x at 10x) -> embedding_semdedup_scaled derives k = ceil(n/50)
#:   (measured ~linear; the operator's own default since round 10).
BASELINE_TIER = {
    "dedup_simhash": "dedup_simhash_idf",
    "embedding_semdedup": "embedding_semdedup_scaled",
}

"""Round-7e queries: salted skew join, file-manifest data skipping, and a
BPE tokenizer-training primitive.

- **salted fact⋈dim join** (``skew_join_salted``): the classic hot-key
  mitigation for a shuffled join — a fact table whose join key is heavily
  skewed hashes ALL of a hot key's rows to one reducer; salting splits each
  key into B sub-keys on the fact side and REPLICATES each dim row across
  all B salts, so a hot key's probe work spreads over B tasks. AQE's
  skew-join splitting (on by default) handles moderate skew at runtime by
  splitting oversized partitions, but it only splits the STREAM side of a
  sort-merge join — when one key alone exceeds executor memory or the dim
  is too big to broadcast, the explicit salt is the deterministic fix. The
  DuckDB oracle is the plain unsalted join, so the gate proves the salted
  spelling is a pure physical rewrite (dim replication is a bounded ×B
  projection of the SMALL side — never of the fact).
- **file-manifest data skipping** (``orders_manifest_skipping``): the
  Iceberg/Delta scan-planning pattern — per-FILE min/max statistics kept in
  a manifest let the planner drop whole files before the scan starts.
  Distinct from the two layout queries already gated: Hive partition
  pruning (``partitioned_scan_pruned``) needs the key baked into the
  directory scheme, and Z-order (``write_zorder``) tightens ROW-GROUP stats
  inside files; the manifest prunes at FILE granularity with no layout
  contract beyond "files were range-written". The staged orders copy is
  ``repartitionByRange(o_orderdate)`` so date ranges per file are tight;
  the manifest is one small aggregate (n_files rows — KBs at 100 TB where
  a real table format would serve it from metadata, no data scan at all),
  and the pruned read lists only the files whose [min,max] overlaps the
  predicate. The oracle filters the original table, so the gate proves
  skipping loses no rows.
- **BPE pair counting** (``text_bpe_merge_pairs``): the inner loop of
  byte-pair-encoding tokenizer training — count adjacent symbol pairs over
  the WORD-FREQUENCY table (not the raw corpus: BPE's classic optimization,
  the pair scan is over distinct words weighted by their corpus frequency,
  shrinking the explode by the corpus/vocabulary ratio). This is merge
  round 1 over character symbols; iterating = re-running with the winning
  pair fused, each round the same bounded shape. Top-20 pairs with a total
  (freq DESC, pair ASC) order keeps both engines deterministic at the
  cut.

No reference counterpart (the reference's only join is the 3-table BM25
join, ``app/query.py:116-126``); these are LLM-pipeline / lakehouse
extensions per SURVEY.md §7.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokenize
from ..sources.readers import load_table, staged_dir

# --------------------------------------------------------------------------
# 1. Salted skew join
# --------------------------------------------------------------------------

#: salt fan-out: a hot key's rows spread over this many join tasks
_N_SALTS = 8


def skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events ⋈ customer on ``user_id = c_custkey`` with an explicit
    ×8 salt, aggregated per market segment.

    Fact side: a deterministic row-level salt (``pmod(hash(event_id), 8)``
    — content-derived, no RNG state, stable across retries). Dim side:
    each customer row is replicated across all 8 salts via a bounded
    ``explode`` (a projection — no shuffle; the replication factor applies
    to the SMALL side only). The join keys on ``(user_id, _salt)``, so the
    hottest user's probe rows land on 8 different reducers instead of 1;
    the ``SHUFFLE_MERGE`` hint pins the shuffled path the salt is for (a
    broadcast join has no reducer to skew — when the dim fits in memory,
    broadcast and skip the salt entirely).

    Every fact row carries exactly one salt and its dim match exists at
    exactly that salt, so the salted join EQUALS the plain join — which is
    what the unsalted DuckDB oracle gates."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    fact = ev.withColumn(
        "_salt", F.pmod(F.hash("event_id"), F.lit(_N_SALTS))
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
        .withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(_N_SALTS)]))
        )
    )
    joined = fact.join(dim.hint("SHUFFLE_MERGE"), ["user_id", "_salt"])
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )


SKEW_JOIN_SALTED_SQL = """
SELECT c.c_mktsegment,
       count(*) AS n_events,
       count(DISTINCT e.user_id) AS n_users,
       round(sum(e.value), 4) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


# --------------------------------------------------------------------------
# 2. File-manifest data skipping
# --------------------------------------------------------------------------

#: files the staged copy is range-split into (≥ this many distinct ranges)
_N_RANGE_FILES = 8

#: the skipping predicate: calendar-year 1997
_LO, _HI = "1997-01-01", "1998-01-01"


def _staged_range_orders(spark: SparkSession, sf_dir: str) -> str:
    """Orders re-written ``repartitionByRange(o_orderdate)`` into a cached
    per-fixture temp dir — the "range-clustered table" a lakehouse would
    maintain; cache validity is fingerprint-gated like every other derived
    copy (``staged_dir``)."""
    def build(path: str) -> None:
        (
            load_table(spark, sf_dir, "orders")
            .repartitionByRange(_N_RANGE_FILES, "o_orderdate")
            .write.mode("overwrite")
            .parquet(path)
        )

    return staged_dir(sf_dir, "rangeparts", build)


def manifest_for(spark: SparkSession, path: str) -> list[dict]:
    """Per-file min/max manifest for a range-written parquet dir: one
    small aggregate keyed on ``input_file_name()`` (n_files rows — the
    collect is bounded by file count, never row count). A real table
    format serves these stats from its metadata layer for free; building
    them here costs one column-pruned scan, amortized across every query
    that skips with them."""
    rows = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.min("o_orderdate").alias("lo"),
            F.max("o_orderdate").alias("hi"),
            F.count("*").alias("n_rows"),
        )
        .collect()
    )
    return [r.asDict() for r in rows]


def orders_manifest_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order count + revenue for 1997, scanning ONLY the files
    whose manifest [min,max] overlaps the year.

    Planner-side step: filter the (tiny) manifest for range overlap and
    hand the surviving file list to the reader — whole files outside the
    predicate are never opened (file-level skipping, above and beyond the
    row-group skipping parquet footers already give within each file).
    The exact predicate is still applied after the read: manifest pruning
    is a superset filter, correctness never depends on it."""
    path = _staged_range_orders(spark, sf_dir)
    manifest = manifest_for(spark, path)
    lo, hi = F.lit(_LO).cast("timestamp"), F.lit(_HI).cast("timestamp")

    def _as_dt(v):  # DATE-typed fixture vintages collect as date, not datetime
        if isinstance(v, _dt.datetime):
            return v
        if isinstance(v, _dt.date):
            return _dt.datetime(v.year, v.month, v.day)
        return v

    keep = [
        m["file"]
        for m in manifest
        if _as_dt(m["hi"]) >= _dt.datetime(1997, 1, 1)
        and _as_dt(m["lo"]) < _dt.datetime(1998, 1, 1)
    ]
    if not keep:  # degenerate fixture: nothing in range — empty, stable schema
        keep = [m["file"] for m in manifest[:1]]
    pruned = spark.read.parquet(*keep).where(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    return (
        pruned.groupBy(
            F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
        .orderBy("month")
    )


MANIFEST_SKIPPING_SQL = f"""
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       count(*) AS n_orders,
       round(sum(o_totalprice), 4) AS revenue
FROM orders
WHERE o_orderdate >= TIMESTAMP '{_LO}' AND o_orderdate < TIMESTAMP '{_HI}'
GROUP BY 1
ORDER BY month
"""


# --------------------------------------------------------------------------
# 3. BPE pair counting (tokenizer-training merge round)
# --------------------------------------------------------------------------


def text_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent character pairs over the corpus word-frequency
    table — BPE merge round 1.

    Pipeline: tokenize (the index's own tokenizer) → word-frequency
    aggregate (the ONLY corpus-sized shuffle; its output is the distinct
    vocabulary, orders of magnitude smaller) → per-word adjacent-pair
    explode (bounded ×(len-1) fan-out of the vocabulary, a projection) →
    weighted pair counts. Iterating BPE re-runs the pair scan with the
    winning pair fused into one symbol; every round keeps this shape, so
    the 100 TB cost is one corpus tokenize + per-round vocabulary-sized
    work."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    toks = docs.select(F.explode(tokenize(F.col("text"))).alias("w"))
    wf = (
        toks.groupBy("w")
        .agg(F.count("*").alias("f"))
        .where(F.length("w") >= 2)
    )
    pairs = wf.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "f",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").cast("long").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("pair").asc())
        .limit(20)
    )


BPE_MERGE_PAIRS_SQL = """
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9_'']+')) AS w
  FROM documents WHERE text IS NOT NULL
),
wf AS (
  SELECT w, count(*) AS f FROM toks GROUP BY w
),
pairs AS (
  SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, f
  FROM wf, UNNEST(range(1, length(w))) AS t(i)
  WHERE length(w) >= 2
)
SELECT pair, CAST(sum(f) AS BIGINT) AS freq
FROM pairs GROUP BY pair
ORDER BY freq DESC, pair ASC
LIMIT 20
"""


QUERIES = {
    "skew_join_salted": skew_join_salted,
    "orders_manifest_skipping": orders_manifest_skipping,
    "text_bpe_merge_pairs": text_bpe_merge_pairs,
}

ORACLES = {
    "skew_join_salted": SKEW_JOIN_SALTED_SQL,
    "orders_manifest_skipping": MANIFEST_SKIPPING_SQL,
    "text_bpe_merge_pairs": BPE_MERGE_PAIRS_SQL,
}

"""The spark.sql surface: register the star schema as temp views and run
plain ANSI SQL against them — how a SQL-first user consumes this engine.

The flagship property here: the query string handed to ``spark.sql`` IS the
oracle string (one dialect-neutral text, two engines). Any aggregate that
would be float-order-sensitive is expressed in exact integer cents so the
shared text is also hash-identical.
"""

# NOTE: no `from __future__ import annotations` here — stringified
# annotations would defeat pandas_udf's type-hint eval-type inference
# (udaf_trimmed_mean), forcing the deprecated PandasUDFType enum instead.

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table


TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (idempotent) so
    ``spark.sql(...)`` works against the same names the DuckDB oracle sees."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


# One text, two engines: runs verbatim under Spark SQL AND DuckDB.
SQL_REGION_ROLLUP = """
SELECT r_name, n_name, COUNT(*) AS n_customers,
       CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def sql_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(SQL_REGION_ROLLUP)


# One text, two engines: a correlated LATERAL subquery (top-2 orders per
# customer) — the SQL-level form of the per-group top-k that
# window_topk_per_group expresses in the DataFrame API. Spark decorrelates
# the LATERAL into a ranked join; DuckDB runs it natively; the shared text
# carries full tie-break keys so both engines emit identical rows.
SQL_LATERAL_TOPK = """
SELECT c_mktsegment, c_custkey, o_orderkey, o_totalprice
FROM customer, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
ORDER BY c_custkey, o_totalprice DESC, o_orderkey
"""


def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(SQL_LATERAL_TOPK)


def udtf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4): a user-defined TABLE function expanding
    each document into its top-3 terms (count desc, term asc) via a LATERAL
    call — the sanctioned modern form of the reference's hand-rolled
    mapper-as-UDTF pipeline (app/mapreduce/mapper1.py:22-23, SURVEY.md
    §2.9). Python UDTFs are the *slow path* by policy (SCALING.md §1);
    this query exists for API parity, and its oracle is the equivalent
    relational explode + count + row_number, proving the UDTF output is
    reproducible by native operators."""
    from pyspark.sql.functions import udtf

    # useArrow: the UDTF exchanges Arrow batches instead of pickled rows
    # (ArrowEvalPythonUDTF in the plan, not BatchEvalPython) — the same
    # vectorized-boundary policy as every pandas_udf in this repo
    @udtf(returnType="term: string, cnt: int, rnk: int", useArrow=True)
    class TopTerms:
        def eval(self, text: str):
            from collections import Counter

            toks = [t for t in (text or "").split(" ") if t]
            best = sorted(
                Counter(toks).items(), key=lambda kv: (-kv[1], kv[0])
            )[:3]
            for i, (term, cnt) in enumerate(best, 1):
                yield term, cnt, i

    spark.udtf.register("top_terms", TopTerms)
    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT doc_id, t.term, t.cnt, t.rnk "
        "FROM documents, LATERAL top_terms(text) t "
        "ORDER BY doc_id, rnk"
    )


UDTF_TOP_TERMS_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
cnt AS (
  SELECT doc_id, tok AS term, CAST(COUNT(*) AS INTEGER) AS cnt
  FROM tok WHERE tok <> '' GROUP BY doc_id, tok),
r AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY cnt DESC, term) AS INTEGER)
              AS rnk
  FROM cnt)
SELECT doc_id, term, cnt, rnk FROM r WHERE rnk <= 3
ORDER BY doc_id, rnk
"""


# RECURSIVE CTE (Spark 4 WITH RECURSIVE) walking the co-purchase graph
# from its smallest node. Two scale lessons are baked into the shape:
# 1. The recursive term SELECTs DISTINCT — with plain UNION ALL the
#    recursion enumerates WALKS (combinatorial in a cyclic graph); the
#    per-level DISTINCT collapses each level to its BFS frontier, making
#    the cost per level ∝ frontier × avg-degree. The dist < 4 guard bounds
#    depth (the standard's UNION-ALL recursion never terminates on cycles).
# 2. Spark re-evaluates non-recursive CTE subplans referenced inside the
#    loop ON EVERY LEVEL (measured 19 s at sf0.1 with the edge build
#    inlined vs ~1 s materialized), so the Spark side materializes the
#    adjacency list to parquet once and recurses over the view; the DuckDB
#    oracle runs the logically-identical standalone text below.
# Shortest distances come from the MIN(dist) reaggregation — the same
# result as graph_bfs_3hop's iterative joins, one hop deeper, expressed
# declaratively. Production reachability at 100 TB stays on the iterative
# min-label form (dedup_cluster_components); this pins SQL-surface parity.
SQL_RECURSIVE_REACHABILITY = """
WITH RECURSIVE
li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
adj AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
walk(node, dist) AS (
  SELECT MIN(u) AS node, 0 AS dist FROM adj
  UNION ALL
  SELECT DISTINCT a.v AS node, w.dist + 1 AS dist
  FROM walk w JOIN adj a ON a.u = w.node
  WHERE w.dist < 4),
best AS (SELECT node, MIN(dist) AS dist FROM walk GROUP BY node)
SELECT CAST(dist AS BIGINT) AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM best GROUP BY dist ORDER BY dist
"""


_RECURSION_OVER_VIEW = """
WITH RECURSIVE
walk(node, dist) AS (
  SELECT MIN(u) AS node, 0 AS dist FROM copurchase_adj
  UNION ALL
  SELECT DISTINCT a.v AS node, w.dist + 1 AS dist
  FROM walk w JOIN copurchase_adj a ON a.u = w.node
  WHERE w.dist < 4),
best AS (SELECT node, MIN(dist) AS dist FROM walk GROUP BY node)
SELECT CAST(dist AS BIGINT) AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM best GROUP BY dist ORDER BY dist
"""


def sql_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..sources.readers import staged_dir
    from .graph_queries import _copurchase_edges

    register_views(spark, sf_dir)

    def build(path: str) -> None:
        edges = _copurchase_edges(spark, sf_dir)
        adj = edges.select("u", "v").unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        adj.write.mode("overwrite").parquet(path)

    path = staged_dir(sf_dir, "adj_rec", build)
    spark.read.parquet(path).createOrReplaceTempView("copurchase_adj")
    return spark.sql(_RECURSION_OVER_VIEW)


# One text, two engines: GROUP BY ALL (Spark 3.4+/DuckDB dialect sugar that
# groups on every non-aggregate select item). Exact-integer cents keep the
# SUM order-independent and hash-stable.
SQL_GROUP_BY_ALL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders
GROUP BY ALL
ORDER BY o_orderstatus, o_orderpriority
"""


def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(SQL_GROUP_BY_ALL)


# ---------------------------------------------------------------------------
# Python DataSource API (Spark 4)
# ---------------------------------------------------------------------------


def python_datasource_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A table from a USER-DEFINED Python data source (Spark 4's
    ``pyspark.sql.datasource`` API): a generated calendar dimension,
    partitioned one-split-per-month so the read parallelizes like any other
    source. Exercises the full custom-source contract — name/schema/reader/
    partitions — the extension point for reading systems Spark has no
    built-in connector for. The query rolls the dimension up per month;
    the oracle regenerates the same calendar with generate_series."""
    from ..sources.pyds import CalendarDataSource

    spark.dataSource.register(CalendarDataSource)
    cal = spark.read.format("calendar").option("year", "1995").load()
    return (
        cal.groupBy("month")
        .agg(
            F.count("*").alias("n_days"),
            F.sum(F.col("is_weekend").cast("long")).alias("n_weekend"),
            F.min("day").alias("first_day"),
        )
        .orderBy("month")
    )


PY_DATASOURCE_SQL = """
WITH cal AS (
  SELECT CAST(d AS DATE) AS day,
         month(CAST(d AS DATE)) AS month,
         isodow(CAST(d AS DATE)) >= 6 AS is_weekend
  FROM generate_series(DATE '1995-01-01', DATE '1995-12-31', INTERVAL 1 DAY)
       gs(d))
SELECT CAST(month AS INTEGER) AS month,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(CAST(is_weekend AS BIGINT)) AS BIGINT) AS n_weekend,
       MIN(day) AS first_day
FROM cal GROUP BY month ORDER BY month
"""


def udaf_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF surface (``pandas_udf`` GROUPED_AGG): a per-event-type
    10%-trimmed mean — the robust-location aggregate built-ins don't ship.
    The UDF receives each group's values as ONE Arrow-backed numpy array
    (vectorized; PythonUDAF in the plan, never row-at-a-time), and all
    arithmetic is integer cents with a single floor division, so the result
    is bit-exact across engines and partitionings. Python's ``//`` floors;
    the oracle mirrors it with ``floor(sum/cnt)`` in double (the sum is
    far below 2^53, so the double division is exact) — robust even if a
    regenerated fixture ships negative values, where DuckDB's integer
    ``//`` (truncating) would diverge.

    Scale note: GROUPED_AGG materializes each group's values in executor
    memory — fine for bounded groups (event types); for unbounded groups
    the rank-filtered SQL form (the oracle's shape) is the scale path.
    This query pins the API surface, like udtf_top_terms.

    Single pass: Spark disallows mixing a GROUPED_AGG pandas UDF with
    native aggregates in one ``agg()``, but multiple GROUPED_AGG UDFs
    compose — so the group count rides along as a second vectorized UDAF
    over the same Arrow batch (one shuffle, no join-back). Eval type is
    inferred from the ``pd.Series -> int`` hints (the non-deprecated
    Spark 3/4 API); this module deliberately has no
    ``from __future__ import annotations``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _trimmed(cents: pd.Series) -> int:
        v = cents.sort_values().to_numpy()
        k = len(v) // 10
        kept = v[k : len(v) - k] if len(v) > 2 * k else v
        return int(kept.sum()) // len(kept)

    def _size(cents: pd.Series) -> int:
        return len(cents)

    trimmed_mean_cents = pandas_udf(_trimmed, "long")
    group_size = pandas_udf(_size, "long")

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cents = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return (
        cents.groupBy("event_type")
        .agg(
            group_size("cents").alias("n_events"),
            trimmed_mean_cents("cents").alias("trimmed_mean_cents"),
        )
        .orderBy("event_type")
    )


UDAF_TRIMMED_MEAN_SQL = """
WITH c AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL),
r AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM c)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_events,
       CAST(floor(CAST(SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                             THEN cents END) AS DOUBLE)
                  / (MAX(n) - 2 * (MAX(n) // 10))) AS BIGINT)
         AS trimmed_mean_cents
FROM r GROUP BY event_type ORDER BY event_type
"""


QUERIES = {
    "sql_group_by_all": sql_group_by_all,
    "sql_region_rollup": sql_region_rollup,
    "sql_lateral_topk": sql_lateral_topk,
    "udtf_top_terms": udtf_top_terms,
    "sql_recursive_reachability": sql_recursive_reachability,
    "python_datasource_calendar": python_datasource_calendar,
    "udaf_trimmed_mean": udaf_trimmed_mean,
}

ORACLES = {
    "sql_group_by_all": SQL_GROUP_BY_ALL,
    "sql_region_rollup": SQL_REGION_ROLLUP,
    "sql_lateral_topk": SQL_LATERAL_TOPK,
    "udtf_top_terms": UDTF_TOP_TERMS_SQL,
    "sql_recursive_reachability": SQL_RECURSIVE_REACHABILITY,
    "python_datasource_calendar": PY_DATASOURCE_SQL,
    "udaf_trimmed_mean": UDAF_TRIMMED_MEAN_SQL,
}

"""Output checks. Every one runs outside the timed spans.

- Search: a DuckDB BM25 oracle whose four index tables are built once per
  document set (the registry's per-query ``_bm25_oracle`` SQL re-tokenizes
  the corpus on every call). Ranks are compared at 6 decimals, as
  ``plans/search_queries.py`` does, and ties at the k-th score are accepted.
- Store: after a fresh build, rebuild or delete the four stored tables must
  equal a fresh DuckDB build over the surviving documents; after an
  accumulate they must also keep the FIXTURES.md A2 invariants with
  ``doc_n`` = old + delta.
- Registry: row count, schema and the order-insensitive row hash of
  ``tools/oracle_check.py`` against the query's entry in ``ORACLES``.
"""

from __future__ import annotations

import math
import os

import duckdb
import pyarrow as pa

from big_data_assignment2_2025_spark.operators.search import B, K1, parse_query
from big_data_assignment2_2025_spark.plans import ORACLES
from tools.oracle_check import _hash_rows

RANK_TOL = 1.5e-6  # two values rounded to 6 decimals may sit one step apart

INDEX_SQL = """
CREATE OR REPLACE TABLE o_tf AS
  SELECT term, 'whole_corpus' AS corpus_name, doc_id, 'doc_' || doc_id AS doc_title,
         CAST(count(*) AS INTEGER) AS term_frequency
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM o_docs
        WHERE length(trim(text)) > 0)
  WHERE term <> ''
  GROUP BY ALL;
CREATE OR REPLACE TABLE o_df AS
  SELECT term, corpus_name, CAST(count(*) AS INTEGER) AS doc_frequency FROM o_tf GROUP BY ALL;
CREATE OR REPLACE TABLE o_di AS
  SELECT doc_id, doc_title, CAST(sum(term_frequency) AS INTEGER) AS doc_length FROM o_tf GROUP BY ALL;
CREATE OR REPLACE TABLE o_ci AS
  SELECT 'whole_corpus' AS corpus_name, CAST(count(*) AS INTEGER) AS doc_n,
         CAST(sum(doc_length) AS INTEGER) AS total_doc_length FROM o_di;
"""

SCORE_SQL = f"""
SELECT tf.doc_id,
       sum(ln(CAST(ci.doc_n AS DOUBLE) / CAST(v.doc_frequency AS DOUBLE))
           * ((CAST({K1} AS DOUBLE) + 1.0) * CAST(tf.term_frequency AS DOUBLE))
           / (CAST({K1} AS DOUBLE) * (1.0 - CAST({B} AS DOUBLE) + CAST({B} AS DOUBLE)
                * CAST(di.doc_length AS DOUBLE)
                / (CAST(ci.total_doc_length AS DOUBLE) / CAST(ci.doc_n AS DOUBLE)))
              + CAST(tf.term_frequency AS DOUBLE))) AS score
FROM o_tf tf
JOIN o_df v USING (term)
JOIN o_di di USING (doc_id)
CROSS JOIN o_ci ci
WHERE tf.term IN (SELECT unnest($terms))
GROUP BY tf.doc_id
"""


class SearchOracle:
    """BM25 over an in-memory DuckDB copy of one document set."""

    def __init__(self, docs: dict[int, str]):
        self.con = duckdb.connect()
        self.load(docs)

    def load(self, docs: dict[int, str]) -> None:
        ids = sorted(docs)
        self.con.register(
            "o_docs_src",
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array([docs[i] for i in ids], pa.string())}),
        )
        self.con.execute("CREATE OR REPLACE TABLE o_docs AS SELECT * FROM o_docs_src")
        self.con.unregister("o_docs_src")
        self.con.execute(INDEX_SQL)

    def scores(self, query: str) -> dict[int, float]:
        rows = self.con.execute(SCORE_SQL, {"terms": parse_query(query)}).fetchall()
        return {int(d): round(s, 6) for d, s in rows}

    def check(self, query: str, rows: list[tuple], k: int = 10) -> bool:
        """``rows`` are (doc_id, doc_title, doc_rank) in result order."""
        expected = self.scores(query)
        if len(rows) != min(k, len(expected)):
            return False
        got = [(int(d), t, round(r, 6)) for d, t, r in rows]
        if len({d for d, _, _ in got}) != len(got):
            return False
        for (d, title, rank), nxt in zip(got, got[1:] + [None]):
            if title != f"doc_{d}" or d not in expected:
                return False
            if not math.isclose(rank, expected[d], abs_tol=RANK_TOL):
                return False
            if nxt is not None and nxt[2] > rank + RANK_TOL:
                return False
        if not got:
            return True
        kth = got[-1][2]
        chosen = {d for d, _, _ in got}
        # every doc scoring above the k-th score must be returned; the
        # remaining slots may go to any doc tied at the k-th score
        return all(d in chosen for d, s in expected.items() if s > kth + RANK_TOL)

    # --- store ------------------------------------------------------------

    def store_matches(self, store: str) -> bool:
        """The stored tables equal the oracle's fresh build, row for row."""
        pairs = {
            "term_freq": ("o_tf", "term, corpus_name, doc_id, doc_title, term_frequency"),
            "term_doc_freq": ("o_df", "term, corpus_name, doc_frequency"),
            "doc_info": ("o_di", "doc_id, doc_title, doc_length"),
            "corpus_info": ("o_ci", "corpus_name, doc_n, total_doc_length"),
        }
        for table, (mine, cols) in pairs.items():
            stored = _stored(store, table)
            diff = self.con.execute(
                f"SELECT count(*) FROM ((SELECT {cols} FROM {stored} EXCEPT ALL SELECT {cols} FROM {mine})"
                f" UNION ALL (SELECT {cols} FROM {mine} EXCEPT ALL SELECT {cols} FROM {stored}))"
            ).fetchone()[0]
            if diff:
                return False
        return True

    def a2_invariants(self, store: str, doc_n: int) -> bool:
        """FIXTURES.md A2: sum(tf) per doc == doc_length, 0 < df <= doc_n,
        total_doc_length == sum(doc_length); plus the expected doc_n."""
        tf, df = _stored(store, "term_freq"), _stored(store, "term_doc_freq")
        di, ci = _stored(store, "doc_info"), _stored(store, "corpus_info")
        q = self.con.execute
        bad_len = q(
            f"SELECT count(*) FROM (SELECT doc_id, sum(term_frequency) s FROM {tf} GROUP BY 1) t"
            f" FULL JOIN {di} d USING (doc_id) WHERE t.s IS DISTINCT FROM d.doc_length"
        ).fetchone()[0]
        n, total = q(f"SELECT doc_n, total_doc_length FROM {ci}").fetchone()
        bad_df = q(f"SELECT count(*) FROM {df} WHERE doc_frequency <= 0 OR doc_frequency > {n}").fetchone()[0]
        sum_len = q(f"SELECT sum(doc_length) FROM {di}").fetchone()[0]
        return bad_len == 0 and bad_df == 0 and total == sum_len and n == doc_n


def _stored(store: str, table: str) -> str:
    return f"read_parquet('{os.path.join(store, table)}/**/*.parquet', hive_partitioning = true)"


def store_bytes(store: str) -> int:
    """Bytes on disk of the four index tables' parquet files."""
    total = 0
    for root, _, files in os.walk(store):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return total


# --- registry --------------------------------------------------------------

REGISTRY_TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


class RegistryOracle:
    """The registry queries' DuckDB oracles over one fixture directory."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        for t in REGISTRY_TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> bool:
        tbl = self.con.execute(ORACLES[name]).arrow()
        ocols = tbl.schema.names
        orows = [tuple(d[c] for c in ocols) for d in tbl.to_pylist()]
        return (len(rows), sorted(cols), _hash_rows(cols, rows)) == (
            len(orows), sorted(ocols), _hash_rows(ocols, orows)
        )

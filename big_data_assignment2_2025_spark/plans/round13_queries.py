"""Round-13 queries: column mapping (rename/drop without rewrite) and
identity / generated columns on the snapshot store.

``sources/snapshots.py`` gained the remaining Delta DDL surface:
``rename_column`` / ``drop_column`` are metadata-only under a
logical->physical ``column_mapping`` (physical in-file names never
change; a dropped column's physical name retires so a re-added logical
name can never resurrect dead bytes), ``add_identity_column`` records a
GENERATED ALWAYS AS IDENTITY watermark that every later commit assigns
past (unique, gaps allowed, no shuffle), and ``add_generated_column``
materializes GENERATED ALWAYS AS (expr) on every write verb's
post-images. All three gates stage a store whose builder ASSERTS the
refusal paths, then pin the surviving narrative cross-engine.

Scale: rename/drop touch one manifest (O(members) metadata, zero data
bytes); identity assignment derives from per-partition id blocks (no
shuffle, no global sort — Delta documents the same gap-allowed
contract); generated recompute is a codegen'd projection on post-images
only.

No reference counterpart; lakehouse extensions per SURVEY.md §7.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table, staged_dir
from ..sources.snapshots import SnapshotStore

#: the column-mapping narrative's append split (shared Spark/SQL)
_MAP_MOD = 1000   # v5 appends orders with k % 1000 == 0 under the new names


def _staged_mapping_store(spark: SparkSession, sf_dir: str) -> SnapshotStore:
    """v1 overwrite -> v2 rename(o_totalprice -> price_usd) -> v3
    drop(o_orderpriority) -> v4 re-add o_orderpriority (fresh physical:
    old bytes must NOT resurrect) -> v5 append under the new names. The
    builder asserts the refusal paths (rename onto an existing name,
    drop of the last column's guards are unit-tested; here: re-added
    column reads NULL on pre-drop rows)."""
    def build(base: str) -> None:
        store = SnapshotStore(base)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        store.commit(orders, mode="overwrite", stats_cols=["o_orderkey"])
        v2 = store.rename_column("o_totalprice", "price_usd")
        assert store.manifest(v2)["added"] == [], "rename wrote data"
        v3 = store.drop_column("o_orderpriority")
        assert store.manifest(v3)["added"] == [], "drop wrote data"
        store.add_column("o_orderpriority", "string")
        assert store.column_mapping()["o_orderpriority"] != (
            "o_orderpriority"
        ), "re-added column did not get a fresh physical name"
        store.commit(
            orders.where(F.col("o_orderkey") % _MAP_MOD == 0)
            .withColumnRenamed("o_totalprice", "price_usd")
            .withColumn("o_orderpriority", F.lit("NEW")),
            mode="append",
        )

    return SnapshotStore(staged_dir(sf_dir, "snapcolmap1", build))


def storage_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column mapping narrative pinned cross-engine: the renamed column
    serves the SAME values under its new logical name (physical bytes
    untouched — bookkeeping pins zero files written by rename/drop),
    the dropped-then-re-added column reads NULL on every pre-drop row
    (fresh physical name: dead bytes cannot resurrect) and 'NEW' on the
    appended batch, and time travel still shows the old shape. Money as
    exact integer cents."""
    store = _staged_mapping_store(spark, sf_dir)
    v1_cols = store.schema(1).fieldNames()
    v5 = store.latest_version()
    return (
        store.read(spark)
        .groupBy(
            F.coalesce(F.col("o_orderpriority"), F.lit("__none__")).alias(
                "prio"
            )
        )
        .agg(
            F.count("*").alias("n_rows"),
            (
                F.sum(F.round(F.col("price_usd") * 100).cast("long"))
                / 100.0
            ).alias("sum_price"),
        )
        .select(
            F.lit(v5).alias("n_versions"),
            F.lit(int("o_totalprice" in v1_cols)).alias("v1_old_name"),
            F.lit(
                int(store.column_mapping()["price_usd"] == "o_totalprice")
            ).alias("mapping_pins_physical"),
            F.lit(len(store.manifest(v5)["retired_physical"])).alias(
                "n_retired"
            ),
            "prio",
            "n_rows",
            "sum_price",
        )
        .orderBy("prio")
    )


COLUMN_MAPPING_SQL = f"""
WITH final AS (
  SELECT '__none__' AS prio, o_totalprice AS p FROM orders
  UNION ALL
  SELECT 'NEW', o_totalprice FROM orders
  WHERE o_orderkey % {_MAP_MOD} = 0)
SELECT CAST(5 AS INTEGER) AS n_versions,
       CAST(1 AS INTEGER) AS v1_old_name,
       CAST(1 AS INTEGER) AS mapping_pins_physical,
       CAST(1 AS INTEGER) AS n_retired,
       prio, COUNT(*) AS n_rows,
       CAST(SUM(CAST(round(p * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_price
FROM final
GROUP BY prio
ORDER BY prio
"""


#: identity narrative splits (shared Spark/SQL)
_ID_MOD = 3        # v1 = k % 3 != 0; v3 appends k % 3 == 0
_ID_START = 1000
_ID_STEP = 3
_ID_UPD_PRIO = "1-URGENT"   # v4 update: price += 10 on this priority


def _staged_identity_store(spark: SparkSession, sf_dir: str) -> SnapshotStore:
    """v1 overwrite (no id column) -> v2 add_identity_column (one
    rewrite materializes ids for existing rows) -> v3 append OMITTING
    the column (engine assigns past the watermark) -> v4 update_where
    (post-images keep their ids). The builder asserts the refusal
    paths: explicit identity values and identity assignment refuse."""
    def build(base: str) -> None:
        store = SnapshotStore(base)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        store.commit(
            orders.where(F.col("o_orderkey") % _ID_MOD != 0),
            mode="overwrite",
            stats_cols=["o_orderkey"],
        )
        store.add_identity_column(
            spark, "row_id", start=_ID_START, step=_ID_STEP
        )
        try:
            store.commit(
                orders.limit(1).withColumn(
                    "row_id", F.lit(1).cast("long")
                ),
                mode="append",
            )
            raise AssertionError("explicit identity value landed")
        except ValueError:
            pass
        store.commit(
            orders.where(F.col("o_orderkey") % _ID_MOD == 0),
            mode="append",
        )
        try:
            store.update_where(
                spark, F.lit(True), {"row_id": F.lit(0).cast("long")}
            )
            raise AssertionError("identity assignment landed")
        except ValueError:
            pass
        store.update_where(
            spark,
            F.col("o_orderpriority") == _ID_UPD_PRIO,
            {"o_totalprice": F.col("o_totalprice") + F.lit(10.0)},
        )

    return SnapshotStore(staged_dir(sf_dir, "snapident1", build))


def storage_identity_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED ALWAYS AS IDENTITY pinned cross-engine: the Spark side
    MEASURES the identity invariants on the final table (ids unique,
    none NULL, all past the start in step's residue class, watermark
    covering the max) and the oracle states what they must equal — a
    broken assignment (collision, NULL on the update path, watermark
    drift) hash-mismatches. The per-priority money aggregate pins that
    the id machinery never perturbed row content."""
    store = _staged_identity_store(spark, sf_dir)
    wm = store.identity_columns()["row_id"]["watermark"]
    t = store.read(spark)
    inv = t.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("row_id").alias("n_distinct_ids"),
        F.sum(
            F.when(F.col("row_id").isNull(), 1).otherwise(0)
        ).alias("n_null_ids"),
        F.min(
            F.when(F.col("row_id") >= _ID_START, 1).otherwise(0)
        ).alias("all_past_start"),
        F.min(
            F.when(
                (F.col("row_id") - _ID_START) % _ID_STEP == 0, 1
            ).otherwise(0)
        ).alias("all_on_step"),
        F.max(
            F.when(F.col("row_id") <= F.lit(wm), 1).otherwise(0)
        ).alias("watermark_covers"),
    )
    money = t.groupBy(
        F.col("o_orderpriority").alias("prio")
    ).agg(
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            / 100.0
        ).alias("sum_price")
    )
    return inv.crossJoin(money).select(
        "prio", "n_rows", "n_distinct_ids", "n_null_ids",
        "all_past_start", "all_on_step", "watermark_covers", "sum_price",
    ).orderBy("prio")


IDENTITY_COLUMN_SQL = f"""
WITH updated AS (
  SELECT o_orderpriority AS prio,
         CASE WHEN o_orderpriority = '{_ID_UPD_PRIO}'
              THEN o_totalprice + 10.0 ELSE o_totalprice END AS p
  FROM orders),
inv AS (SELECT COUNT(*) AS n FROM updated)
SELECT u.prio,
       inv.n AS n_rows,
       inv.n AS n_distinct_ids,
       CAST(0 AS BIGINT) AS n_null_ids,
       CAST(1 AS INTEGER) AS all_past_start,
       CAST(1 AS INTEGER) AS all_on_step,
       CAST(1 AS INTEGER) AS watermark_covers,
       CAST(SUM(CAST(round(u.p * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_price
FROM updated u CROSS JOIN inv
GROUP BY u.prio, inv.n
ORDER BY u.prio
"""


#: generated-column narrative splits (shared Spark/SQL)
_GEN_MOD = 2          # v1 = k % 2 == 0; v3 appends k % 2 == 1
_GEN_DIV = 50000      # band = floor(price / 50000)
_GEN_UPD_PRIO = "1-URGENT"   # v4 update: price += 100000 -> band jumps


def _staged_generated_store(spark: SparkSession, sf_dir: str) -> SnapshotStore:
    """v1 overwrite -> v2 add_generated_column(band) (one rewrite
    materializes it) -> v3 append OMITTING the column (engine computes)
    -> v4 update_where on a SOURCE column (band recomputes on the
    post-image). The builder asserts explicit values refuse."""
    def build(base: str) -> None:
        store = SnapshotStore(base)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        store.commit(
            orders.where(F.col("o_orderkey") % _GEN_MOD == 0),
            mode="overwrite",
            stats_cols=["o_orderkey"],
        )
        store.add_generated_column(
            spark, "band", "int",
            f"CAST(FLOOR(o_totalprice / {_GEN_DIV}) AS INT)",
        )
        try:
            store.commit(
                orders.limit(1).withColumn("band", F.lit(0)),
                mode="append",
            )
            raise AssertionError("explicit generated value landed")
        except ValueError:
            pass
        store.commit(
            orders.where(F.col("o_orderkey") % _GEN_MOD == 1),
            mode="append",
        )
        store.update_where(
            spark,
            F.col("o_orderpriority") == _GEN_UPD_PRIO,
            {"o_totalprice": F.col("o_totalprice") + F.lit(100000.0)},
        )

    return SnapshotStore(staged_dir(sf_dir, "snapgen1", build))


def storage_generated_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED ALWAYS AS (expr) pinned cross-engine at VALUE level:
    the per-band aggregate of the final state must equal the oracle's
    recomputation of the expression over the relational narrative —
    a stale band on the update path (the classic derived-column bug)
    shifts rows between groups and hash-mismatches. FLOOR keeps the
    Spark truncation and DuckDB rounding casts agreed."""
    store = _staged_generated_store(spark, sf_dir)
    return (
        store.read(spark)
        .groupBy("band")
        .agg(
            F.count("*").alias("n_rows"),
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / 100.0
            ).alias("sum_price"),
        )
        .orderBy("band")
    )


GENERATED_COLUMN_SQL = f"""
WITH updated AS (
  SELECT CASE WHEN o_orderpriority = '{_GEN_UPD_PRIO}'
              THEN o_totalprice + 100000.0 ELSE o_totalprice END AS p
  FROM orders)
SELECT CAST(FLOOR(p / {_GEN_DIV}) AS INTEGER) AS band,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(round(p * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_price
FROM updated
GROUP BY band
ORDER BY band
"""


#: skewed pruned-merge narrative splits (shared Spark/SQL). The member
#: shape is ZIPFIAN: one HOT member holds the keys below the 90% cut,
#: four cold members split the tail — and the change batch targets ONLY
#: hot keys, so the hot member absorbs every change (r12 verdict #2:
#: exactly the shape where an affected/untouched split degrades).
_SKEW_UPD_MOD = 5     # hot keys k%5==0 (and not %7) get price += 10
_SKEW_DEL_MOD = 7     # hot keys k%7==0 are deleted
_SKEW_INS_MOD = 97    # one insert per k%97==0 source row, above max key


def _staged_skew_merge_store(spark: SparkSession, sf_dir: str) -> SnapshotStore:
    """v1-v5: orders committed as one HOT member (keys < 90% cut) plus
    four cold tail members, all with o_orderkey stats; v6: ONE
    ``merge(prune=True)`` whose update/delete keys all live in the hot
    member — the builder asserts the prune still bit (exactly the hot
    member rewritten, the four cold members carried verbatim)."""
    def build(base: str) -> None:
        store = SnapshotStore(base)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        max_key = int(orders.agg(F.max("o_orderkey")).first()[0])
        hot_cut = (max_key * 9) // 10
        k = F.col("o_orderkey")
        store.commit(
            orders.where(k < hot_cut), mode="overwrite",
            stats_cols=["o_orderkey"],
        )
        tail = (max_key + 1 - hot_cut) // 4 + 1
        for i in range(4):
            lo = hot_cut + i * tail
            store.commit(
                orders.where((k >= lo) & (k < lo + tail)),
                mode="append", stats_cols=["o_orderkey"],
            )
        snull = F.lit(None).cast("string")
        hot = orders.where(k < hot_cut)
        deletes = hot.where(k % _SKEW_DEL_MOD == 0).select(
            "o_orderkey", snull.alias("o_orderpriority"),
            F.lit(None).cast("double").alias("o_totalprice"),
            F.lit("delete").alias("_op"),
        )
        updates = hot.where(
            (k % _SKEW_UPD_MOD == 0) & (k % _SKEW_DEL_MOD != 0)
        ).select(
            "o_orderkey", snull.alias("o_orderpriority"),
            (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
            F.lit("upsert").alias("_op"),
        )
        inserts = orders.where(k % _SKEW_INS_MOD == 0).select(
            (k + max_key + 1).alias("o_orderkey"),
            F.lit("SKEWINS").alias("o_orderpriority"),
            F.lit(1.0).alias("o_totalprice"),
            F.lit("upsert").alias("_op"),
        )
        v = store.merge(
            spark,
            deletes.unionAll(updates).unionAll(inserts),
            keys=["o_orderkey"],
            prune=True,
        )
        doc = store.manifest(v)
        assert len(doc["rewrote"]) == 1, (
            f"skewed pruned merge rewrote {len(doc['rewrote'])} members "
            "(expected exactly the hot one)"
        )

    return SnapshotStore(staged_dir(sf_dir, "snapskewmerge1", build))


def storage_merge_pruned_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-PRUNED merge under a zipfian member shape: the hot member
    absorbs every update/delete, yet the four cold tail members are
    carried into the merged manifest verbatim — rewrote(1) << members(5)
    even when one member holds 90% of the keys, and the end state equals
    the oracle's relational rebuild. The 100 TB point: prune cost scales
    with AFFECTED members, and hot-key concentration cannot silently
    degrade the split into a full rewrite (bookkeeping columns pin it)."""
    store = _staged_skew_merge_store(spark, sf_dir)
    v = store.latest_version()
    doc = store.manifest(v)
    return (
        store.read(spark)
        # updates carried a NULL priority -> partial-update coalesce
        # inherited the target's value, so grouping needs no relabel
        .groupBy(F.col("o_orderpriority").alias("prio"))
        .agg(
            F.count("*").alias("n_rows"),
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / 100.0
            ).alias("sum_price"),
        )
        .select(
            F.lit(len(doc["rewrote"])).alias("n_rewrote"),
            F.lit(len(store.manifest(v - 1)["members"])).alias(
                "n_members_before"
            ),
            "prio",
            "n_rows",
            "sum_price",
        )
        .orderBy("prio")
    )


MERGE_PRUNED_SKEW_SQL = f"""
WITH b AS (
  SELECT CAST(MAX(o_orderkey) * 9 // 10 AS BIGINT) AS hot_cut,
         MAX(o_orderkey) AS max_key
  FROM orders),
merged AS (
  SELECT o.o_orderpriority AS prio,
         o.o_totalprice
         + CASE WHEN o.o_orderkey < b.hot_cut
                     AND o.o_orderkey % {_SKEW_UPD_MOD} = 0
                     AND o.o_orderkey % {_SKEW_DEL_MOD} <> 0
                THEN 10.0 ELSE 0.0 END AS p
  FROM orders o, b
  WHERE NOT (o.o_orderkey < b.hot_cut
             AND o.o_orderkey % {_SKEW_DEL_MOD} = 0)
  UNION ALL
  SELECT 'SKEWINS', 1.0
  FROM orders WHERE o_orderkey % {_SKEW_INS_MOD} = 0)
SELECT CAST(1 AS INTEGER) AS n_rewrote,
       CAST(5 AS INTEGER) AS n_members_before,
       prio, COUNT(*) AS n_rows,
       CAST(SUM(CAST(round(p * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_price
FROM merged
GROUP BY prio
ORDER BY prio
"""


#: restore narrative splits (shared Spark/SQL)
_RST_APP_MOD = 100    # v2 appends k % 100 == 0 (rolled back by v4)
_RST_UPD_PRIO = "2-HIGH"   # v3 update (+10) — also rolled back
_RST_POST_MOD = 500   # v5 appends k % 500 == 0 AFTER the restore


def _staged_restore_store(spark: SparkSession, sf_dir: str) -> SnapshotStore:
    """v1 overwrite -> v2 append -> v3 update_where -> v4 RESTORE(1)
    (metadata-only: the append and the update roll back, history stays
    time-travelable) -> v5 append. The builder asserts the restore wrote
    nothing and recorded its target."""
    def build(base: str) -> None:
        store = SnapshotStore(base)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        store.commit(orders, mode="overwrite", stats_cols=["o_orderkey"])
        store.commit(
            orders.where(F.col("o_orderkey") % _RST_APP_MOD == 0),
            mode="append",
        )
        store.update_where(
            spark,
            F.col("o_orderpriority") == _RST_UPD_PRIO,
            {"o_totalprice": F.col("o_totalprice") + F.lit(10.0)},
        )
        v4 = store.restore(1)
        doc = store.manifest(v4)
        assert doc["added"] == [] and doc["restore_of"] == 1, doc
        store.commit(
            orders.where(F.col("o_orderkey") % _RST_POST_MOD == 0),
            mode="append",
        )

    return SnapshotStore(staged_dir(sf_dir, "snaprestore1", build))


def storage_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE pinned cross-engine: the final table equals v1's rows
    plus only the POST-restore append (the rolled-back append and
    update are gone from latest but still time-travelable — bookkeeping
    pins the v3 row count stayed larger and that the restore wrote zero
    files). Delta semantics: rollback as one more manifest, never
    deleted history."""
    store = _staged_restore_store(spark, sf_dir)
    v3_rows = store.read(spark, 3).count()
    v4 = store.manifest(4)
    return (
        store.read(spark)
        .groupBy(F.col("o_orderpriority").alias("prio"))
        .agg(
            F.count("*").alias("n_rows"),
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / 100.0
            ).alias("sum_price"),
        )
        .select(
            F.lit(v4["mode"]).alias("v4_mode"),
            F.lit(v4["restore_of"]).alias("restore_of"),
            F.lit(len(v4["added"])).alias("v4_files_written"),
            F.lit(int(v3_rows > 0)).alias("history_travelable"),
            "prio",
            "n_rows",
            "sum_price",
        )
        .orderBy("prio")
    )


RESTORE_SQL = f"""
WITH final AS (
  SELECT o_orderpriority AS prio, o_totalprice AS p FROM orders
  UNION ALL
  SELECT o_orderpriority, o_totalprice FROM orders
  WHERE o_orderkey % {_RST_POST_MOD} = 0)
SELECT 'restore' AS v4_mode, CAST(1 AS INTEGER) AS restore_of,
       CAST(0 AS INTEGER) AS v4_files_written,
       CAST(1 AS INTEGER) AS history_travelable,
       prio, COUNT(*) AS n_rows,
       CAST(SUM(CAST(round(p * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_price
FROM final
GROUP BY prio
ORDER BY prio
"""


#: clone narrative splits (shared Spark/SQL)
_CLN_SRC_MOD = 2      # source = k % 2 == 0
_CLN_DEL_MOD = 10     # source deletes k % 10 == 0 before the clone
_CLN_APP_MOD = 7      # clone appends k % 7 == 3 afterwards


def _staged_clone_store(spark: SparkSession, sf_dir: str) -> SnapshotStore:
    """Source: v1 overwrite (k%2==0) -> v2 delete_where (k%10==0, a DV
    the clone must inherit) -> SHALLOW CLONE -> the clone appends its
    own batch (k%7==3). Builder asserts zero bytes copied (the clone's
    data dir holds only its own append). The clone references the
    source's directories, so both stage under one root (``src/``,
    ``dst/``) behind one marker."""
    def build(root: str) -> None:
        src = SnapshotStore(os.path.join(root, "src"))
        dst_base = os.path.join(root, "dst")
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        src.commit(
            orders.where(F.col("o_orderkey") % _CLN_SRC_MOD == 0),
            mode="overwrite",
            stats_cols=["o_orderkey"],
        )
        src.delete_where(spark, F.col("o_orderkey") % _CLN_DEL_MOD == 0)
        clone = src.clone_to(dst_base)
        assert os.listdir(os.path.join(dst_base, "data")) == [], (
            "shallow clone copied bytes"
        )
        clone.commit(
            orders.where(F.col("o_orderkey") % _CLN_APP_MOD == 3)
            .withColumn("o_orderpriority", F.lit("CLONED")),
            mode="append",
        )

    root = staged_dir(sf_dir, "snapclone1", build)
    return SnapshotStore(os.path.join(root, "dst"))


def storage_clone_shallow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow clone pinned cross-engine: the clone serves the SOURCE's
    live rows (deletion vector inherited by reference) plus its own
    divergent append — zero bytes copied at clone time (bookkeeping
    pins v1 wrote nothing and mode 'clone'). The 100 TB point: forking
    a corpus for an experiment costs O(members) metadata, not a table
    copy."""
    store = _staged_clone_store(spark, sf_dir)
    v1 = store.manifest(1)
    return (
        store.read(spark)
        .groupBy(F.col("o_orderpriority").alias("prio"))
        .agg(
            F.count("*").alias("n_rows"),
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / 100.0
            ).alias("sum_price"),
        )
        .select(
            F.lit(v1["mode"]).alias("v1_mode"),
            F.lit(len(v1["added"]) - len(v1["members"])).alias(
                "v1_local_files"
            ),
            "prio",
            "n_rows",
            "sum_price",
        )
        .orderBy("prio")
    )


CLONE_SHALLOW_SQL = f"""
WITH final AS (
  SELECT o_orderpriority AS prio, o_totalprice AS p FROM orders
  WHERE o_orderkey % {_CLN_SRC_MOD} = 0
    AND o_orderkey % {_CLN_DEL_MOD} <> 0
  UNION ALL
  SELECT 'CLONED', o_totalprice FROM orders
  WHERE o_orderkey % {_CLN_APP_MOD} = 3)
SELECT 'clone' AS v1_mode, CAST(0 AS INTEGER) AS v1_local_files,
       prio, COUNT(*) AS n_rows,
       CAST(SUM(CAST(round(p * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_price
FROM final
GROUP BY prio
ORDER BY prio
"""


QUERIES = {
    "storage_column_mapping": storage_column_mapping,
    "storage_identity_column": storage_identity_column,
    "storage_generated_column": storage_generated_column,
    "storage_merge_pruned_skew": storage_merge_pruned_skew,
    "storage_restore": storage_restore,
    "storage_clone_shallow": storage_clone_shallow,
}

ORACLES = {
    "storage_column_mapping": COLUMN_MAPPING_SQL,
    "storage_identity_column": IDENTITY_COLUMN_SQL,
    "storage_generated_column": GENERATED_COLUMN_SQL,
    "storage_merge_pruned_skew": MERGE_PRUNED_SKEW_SQL,
    "storage_restore": RESTORE_SQL,
    "storage_clone_shallow": CLONE_SHALLOW_SQL,
}

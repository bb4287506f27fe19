"""Round-13b queries: bloom-filter point-lookup member skipping and
incremental materialized-view maintenance on the snapshot store.

``sources/blooms.py`` adds a per-member bloom sidecar index — the
high-cardinality complement to [min,max] stats (a hash-distributed key
spans every member's interval, so intervals never prune a point probe;
the bloom does — Delta's ``_delta_index`` precedent).
``sources/incremental_view.py`` maintains count/sum aggregate views
from the change feed by signed delta folding (classic incremental view
maintenance): refresh reads O(change rows), never O(source).

Both gates follow the storage-gate pattern: the builder stages a
store, ASSERTS the refusal/receipt invariants once, and the query pins
the surviving narrative cross-engine — measured flags plus value-level
aggregates the oracle recomputes relationally.

Scale: the bloom build is the offline index sweep (two jobs over only
unindexed members, output O(members x words)); a point lookup then
opens ~1 member instead of all of them. The MV refresh receipt proves
the input side is change-sized: the gate's flag fails if the total
change rows ever reach rebuild-per-refresh cost.

No reference counterpart; lakehouse extensions per SURVEY.md §7.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.incremental_view import IncrementalAggView
from ..sources.readers import load_table, staged_dir
from ..sources.snapshots import SnapshotStore

#: bloom narrative: residue split (every member spans the key domain)
_BLOOM_MEMBERS = 8
_BLOOM_ABSENT_PROBES = 16


def _bloom_probes(spark: SparkSession, pk_frame) -> tuple[int, list[int]]:
    """Deterministic MID-RANGE probes over the doubled key ``pk``
    (always even, so mid-range ODD integers are guaranteed absent AND
    inside every member's [min,max] — no sparsity assumption about the
    fixture's key distribution). The present probe is the smallest
    key above the domain midpoint: a boundary key like MIN would be
    stats-prunable and pollute the attribution."""
    # ONE job for both aggregates (r13): the midpoint scan and the
    # min-above-mid scan fuse via a broadcast scalar cross join, halving
    # the eager driver round-trips this readout pays per invocation
    stats = pk_frame.agg(
        F.min("pk").alias("lo"), F.max("pk").alias("hi")
    )
    # engine-side midpoint in EXACT integer arithmetic (r14, ADVICE):
    # floor((lo+hi)/2) computed the mid in double — above 2^53 it could
    # disagree with the driver's exact (lo+hi)//2 below; `div` is the
    # engine's integral division, bit-identical to Python // for
    # non-negative longs
    row = (
        pk_frame.crossJoin(F.broadcast(stats))
        .where(F.col("pk") > F.expr("(lo + hi) div 2"))
        .agg(
            F.min("pk").alias("probe"),
            F.first("lo").alias("lo"),
            F.first("hi").alias("hi"),
        )
        .first()
    )
    if row["probe"] is None or row["lo"] is None or row["hi"] is None:
        # an empty/degenerate pk frame yields an all-null agg row; fail
        # with the real reason instead of a TypeError on int(None)
        raise ValueError(
            "bloom probe derivation needs a non-empty pk frame with a key "
            "strictly above the domain midpoint"
        )
    mid = (int(row["lo"]) + int(row["hi"])) // 2
    probe = int(row["probe"])
    absent = [
        x for x in range(mid + 1, mid + 4 * _BLOOM_ABSENT_PROBES)
        if x % 2 == 1
    ][:_BLOOM_ABSENT_PROBES]
    return probe, absent


def _staged_bloom_store(spark: SparkSession, sf_dir: str) -> SnapshotStore:
    """8 members split by o_orderkey RESIDUE (each spans the full key
    range — the stats-blind shape), o_orderkey stats recorded anyway
    (to witness they cannot prune), bloom index built on o_orderkey.
    The builder asserts the pre-index plan was conservative (all 8
    members) so the gate's pruning is attributable to the bloom."""
    def build(base: str) -> None:
        store = SnapshotStore(base)
        orders = load_table(spark, sf_dir, "orders").select(
            (F.col("o_orderkey") * 2).alias("pk"),
            "o_orderkey", "o_totalprice",
        )
        for i in range(_BLOOM_MEMBERS):
            store.commit(
                orders.where(F.col("o_orderkey") % _BLOOM_MEMBERS == i),
                mode="append", stats_cols=["pk"],
            )
        probe, _ = _bloom_probes(spark, orders)
        pre = store.planned_members_point(spark, "pk", probe)
        assert len(pre) == _BLOOM_MEMBERS, (
            f"stats pruned a residue-split store ({len(pre)} of "
            f"{_BLOOM_MEMBERS}) — the fixture no longer isolates the bloom"
        )
        n = store.build_blooms(spark, ["pk"])
        assert n == _BLOOM_MEMBERS, f"indexed {n} members"

    return SnapshotStore(staged_dir(sf_dir, "snapbloom1", build))


def storage_bloom_point_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom member skipping pinned cross-engine: on a residue-split
    store where every member's [min,max] covers every mid-range probe
    (``stats_blind`` is MEASURED from the manifest), the point read of
    the first present key past the midpoint plans fewer than all
    members and still returns exactly the oracle's rows (count +
    exact-cents sum), and 16 probes of mid-range ABSENT keys plan
    (almost) nothing — vs the 128 member-reads a stats-only plan would
    do. Flags are conservative (false positives only ever ADD planned
    members), so the gate is deterministic for a fixed fixture without
    pinning fpp luck."""
    store = _staged_bloom_store(spark, sf_dir)
    doc = store.manifest(store.latest_version())
    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") * 2).alias("pk")
    )
    probe, absents = _bloom_probes(spark, orders)
    # stats-blindness, measured from the manifest itself: every
    # member's recorded [min,max] covers every mid-range probe
    stats_blind = all(
        s.get("pk") and s["pk"][0] <= min(probe, absents[0])
        and max(probe, absents[-1]) <= s["pk"][1]
        for s in doc["stats"].values()
    )
    # one batched probe pass: all 17 keys' hashes in a single 1-row
    # engine job instead of one job per key (r13; see
    # planned_members_points)
    planned = store.planned_members_points(
        spark, "pk", [probe, *absents]
    )
    planned_present = planned[0]
    absent_total = sum(len(p) for p in planned[1:])
    return (
        store.read_point(spark, "pk", probe)
        .agg(
            F.count("*").alias("n_rows"),
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / 100.0
            ).alias("sum_price"),
        )
        .select(
            F.lit(int(stats_blind)).alias("stats_blind"),
            F.lit(
                int(len(planned_present) < _BLOOM_MEMBERS)
            ).alias("present_pruned"),
            # expected false-positive mass over 16x8 probes at 16
            # bits/key is ~0.3 members; a stats-only plan reads 128
            F.lit(int(absent_total <= 4)).alias("absent_pruned"),
            "n_rows",
            "sum_price",
        )
    )


BLOOM_POINT_SKIP_SQL = """
WITH t AS (
  SELECT o_orderkey * 2 AS pk, o_totalprice FROM orders),
b AS (SELECT (MIN(pk) + MAX(pk)) // 2 AS mid FROM t),
probe AS (SELECT MIN(pk) AS k FROM t, b WHERE pk > b.mid)
SELECT CAST(1 AS INTEGER) AS stats_blind,
       CAST(1 AS INTEGER) AS present_pruned,
       CAST(1 AS INTEGER) AS absent_pruned,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         / 100.0 AS sum_price
FROM t, probe
WHERE t.pk = probe.k
"""


#: incremental-MV narrative splits (shared Spark/SQL)
_MV_DEL_MOD = 7        # v3 delete_where k % 7 == 0
_MV_UPD_PRIO = "1-URGENT"   # v4 update: cents += 10
_MV_MRG_DEL_MOD = 11   # v5 merge deletes k % 11 == 0
_MV_MRG_INS_MOD = 13   # v5 merge inserts one row per k % 13 == 1


def _staged_mv(spark: SparkSession, sf_dir: str) -> tuple:
    """Source: v1 overwrite (k%2==0) -> v2 append (k%2==1) -> v3
    delete_where -> v4 update_where -> v5 merge (deletes + inserts).
    The view refreshes after EVERY version; the builder asserts the
    receipt narrative (bootstrap rebuild, then four incrementals, then
    a no-op replay) and persists the receipts for the gate. Source and
    view stage under one root (``src/``, ``view/``) behind one marker."""
    def build(root: str) -> None:
        mv_base = os.path.join(root, "view")
        store = SnapshotStore(os.path.join(root, "src"))
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        ).withColumn(
            "cents", F.round(F.col("o_totalprice") * 100).cast("long")
        )
        k = F.col("o_orderkey")
        n_source = orders.count()
        store.commit(
            orders.where(k % 2 == 0), mode="overwrite",
            stats_cols=["o_orderkey"],
        )
        mv = IncrementalAggView(
            mv_base, store, ["o_orderpriority"], {"sum_cents": "cents"}
        )
        receipts = [mv.refresh(spark)]
        store.commit(orders.where(k % 2 == 1), mode="append")
        receipts.append(mv.refresh(spark))
        store.delete_where(spark, k % _MV_DEL_MOD == 0)
        receipts.append(mv.refresh(spark))
        store.update_where(
            spark,
            F.col("o_orderpriority") == _MV_UPD_PRIO,
            {"cents": F.col("cents") + F.lit(10).cast("long")},
        )
        receipts.append(mv.refresh(spark))
        snull = F.lit(None).cast("string")
        chg = (
            orders.where(k % _MV_MRG_DEL_MOD == 0).select(
                "o_orderkey", snull.alias("o_orderpriority"),
                F.lit(None).cast("double").alias("o_totalprice"),
                F.lit(None).cast("long").alias("cents"),
                F.lit("delete").alias("_op"),
            )
            .unionAll(
                orders.where(k % _MV_MRG_INS_MOD == 1).select(
                    (k + 100_000_000).alias("o_orderkey"),
                    F.lit("MERGEINS").alias("o_orderpriority"),
                    F.lit(1.0).alias("o_totalprice"),
                    F.lit(100).cast("long").alias("cents"),
                    F.lit("upsert").alias("_op"),
                )
            )
        )
        store.merge(spark, chg, keys=["o_orderkey"])
        receipts.append(mv.refresh(spark))
        modes = [r["mode"] for r in receipts]
        assert modes == ["rebuild"] + ["incremental"] * 4, modes
        assert mv.refresh(spark)["mode"] == "noop", "replay not a no-op"
        total_change = sum(r["change_rows"] for r in receipts)
        assert 0 < total_change < 4 * n_source, (
            f"change volume {total_change} vs {n_source} source rows — "
            "the incremental claim would be hollow"
        )
        with open(os.path.join(mv_base, "_receipts.json"), "w") as fh:
            json.dump({"receipts": receipts, "n_source": n_source}, fh)

    root = staged_dir(sf_dir, "snapmv1", build)
    mv_base = os.path.join(root, "view")
    store = SnapshotStore(os.path.join(root, "src"))
    mv = IncrementalAggView(
        mv_base, store, ["o_orderpriority"], {"sum_cents": "cents"}
    )
    with open(os.path.join(mv_base, "_receipts.json")) as fh:
        receipts = json.load(fh)
    return mv, receipts


def storage_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MV maintenance pinned cross-engine at VALUE level:
    after overwrite/append/delete/update/merge the view's per-priority
    (count, exact-cents sum) must equal the oracle's relational replay
    of the whole verb history — a sign error, a double-applied
    preimage, or a group that failed to leave at zero all
    hash-mismatch. Flags pin the receipt narrative: four incremental
    refreshes (never a silent rebuild), replay no-ops, and total
    change rows strictly below rebuild-per-refresh cost."""
    mv, rec = _staged_mv(spark, sf_dir)
    receipts = rec["receipts"]
    n_incr = sum(1 for r in receipts if r["mode"] == "incremental")
    total_change = sum(r["change_rows"] for r in receipts)
    bounded = int(
        0 < total_change < len(receipts) * rec["n_source"]
    )
    return (
        mv.read(spark)
        .groupBy(F.col("o_orderpriority").alias("prio"))
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            (F.sum("sum_cents").cast("long") / 100.0).alias("sum_price"),
        )
        .select(
            F.lit(len(receipts)).alias("n_refreshes"),
            F.lit(n_incr).alias("n_incremental"),
            F.lit(bounded).alias("change_bounded"),
            "prio",
            "n_rows",
            "sum_price",
        )
        .orderBy("prio")
    )


INCREMENTAL_MV_SQL = f"""
WITH live AS (
  SELECT o_orderpriority AS prio,
         CAST(round(o_totalprice * 100) AS BIGINT)
         + CASE WHEN o_orderpriority = '{_MV_UPD_PRIO}'
                THEN 10 ELSE 0 END AS cents
  FROM orders
  WHERE o_orderkey % {_MV_DEL_MOD} <> 0
    AND o_orderkey % {_MV_MRG_DEL_MOD} <> 0),
ins AS (
  SELECT 'MERGEINS' AS prio, CAST(100 AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % {_MV_MRG_INS_MOD} = 1),
final AS (
  SELECT prio, cents FROM live
  UNION ALL SELECT prio, cents FROM ins)
SELECT CAST(5 AS INTEGER) AS n_refreshes,
       CAST(4 AS INTEGER) AS n_incremental,
       CAST(1 AS INTEGER) AS change_bounded,
       prio, COUNT(*) AS n_rows,
       CAST(SUM(cents) AS BIGINT) / 100.0 AS sum_price
FROM final
GROUP BY prio
ORDER BY prio
"""


QUERIES = {
    "storage_bloom_point_skip": storage_bloom_point_skip,
    "storage_incremental_mv": storage_incremental_mv,
}

ORACLES = {
    "storage_bloom_point_skip": BLOOM_POINT_SKIP_SQL,
    "storage_incremental_mv": INCREMENTAL_MV_SQL,
}

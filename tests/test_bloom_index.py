"""Bloom-filter sidecar index: point-lookup member skipping where
[min,max] stats are blind (hash-distributed keys span every member's
interval). See ``sources/blooms.py`` for the design.

The invariant everything rides on: pruning is a SUPERSET filter — a
member holding the probed value is NEVER skipped (bloom filters have
no false negatives); every skip is pure savings.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.sources import blooms
from big_data_assignment2_2025_spark.sources.snapshots import SnapshotStore

from conftest import SF_SMALL


@pytest.fixture()
def orders(spark):
    return (
        spark.read.parquet(os.path.join(SF_SMALL, "orders.parquet"))
        .select("o_orderkey", "o_totalprice")
    )


@pytest.fixture()
def hashed_store(spark, orders, tmp_path):
    """4 members split by key RESIDUE: every member's [min,max] spans
    the whole key domain, so stats can never prune a point probe —
    exactly the shape the bloom index exists for."""
    store = SnapshotStore(str(tmp_path / "store"))
    for i in range(4):
        store.commit(
            orders.where(F.col("o_orderkey") % 4 == i),
            mode="append",
            stats_cols=["o_orderkey"],
        )
    return store


def test_build_is_incremental_and_prunes(spark, orders, hashed_store):
    store = hashed_store
    assert store.build_blooms(spark, ["o_orderkey"]) == 4
    # second build: every member already carries the column's bloom
    assert store.build_blooms(spark, ["o_orderkey"]) == 0
    keys = [r[0] for r in orders.select("o_orderkey").limit(25).collect()]
    for k in keys:
        planned = store.planned_members_point(spark, "o_orderkey", k)
        # bloom pinpoints the single residue member (fpp ~0.2%: any
        # false positive would only ADD members, never lose the true
        # one); the read itself stays exact
        assert len(planned) >= 1
        want = orders.where(F.col("o_orderkey") == k).count()
        assert store.read_point(spark, "o_orderkey", k).count() == want
    # the dominant case: exactly one member planned per present key
    avg = sum(
        len(store.planned_members_point(spark, "o_orderkey", k))
        for k in keys
    ) / len(keys)
    assert avg < 1.5


def test_absent_keys_plan_zero_members(spark, orders, hashed_store):
    store = hashed_store
    store.build_blooms(spark, ["o_orderkey"])
    max_key = orders.agg(F.max("o_orderkey")).first()[0]
    planned = sum(
        len(store.planned_members_point(spark, "o_orderkey", max_key + 1 + j))
        for j in range(30)
    )
    # deterministic for a fixed fixture (xxhash64 is seeded); at 16
    # bits/key the expected false-positive count over 30x4 probes is
    # ~0.2 — a regression to "no pruning" would read 120
    assert planned <= 4
    assert (
        store.read_point(spark, "o_orderkey", max_key + 1).count() == 0
    )


def test_unindexed_members_read_conservative(spark, orders, hashed_store):
    store = hashed_store
    store.build_blooms(spark, ["o_orderkey"])
    # compaction rewrites into a fresh member WITHOUT a sidecar: the
    # plan degrades to conservative (the member is read), never wrong
    store.compact(spark)
    k = orders.select("o_orderkey").first()[0]
    planned = store.planned_members_point(spark, "o_orderkey", k)
    assert planned == store.manifest(store.latest_version())["members"]
    # topping up indexes ONLY the compaction output
    assert store.build_blooms(spark, ["o_orderkey"]) == len(planned)
    max_key = orders.agg(F.max("o_orderkey")).first()[0]
    assert (
        store.planned_members_point(spark, "o_orderkey", max_key + 7)
        == []
    )


def test_subset_schema_member_gets_empty_bloom(spark, orders, tmp_path):
    store = SnapshotStore(str(tmp_path / "store"))
    store.commit(orders, mode="overwrite")
    # a legal subset append omits o_totalprice entirely
    store.commit(orders.select("o_orderkey").limit(50), mode="append")
    assert store.build_blooms(spark, ["o_totalprice"]) == 2
    some_price = orders.select("o_totalprice").first()[0]
    planned = store.planned_members_point(
        spark, "o_totalprice", some_price
    )
    # the subset member physically holds NO prices: its bloom is empty
    # and prunes it; the full member is planned and serves the rows
    assert len(planned) == 1
    want = orders.where(F.col("o_totalprice") == some_price).count()
    assert (
        store.read_point(spark, "o_totalprice", some_price).count()
        == want
    )


def test_rename_keeps_index_drop_retires_it(spark, orders, tmp_path):
    store = SnapshotStore(str(tmp_path / "store"))
    store.commit(orders, mode="overwrite")
    store.build_blooms(spark, ["o_orderkey"])
    # rename: sidecars are keyed by PHYSICAL name, the probe maps
    # logical->physical through the manifest — the index survives
    store.rename_column("o_orderkey", "okey")
    max_key = orders.agg(F.max("o_orderkey")).first()[0]
    assert store.planned_members_point(spark, "okey", max_key + 3) == []
    k = orders.select("o_orderkey").first()[0]
    assert store.read_point(spark, "okey", k).count() >= 1
    # drop + re-add: the fresh physical name matches no stale sidecar
    # entry — the re-added column reads conservatively (and correctly:
    # all rows are NULL, the point read returns nothing)
    store.drop_column("okey")
    store.add_column("okey", "long")
    planned = store.planned_members_point(spark, "okey", k)
    assert planned == store.manifest(store.latest_version())["members"]
    assert store.read_point(spark, "okey", k).count() == 0


def test_sidecars_travel_with_clone_and_corruption_is_safe(
    spark, orders, hashed_store, tmp_path
):
    store = hashed_store
    store.build_blooms(spark, ["o_orderkey"])
    clone = store.clone_to(str(tmp_path / "clone"))
    max_key = orders.agg(F.max("o_orderkey")).first()[0]
    # the clone references the source's member dirs by absolute path:
    # the index came along for free (zero bytes copied)
    assert (
        clone.planned_members_point(spark, "o_orderkey", max_key + 11)
        == []
    )
    # a torn/corrupt sidecar turns the index OFF for that member, never
    # into a wrong answer
    m = store.manifest(store.latest_version())["members"][0]
    side = os.path.join(store.base_dir, m, blooms.BLOOM_FILE)
    with open(side, "w") as fh:
        fh.write("{not json")
    k = orders.where(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey"
    ).first()[0]
    planned = store.planned_members_point(spark, "o_orderkey", k)
    assert m in planned
    want = orders.where(F.col("o_orderkey") == k).count()
    assert store.read_point(spark, "o_orderkey", k).count() == want


def test_deletion_vectors_keep_bloom_superset(spark, orders, hashed_store):
    store = hashed_store
    store.build_blooms(spark, ["o_orderkey"])
    k = orders.select("o_orderkey").first()[0]
    store.delete_where(spark, F.col("o_orderkey") == k)
    # the bloom still names the member (physical rows unchanged — DVs
    # mask at read); planning a masked row costs a scan, never wrongness
    assert store.read_point(spark, "o_orderkey", k).count() == 0


def test_driver_probe_matches_engine_hash(spark):
    # the driver-side position math must agree with the Spark-side
    # build: round-trip a value through both paths
    hashes = blooms.probe_hashes_many(spark, [424242], "bigint", 7)[0]
    doc = {"m": 1 << 12, "k": 7, "words": {}}
    # build the words dict from the same hashes (driver-side insert)
    for pos in blooms.positions(hashes, 7, doc["m"]):
        w = doc["words"].get(str(pos >> 6), 0)
        doc["words"][str(pos >> 6)] = w | (1 << (pos & 63))
    assert blooms.might_contain(doc, hashes)
    other = blooms.probe_hashes_many(spark, [424243], "bigint", 7)[0]
    assert not blooms.might_contain(doc, other)


def test_build_refuses_unknown_column(spark, hashed_store):
    with pytest.raises(ValueError, match="not in the"):
        hashed_store.build_blooms(spark, ["no_such_col"])

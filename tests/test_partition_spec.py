"""Partition-spec evolution on the snapshot store (sources/snapshots.py):
Iceberg's contract re-expressed — specs are per-version metadata, members
keep the spec they were written under, old members are never rewritten on
a spec change, and pruning is a superset filter correctness never
depends on.

The cross-engine hash gate lives in ``storage_partition_evolution``
(plans/round10_queries.py); these tests pin the mechanics the gate can't
see: mixed-spec merge/compact, month/bucket transforms, the small-files
guard, and spec survival across overwrite.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.sources.snapshots import (
    SnapshotStore,
    _MAX_PARTITIONS,
)


def _orders(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )


def test_spec_change_rewrites_nothing(spark, sf_dir, tmp_path):
    """set_partition_spec is metadata-only: same members, no data dirs."""
    st = SnapshotStore(str(tmp_path))
    st.commit(_orders(spark, sf_dir), mode="overwrite")
    before = set(st.manifest(1)["members"])
    v = st.set_partition_spec([("o_orderpriority", "identity")])
    doc = st.manifest(v)
    assert set(doc["members"]) == before
    assert doc["added"] == []
    assert doc["partition_spec"] == {
        "spec_id": 1,
        "fields": [{"source": "o_orderpriority", "transform": "identity"}],
    }


def test_mixed_spec_point_read_prunes_and_matches(spark, sf_dir, tmp_path):
    """Post-spec appends split per value; a point read opens only the
    pre-spec members plus the one matching partition, and returns exactly
    the filter's rows."""
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders.where(F.col("o_orderkey") % 2 == 0), mode="overwrite")
    st.set_partition_spec([("o_orderpriority", "identity")])
    st.commit(orders.where(F.col("o_orderkey") % 2 == 1), mode="append")
    total = len(st.manifest(st.latest_version())["members"])
    planned = st.planned_members_point(spark, "o_orderpriority", "5-LOW")
    assert len(planned) == 2 and total >= 6  # 1 pre-spec + 1 partition
    got = st.read_point(spark, "o_orderpriority", "5-LOW").count()
    assert got == orders.where(F.col("o_orderpriority") == "5-LOW").count()
    # a value outside the domain plans only the conservative pre-spec
    # member and returns nothing
    assert (
        len(st.planned_members_point(spark, "o_orderpriority", "9-NONE")) == 1
    )
    assert st.read_point(spark, "o_orderpriority", "9-NONE").count() == 0


def test_merge_across_mixed_specs(spark, sf_dir, tmp_path):
    """A pruned MERGE over a spec'd table rewrites only the affected
    members, re-lays the rewrite out under the current spec, and keeps
    partition entries for the untouched members."""
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders, mode="overwrite", stats_cols=["o_orderkey"])
    st.set_partition_spec([("o_orderpriority", "identity")])
    st.commit(
        orders.select(
            (F.col("o_orderkey") + 10**6).alias("o_orderkey"),
            "o_orderpriority",
            "o_totalprice",
        ),
        mode="append",
        stats_cols=["o_orderkey"],
    )
    n_before = st.read(spark).count()
    keys = [r["o_orderkey"] for r in orders.limit(3).collect()]
    changes = (
        orders.where(F.col("o_orderkey").isin(keys))
        .withColumn("o_totalprice", F.lit(0.0))
        .withColumn("_op", F.lit("upsert"))
    )
    v = st.merge(spark, changes, keys=["o_orderkey"], prune=True)
    doc = st.manifest(v)
    # the shifted partition members (key range disjoint from the change
    # keys) survive untouched, with their partition entries intact
    untouched = [m for m in doc["members"] if m not in doc["added"]]
    assert untouched and all(m in doc["partitions"] for m in untouched)
    # rewritten slice came out under the current spec too
    assert all(m in doc["partitions"] for m in doc["added"])
    assert st.read(spark, v).count() == n_before
    got = (
        st.read(spark, v)
        .where(F.col("o_orderkey").isin(keys))
        .agg(F.sum("o_totalprice"))
        .first()[0]
    )
    assert got == 0.0


def test_compact_migrates_prespec_members(spark, sf_dir, tmp_path):
    """compact() under a spec rewrites pre-spec members into partition
    members (spec migration by rewrite); row content is untouched and a
    point read then plans exactly one member."""
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders, mode="overwrite")
    st.set_partition_spec([("o_orderpriority", "identity")])
    v = st.compact(spark)
    doc = st.manifest(v)
    assert all(m in doc["partitions"] for m in doc["members"])
    assert st.read(spark, v).count() == orders.count()
    assert (
        len(st.planned_members_point(spark, "o_orderpriority", "2-HIGH")) == 1
    )
    # time travel: the pre-compaction version still reads the original
    assert st.read(spark, 1).count() == orders.count()


def test_day_transform_range_pruning(spark, sf_dir, tmp_path):
    """day(ts) partitions prune ISO-string range reads to the covered
    days only, and the pruned read equals the unpruned filter."""
    st = SnapshotStore(str(tmp_path))
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "ts"
    )
    st.commit(ev.limit(0), mode="overwrite")  # schema-bearing empty v1
    st.set_partition_spec([("ts", "day")])
    st.commit(ev, mode="append")
    doc = st.manifest(st.latest_version())
    days = sorted(
        e["fields"][0]["value"] for e in doc["partitions"].values()
    )
    assert len(days) >= 3, "fixture should span days"
    lo, hi = f"{days[0]} 00:00:00", f"{days[1]} 12:00:00"
    got = st.read_where(spark, "ts", lo, hi)
    want = ev.where(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi))
    ).count()
    assert got.count() == want
    # witness: the range covers exactly two days — every other day's
    # member is provably excluded by its partition value alone
    excluded = [
        m
        for m, e in doc["partitions"].items()
        if SnapshotStore._part_excludes_range(e, "ts", lo, hi)
    ]
    assert len(excluded) == len(days) - 2


def test_bucket_point_pruning_matches_engine_hash(spark, sf_dir, tmp_path):
    """bucket[N] pruning uses the engine's own xxhash64 via a scalar
    probe, so the planned member always contains the key."""
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders.limit(0), mode="overwrite")
    st.set_partition_spec([("o_orderkey", "bucket[8]")])
    st.commit(orders, mode="append")
    for r in orders.limit(5).collect():
        k = r["o_orderkey"]
        planned = st.planned_members_point(spark, "o_orderkey", k)
        assert len(planned) <= 2  # empty v1 member + the key's bucket
        assert st.read_point(spark, "o_orderkey", k).count() == 1


def test_max_partitions_guard(spark, sf_dir, tmp_path):
    """identity on a high-cardinality key fails LOUDLY instead of
    writing thousands of tiny members."""
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    assert orders.count() > _MAX_PARTITIONS
    st.commit(orders.limit(1), mode="overwrite")
    st.set_partition_spec([("o_orderkey", "identity")])
    with pytest.raises(ValueError, match="too fine"):
        st.commit(orders, mode="append")


def test_spec_survives_overwrite_and_clears(spark, sf_dir, tmp_path):
    """The spec is table-level metadata: overwrite resets members, not
    the layout contract; an empty-fields spec evolves back to
    unpartitioned."""
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders, mode="overwrite")
    st.set_partition_spec([("o_orderpriority", "identity")])
    v = st.commit(orders, mode="overwrite")
    doc = st.manifest(v)
    assert doc["partition_spec"]["spec_id"] == 1
    assert len(doc["members"]) == 5  # overwrite wrote under the spec
    v2 = st.set_partition_spec([])
    assert st.manifest(v2)["partition_spec"]["spec_id"] == 2
    v3 = st.commit(orders.limit(10), mode="append")
    doc3 = st.manifest(v3)
    assert len(doc3["added"]) == 1  # back to one member per commit
    assert doc3["added"][0] not in doc3.get("partitions", {})
    assert st.read(spark, v3).count() == orders.count() + 10


def test_identity_spec_on_double_column_point_read(spark, sf_dir, tmp_path):
    """Identity partitions on a non-integral column: the manifest decodes
    doubles back to floats, and for types the decoder keeps lexical
    (dates etc.) the point pruning is type-CONSERVATIVE — a cross-type
    inequality must never silently empty a read (round-10 review find)."""
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    # a coarse double column: priority digit + 0.5
    df = orders.select(
        "o_orderkey",
        (F.substring("o_orderpriority", 1, 1).cast("double") + 0.5).alias(
            "prio_d"
        ),
    )
    st.commit(df.limit(0), mode="overwrite")
    st.set_partition_spec([("prio_d", "identity")])
    st.commit(df, mode="append")
    got = st.read_point(spark, "prio_d", 1.5).count()
    want = df.where(F.col("prio_d") == 1.5).count()
    assert want > 0 and got == want
    # and the pruning still bites: the pre-spec empty v1 member (no
    # partition info, conservative) + the one 1.5 partition
    planned = st.planned_members_point(spark, "prio_d", 1.5)
    assert len(planned) == 2
    # cross-type lookup (string vs double values) reads conservatively
    # instead of pruning everything — empty by predicate, not by plan
    assert st.read_point(spark, "prio_d", "1.5").count() in (0, want)
    assert len(st.planned_members_point(spark, "prio_d", "1.5")) >= 5


def test_nested_nullability_is_not_a_type_change(spark, sf_dir, tmp_path):
    """collect_list infers ArrayType(..., containsNull=False); the same
    data read back from parquet infers True — appending it must not be
    rejected as a 'type change' (round-10 review find)."""
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    arr = orders.groupBy("o_orderpriority").agg(
        F.collect_list("o_totalprice").alias("prices")
    )
    assert not arr.schema["prices"].dataType.containsNull
    st.commit(arr, mode="overwrite")
    back = st.read(spark)  # parquet read-back: containsNull=True
    st.commit(back, mode="append")  # must NOT raise
    assert st.read(spark).count() == 2 * arr.count()


def test_diff_passes_spec_alter(spark, sf_dir, tmp_path):
    """A spec-only version adds no rows; diff() across it stays a valid
    row-level delta."""
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    st.commit(orders.where(F.col("o_orderkey") % 2 == 0), mode="overwrite")
    st.set_partition_spec([("o_orderpriority", "identity")])
    st.commit(orders.where(F.col("o_orderkey") % 2 == 1), mode="append")
    delta = st.diff(spark, 1, 3)
    assert delta.count() == orders.where(F.col("o_orderkey") % 2 == 1).count()


def test_bucket_prune_probe_casts_through_source_type(
    spark, sf_dir, tmp_path
):
    """ADVICE r11: a bucket[N] spec over a DOUBLE column probed with a
    Python int must hash what the WRITER hashed ('3.0', via a cast
    through the source type), not '3' — the old probe pruned the
    matching member and silently returned 0 rows even though the exact
    predicate ``x == 3`` matches 3.0."""
    st = SnapshotStore(str(tmp_path))
    orders = _orders(spark, sf_dir)
    df = orders.select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).cast("double").alias("prio_d"),
    )
    st.commit(df.limit(0), mode="overwrite")
    st.set_partition_spec([("prio_d", "bucket[4]")])
    st.commit(df, mode="append")
    want = df.where(F.col("prio_d") == 3).count()
    assert want > 0
    # int probe against the double column: must NOT silently empty
    assert st.read_point(spark, "prio_d", 3).count() == want
    # and it still PRUNES: only the conservative pre-spec empty member
    # plus the one bucket holding 3.0 is planned
    planned = st.planned_members_point(spark, "prio_d", 3)
    total = len(st.manifest(st.latest_version())["members"])
    assert len(planned) < total
    # the float spelling plans the same bucket
    assert set(planned) == set(
        st.planned_members_point(spark, "prio_d", 3.0)
    )
    # a cross-kind probe (string vs double column) reads conservatively
    # rather than pruning on a mismatched lexical hash
    assert len(st.planned_members_point(spark, "prio_d", "3")) == total


def test_month_prune_canonicalizes_coercible_probes(spark, tmp_path):
    """ADVICE r11: month/day point pruning must canonicalize the probe
    through the engine — a Spark-coercible but non-zero-padded literal
    ('1995-3-07') used to fail the startswith('1995-03') check and prune
    the member its rows actually live in."""
    import datetime

    st = SnapshotStore(str(tmp_path))
    rows = [
        (i, datetime.datetime(1995, m, 7, 12, 0, 0))
        for i, m in enumerate([1, 1, 3, 3, 3, 6], start=1)
    ]
    df = spark.createDataFrame(rows, "id int, ts timestamp")
    st.commit(df.limit(0), mode="overwrite")
    st.set_partition_spec([("ts", "month")])
    st.commit(df, mode="append")
    probe = "1995-3-07 12:00:00"  # coercible, non-canonical
    got = st.read_point(spark, "ts", probe).count()
    want = df.where(F.col("ts") == probe).count()
    assert want == 3 and got == want
    # canonical probes still prune down to one month member (+ empty v1)
    planned = st.planned_members_point(spark, "ts", probe)
    assert len(planned) == 2
    # range envelope: non-canonical bounds read conservatively instead
    # of lexically mis-pruning the 1995-03 member
    lo, hi = "1995-3-01", "1995-4-01"
    assert st.read_where(spark, "ts", lo, hi).count() == 3


def test_mixed_date_and_string_point_probes(spark, tmp_path):
    """A probe batch mixing a date and its string spelling must plan
    the same members as the date alone (the one-job prefill builds a
    single DataFrame from all probe values)."""
    import datetime

    st = SnapshotStore(str(tmp_path))
    rows = [
        (i, datetime.date(2024, m, 5))
        for i, m in enumerate([1, 1, 2, 3, 3], start=1)
    ]
    df = spark.createDataFrame(rows, "id int, d date")
    st.commit(df.limit(0), mode="overwrite")
    st.set_partition_spec([("d", "month")])
    st.commit(df, mode="append")
    day = datetime.date(2024, 1, 5)
    (alone,) = st.planned_members_points(spark, "d", [day])
    mixed = st.planned_members_points(spark, "d", [day, "2024-01-05"])
    assert mixed == [alone, alone]
    assert len(alone) < len(st.manifest(st.latest_version())["members"])

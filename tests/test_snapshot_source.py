"""Snapshot store as a streaming SOURCE (sources/snapshot_source.py,
PySpark 4 Python DataSource API): version-log offsets, per-file Arrow
partitions, Delta-style non-append refusal, evolution backfill."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from big_data_assignment2_2025_spark.sources.snapshot_source import (
    SnapshotStreamDataSource,
)
from big_data_assignment2_2025_spark.sources.snapshots import SnapshotStore


def _register(spark):
    spark.dataSource.register(SnapshotStreamDataSource)


def _drain(spark, stream_df, ckpt=None, name=None):
    import uuid

    name = name or f"snap_src_{uuid.uuid4().hex[:10]}"
    ckpt = ckpt or tempfile.mkdtemp(prefix="ckpt_")
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    return spark.table(name), ckpt


def _store_with_orders(spark, sf_dir, tmp_path, n_commits=3):
    st = SnapshotStore(str(tmp_path))
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    for i in range(n_commits):
        st.commit(orders.where(F.col("o_orderkey") % n_commits == i),
                  mode="append")
    return st, orders


def test_stream_delivers_every_committed_row_once(spark, sf_dir, tmp_path):
    _register(spark)
    st, orders = _store_with_orders(spark, sf_dir, tmp_path)
    stream = spark.readStream.format("snapshotstream").option(
        "path", str(tmp_path)
    ).load()
    got, _ = _drain(spark, stream)
    assert got.count() == orders.count()
    assert got.select(F.sum("o_orderkey")).first()[0] == \
        orders.select(F.sum("o_orderkey")).first()[0]


def test_checkpoint_resume_reads_only_new_versions(spark, sf_dir, tmp_path):
    """The engine checkpoints the version offset: a resumed stream gets
    exactly the commits that landed since — the O(new data) tail-read.
    (Parquet sink: the memory sink cannot recover a checkpoint.)"""
    _register(spark)
    st, orders = _store_with_orders(spark, sf_dir, tmp_path)
    stream = spark.readStream.format("snapshotstream").option(
        "path", str(tmp_path)
    ).load()
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    out = tempfile.mkdtemp(prefix="snap_resume_out_")

    def drain_to_parquet():
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    drain_to_parquet()
    n1 = spark.read.parquet(out).count()
    assert n1 == orders.count()
    st.commit(
        orders.limit(11).withColumn("o_totalprice", F.lit(0.0)),
        mode="append",
    )
    drain_to_parquet()
    # only the 11 new rows arrive in the resumed run
    assert spark.read.parquet(out).count() == n1 + 11


def test_non_append_commit_refuses_then_skips(spark, sf_dir, tmp_path):
    _register(spark)
    st, orders = _store_with_orders(spark, sf_dir, tmp_path, n_commits=2)
    st.compact(spark)  # v3: not a row-level delta
    st.commit(orders.limit(5), mode="append")  # v4
    stream = spark.readStream.format("snapshotstream").option(
        "path", str(tmp_path)
    ).load()
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="compact"):
        _drain(spark, stream)
    # Delta's escape hatch: skip rewrite commits, keep consuming appends
    skipping = (
        spark.readStream.format("snapshotstream")
        .option("path", str(tmp_path))
        .option("skipChangeCommits", "true")
        .load()
    )
    got, _ = _drain(spark, skipping)
    assert got.count() == orders.count() + 5


def test_evolution_backfill_through_stream(spark, sf_dir, tmp_path):
    """Members written before an additive add-column NULL-backfill in
    the Arrow read path (same discipline as the batch manifest-schema
    read)."""
    _register(spark)
    st = SnapshotStore(str(tmp_path))
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    st.commit(orders.limit(50), mode="append")
    st.add_column("note", "string")
    st.commit(
        orders.limit(70).withColumn("note", F.lit("new")), mode="append"
    )
    stream = spark.readStream.format("snapshotstream").option(
        "path", str(tmp_path)
    ).load()
    got, _ = _drain(spark, stream)
    assert got.count() == 120
    assert got.where(F.col("note").isNull()).count() == 50
    assert got.where(F.col("note") == "new").count() == 70


def test_batch_format_read_and_time_travel(spark, sf_dir, tmp_path):
    """spark.read.format('snapshotstream'): latest == native read;
    .option('version', 1) time-travels to the pre-evolution schema."""
    _register(spark)
    st = SnapshotStore(str(tmp_path))
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    st.commit(orders.limit(100), mode="append")
    st.add_column("note", "string")
    st.commit(orders.limit(50).withColumn("note", F.lit("x")), mode="append")
    latest = spark.read.format("snapshotstream").option(
        "path", str(tmp_path)
    ).load()
    assert latest.count() == 150
    assert latest.where(F.col("note").isNull()).count() == 100
    v1 = (
        spark.read.format("snapshotstream")
        .option("path", str(tmp_path))
        .option("version", "1")
        .load()
    )
    assert v1.columns == ["o_orderkey", "o_totalprice"]  # no retro column
    assert v1.count() == 100


def test_vacuumed_compact_refuses_instead_of_replaying(spark, sf_dir, tmp_path):
    """After vacuum() GCs the pre-compaction history, the compact commit
    is min(versions) — it must NOT ride the initial-snapshot exemption
    (a checkpointed consumer would double-count every row); declaring it
    the baseline needs the explicit initialSnapshotVersion option
    (round-10 review find)."""
    _register(spark)
    st, orders = _store_with_orders(spark, sf_dir, tmp_path, n_commits=2)
    v3 = st.compact(spark)
    st.vacuum(keep_versions=[v3])
    stream = spark.readStream.format("snapshotstream").option(
        "path", str(tmp_path)
    ).load()
    from pyspark.errors.exceptions.captured import StreamingQueryException

    # since ADVICE r11 the vacuum hole refuses first (data loss); the
    # explicit opt-out then still hits the compact refusal — the
    # exemption is never ridden silently at either layer
    with pytest.raises(StreamingQueryException, match="lost"):
        _drain(spark, stream)
    skipping = (
        spark.readStream.format("snapshotstream")
        .option("path", str(tmp_path))
        .option("failOnDataLoss", "false")
        .load()
    )
    with pytest.raises(StreamingQueryException, match="compact"):
        _drain(spark, skipping)
    # the explicit baseline declaration serves it exactly once
    declared = (
        spark.readStream.format("snapshotstream")
        .option("path", str(tmp_path))
        .option("initialSnapshotVersion", str(v3))
        .load()
    )
    got, _ = _drain(spark, declared)
    assert got.count() == orders.count()


def test_cdc_stream_equals_batch_feed(spark, sf_dir, tmp_path):
    """readChangeFeed=true (Delta's option): merge versions SERVE their
    recorded pre/post images instead of refusing, appends synthesize
    insert rows — the drained stream is row-identical to the batch
    read_changes() over the same range."""
    _register(spark)
    st, orders = _store_with_orders(spark, sf_dir, tmp_path, n_commits=2)
    changes = (
        orders.limit(5)
        .withColumn("o_totalprice", F.lit(1.0))
        .withColumn("_op", F.lit("upsert"))
    )
    v3 = st.merge(spark, changes, keys=["o_orderkey"], prune=True)
    stream = (
        spark.readStream.format("snapshotstream")
        .option("path", str(tmp_path))
        .option("readChangeFeed", "true")
        .load()
    )
    assert stream.columns[-2:] == ["_change_type", "_commit_version"]
    got, _ = _drain(spark, stream)
    key = ["o_orderkey", "o_totalprice", "_change_type"]
    got_set = {tuple(r) for r in got.select(*key).collect()}
    want_set = {
        tuple(r)
        for r in st.read_changes(spark, 0, v3).select(*key).collect()
    }
    assert got_set == want_set
    # inserts carry their commit version; feed rows carry the merge's
    vs = {
        r["_change_type"]: r["v"]
        for r in got.groupBy("_change_type")
        .agg(F.max("_commit_version").alias("v"))
        .collect()
    }
    assert vs["insert"] == 2 and vs["update_postimage"] == v3


def test_start_version_skips_history(spark, sf_dir, tmp_path):
    _register(spark)
    st, orders = _store_with_orders(spark, sf_dir, tmp_path, n_commits=3)
    stream = (
        spark.readStream.format("snapshotstream")
        .option("path", str(tmp_path))
        .option("startVersion", "2")
        .load()
    )
    got, _ = _drain(spark, stream)
    assert got.count() == orders.where(F.col("o_orderkey") % 3 == 2).count()


def test_resume_across_vacuum_fails_on_data_loss(spark, sf_dir, tmp_path):
    """ADVICE r11: a checkpointed consumer whose offset predates a
    vacuum(keep_versions=...) must FAIL by default — the vacuumed
    commits' rows are gone and silently skipping them is silent data
    loss (Delta's failOnDataLoss contract). failOnDataLoss=false is the
    explicit opt-out; startVersion at/above the hole still skips."""
    from big_data_assignment2_2025_spark.sources.snapshot_source import (
        SnapshotStreamReader,
    )

    st, orders = _store_with_orders(spark, sf_dir, tmp_path, n_commits=4)
    st.vacuum(keep_versions=[3, 4])  # v1, v2 manifests+data are gone

    def reader(**extra):
        return SnapshotStreamReader(
            st.read(spark).schema, {"path": str(tmp_path), **extra}
        )

    # default: resuming from offset 0 across the vacuum raises data loss
    with pytest.raises(ValueError, match="vacuum.*lost|lost"):
        reader().partitions({"version": 0}, {"version": 4})
    # explicit opt-out skips the vacuumed versions and serves the rest
    parts = reader(failOnDataLoss="false").partitions(
        {"version": 0}, {"version": 4}
    )
    assert parts  # v3/v4 files only
    # a consumer that declared startVersion >= the hole never sees it
    parts2 = reader(startVersion="2").partitions(
        {"version": 2}, {"version": 4}
    )
    assert [p.path for p in parts2] == [p.path for p in parts]
    # a hole ABOVE the earliest retained manifest (mid-log) is
    # corruption, not vacuumed history — never skippable, even with the
    # data-loss opt-out
    import os
    import tempfile as _tf

    st2, _ = _store_with_orders(
        spark, sf_dir, _tf.mkdtemp(prefix="snap_corrupt_"), n_commits=3
    )
    os.remove(st2._manifest_path(2))
    bad = SnapshotStreamReader(
        st2.read(spark, version=3).schema,
        {"path": st2.base_dir, "failOnDataLoss": "false"},
    )
    with pytest.raises(ValueError, match="corruption"):
        bad.partitions({"version": 0}, {"version": 3})


def test_cdc_stream_serves_dv_verbs(spark, sf_dir, tmp_path):
    """readChangeFeed over delete_where/update_where commits: the DV
    verbs record change directories like MERGE does, so the CDC stream
    serves delete / update_preimage / update_postimage events instead
    of refusing — row-identical to the batch read_changes()."""
    _register(spark)
    st, orders = _store_with_orders(spark, sf_dir, tmp_path, n_commits=2)
    st.delete_where(spark, F.col("o_orderkey") % 5 == 0)
    v4 = st.update_where(
        spark, F.col("o_orderkey") % 7 == 3, {"o_totalprice": F.lit(2.5)}
    )
    stream = (
        spark.readStream.format("snapshotstream")
        .option("path", str(tmp_path))
        .option("readChangeFeed", "true")
        .load()
    )
    got, _ = _drain(spark, stream)
    key = ["o_orderkey", "o_totalprice", "_change_type", "_commit_version"]
    got_set = {tuple(r) for r in got.select(*key).collect()}
    want_set = {
        tuple(r)
        for r in st.read_changes(spark, 0, v4).select(*key).collect()
    }
    assert got_set == want_set
    types = {r[2] for r in got_set}
    assert {"insert", "delete", "update_preimage",
            "update_postimage"} <= types


def test_batch_format_read_applies_deletion_vectors(spark, sf_dir, tmp_path):
    """ADVICE r12 (high): the format-API batch read of a version carrying
    deletion vectors must mask the deleted/pre-update rows exactly like
    the native ``SnapshotStore.read`` — before this fix it silently
    served the masked rows on a documented time-travel path."""
    _register(spark)
    st, orders = _store_with_orders(spark, sf_dir, tmp_path, n_commits=2)
    v3 = st.delete_where(spark, F.col("o_orderkey") % 5 == 0)
    v4 = st.update_where(
        spark,
        F.col("o_orderkey") % 7 == 0,
        {"o_totalprice": F.lit(1.0)},
    )

    def fmt(v):
        return (
            spark.read.format("snapshotstream")
            .option("path", str(tmp_path))
            .option("version", str(v))
            .load()
        )

    for v in (v3, v4):
        native = {
            tuple(r) for r in st.read(spark, v).collect()
        }
        got = {tuple(r) for r in fmt(v).collect()}
        assert got == native, f"format read diverges from native at v{v}"
    # the DV-bearing read really masked something
    assert fmt(v3).count() < orders.count()
    # and pre-delete time travel still serves everything
    assert fmt(2).count() == orders.count()


def test_initial_snapshot_baseline_serves_full_state(spark, sf_dir, tmp_path):
    """ADVICE r12 (medium): initialSnapshotVersion pointing at a
    delete/update/merge-on-read version must serve that version's FULL
    live state (members, DV-masked), not its 'added' set — a delete
    commit adds nothing and an update adds only post-images, so the old
    behavior was silent data loss on exactly the commits the refusal
    message recommends the option for."""
    _register(spark)
    st, orders = _store_with_orders(spark, sf_dir, tmp_path, n_commits=2)
    v3 = st.delete_where(spark, F.col("o_orderkey") % 5 == 0)
    stream = (
        spark.readStream.format("snapshotstream")
        .option("path", str(tmp_path))
        .option("startVersion", str(v3 - 1))
        .option("initialSnapshotVersion", str(v3))
        .load()
    )
    got, _ = _drain(spark, stream)
    want = st.read(spark, v3)
    assert got.count() == want.count()
    assert (
        got.select(F.sum("o_orderkey")).first()[0]
        == want.select(F.sum("o_orderkey")).first()[0]
    )


def test_streaming_snapshot_source_cache_validates(spark, sf_dir):
    """ADVICE r11: the staged store must leave a valid derived cache —
    without the _SUCCESS touch, derived_cache_ok never returned True and
    the 3-commit store was rebuilt on every invocation."""
    import os

    from big_data_assignment2_2025_spark.plans.streaming_queries import (
        streaming_snapshot_source,
    )
    from big_data_assignment2_2025_spark.sources.readers import (
        derived_cache_ok,
        derived_path,
        fixture_fingerprint,
    )

    streaming_snapshot_source(spark, sf_dir).collect()
    base = derived_path(sf_dir, "snapsrc")
    assert derived_cache_ok(base, fixture_fingerprint(sf_dir))
    # and a second invocation reuses the store: no manifest mtime change
    mdir = os.path.join(base, "_manifests")
    before = {n: os.path.getmtime(os.path.join(mdir, n))
              for n in os.listdir(mdir)}
    streaming_snapshot_source(spark, sf_dir).collect()
    after = {n: os.path.getmtime(os.path.join(mdir, n))
             for n in os.listdir(mdir)}
    assert after == before

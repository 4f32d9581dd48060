"""rollback(to_version): metadata-only restore — contents revert
exactly, history stays linear, the CDC changelog reports the restore
as one snapshot-diff commit, and vacuum keeps whatever the rollback
manifest references.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from arcane_stream_parquet_spark.operators import manifest as manifest_log
from arcane_stream_parquet_spark.operators.merge import ParquetMergeTarget


def df_of(spark, rows):
    return spark.createDataFrame(
        rows, "arcane_merge_key string, createdon long, payload string"
    )


def snap(t):
    return {
        (r["arcane_merge_key"], r["createdon"], r["payload"])
        for r in t.read().collect()
    }


def make(spark, tmp_path, **kw):
    kw.setdefault("num_buckets", 4)
    return ParquetMergeTarget(spark=spark, path=str(tmp_path / "t"), **kw)


def test_rollback_restores_contents_linearly(spark, tmp_path):
    t = make(spark, tmp_path)
    t.merge(df_of(spark, [("k1", 1, "a"), ("k2", 1, "b")]))
    v1 = t._manifest()["version"]
    want = snap(t)
    t.merge(df_of(spark, [("k1", 2, "bad"), ("k3", 2, "extra")]))
    assert snap(t) != want
    new_v = t.rollback(v1)
    assert snap(t) == want
    # linear history: version advanced, old snapshots intact
    assert new_v == t._manifest()["version"] > v1 + 1
    ops = {r["version"]: r["operation"] for r in t.history().collect()}
    assert ops[new_v] == "rollback"
    # the bad snapshot is still time-travelable until retention
    assert ("k3", 2, "extra") in {
        tuple(r) for r in t.read(at_version=new_v - 1).collect()
    }


def test_rollback_is_noop_at_current(spark, tmp_path):
    t = make(spark, tmp_path)
    t.merge(df_of(spark, [("k1", 1, "a")]))
    v = t._manifest()["version"]
    assert t.rollback(v) == v
    assert t.snapshot_versions()[-1] == v  # no empty commit


def test_rollback_to_expired_snapshot_raises(spark, tmp_path):
    t = make(spark, tmp_path)
    t.merge(df_of(spark, [("k1", 1, "a")]))
    v1 = t._manifest()["version"]
    t.merge(df_of(spark, [("k1", 2, "b")]))
    t.vacuum()  # expires v1
    with pytest.raises(ValueError, match="no snapshot"):
        t.rollback(v1)


def test_changelog_reports_rollback_as_net_undo(spark, tmp_path):
    """The latest-wins fold over the FULL changelog must equal read()
    across a rollback — the invariant every downstream consumer
    relies on (same fold as the cdc_changelog_parity driver row)."""
    t = make(spark, tmp_path, merge_mode="mor")
    t.merge(df_of(spark, [(f"k{i}", 1, "a") for i in range(6)]))
    v1 = t._manifest()["version"]
    t.merge(df_of(spark, [("k0", 2, "bad"), ("k9", 2, "extra")]))
    rb = t.rollback(v1)
    ch = t.read_changes(0)
    from pyspark.sql import Window

    w = Window.partitionBy("arcane_merge_key").orderBy(
        F.col("_commit_version").desc()
    )
    live = (
        ch.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("_change_type") != "delete"))
        .select("arcane_merge_key", "createdon", "payload")
    )
    assert {tuple(r) for r in live.collect()} == snap(t)
    # the rollback commit itself: k0 restored (update), k9 removed
    rb_rows = {
        (r["arcane_merge_key"], r["_change_type"])
        for r in t.read_changes(rb - 1, rb).collect()
    }
    assert ("k9", "delete") in rb_rows
    assert ("k0", "update_postimage") in rb_rows or ("k0", "insert") in rb_rows
    assert all(k in ("k0", "k9") for k, _ in rb_rows)


def test_vacuum_after_rollback_keeps_referenced_files(spark, tmp_path):
    t = make(spark, tmp_path)
    t.merge(df_of(spark, [("k1", 1, "good"), ("k2", 1, "b")]))
    v1 = t._manifest()["version"]
    t.merge(df_of(spark, [("k1", 2, "bad")]))
    t.rollback(v1)
    want = snap(t)
    removed = t.vacuum()  # keep_last=1: only the rollback manifest
    assert removed  # the bad version's rewrite is reclaimable
    assert snap(t) == want  # data files of v1 survived via references


def test_rollback_restores_mor_pending_deletes(spark, tmp_path):
    """Rolling back to a snapshot with PENDING MoR deletes must keep
    those delete files active, or superseded rows resurrect."""
    t = make(spark, tmp_path, merge_mode="mor")
    t.merge(df_of(spark, [(f"k{i}", 1, "a") for i in range(6)]))
    t.merge(df_of(spark, [("k0", 2, "b")]))  # pending delete for k0@v1
    v2 = t._manifest()["version"]
    want = snap(t)
    t.merge(df_of(spark, [("k1", 3, "c")]))
    t.rollback(v2)
    assert snap(t) == want
    got = {r["payload"] for r in t.read().filter(
        F.col("arcane_merge_key") == "k0"
    ).collect()}
    assert got == {"b"}


def test_rollback_of_sharded_manifest_reuses_shards(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setattr(manifest_log, "SHARD_ENTRIES", 2)
    t = make(spark, tmp_path)
    t.merge(df_of(spark, [(f"k{i}", 1, "a") for i in range(40)]))
    v1 = t._manifest()["version"]
    old_shards = set(manifest_log.shard_names(t._manifest()))
    assert old_shards  # geometry forced sharding
    t.merge(df_of(spark, [(f"k{i}", 2, "b") for i in range(40)]))
    t.rollback(v1)
    new_shards = set(manifest_log.shard_names(t._manifest()))
    assert new_shards == old_shards  # referenced by name, not rewritten
    assert {r["payload"] for r in t.read().collect()} == {"a"}


def test_rollback_reverts_schema_drift(spark, tmp_path):
    t = make(spark, tmp_path)
    t.merge(df_of(spark, [("k1", 1, "a")]))
    v1 = t._manifest()["version"]
    drifted = df_of(spark, [("k2", 2, "b")]).withColumn(
        "extra", F.lit(42).cast("long")
    )
    t.merge(drifted)
    assert "extra" in t.read().columns
    t.rollback(v1)
    assert "extra" not in t.read().columns
    assert snap(t) == {("k1", 1, "a")}


# -- TIMESTAMP AS OF time travel (r11) -----------------------------------------


def test_read_at_timestamp_resolves_snapshots(spark, tmp_path):
    import datetime

    t = make(spark, tmp_path)
    t.merge(df_of(spark, [("k1", 1, "a")]))
    v1 = t._manifest()["version"]
    ts1 = float(t._manifest()["committed_at"])
    t.merge(df_of(spark, [("k1", 2, "b"), ("k2", 2, "c")]))
    ts2 = float(t._manifest()["committed_at"])

    assert t.version_at(ts1) == v1
    # an instant between the commits still sees v1
    assert t.version_at((ts1 + ts2) / 2) in (v1,) if ts2 > ts1 else True
    assert snap_at(t, ts1) == {("k1", 1, "a")}
    assert snap_at(t, ts2) == snap(t)
    # tz-aware datetime works; naive is rejected as ambiguous
    aware = datetime.datetime.fromtimestamp(ts1, tz=datetime.timezone.utc)
    assert t.version_at(aware) == v1
    with pytest.raises(ValueError, match="naive"):
        t.version_at(datetime.datetime.now())
    # predating the first snapshot raises rather than guessing
    with pytest.raises(ValueError, match="no retained snapshot"):
        t.read(at_timestamp=ts1 - 1e6)
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.read(at_version=v1, at_timestamp=ts1)


def snap_at(t, ts):
    return {
        (r["arcane_merge_key"], r["createdon"], r["payload"])
        for r in t.read(at_timestamp=ts).collect()
    }


def test_read_where_and_count_where_at_timestamp(spark, tmp_path):
    t = make(spark, tmp_path)
    t.merge(df_of(spark, [("k1", 1, "a"), ("k2", 1, "b")]))
    ts1 = float(t._manifest()["committed_at"])
    t.merge(df_of(spark, [("k2", 2, "z")]))
    got = t.read_where(("payload", "=", "b"), at_timestamp=ts1)
    assert [tuple(r) for r in got.collect()] == [("k2", 1, "b")]
    assert t.count_where(("payload", "=", "b"), at_timestamp=ts1) == 1
    assert t.count_where(("payload", "=", "b")) == 0

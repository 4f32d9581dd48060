"""Snapshot-retention vacuum (``keep_last``): Iceberg
expire_snapshots parity — retained snapshots stay time-travelable and
CDC-readable after reclamation; everything older is gone from disk.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from arcane_stream_parquet_spark.operators.merge import ParquetMergeTarget


def df_of(spark, rows):
    return spark.createDataFrame(
        rows, "arcane_merge_key string, createdon long, payload string"
    )


def build_history(spark, tmp_path, n=4, **kw) -> ParquetMergeTarget:
    kw.setdefault("num_buckets", 4)
    t = ParquetMergeTarget(spark=spark, path=str(tmp_path / "t"), **kw)
    for v in range(1, n + 1):
        t.merge(df_of(spark, [(f"k{i}", v, f"p{v}") for i in range(8)]))
    return t


def test_keep_last_retains_time_travel(spark, tmp_path):
    t = build_history(spark, tmp_path, n=4)
    vs = t.snapshot_versions()
    assert len(vs) == 4
    t.vacuum(keep_last=2)
    assert t.snapshot_versions() == vs[-2:]
    # retained snapshots still read correctly, including the OLD one
    # (its superseded data files must have survived reclamation)
    old = t.read(at_version=vs[-2])
    assert {r["payload"] for r in old.collect()} == {"p3"}
    assert {r["payload"] for r in t.read().collect()} == {"p4"}
    # expired versions are gone
    with pytest.raises(ValueError, match="no snapshot"):
        t.read(at_version=vs[0]).collect()


def test_default_vacuum_unchanged(spark, tmp_path):
    t = build_history(spark, tmp_path, n=3)
    t.vacuum()
    assert t.snapshot_versions() == [t._manifest()["version"]]


def test_keep_last_beyond_history_keeps_all(spark, tmp_path):
    t = build_history(spark, tmp_path, n=2)
    vs = t.snapshot_versions()
    removed = t.vacuum(keep_last=10)
    assert t.snapshot_versions() == vs
    # nothing live was reclaimed, only crash orphans could be (none here)
    for v in vs:
        t.read(at_version=v).count()
    assert all("manifest" not in r for r in removed)


def test_keep_last_rejects_zero(spark, tmp_path):
    t = build_history(spark, tmp_path, n=1)
    with pytest.raises(ValueError, match="keep_last"):
        t.vacuum(keep_last=0)


def test_cdc_survives_retention_window(spark, tmp_path):
    """read_changes(since) keeps working for `since` inside the
    retained window and fails loudly outside it."""
    t = build_history(spark, tmp_path, n=4, merge_mode="mor")
    vs = t.snapshot_versions()
    t.vacuum(keep_last=3)
    since = t.snapshot_versions()[0]
    changes = t.read_changes(since)
    assert changes.count() > 0
    assert {r["payload"] for r in changes.filter(
        F.col("_change_type") != "delete"
    ).collect()} <= {"p3", "p4"}
    with pytest.raises(ValueError):
        t.read_changes(vs[0] - 1).collect()


def test_mor_deletes_of_retained_snapshots_survive(spark, tmp_path):
    """A retained older snapshot with PENDING MoR deletes must keep
    its delete files through vacuum, or time travel silently
    resurrects superseded rows."""
    t = ParquetMergeTarget(
        spark=spark,
        path=str(tmp_path / "t"),
        num_buckets=4,
        merge_mode="mor",
    )
    t.merge(df_of(spark, [(f"k{i}", 1, "a") for i in range(8)]))
    t.merge(df_of(spark, [("k0", 2, "b")]))  # delete entry for k0@v1
    t.compact()  # folds deletes into v3; v2 still references its
    vs = t.snapshot_versions()  # delete files
    t.vacuum(keep_last=2)  # retains v2 (pre-compact) + v3
    at_v2 = {
        (r["arcane_merge_key"], r["payload"])
        for r in t.read(at_version=vs[-2]).collect()
    }
    assert ("k0", "b") in at_v2 and ("k0", "a") not in at_v2
    assert len(at_v2) == 8


def test_time_based_retention(spark, tmp_path):
    """older_than_seconds: young snapshots survive beyond keep_last
    (the reference's expire_snapshots retention_threshold shape)."""
    t = build_history(spark, tmp_path, n=4)
    vs = t.snapshot_versions()
    # everything was committed "just now": a 1-hour window retains all
    t.vacuum(keep_last=1, older_than_seconds=3600)
    assert t.snapshot_versions() == vs
    # a zero-second window retains only keep_last
    t.vacuum(keep_last=2, older_than_seconds=0)
    assert t.snapshot_versions() == vs[-2:]


def test_history_metadata_table(spark, tmp_path):
    t = build_history(spark, tmp_path, n=3, merge_mode="mor")
    t.delete_keys(["k0"])
    h = {r["version"]: r for r in t.history().collect()}
    vs = t.snapshot_versions()
    assert set(h) == set(vs)
    ops = [h[v]["operation"] for v in sorted(h)]
    assert ops[0] == "append" and ops[-1] == "delete"
    assert all(r["committed_at"] is not None for r in h.values())
    newest = h[max(h)]
    assert newest["n_files"] and newest["n_files"] > 0
    assert newest["total_bytes"] and newest["total_bytes"] > 0
    # MoR upserts accumulated pending delete entries pre-compaction
    assert any(r["pending_deletes"] > 0 for r in h.values())


def test_vacuum_dry_run_reports_without_removing(spark, tmp_path):
    t = build_history(spark, tmp_path, n=3)
    want = {tuple(r) for r in t.read().collect()}

    def snap(t):
        return {tuple(r) for r in t.read().collect()}
    plan = t.vacuum(keep_last=1, dry_run=True)
    assert plan  # something is reclaimable
    # nothing was touched: history still fully readable
    assert len(t.snapshot_versions()) == 3
    assert snap(t) == want
    # the real run removes exactly what the dry run promised
    real = t.vacuum(keep_last=1)
    assert sorted(real) == sorted(plan)
    assert len(t.snapshot_versions()) == 1
    assert snap(t) == want


# -- orphan age guard (r13: Iceberg remove_orphan_files older_than) ------------


def test_orphan_grace_spares_young_orphans_until_aged(spark, tmp_path):
    """Files referenced by NO manifest are indistinguishable from a
    concurrent writer's mid-commit staging (data lands before the
    manifest/marker).  With a grace window a young orphan survives
    vacuum; once its mtime ages past the window it is reclaimed."""
    from arcane_stream_parquet_spark.fsio import fs_join

    t = build_history(spark, tmp_path, n=2)
    before = {tuple(r) for r in t.read().collect()}
    # plant a true orphan: a data dir no manifest references
    orphan = fs_join(t.path, "data", "v99999-deadbeef")
    t._fio.mkdirs(orphan)
    t._fio.create_text(fs_join(orphan, "part-0.parquet"), "notreal")
    # plant an orphan manifest shard (mid-commit writer stages shards
    # before the root CAS references them)
    shard = "manifest-v00099-shard-00000-deadbeef.json"
    t._fio.create_text(t._log.path(shard), "[]")

    removed = t.vacuum(keep_last=1, orphan_grace_seconds=3600)
    assert t._fio.exists(orphan)
    assert t._fio.exists(t._log.path(shard))
    assert "v99999-deadbeef" not in removed
    # ... while snapshot-EXPIRED data reclaimed immediately (keep_last=1
    # expired v1's superseded files despite the grace)
    assert t.snapshot_versions() == [t._manifest()["version"]]
    assert {tuple(r) for r in t.read().collect()} == before

    # age the orphans past the window -> reclaimed
    old_ms = 1_000_000  # 1970-ish
    t._fio.set_mtime(fs_join(orphan, "part-0.parquet"), old_ms)
    t._fio.set_mtime(orphan, old_ms)
    t._fio.set_mtime(t._log.path(shard), old_ms)
    removed = t.vacuum(keep_last=1, orphan_grace_seconds=3600)
    assert "v99999-deadbeef" in removed
    assert not t._fio.exists(orphan)
    assert not t._fio.exists(t._log.path(shard))
    assert {tuple(r) for r in t.read().collect()} == before


def test_orphan_grace_zero_keeps_immediate_reclaim(spark, tmp_path):
    """The default (0.0) preserves the single-writer contract: crash
    leftovers reclaim on the very next vacuum."""
    from arcane_stream_parquet_spark.fsio import fs_join

    t = build_history(spark, tmp_path, n=1)
    orphan = fs_join(t.path, "data", "v99999-cafecafe")
    t._fio.mkdirs(orphan)
    t._fio.create_text(fs_join(orphan, "part-0.parquet"), "notreal")
    removed = t.vacuum()
    assert "v99999-cafecafe" in removed
    assert not t._fio.exists(orphan)


def test_vacuum_never_expires_versions_beyond_loaded_snapshot(spark, tmp_path):
    """A manifest with a version ABOVE the snapshot this vacuum loaded
    (a concurrent writer's just-landed commit) must never be expired —
    its history belongs to a vacuum that sees it as current."""
    import json

    from arcane_stream_parquet_spark.operators.manifest import root_name

    t = build_history(spark, tmp_path, n=2)
    cur = t._manifest()
    future_v = int(cur["version"]) + 1
    fut = dict(cur)
    fut["version"] = future_v
    path = t._log.path(root_name(future_v))
    t._fio.create_text(path, json.dumps(fut))
    try:
        t.vacuum(keep_last=1)
        assert t._fio.exists(path), "future manifest must survive"
    finally:
        t._fio.delete(path)

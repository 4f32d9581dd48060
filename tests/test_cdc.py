"""Incremental/CDC changelog (``read_changes``) and manifest-pruned
point lookups (``lookup``) over the versioned merge target.

The reference consumes change capture from blob storage and MERGEs it
into a table (docs/crd.md:145-182); ``read_changes`` closes the loop by
making the merge target itself incrementally consumable downstream —
the Delta CDF / Iceberg-incremental-scan shape, re-expressed over the
engine's own snapshot manifests.
"""

from __future__ import annotations

import glob
import itertools
import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from arcane_stream_parquet_spark.operators import manifest as manifest_log
from arcane_stream_parquet_spark.operators.merge import (
    CHANGE_TYPE_COLUMN,
    COMMIT_VERSION_COLUMN,
    ParquetMergeTarget,
)


def df_of(spark, rows):
    return spark.createDataFrame(
        [Row(arcane_merge_key=k, createdon=v, payload=p) for k, v, p in rows]
    )


def make_target(spark, path, **kw) -> ParquetMergeTarget:
    kw.setdefault("num_buckets", 8)
    return ParquetMergeTarget(spark=spark, path=str(path), **kw)


BATCHES = [
    [(f"k{i}", 1, f"p{i}") for i in range(20)],  # v1: all inserts
    [("k1", 2, "b"), ("k2", 2, "c"), ("new1", 2, "n1")],  # updates + insert
    [("k1", 3, "d"), ("new2", 3, "n2"), ("k19", 1, "stale-row")],
]


def changelog(t, from_v=0, to_v=None):
    return sorted(
        (
            r["arcane_merge_key"],
            r["createdon"],
            r["payload"],
            r[CHANGE_TYPE_COLUMN],
            r[COMMIT_VERSION_COLUMN],
        )
        for r in t.read_changes(from_v, to_v).collect()
    )


def apply_changelog(rows):
    """Replay a changelog: last change per key wins; deletes drop."""
    state = {}
    for k, v, p, ct, cv in sorted(rows, key=lambda r: r[4]):
        if ct == "delete":
            state.pop(k, None)
        else:
            state[k] = (k, v, p)
    return sorted(state.values())


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_changelog_classifies_and_replays(spark, tmp_path, mode):
    t = make_target(spark, tmp_path / mode, merge_mode=mode)
    for b in BATCHES:
        t.merge(df_of(spark, b))

    log = changelog(t)
    by_v = {}
    for row in log:
        by_v.setdefault(row[4], []).append(row)

    # v1: every row is an insert
    assert {r[3] for r in by_v[1]} == {"insert"}
    assert len(by_v[1]) == 20
    # v2: k1/k2 updates, new1 insert
    assert sorted((r[0], r[3]) for r in by_v[2]) == [
        ("k1", "update_postimage"),
        ("k2", "update_postimage"),
        ("new1", "insert"),
    ]
    # v3: k19's stale row (version 1 < live 1 ties -> >= wins, so it IS
    # an update under the >= tie rule), k1 update, new2 insert
    kinds3 = dict((r[0], r[3]) for r in by_v[3])
    assert kinds3["k1"] == "update_postimage"
    assert kinds3["new2"] == "insert"
    assert kinds3["k19"] == "update_postimage"
    # post-images carry the new values
    assert ("k1", 3, "d", "update_postimage", 3) in log

    # replaying the changelog reconstructs the live table exactly
    assert apply_changelog(log) == sorted(map(tuple, t.read().collect()))


def test_cow_mor_changelogs_identical(spark, tmp_path):
    logs = {}
    for mode in ("cow", "mor"):
        t = make_target(spark, tmp_path / mode, merge_mode=mode)
        for b in BATCHES:
            t.merge(df_of(spark, b))
        logs[mode] = changelog(t)
    assert logs["cow"] == logs["mor"]


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_range_endpoints_and_empty_range(spark, tmp_path, mode):
    t = make_target(spark, tmp_path / mode, merge_mode=mode)
    for b in BATCHES:
        t.merge(df_of(spark, b))
    # (1, 2]: only v2's changes
    log = changelog(t, 1, 2)
    assert {r[4] for r in log} == {2}
    assert len(log) == 3
    # empty range: zero rows, full schema
    empty = t.read_changes(3, 3)
    assert empty.count() == 0
    assert CHANGE_TYPE_COLUMN in empty.columns
    assert COMMIT_VERSION_COLUMN in empty.columns
    with pytest.raises(ValueError, match="invalid change range"):
        t.read_changes(2, 1)
    with pytest.raises(ValueError, match="invalid change range"):
        t.read_changes(0, 99)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_maintenance_commits_are_silent(spark, tmp_path, mode):
    t = make_target(spark, tmp_path / mode, merge_mode=mode)
    for b in BATCHES:
        t.merge(df_of(spark, b))
    before = changelog(t)
    assert t.compact() > 0
    v_compact = t._manifest()["version"]
    assert v_compact == 4
    # the compact version contributes nothing; earlier history intact
    assert changelog(t) == before
    assert t.read_changes(3, 4).count() == 0


def test_minor_compaction_silent_mor(spark, tmp_path, monkeypatch):
    t = make_target(spark, tmp_path, merge_mode="mor")
    for b in BATCHES:
        t.merge(df_of(spark, b))
    before = changelog(t)
    monkeypatch.setattr(manifest_log, "SMALL_FILE_BYTES", 1 << 30)
    r = t.compact_minor()
    assert r["delete_files_merged"] or r["small_files_rewritten"]
    assert changelog(t) == before
    assert t.read_changes(3).count() == 0


def test_overwrite_emits_deletes_with_preimage(spark, tmp_path):
    t = make_target(spark, tmp_path)
    t.merge(df_of(spark, [("a", 1, "pa"), ("b", 1, "pb"), ("c", 1, "pc")]))
    t.overwrite(df_of(spark, [("a", 2, "pa2"), ("d", 2, "pd")]))
    log = changelog(t, 1)
    kinds = {r[0]: r[3] for r in log}
    assert kinds == {
        "a": "update_postimage",
        "b": "delete",
        "c": "delete",
        "d": "insert",
    }
    # deletes carry the final pre-image
    assert ("b", 1, "pb", "delete", 2) in log
    assert apply_changelog(changelog(t)) == sorted(
        map(tuple, t.read().collect())
    )


def test_stale_batch_leaves_no_trace(spark, tmp_path):
    t = make_target(spark, tmp_path, merge_mode="mor")
    t.merge(df_of(spark, [("a", 5, "live")]))
    t.merge(df_of(spark, [("a", 1, "stale")]))  # ST3: discarded, no commit
    assert t._manifest()["version"] == 1
    assert t.read_changes(1).count() == 0


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_null_key_update_classified(spark, tmp_path, mode):
    t = make_target(spark, tmp_path / mode, merge_mode=mode)
    t.merge(df_of(spark, [(None, 1, "n1"), ("a", 1, "pa")]))
    t.merge(
        spark.createDataFrame(
            [(None, 2, "n2")],
            "arcane_merge_key string, createdon bigint, payload string",
        )
    )
    log = changelog(t, 1)
    assert log == [(None, 2, "n2", "update_postimage", 2)]


def test_untagged_manifests_fall_back_to_snapshot_diff(spark, tmp_path):
    """Pre-CDC manifests carry no ``op``: every version must still
    produce a correct changelog via the bucket-pruned diff — including
    a MoR commit whose visibility change lives in its delete file."""
    t = make_target(spark, tmp_path, merge_mode="mor")
    for b in BATCHES:
        t.merge(df_of(spark, b))
    tagged = changelog(t)
    for mf in glob.glob(
        os.path.join(str(tmp_path), "_asp_meta", "manifest-v*.json")
    ):
        with open(mf) as fh:
            m = json.load(fh)
        if m.pop("op", None) is not None:
            with open(mf, "w") as fh:
                json.dump(m, fh)
            # Committed manifests are immutable in the engine (create-only
            # via Hadoop FileSystem); this in-place edit simulates a
            # pre-CDC-era table.  Drop Hadoop's local-FS checksum sidecar
            # so the edited file is readable through HadoopFileIO.
            crc = os.path.join(
                os.path.dirname(mf), "." + os.path.basename(mf) + ".crc"
            )
            if os.path.exists(crc):
                os.remove(crc)
    t2 = make_target(spark, tmp_path, merge_mode="mor")
    assert changelog(t2) == tagged


def test_vacuum_breaks_history_cleanly(spark, tmp_path):
    t = make_target(spark, tmp_path)
    for b in BATCHES:
        t.merge(df_of(spark, b))
    t.vacuum()
    with pytest.raises(ValueError, match="vacuumed"):
        t.read_changes(0)
    # resuming from the live version still works (empty range)
    assert t.read_changes(t._manifest()["version"]).count() == 0


def test_schema_drift_changelog_nullfills_history(spark, tmp_path):
    t = make_target(spark, tmp_path)
    t.merge(df_of(spark, [("a", 1, "pa")]))
    t.merge(
        spark.createDataFrame(
            [Row(arcane_merge_key="a", createdon=2, payload="pb", extra=7)]
        )
    )
    rows = {
        r[COMMIT_VERSION_COLUMN]: r for r in t.read_changes(0).collect()
    }
    assert rows[1]["extra"] is None and rows[1][CHANGE_TYPE_COLUMN] == "insert"
    assert (
        rows[2]["extra"] == 7
        and rows[2][CHANGE_TYPE_COLUMN] == "update_postimage"
    )


# -- lookup ----------------------------------------------------------------


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_lookup_matches_filter_and_prunes_files(
    spark, tmp_path, mode, monkeypatch
):
    t = make_target(spark, tmp_path / mode, merge_mode=mode)
    t.merge(df_of(spark, [(f"k{i:04d}", 1, f"p{i}") for i in range(400)]))
    t.merge(df_of(spark, [("k0007", 2, "updated"), ("zz", 2, "new")]))

    total_files = len(t._files_of_manifest(t._manifest()))
    seen = {}
    orig = ParquetMergeTarget._scan_with_deletes

    def spy(self, files, schema, deletes):
        seen["n_files"] = len(files)
        return orig(self, files, schema, deletes)

    monkeypatch.setattr(ParquetMergeTarget, "_scan_with_deletes", spy)
    keys = ["k0007", "k0123", "zz", "absent"]
    got = sorted(map(tuple, t.lookup(keys).collect()))
    monkeypatch.undo()

    want = sorted(
        map(
            tuple,
            t.read()
            .filter(F.col("arcane_merge_key").isin(keys))
            .collect(),
        )
    )
    assert got == want
    assert ("k0007", 2, "updated") in got and ("zz", 2, "new") in got
    # the point of the method: the scan covered a strict subset of the
    # live files (bucket + min/max range pruning both engaged)
    assert total_files > 1
    assert seen["n_files"] < total_files


def test_lookup_null_and_empty(spark, tmp_path):
    t = make_target(spark, tmp_path)
    t.merge(df_of(spark, [(None, 1, "nullrow"), ("a", 1, "pa")]))
    assert [r["payload"] for r in t.lookup([None]).collect()] == ["nullrow"]
    assert t.lookup([]).count() == 0
    assert t.lookup(["missing"]).count() == 0
    # an empty result has the read() schema, never the bucket column
    cols = t.read().columns
    for keys in ([], ["missing"], ["a"]):
        assert t.lookup(keys).columns == cols, keys


_JOB_GROUPS = itertools.count()


def _job_count(spark, fn):
    """(fn(), Spark jobs fn submitted) — counted through a job group,
    which works with the UI off."""
    sc = spark.sparkContext
    group = f"job-count-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("shard_entries", [None, 2], ids=["unsharded", "sharded"])
def test_key_driven_callers_share_the_touch_planner(
    spark, tmp_path, shard_entries, monkeypatch
):
    """lookup and delete_keys (list and DataFrame forms) against
    their read() references — NULL, absent and already-deleted keys
    included — while reading only the manifest shards of the keys'
    buckets; lookup submits no job beyond its planning, and
    delete_keys builds its entry from its own aggregate (no read-back
    of the delete file it just wrote)."""
    if shard_entries is not None:
        monkeypatch.setattr(manifest_log, "SHARD_ENTRIES", shard_entries)
    t = make_target(spark, tmp_path)
    key = F.col("arcane_merge_key")
    t.merge(
        df_of(spark, [(f"k{i:03d}", 1, "a") for i in range(200)] + [(None, 1, "n")])
    )
    assert t.delete_keys(["k050"]) == 1
    assert bool(t._manifest().get("file_shards")) == (shard_entries is not None)

    read_shards: list[str] = []
    orig_read_shard = manifest_log.MetaLog.read_shard
    monkeypatch.setattr(
        manifest_log.MetaLog,
        "read_shard",
        lambda log, n: read_shards.append(n) or orig_read_shard(log, n),
    )

    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    keys = ["k003", "k077", None, "k050", "missing"]
    bucket_of = {
        r["k"]: r["b"]
        for r in spark.createDataFrame([(k,) for k in keys + ["k010"]], "k string")
        .select("k", F.pmod(F.xxhash64("k"), F.lit(t.num_buckets)).alias("b"))
        .collect()
    }

    def planned(op, keys):
        """op(), its job count, and a check that it read only shards
        whose [b0, b1] range holds one of the keys' buckets."""
        descs = {s["n"]: s for s in t._manifest().get("file_shards") or []}
        buckets = {bucket_of[k] for k in keys}
        read_shards.clear()
        out, jobs = _job_count(spark, op)
        for name in read_shards:
            d = descs[name]
            assert any(d["b0"] <= b <= d["b1"] for b in buckets), (name, buckets)
        assert not descs or len(read_shards) < len(descs)
        return out, jobs

    want = rows(t.read().filter(key.isin(keys[:2]) | key.isNull()))
    assert [r[0] for r in want] == ["k003", "k077", None]
    got, lookup_jobs = planned(lambda: t.lookup(keys), keys)
    assert rows(got) == want
    if shard_entries is None:
        # lookup submits no job beyond the planner's one action
        schema = t._schema_of(t._manifest())
        _, planner_jobs = _job_count(
            spark, lambda: t._plan_touch(t._manifest(), t._key_frame(keys, schema))
        )
        assert lookup_jobs <= planner_jobs, (lookup_jobs, planner_jobs)

    # list form: the already-deleted and the absent key count nothing
    dl = ["k003", "k050", "missing", None]
    assert planned(lambda: t.delete_keys(dl), dl)[0] == 2
    # DataFrame form: duplicates and an already-deleted key
    dk = spark.createDataFrame([("k077",), ("k077",), ("k003",), ("k010",)], "k string")
    assert planned(lambda: t.delete_keys(dk), ["k077", "k003", "k010"])[0] == 2
    live = t.read()
    assert live.filter(key.isin("k003", "k010", "k050", "k077") | key.isNull()).count() == 0
    assert live.count() == 196

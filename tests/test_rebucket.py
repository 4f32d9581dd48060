"""Online rebucketing (r11, beyond-reference): change num_buckets on a
live table via unit-local resumable staging + one atomic flip.

Contract pinned here: contents are IDENTICAL before/after (both
directions), pending MoR deletes fold in, the CDC changelog skips the
flip commit, staging survives crashes / vacuum / interleaved merges
(restaging exactly the invalidated units), rollback across a rebucket
restores the old numbering, and a writer constructed with a stale
bucket count self-corrects from the manifest.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from arcane_stream_parquet_spark.fsio import fs_join
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
    kw.setdefault("max_records_per_file", 40)
    return ParquetMergeTarget(spark=spark, path=str(tmp_path / "t"), **kw)


def seeded(spark, tmp_path, n=200, **kw):
    t = make(spark, tmp_path, **kw)
    t.merge(df_of(spark, [(f"k{i:04d}", 1, "a") for i in range(n)]))
    t.merge(
        df_of(spark, [(f"k{i:04d}", 2, "b") for i in range(0, n, 7)]),
        mode="mor",
    )
    return t


def entries_of(t):
    return t._files_of_manifest(t._manifest())


def cdc_fold(t):
    ch = t.read_changes(0)
    w = Window.partitionBy("arcane_merge_key").orderBy(
        F.col("_commit_version").desc()
    )
    last = (
        ch.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .filter(F.col("_change_type") != "delete")
    )
    return {
        (r["arcane_merge_key"], r["createdon"], r["payload"])
        for r in last.select(
            "arcane_merge_key", "createdon", "payload"
        ).collect()
    }


# -- basic semantics ----------------------------------------------------------


def test_split_identity_layout_and_metadata(spark, tmp_path):
    t = seeded(spark, tmp_path)
    before = snap(t)
    res = t.rebucket(16)
    assert res["done"] and res["staged"] == 4
    assert t.num_buckets == 16
    assert snap(t) == before
    m = t._manifest()
    assert m["num_buckets"] == 16
    assert m["op"] == "rebucket"
    assert m.get("deletes") == []
    # every entry sits under the new numbering and matches the hash
    ents = entries_of(t)
    assert ents and all(0 <= int(f["b"]) < 16 for f in ents)
    got = {
        (r["arcane_merge_key"], r["_b"])
        for r in t.read()
        .withColumn(
            "_b",
            F.pmod(F.xxhash64("arcane_merge_key"), F.lit(16)).cast("int"),
        )
        .select("arcane_merge_key", "_b")
        .collect()
    }
    by_key = dict(got)
    # spot-check: keys read back from a bucket=B file hash to B
    for f in ents:
        path = t._file_path(f)
        keys = [
            r["arcane_merge_key"]
            for r in spark.read.parquet(path)
            .select("arcane_merge_key")
            .collect()
        ]
        assert all(by_key[k] == int(f["b"]) for k in keys)
    # no markers left behind
    assert list(t._log.listing().markers) == []


def test_coarsen_identity(spark, tmp_path):
    t = seeded(spark, tmp_path, num_buckets=8)
    before = snap(t)
    res = t.rebucket(2)
    assert res["done"] and res["staged"] == 2  # units = min(8, 2)
    assert t.num_buckets == 2
    assert snap(t) == before
    assert all(0 <= int(f["b"]) < 2 for f in entries_of(t))


def test_non_divisible_and_bad_counts_raise(spark, tmp_path):
    t = seeded(spark, tmp_path, n=20)
    with pytest.raises(ValueError, match="divide one another"):
        t.rebucket(6)
    with pytest.raises(ValueError, match=">= 1"):
        t.rebucket(0)
    # no-op at the current count: done, no commit
    v = t._manifest()["version"]
    assert t.rebucket(4) == {"done": True, "version": v, "staged": 0}


def test_round_trip_with_merges_between(spark, tmp_path):
    t = seeded(spark, tmp_path)
    t.rebucket(16)
    t.merge(df_of(spark, [("k0003", 3, "c"), ("knew", 3, "n")]))
    mid = snap(t)
    assert ("k0003", 3, "c") in mid and ("knew", 3, "n") in mid
    t.rebucket(4)
    assert snap(t) == mid
    t.merge(df_of(spark, [("k0003", 4, "d")]), mode="mor")
    assert ("k0003", 4, "d") in snap(t)


def test_lookup_prunes_tighter_after_split(spark, tmp_path):
    t = seeded(spark, tmp_path, n=400, max_records_per_file=10)
    files_before = len(t.lookup(["k0007"]).inputFiles())
    want = [("k0007", 2, "b")]
    assert [tuple(r) for r in t.lookup(["k0007"]).collect()] == want
    t.rebucket(32)
    assert [tuple(r) for r in t.lookup(["k0007"]).collect()] == want
    # 8x more buckets -> the key's candidate file set shrinks
    assert len(t.lookup(["k0007"]).inputFiles()) < files_before


def test_read_where_pruning_survives_rebucket(spark, tmp_path):
    t = make(
        spark,
        tmp_path,
        stats_cols=("payload",),
        sorted_by=("payload",),
        max_records_per_file=10,
    )
    t.merge(
        df_of(
            spark,
            [(f"k{i:03d}", 1, chr(ord("a") + i % 26)) for i in range(200)],
        )
    )
    want = {
        tuple(r)
        for r in t.read().filter(F.col("payload") == "c").collect()
    }
    t.rebucket(8)
    got = t.read_where(("payload", "=", "c"))
    assert {tuple(r) for r in got.collect()} == want
    assert len(got.inputFiles()) < len(t.read().inputFiles())
    assert t.count_where(("payload", "=", "c")) == len(want)


# -- CDC / history / rollback -------------------------------------------------


def test_cdc_skips_rebucket_and_fold_matches_read(spark, tmp_path):
    t = seeded(spark, tmp_path)
    flip_v = t.rebucket(16)["version"]
    t.merge(df_of(spark, [("k0001", 5, "z")]))
    ch = t.read_changes(0)
    versions = {
        r["_commit_version"]
        for r in ch.select("_commit_version").distinct().collect()
    }
    assert flip_v not in versions  # logically empty, skipped
    assert cdc_fold(t) == snap(t)
    # incremental consumption across the flip boundary works too
    ch2 = t.read_changes(flip_v - 1)
    assert {
        r["_commit_version"] for r in ch2.select("_commit_version").collect()
    } == {flip_v + 1}


def test_history_reports_rebucket(spark, tmp_path):
    t = seeded(spark, tmp_path, n=20)
    v = t.rebucket(8)["version"]
    h = {r["version"]: r for r in t.history().collect()}
    assert h[v]["operation"] == "rebucket"
    # each snapshot reports its own bucket count
    assert [h[x]["num_buckets"] for x in sorted(h)] == [4] * (len(h) - 1) + [8]


# -- incremental staging / interleaving / durability --------------------------


def test_incremental_staging_resumes_and_flips(spark, tmp_path):
    t = seeded(spark, tmp_path)
    before = snap(t)
    r1 = t.rebucket(16, max_units=1)
    assert r1 == {"done": False, "staged": 1, "pending": 3}
    assert len(t._log.listing().markers) == 1
    # status probe stages nothing
    assert t.rebucket(16, max_units=0) == {
        "done": False,
        "staged": 0,
        "pending": 3,
    }
    r2 = t.rebucket(16, max_units=2)
    assert r2 == {"done": False, "staged": 2, "pending": 1}
    # a FRESH writer object resumes from the persisted markers
    t2 = make(spark, tmp_path)
    r3 = t2.rebucket(16)
    assert r3["done"] and r3["staged"] == 1
    assert snap(t2) == before
    assert t2.num_buckets == 16


def test_interleaved_merge_restages_only_touched_units(spark, tmp_path):
    t = seeded(spark, tmp_path)
    r1 = t.rebucket(16, max_units=3)
    assert r1 == {"done": False, "staged": 3, "pending": 1}
    dirs_before = {
        m["u"]: m["d"]
        for m in (
            json.loads(t._fio.read_text(t._log.path(n)))
            for n in t._log.listing().markers
        )
    }
    # touch exactly one key -> exactly one old bucket
    t.merge(df_of(spark, [("k0000", 7, "mid-flight")]))
    touched_bucket = t.read().withColumn(
        "_b", F.pmod(F.xxhash64("arcane_merge_key"), F.lit(4)).cast("int")
    ).filter(F.col("arcane_merge_key") == "k0000").collect()[0]["_b"]
    res = t.rebucket(16)
    assert res["done"]
    # staged = the never-staged unit + the invalidated one (or just one
    # if the touched bucket WAS the never-staged unit)
    expect = 1 if touched_bucket not in dirs_before else 2
    assert res["staged"] == expect
    m = t._manifest()
    ents = entries_of(t)
    dirs_after = {f["d"] for f in ents}
    for u, d in dirs_before.items():
        if u == touched_bucket:
            assert d not in dirs_after  # restaged
        else:
            assert d in dirs_after  # reused verbatim
    assert ("k0000", 7, "mid-flight") in snap(t)


def test_vacuum_preserves_inflight_staging(spark, tmp_path):
    t = seeded(spark, tmp_path)
    t.rebucket(16, max_units=2)
    staged_dirs = [
        json.loads(t._fio.read_text(t._log.path(n)))["d"]
        for n in t._log.listing().markers
    ]
    t.vacuum(keep_last=1)
    for d in staged_dirs:
        assert t._fio.exists(fs_join(str(tmp_path / "t"), "data", d))
    res = t.rebucket(16)
    assert res["done"] and res["staged"] == 2  # the vacuumed 2 survived
    # after the flip the spent snapshots + stale dirs reclaim normally
    t.vacuum(keep_last=1)
    assert snap(t) == snap(make(spark, tmp_path))


def test_abort_reclaims_staging_but_never_live_data(spark, tmp_path):
    t = seeded(spark, tmp_path)
    before = snap(t)
    t.rebucket(16, max_units=2)
    staged_dirs = [
        json.loads(t._fio.read_text(t._log.path(n)))["d"]
        for n in t._log.listing().markers
    ]
    assert t.rebucket_abort() == 2
    assert list(t._log.listing().markers) == []
    for d in staged_dirs:
        assert not t._fio.exists(fs_join(str(tmp_path / "t"), "data", d))
    assert snap(t) == before


def test_crash_at_marker_create_resumes(spark, tmp_path, monkeypatch):
    from arcane_stream_parquet_spark.fsio import HadoopFileIO

    t = seeded(spark, tmp_path)
    before = snap(t)
    real = HadoopFileIO.create_text
    calls = {"n": 0}

    def boom(self, path, text):
        if "rebucket-" in path and calls["n"] == 1:
            calls["n"] += 1
            raise RuntimeError("simulated crash at marker create")
        if "rebucket-" in path:
            calls["n"] += 1
        return real(self, path, text)

    monkeypatch.setattr(HadoopFileIO, "create_text", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        t.rebucket(16)
    monkeypatch.undo()
    # table untouched; one marker persisted; resume completes
    assert snap(t) == before
    assert len(t._log.listing().markers) == 1
    res = make(spark, tmp_path).rebucket(16)
    assert res["done"]
    t3 = make(spark, tmp_path)
    assert snap(t3) == before and t3.num_buckets == 16


def test_crash_after_flip_is_already_done(spark, tmp_path, monkeypatch):
    from arcane_stream_parquet_spark.fsio import HadoopFileIO

    t = seeded(spark, tmp_path)
    before = snap(t)
    real = HadoopFileIO.delete

    def boom(self, path, recursive=False):
        if "rebucket-" in str(path):
            raise RuntimeError("simulated crash during marker cleanup")
        return real(self, path, recursive=recursive)

    monkeypatch.setattr(HadoopFileIO, "delete", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        t.rebucket(16)
    monkeypatch.undo()
    # the FLIP committed before cleanup: table already migrated
    # (num_buckets syncs from the manifest at the first read)
    t2 = make(spark, tmp_path)
    assert snap(t2) == before and t2.num_buckets == 16
    assert len(t2._log.listing().markers) == 4  # leftovers
    # next call is a pure cleanup no-op commit-wise
    v = t2._manifest()["version"]
    assert t2.rebucket(16) == {"done": True, "version": v, "staged": 0}
    assert list(t2._log.listing().markers) == []
    # abort after flip: markers point at LIVE dirs — must not delete
    assert snap(make(spark, tmp_path)) == before


def test_stale_constructed_writer_self_corrects(spark, tmp_path):
    t = seeded(spark, tmp_path)
    t.rebucket(16)
    stale = make(spark, tmp_path)  # constructed with num_buckets=4
    stale.merge(df_of(spark, [("k0001", 8, "via-stale")]))
    assert stale.num_buckets == 16
    ents = entries_of(stale)
    assert all(0 <= int(f["b"]) < 16 for f in ents)
    assert ("k0001", 8, "via-stale") in snap(t)
    assert [
        tuple(r) for r in stale.lookup(["k0001"]).collect()
    ] == [("k0001", 8, "via-stale")]


def test_flip_loses_commit_race_and_retry_converges(spark, tmp_path):
    """A competing writer commits the flip's target version between
    the staging validation and the root create: the CAS fence raises
    inside the attempt, rebucket() re-reads, revalidates (restaging
    the unit the competitor touched) and flips at the next version."""
    t = seeded(spark, tmp_path)
    t2 = make(spark, tmp_path)
    real_commit = manifest_log.MetaLog.commit
    fired = {"n": 0}

    def racy(log, manifest, *args):
        if manifest.get("op") == "rebucket" and fired["n"] == 0:
            fired["n"] += 1
            # the competitor lands a merge at the SAME version first
            t2.merge(df_of(spark, [("k0000", 7, "raced")]))
        return real_commit(log, manifest, *args)

    import unittest.mock as mock

    with mock.patch.object(manifest_log.MetaLog, "commit", racy):
        res = t.rebucket(16)
    assert res["done"] and fired["n"] == 1
    assert t.num_buckets == 16
    # the raced merge's row survived the flip
    assert ("k0000", 7, "raced") in snap(t)
    ops = [r["operation"] for r in t.history().collect()]
    assert ops[-1] == "rebucket" and "merge-cow" in ops


def test_schema_drift_mid_staging_null_fills(spark, tmp_path):
    t = seeded(spark, tmp_path)
    t.rebucket(16, max_units=2)  # two units staged under the old schema
    # drift lands mid-migration (invalidates only its touched unit)
    t.merge(
        spark.createDataFrame(
            [("kdrift", 3, "d", 99)],
            "arcane_merge_key string, createdon long, payload string,"
            " extra long",
        )
    )
    res = t.rebucket(16)
    assert res["done"]
    out = {
        r["arcane_merge_key"]: (r["payload"], r["extra"])
        for r in t.read().collect()
    }
    assert out["kdrift"] == ("d", 99)
    # rows staged pre-drift read back null-filled, nothing lost
    assert out["k0000"][1] is None
    assert len(out) == 201


def test_stale_writer_overwrite_uses_live_numbering(spark, tmp_path):
    # review find (r11): overwrite() built the bucket expression before
    # the manifest sync — a stale-constructed writer wrote old-numbered
    # buckets under a new-numbered manifest
    t = seeded(spark, tmp_path)
    t.rebucket(16)
    stale = make(spark, tmp_path)  # constructed with num_buckets=4
    stale.overwrite(df_of(spark, [("o1", 1, "x"), ("o2", 1, "y")]))
    assert stale.num_buckets == 16
    ents = entries_of(stale)
    got = {
        (r["arcane_merge_key"], r["_b"])
        for r in stale.read()
        .withColumn(
            "_b",
            F.pmod(F.xxhash64("arcane_merge_key"), F.lit(16)).cast("int"),
        )
        .collect()
    }
    by_key = dict(got)
    for f in ents:
        keys = [
            r["arcane_merge_key"]
            for r in spark.read.parquet(stale._file_path(f)).select(
                "arcane_merge_key"
            ).collect()
        ]
        assert all(by_key[k] == int(f["b"]) for k in keys)
    assert [tuple(r) for r in stale.lookup(["o1"]).collect()] == [
        ("o1", 1, "x")
    ]


def test_status_probe_never_flips_when_fully_staged(spark, tmp_path):
    # review find (r11): with everything staged (e.g. after a crash
    # between staging and flip), a max_units=0 "status probe" used to
    # fall through into the flip commit
    import unittest.mock as mock

    t = seeded(spark, tmp_path)
    v0 = t._manifest()["version"]
    real = manifest_log.MetaLog.commit

    def boom(log, manifest, *args):
        if manifest.get("op") == "rebucket":
            raise RuntimeError("simulated crash before the flip")
        return real(log, manifest, *args)

    with mock.patch.object(manifest_log.MetaLog, "commit", boom):
        with pytest.raises(RuntimeError, match="before the flip"):
            t.rebucket(16)
    # all units staged, table not flipped
    assert len(t._log.listing().markers) == 4
    assert t._manifest()["version"] == v0
    # the probe reports and does NOT flip
    assert t.rebucket(16, max_units=0) == {
        "done": False,
        "staged": 0,
        "pending": 0,
    }
    assert t._manifest()["version"] == v0
    # an explicit resume call flips
    res = t.rebucket(16)
    assert res["done"] and t.num_buckets == 16


# -- marker cleanup reclaims abandoned-migration staging (r12) ------------------


def test_flip_reclaims_abandoned_migration_staging(spark, tmp_path):
    """r11 review find #3: a partially staged migration ABANDONED in
    favor of a different count used to leave its staging dirs as
    vacuum debt after the new migration's flip deleted the markers.
    The flip (and the already-flipped early return) now route through
    the abort path's dir-reclaiming logic."""
    t = seeded(spark, tmp_path)
    before = snap(t)
    # stage one unit of a 4->8 migration, then abandon it for 4->16
    r8 = t.rebucket(8, max_units=1)
    assert not r8["done"] and r8["staged"] == 1
    stale_dirs = [
        json.loads(t._fio.read_text(t._log.path(name)))["d"]
        for name in t._log.listing().markers
    ]
    assert stale_dirs and all(d for d in stale_dirs)
    done = t.rebucket(16)
    assert done["done"]
    # markers gone AND the abandoned migration's staging dirs gone —
    # not left for vacuum
    assert list(t._log.listing().markers) == []
    for d in stale_dirs:
        assert not t._fio.exists(t._data_dir(d))
    assert snap(t) == before
    assert t.vacuum(dry_run=True) == [] or all(
        "rb8-" not in e for e in t.vacuum(dry_run=True)
    )


def test_already_flipped_return_leaves_inflight_migration_alone(spark, tmp_path):
    """r12 advice (race): the n == nb early return performs NO commit,
    so nothing fences a DIFFERENT-count migration that may be in
    flight from the very manifest version it read — deleting that
    migration's staging dirs (or even just its marker files, which
    are what shields the dirs from vacuum()) lets the in-flight
    writer commit a manifest referencing deleted data.  The early
    return must therefore touch only SAME-count (spent, CAS-fenced)
    markers; the in-flight migration resumes from its staging
    untouched, and explicit rebucket_abort() remains the reclaim
    path for a genuinely abandoned one."""
    t = seeded(spark, tmp_path)
    before = snap(t)
    assert t.rebucket(8)["done"]
    r16 = t.rebucket(16, max_units=1)
    assert not r16["done"] and r16["staged"] == 1
    names_before = list(t._log.listing().markers)
    stale_dirs = [
        json.loads(t._fio.read_text(t._log.path(name)))["d"]
        for name in names_before
    ]
    assert stale_dirs and all(d for d in stale_dirs)
    res = t.rebucket(8)  # already at 8: early return, no commit
    assert res["done"] and res["staged"] == 0
    # the 8->16 migration's markers AND staging dirs survive ...
    assert list(t._log.listing().markers) == names_before
    for d in stale_dirs:
        assert t._fio.exists(t._data_dir(d))
    # ... they stay vacuum-protected ...
    t.vacuum()
    for d in stale_dirs:
        assert t._fio.exists(t._data_dir(d))
    # ... and the migration resumes from them: 7 remaining of the 8
    # units (min(8, 16)), the staged one reused — not from scratch
    done = t.rebucket(16)
    assert done["done"] and done["staged"] == 7
    assert list(t._log.listing().markers) == []
    assert snap(t) == before


def test_already_flipped_return_reclaims_same_count_stragglers(spark, tmp_path):
    """Same-count markers ARE reclaimed by the early return: a writer
    that staged toward nb from an older version (then lost the flip to
    a faster writer) is permanently fenced by the flip's version bump,
    so its spent marker and non-live staging dir are safe debt to
    collect."""
    t = seeded(spark, tmp_path)
    before = snap(t)
    assert t.rebucket(8)["done"]
    # plant the losing writer's leftover: a same-count marker whose
    # staging dir is NOT referenced by the live manifest (it lost the
    # flip race, so its rewrite of the unit was superseded)
    orphan = "rb8-u0000001-deadbeef"
    t._fio.mkdirs(t._data_dir(orphan))
    t._fio.create_text(
        fs_join(t._data_dir(orphan), "part-00000.parquet"), "stale"
    )
    t._fio.create_text(
        t._log.path(manifest_log.marker_name(8, 1)),
        json.dumps({"nb": 8, "u": 1, "fp": "stale", "d": orphan,
                    "files": []}),
    )
    res = t.rebucket(8)  # early return sweeps same-count debt
    assert res["done"] and res["staged"] == 0
    assert list(t._log.listing().markers) == []
    assert not t._fio.exists(t._data_dir(orphan))
    assert snap(t) == before


# -- sustained-traffic soak invariants (r12, VERDICT item 5) -------------------


def test_soak_trickle_merges_compact_vacuum_converges(spark, tmp_path):
    """A sliced 4->8 migration under a sustained merge trickle (CoW +
    MoR), one mid-flight compact() (a global invalidator: it rewrites
    files, so every staged unit's source fingerprint changes) and one
    mid-flight vacuum(): the flip must eventually land, total staged
    units stay O(units + invalidations) — never a from-scratch restart
    per pass — and read()/CDC/history stay consistent throughout."""
    t = seeded(spark, tmp_path, n=120)
    expected = {k: (c, p) for k, c, p in (
        [(f"k{i:04d}", 1, "a") for i in range(120)]
    )}
    for i in range(0, 120, 7):
        expected[f"k{i:04d}"] = (2, "b")

    units = 4  # min(4, 8)
    staged_total = 0
    invalidators = 0  # upper bound on fingerprint-changing events
    done = ran_compact = ran_vacuum = False
    for step in range(30):
        r = t.rebucket(8, max_units=1)
        staged_total += r.get("staged", 0)
        if r["done"]:
            done = True
            break
        ver = 3 + step
        key = f"k{step % 120:04d}"
        mode = "mor" if step % 3 == 2 else "cow"
        t.merge(df_of(spark, [(key, ver, f"s{step}")]), mode=mode)
        expected[key] = (ver, f"s{step}")
        invalidators += 1  # narrow merge: touches <= 1 unit
        if step == 1:
            t.compact()  # global invalidator mid-flight
            ran_compact = True
            invalidators += units  # rewrites files in every unit
        if step == 2:
            t.vacuum()  # must not eat in-flight staging
            ran_vacuum = True
    assert done, "migration never converged under trickle traffic"
    assert ran_compact and ran_vacuum, "maintenance must land mid-flight"
    assert int(t._manifest()["num_buckets"]) == 8
    # every staged unit is accounted for by the initial staging or an
    # invalidation — no tail-chasing restarts
    assert staged_total <= units + invalidators
    got = {
        r["arcane_merge_key"]: (r["createdon"], r["payload"])
        for r in t.read().collect()
    }
    assert got == expected
    # CDC consistency across the vacuum: a consumer resuming from the
    # OLDEST RETAINED snapshot (pre-vacuum history is gone, by
    # contract) reconstructs read() exactly
    base_v = min(t.snapshot_versions())
    state = {
        r["arcane_merge_key"]: (r["createdon"], r["payload"])
        for r in t.read(at_version=base_v).collect()
    }
    w = Window.partitionBy("arcane_merge_key").orderBy(
        F.col("_commit_version").desc()
    )
    last = (
        t.read_changes(base_v)
        .withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
    )
    for r in last.collect():
        if r["_change_type"] == "delete":
            state.pop(r["arcane_merge_key"], None)
        else:
            state[r["arcane_merge_key"]] = (r["createdon"], r["payload"])
    assert state == got
    ops = [r["operation"] for r in t.history().collect()]
    # (the compact commit itself was legitimately expired by the
    # mid-flight vacuum — ran_compact above pins that it happened)
    assert "rebucket" in ops
    # layout invariant: every manifest entry inside the new numbering
    ents = entries_of(t)
    assert ents and all(0 <= int(f["b"]) < 8 for f in ents)
    # post-flip maintenance debris is reclaimable and markers are gone
    assert list(t._log.listing().markers) == []

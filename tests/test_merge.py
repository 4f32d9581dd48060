"""MERGE semantics unit tests (reference J1/ST3 golden behaviors)."""

from __future__ import annotations

import json
import re
import shutil

import pytest
from pyspark.sql import functions as F

from arcane_stream_parquet_spark.operators import manifest as manifest_log
from arcane_stream_parquet_spark.operators import merge as merge_module
from arcane_stream_parquet_spark.operators.merge import ParquetMergeTarget


def make_target(spark, tmp_path, **kw) -> ParquetMergeTarget:
    kw.setdefault("num_buckets", 8)
    return ParquetMergeTarget(spark=spark, path=str(tmp_path / "target"), **kw)


def df_of(spark, rows):
    return spark.createDataFrame(
        rows, "arcane_merge_key string, createdon long, payload string"
    )


def test_merge_inserts_then_upserts(spark, tmp_path):
    t = make_target(spark, tmp_path)
    t.merge(df_of(spark, [("k1", 1, "a"), ("k2", 1, "b")]))
    assert {(r["arcane_merge_key"], r["payload"]) for r in t.read().collect()} == {
        ("k1", "a"),
        ("k2", "b"),
    }
    # newer version updates, new key inserts
    t.merge(df_of(spark, [("k1", 2, "a2"), ("k3", 1, "c")]))
    got = {(r["arcane_merge_key"], r["createdon"], r["payload"]) for r in t.read().collect()}
    assert got == {("k1", 2, "a2"), ("k2", 1, "b"), ("k3", 1, "c")}


def test_merge_discards_late_old_versions(spark, tmp_path):
    """ST3: an old version arriving after a newer one is discarded."""
    t = make_target(spark, tmp_path)
    t.merge(df_of(spark, [("k1", 10, "new")]))
    t.merge(df_of(spark, [("k1", 5, "stale")]))
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0]["payload"] == "new"


def test_merge_equal_version_batch_wins(spark, tmp_path):
    """MERGE condition is s.createdon >= t.createdon (SURVEY.md ST3)."""
    t = make_target(spark, tmp_path)
    t.merge(df_of(spark, [("k1", 7, "old")]))
    t.merge(df_of(spark, [("k1", 7, "rewrite")]))
    assert t.read().collect()[0]["payload"] == "rewrite"


def test_merge_dedups_within_batch(spark, tmp_path):
    """J2: several versions of one key in a single batch → latest wins
    (IntegrationTests.scala:176 — 5000 rows/100 keys → 100 rows)."""
    t = make_target(spark, tmp_path)
    rows = [(f"k{i % 10}", v, f"p{i % 10}-{v}") for i, v in ((i, i // 10) for i in range(500))]
    t.merge(df_of(spark, rows))
    got = t.read().collect()
    assert len(got) == 10
    assert {r["createdon"] for r in got} == {49}


def test_merge_is_idempotent(spark, tmp_path):
    """ST2 replay safety: re-merging the same batch changes nothing."""
    t = make_target(spark, tmp_path)
    batch = df_of(spark, [("k1", 1, "a"), ("k2", 2, "b")])
    t.merge(batch)
    before = sorted(map(tuple, t.read().collect()))
    t.merge(batch)
    assert sorted(map(tuple, t.read().collect())) == before


def test_merge_only_rewrites_affected_buckets(spark, tmp_path):
    """Scale property: a one-key batch must not rewrite untouched bucket
    partitions (partition-pruned read + fresh-version write; old
    version files survive untouched under the manifest)."""
    import glob
    import os

    t = make_target(spark, tmp_path, num_buckets=8)
    big = df_of(spark, [(f"k{i}", 1, f"p{i}") for i in range(200)])
    t.merge(big)
    files_before = {
        p: os.path.getmtime(p)
        for p in glob.glob(str(tmp_path / "target" / "data" / "*" / "*" / "*.parquet"))
    }
    t.merge(df_of(spark, [("k1", 2, "p1-new")]))
    files_after = {
        p: os.path.getmtime(p)
        for p in glob.glob(str(tmp_path / "target" / "data" / "*" / "*" / "*.parquet"))
    }
    untouched = [p for p in files_before if p in files_after]
    assert untouched, "expected surviving files in unaffected buckets"
    changed_buckets = {
        p.split("__bucket=")[1].split("/")[0]
        for p in set(files_after) - set(files_before)
    }
    assert len(changed_buckets) == 1  # single-key batch → single bucket rewritten
    # total content still correct
    assert t.read().filter(F.col("arcane_merge_key") == "k1").collect()[0]["payload"] == "p1-new"
    assert t.read().count() == 200


def test_merge_schema_drift_adds_column(spark, tmp_path):
    """M5 schema migration: batch with a new column → target grows it,
    old rows NULL-filled."""
    t = make_target(spark, tmp_path)
    t.merge(df_of(spark, [("k1", 1, "a")]))
    drifted = spark.createDataFrame(
        [("k2", 1, "b", 42)],
        "arcane_merge_key string, createdon long, payload string, extra long",
    )
    t.merge(drifted)
    got = {r["arcane_merge_key"]: r["extra"] for r in t.read().collect()}
    assert got == {"k1": None, "k2": 42}


def test_merge_schema_drift_rejected_when_unified(spark, tmp_path):
    t = make_target(spark, tmp_path, unified_schema=True)
    t.merge(df_of(spark, [("k1", 1, "a")]))
    drifted = spark.createDataFrame(
        [("k2", 1, "b", 42)],
        "arcane_merge_key string, createdon long, payload string, extra long",
    )
    with pytest.raises(ValueError, match="schema drift"):
        t.merge(drifted)


def test_overwrite_replaces_target(spark, tmp_path):
    t = make_target(spark, tmp_path)
    t.merge(df_of(spark, [("k1", 1, "a"), ("k2", 1, "b")]))
    t.overwrite(df_of(spark, [("k9", 9, "z"), ("k9", 8, "older")]))
    got = t.read().collect()
    assert len(got) == 1 and got[0]["arcane_merge_key"] == "k9" and got[0]["payload"] == "z"


def test_watermark_monotonic(spark, tmp_path):
    t = make_target(spark, tmp_path)
    assert t.watermark() is None
    t.commit_watermark(100)
    t.commit_watermark(50)  # must not regress
    assert t.watermark() == 100
    t.commit_watermark(200)
    assert t.watermark() == 200


def test_empty_first_batch_does_not_brick_target(spark, tmp_path):
    """ADVICE r2 (medium): an empty first batch must not commit a
    zero-bucket manifest that permanently breaks read()/merge()."""
    t = make_target(spark, tmp_path)
    empty = df_of(spark, []).filter(F.lit(False))
    t.merge(empty)
    assert not t.exists()  # no-op, target still uninitialized
    t.merge(df_of(spark, [("k1", 1, "a")]))
    assert [(r["arcane_merge_key"], r["payload"]) for r in t.read().collect()] == [("k1", "a")]


def test_empty_batch_on_existing_target_is_noop(spark, tmp_path):
    t = make_target(spark, tmp_path)
    t.merge(df_of(spark, [("k1", 1, "a")]))
    v_before = t._manifest()["version"]
    t.merge(df_of(spark, []).filter(F.lit(False)))
    assert t._manifest()["version"] == v_before  # no version churn
    assert t.read().count() == 1


def test_overwrite_with_empty_source_truncates(spark, tmp_path):
    t = make_target(spark, tmp_path)
    t.merge(df_of(spark, [("k1", 1, "a"), ("k2", 1, "b")]))
    t.overwrite(df_of(spark, []).filter(F.lit(False)))
    out = t.read()
    assert out.count() == 0
    assert set(out.columns) == {"arcane_merge_key", "createdon", "payload"}
    # and the table keeps working afterwards
    t.merge(df_of(spark, [("k3", 1, "c")]))
    assert t.read().count() == 1


# ---------------------------------------------------------------------------
# r5: sub-bucket file pruning (file-level manifests)


def test_narrow_upsert_keeps_unaffected_files(spark, tmp_path):
    """A 1-key upsert into a bucket fragmented across several key-sorted
    files must rewrite ONLY the file(s) whose range holds the key; every
    other file entry survives verbatim (same version dir, same name)."""
    t = ParquetMergeTarget(
        spark=spark, path=str(tmp_path / "t"), num_buckets=1,
        max_records_per_file=25,
    )
    t.merge(df_of(spark, [(f"k{i:04d}", 1, f"p{i}") for i in range(100)]))
    m1 = t._manifest()
    files1 = m1["files"]
    assert len(files1) >= 4  # 100 rows / 25 per file
    assert all(f["mn"] is not None and f["mx"] is not None for f in files1)
    # pick the key-sorted middle: exactly one file's range holds "k0050"
    t.merge(df_of(spark, [("k0050", 2, "updated")]))
    m2 = t._manifest()
    files2 = m2["files"]
    kept = [f for f in files2 if f["v"] == 1]
    new = [f for f in files2 if f["v"] == 2]
    assert len(new) == 1
    assert len(kept) == len(files1) - 1
    # kept entries are byte-identical carryovers of v1 entries
    v1_by_name = {f["n"]: f for f in files1}
    for f in kept:
        assert f == v1_by_name[f["n"]]
    # and the table reads correctly through the mixed-version manifest
    out = {r["arcane_merge_key"]: r["payload"] for r in t.read().collect()}
    assert out["k0050"] == "updated" and len(out) == 100
    assert out["k0000"] == "p0"


def test_pruned_bytes_smaller_than_bucket_rewrite(spark, tmp_path):
    """The measurable claim: bytes written by a narrow upsert are a
    fraction of a full rewrite of the touched bucket's files."""
    t = ParquetMergeTarget(
        spark=spark, path=str(tmp_path / "t"), num_buckets=2,
        max_records_per_file=50,
    )
    t.merge(df_of(spark, [(f"k{i:05d}", 1, "x" * 50) for i in range(1000)]))
    v1 = t._manifest()["files"]
    t.merge(df_of(spark, [("k00500", 2, "y")]))
    m = t._manifest()
    new = [f for f in m["files"] if int(f["v"]) == m["version"]]
    assert len({int(f["b"]) for f in new}) == 1
    bucket = int(new[0]["b"])
    pruned = sum(f["sz"] for f in new)
    full = sum(f["sz"] for f in v1 if int(f["b"]) == bucket)
    assert pruned < full / 3, (pruned, full)


def test_null_merge_key_stays_single_row_under_pruning(spark, tmp_path):
    """r5 ADVICE: a NULL batch key never satisfies the file-range join
    (NULL >= mn is NULL), so a kept file already holding the target's
    null-key row would leave TWO live rows for the null key.  Files of a
    null-key bucket must be treated as touched so latest-wins dedup sees
    both rows."""
    t = ParquetMergeTarget(
        spark=spark, path=str(tmp_path / "t"), num_buckets=1,
        max_records_per_file=25,
    )
    # null key lands in a MIXED file (min/max ignore nulls → file is
    # ranged, the exact scenario pruning used to skip)
    t.merge(df_of(spark, [(None, 1, "old")]
                  + [(f"k{i:03d}", 1, f"p{i}") for i in range(100)]))
    t.merge(df_of(spark, [(None, 2, "new")]))
    rows = t.read().collect()
    null_rows = [r for r in rows if r["arcane_merge_key"] is None]
    assert len(null_rows) == 1, "null merge key must keep one live row"
    assert null_rows[0]["payload"] == "new"
    assert len(rows) == 101
    # non-null-only batches still prune: file ranges are intact
    t.merge(df_of(spark, [("k050", 3, "updated")]))
    m = t._manifest()
    new = [f for f in m["files"] if f["v"] == m["version"]]
    assert len(new) == 1, "non-null upsert must still touch exactly one file"


def _bare_name_shards(t, m):
    files = m.pop("files")
    name = manifest_log.shard_name(m["version"] + 1, 0)
    t._fio.create_text(t._log.path(name), json.dumps(files))
    m["file_shards"] = [name]
    m["n_files"] = len(files)
    m["size_hist"] = manifest_log.shard_summary(files)[0]


def _per_bucket_deletes(t, m):
    m["deletes"] = [
        {k: v for k, v in d.items() if k != "bs"} | {"b": d["bs"][0]}
        for d in m["deletes"]
    ]


# root shapes written by earlier layouts -> the field the check names
_OLD_ROOTS = {
    "no_file_list": ("files or file_shards", lambda t, m: m.pop("files")),
    "bare_name_shards": ("file_shards descriptors", _bare_name_shards),
    "no_num_buckets": ("num_buckets", lambda t, m: m.pop("num_buckets")),
    "per_bucket_delete": ("delete entry bs", _per_bucket_deletes),
}


@pytest.fixture(scope="module")
def mor_table_dir(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("old_roots") / "t"
    t = ParquetMergeTarget(
        spark=spark, path=str(path), num_buckets=4, merge_mode="mor"
    )
    t.merge(df_of(spark, [(f"k{i}", 1, f"p{i}") for i in range(20)]))
    t.merge(df_of(spark, [("k1", 2, "new")]))
    assert t._manifest()["deletes"]
    return path


@pytest.mark.parametrize("shape", list(_OLD_ROOTS))
def test_old_manifest_format_refused(spark, tmp_path, mor_table_dir, shape):
    """A root in any earlier manifest layout is refused by the one
    load-time check: reads, merges, maintenance polls and vacuum all
    raise the same ValueError naming the version and the missing
    field, and vacuum deletes nothing under the table."""
    path = tmp_path / "t"
    shutil.copytree(mor_table_dir, path)
    t = ParquetMergeTarget(spark=spark, path=str(path), num_buckets=4)
    field, downgrade = _OLD_ROOTS[shape]
    m = t._manifest()
    downgrade(t, m)
    m["version"] += 1
    t._fio.create_text(
        t._log.path(manifest_log.root_name(m["version"])), json.dumps(m)
    )
    before = sorted(p.relative_to(path) for p in path.rglob("*"))
    msg = rf"manifest v{m['version']} .*\(missing: {re.escape(field)}\)"
    for call in (
        lambda: t.read().collect(),
        lambda: t.merge(df_of(spark, [("k2", 3, "x")])),
        t.maintenance_metrics,
        t.vacuum,
    ):
        with pytest.raises(ValueError, match=msg):
            call()
    assert sorted(p.relative_to(path) for p in path.rglob("*")) == before


def test_sorted_by_wins_over_key_sort(spark, tmp_path):
    """An explicit sorted_by (reference knob) keeps its order; pruning
    stats are still recorded (just wider ranges)."""
    t = ParquetMergeTarget(
        spark=spark, path=str(tmp_path / "t"), num_buckets=1,
        sorted_by=("payload",), max_records_per_file=25,
    )
    t.merge(df_of(spark, [(f"k{i:03d}", 1, f"p{999 - i}") for i in range(100)]))
    files = t._manifest()["files"]
    assert all(f["mn"] is not None for f in files)
    # rows inside each file are payload-sorted, not key-sorted
    import pyspark.sql.functions as SF

    one = t._read_files(files[:1], None).select("payload").collect()
    payloads = [r["payload"] for r in one]
    assert payloads == sorted(payloads)


def test_pruning_works_for_numeric_keys(spark, tmp_path):
    """Sort order, recorded stats, and the prune comparison all use the
    SAME string cast — with a native numeric sort the recorded ranges
    would overlap lexicographically and pruning would silently never
    fire (r5 review finding)."""
    t = ParquetMergeTarget(
        spark=spark, path=str(tmp_path / "t"), num_buckets=1,
        max_records_per_file=25, key_col="arcane_merge_key",
    )
    rows = [(i, 1, f"p{i}") for i in range(100)]
    df = spark.createDataFrame(
        rows, "arcane_merge_key bigint, createdon bigint, payload string"
    )
    t.merge(df)
    files1 = t._manifest()["files"]
    assert len(files1) >= 4
    one = spark.createDataFrame(
        [(50, 2, "updated")],
        "arcane_merge_key bigint, createdon bigint, payload string",
    )
    t.merge(one)
    m2 = t._manifest()
    new = [f for f in m2["files"] if f["v"] == m2["version"]]
    kept = [f for f in m2["files"] if f["v"] == 1]
    assert len(new) == 1, "numeric-key upsert must touch exactly one file"
    assert len(kept) == len(files1) - 1
    out = {r["arcane_merge_key"]: r["payload"] for r in t.read().collect()}
    assert out[50] == "updated" and len(out) == 100


# ---------------------------------------------------------------------------
# r5: manifest sharding (manifest-list shape)


def _sharded_target(spark, tmp_path, monkeypatch, **kw):
    kw.setdefault("num_buckets", 4)
    kw.setdefault("max_records_per_file", 10)
    monkeypatch.setattr(manifest_log, "SHARD_ENTRIES", 3)  # force sharding
    return ParquetMergeTarget(spark=spark, path=str(tmp_path / "t"), **kw)


def test_manifest_shards_roundtrip_and_prune(spark, tmp_path, monkeypatch):
    """A file list over the threshold lands as immutable shard files +
    a root carrying only their names; reads, merges (incl. pruning
    bookkeeping), time travel, and snapshot listing all behave as with
    the inline list."""
    import json

    t = _sharded_target(spark, tmp_path, monkeypatch)
    t.merge(df_of(spark, [(f"k{i:03d}", 1, f"p{i}") for i in range(60)]))
    m = t._manifest()
    assert "files" not in m and len(m["file_shards"]) >= 2
    files = t._files_of_manifest(m)
    assert len(files) >= 4 and all(f["mn"] is not None for f in files)
    assert t.read().count() == 60
    # r9 roots carry bucket-ranged shard DESCRIPTORS with summaries
    assert all(
        {"n", "b0", "b1", "nf", "hist", "coal"} <= set(s)
        for s in m["file_shards"]
    )
    assert sum(s["nf"] for s in m["file_shards"]) == m["n_files"] == len(files)
    # shards on disk are immutable commits named for their version
    names = t._fio.list_names(t._log.dir)
    assert all(s["n"] in names for s in m["file_shards"])
    # snapshot listing must not trip over shard names
    assert t.snapshot_versions() == [1]
    # merge on top of a sharded manifest: resolves shards, prunes, and
    # re-shards the survivors + new files
    t.merge(df_of(spark, [("k030", 2, "updated")]))
    m2 = t._manifest()
    files2 = t._files_of_manifest(m2)
    assert sum(1 for f in files2 if f["v"] == m2["version"]) == 1
    out = {r["arcane_merge_key"]: r["payload"] for r in t.read().collect()}
    assert out["k030"] == "updated" and len(out) == 60
    # time travel through a sharded snapshot
    assert t.read(at_version=1).count() == 60


def test_manifest_shard_crash_retry_and_vacuum(spark, tmp_path, monkeypatch):
    """A crash between shard writes and the root commit leaves orphan
    shards: the old table is intact, a retry replaces them, and vacuum
    drops shards of expired snapshots."""
    import pytest as _pytest

    t = _sharded_target(spark, tmp_path, monkeypatch)
    t.merge(df_of(spark, [(f"k{i:03d}", 1, f"p{i}") for i in range(60)]))
    before = sorted(map(tuple, t.read().collect()))

    real_create = t._fio.__class__.create_text
    calls = {"n": 0}

    def crashing_create(self, path, text):
        if "-shard-" not in path:
            calls["n"] += 1
            if calls["n"] == 1 and path.endswith("manifest-v00002.json"):
                raise RuntimeError("simulated crash at root commit")
        return real_create(self, path, text)

    import unittest.mock as mock

    with mock.patch.object(t._fio.__class__, "create_text", crashing_create):
        with _pytest.raises(RuntimeError, match="simulated crash"):
            t.merge(df_of(spark, [("k001", 2, "new")]))
    # old table fully intact; orphan v2 shards may exist
    assert sorted(map(tuple, t.read().collect())) == before
    # retry converges, replacing the orphan shards
    t.merge(df_of(spark, [("k001", 2, "new")]))
    assert {r["arcane_merge_key"]: r["payload"] for r in t.read().collect()}[
        "k001"
    ] == "new"
    # vacuum: only the current version's shards survive
    t.vacuum()
    live = set(manifest_log.shard_names(t._manifest()))
    on_disk = set(t._log.listing().shards)
    assert on_disk == live and live
    # and the table still reads
    assert t.read().count() == 60


# ---------------------------------------------------------------------------
# r9: bucket-ranged reusable shards — small-file hygiene at 10^6-file scale


def _shard_reads(fio_cls):
    """Patch context recording which manifest shard files get read."""
    import contextlib
    import unittest.mock as mock

    @contextlib.contextmanager
    def ctx():
        real = fio_cls.read_text
        reads = []

        def counting(self, path):
            if "-shard-" in path:
                reads.append(path.rsplit("/", 1)[-1])
            return real(self, path)

        with mock.patch.object(fio_cls, "read_text", counting):
            yield reads

    return ctx()


def test_sharded_manifest_shard_reuse_on_narrow_merge(
    spark, tmp_path, monkeypatch
):
    """A narrow upsert on a bucket-ranged sharded manifest reads ONLY
    the shards whose bucket range intersects the touched buckets and
    reuses every other shard by name — commit metadata IO is O(touched
    shards), not O(table)."""
    t = _sharded_target(
        spark, tmp_path, monkeypatch, num_buckets=8, max_records_per_file=4
    )
    t.merge(df_of(spark, [(f"k{i:03d}", 1, f"p{i}") for i in range(80)]))
    m1 = t._manifest()
    names1 = set(manifest_log.shard_names(m1))
    assert len(names1) >= 4, "need several shards for a reuse story"

    with _shard_reads(t._fio.__class__) as reads:
        t.merge(df_of(spark, [("k000", 2, "updated")]))
    m2 = t._manifest()
    names2 = set(manifest_log.shard_names(m2))
    # the touched bucket lives in few shards: most v1 shards are reused
    # by NAME (no rewrite), and only intersecting shards were read
    reused = names1 & names2
    assert len(reused) >= len(names1) - 2
    # the merge may only have read the shards it did NOT reuse (r9
    # review: the earlier or-chained form was near-vacuous)
    assert set(reads) <= names1 - reused
    assert len(set(reads)) < len(names1)
    # contents correct
    out = {r["arcane_merge_key"]: r["payload"] for r in t.read().collect()}
    assert out["k000"] == "updated" and len(out) == 80
    # a full read touches every live shard and returns everything
    assert t.read(at_version=m1["version"]).count() == 80


def test_sharded_adaptive_gate_fires_on_small_files_candidate_reads_only(
    spark, tmp_path, monkeypatch
):
    """The r8 honesty hole, closed: on a sharded manifest the adaptive
    gate sees the EXACT coalescable small-file count from the root
    alone (zero shard reads), and the minor pass it buys reads only
    the shards whose descriptor shows coalescable debris."""
    # one file per bucket at base (no file cap): a lone small file is
    # NOT coalescable, so the base table is clean — debris then lands
    # only where the MoR trickle appends it
    t = _sharded_target(
        spark, tmp_path, monkeypatch, num_buckets=8, max_records_per_file=None
    )
    t.merge(df_of(spark, [(f"k{i:03d}", 1, f"p{i}") for i in range(80)]))
    # MoR trickle upserts: same key → same bucket accumulates 1-row
    # appended files (every file at toy scale is under any threshold)
    for v in range(2, 6):
        t.merge(df_of(spark, [("k000", v, f"p{v}")]), mode="mor")
    m = t._manifest()
    assert isinstance(m["file_shards"][0], dict), "expected shard descriptors"

    with _shard_reads(t._fio.__class__) as reads:
        metrics = t.maintenance_metrics()
    assert reads == [], "metrics must answer from the root alone"
    # exact count: k000's bucket holds >= 2 coalescable small files
    assert metrics["coalescable_small_files"] >= 2
    # exactness cross-check vs the full file list
    files = t._files_of_manifest(t._manifest())
    per_bucket: dict = {}
    for f in files:
        per_bucket.setdefault(f["b"], []).append(f)
    k = manifest_log.size_class_at(manifest_log.SMALL_FILE_BYTES)
    expect = sum(
        len([f for f in fs if int(f["sz"]).bit_length() <= k])
        for fs in per_bucket.values()
        if len([f for f in fs if int(f["sz"]).bit_length() <= k]) >= 2
    )
    assert metrics["coalescable_small_files"] == expect

    before = sorted(map(tuple, t.read().collect()))
    shards_before = m["file_shards"]
    cand = {
        s["n"]
        for s in shards_before
        if manifest_log.step_at(s["coal"], k) > 0
    }
    assert cand and len(cand) < len(shards_before), (
        "debris must be localized for the probe to mean anything"
    )
    for name in ("_MAINT_DELETE_FILES", "_MAINT_DELETE_BYTES"):
        monkeypatch.setattr(merge_module, name, 1 << 62)  # never reached
    monkeypatch.setattr(merge_module, "_MAINT_SMALL_FILES", 2)
    with _shard_reads(t._fio.__class__) as reads:
        ran = t.run_adaptive_maintenance()
    assert ran["ran"] and not ran["escalated"]
    # the minor pass read ONLY candidate shards; the follow-up metrics
    # poll reads none, and a minor-only fire never vacuums (vacuum is
    # O(table) — it rides escalations and the counter-gated deep clean)
    assert set(reads) <= cand
    # pressure cleared, contents unchanged
    after = t.maintenance_metrics()
    assert after["coalescable_small_files"] < metrics["coalescable_small_files"]
    assert sorted(map(tuple, t.read().collect())) == before


def test_sharded_manifest_fragmentation_bound_reshards(
    spark, tmp_path, monkeypatch
):
    """Shard reuse cannot fragment the root without bound: once kept +
    new shards exceed ~2x the ideal count, the commit reshards the
    whole list (amortized O(1) per commit)."""
    t = _sharded_target(
        spark, tmp_path, monkeypatch, num_buckets=8, max_records_per_file=4
    )
    t.merge(df_of(spark, [(f"k{i:03d}", 1, f"p{i}") for i in range(80)]))
    for v in range(2, 30):  # many narrow commits across buckets
        t.merge(df_of(spark, [(f"k{v:03d}", v, f"x{v}")]))
        m = t._manifest()
        files = t._files_of_manifest(m)
        ideal = len(files) // manifest_log.SHARD_ENTRIES + 1
        assert len(m["file_shards"]) <= 2 * ideal + 1, (
            f"shard count must stay bounded, got {len(m['file_shards'])} "
            f"vs ideal {ideal} at v{m['version']}"
        )
    assert t.read().count() == 80

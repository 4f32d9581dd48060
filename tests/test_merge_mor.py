"""Merge-on-read mode for ParquetMergeTarget (r5 VERDICT top item).

MoR commits append winner rows + per-bucket key-delete files instead of
rewriting touched data files; reads anti-join only metadata-dirty files
against the live delete set; compact() folds deletes back into plain
data.  Semantics must be indistinguishable from copy-on-write (the
reference's MERGE contract, J1+ST3 — main.scala:47-49), which these
tests check by running identical batch sequences through both modes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from arcane_stream_parquet_spark.fsio import fs_join
from arcane_stream_parquet_spark.operators import manifest as manifest_log
from arcane_stream_parquet_spark.operators import merge as merge_module
from arcane_stream_parquet_spark.operators.merge import ParquetMergeTarget


def df_of(spark, rows):
    return spark.createDataFrame(
        [Row(arcane_merge_key=k, createdon=v, payload=p) for k, v, p in rows],
        "arcane_merge_key string, createdon bigint, payload string",
    )


def make_target(spark, path, **kw) -> ParquetMergeTarget:
    kw.setdefault("num_buckets", 8)
    return ParquetMergeTarget(spark=spark, path=str(path), **kw)


def _row_key(r):
    return ("" if r[0] is None else r[0], r[1], r[2])


def contents(t: ParquetMergeTarget):
    return sorted(
        (
            (r["arcane_merge_key"], r["createdon"], r["payload"])
            for r in t.read().collect()
        ),
        key=_row_key,
    )


BATCHES = [
    # initial load
    [("k1", 1, "a"), ("k2", 1, "b"), ("k3", 1, "c"), (None, 1, "n0")],
    # update k1, insert k4, equal-version tie on k2 (batch wins),
    # within-batch dup on k4 (higher version survives)
    [("k1", 2, "a2"), ("k4", 1, "d"), ("k4", 2, "d2"), ("k2", 1, "b2")],
    # late old version for k1 (discarded), null-key update (latest wins)
    [("k1", 1, "stale"), (None, 2, "n1")],
    # touch k3 and k4 again
    [("k3", 5, "c5"), ("k4", 3, "d3")],
]


def run_batches(t: ParquetMergeTarget, mode=None):
    for b in BATCHES:
        t.merge(df_of(t.spark, b), mode=mode)


EXPECTED = sorted(
    [
        ("k1", 2, "a2"),
        ("k2", 1, "b2"),
        ("k3", 5, "c5"),
        ("k4", 3, "d3"),
        (None, 2, "n1"),
    ],
    key=_row_key,
)


def test_mor_matches_cow_exactly(spark, tmp_path):
    cow = make_target(spark, tmp_path / "cow")
    mor = make_target(spark, tmp_path / "mor", merge_mode="mor")
    run_batches(cow)
    run_batches(mor)
    assert contents(cow) == contents(mor) == EXPECTED


def test_mor_appends_without_rewriting_untouched_files(spark, tmp_path):
    """The point of MoR: a narrow upsert leaves every pre-existing data
    file live as-is — only batch-sized delta + delete files appear."""
    t = make_target(spark, tmp_path / "t", merge_mode="mor")
    t.merge(df_of(spark, [(f"k{i}", 1, "x") for i in range(200)]))
    before = {
        (f["v"], f["b"], f["n"]) for f in t._files_of_manifest(t._manifest())
    }
    t.merge(df_of(spark, [("k7", 2, "y")]))
    manifest = t._manifest()
    after = {(f["v"], f["b"], f["n"]) for f in t._files_of_manifest(manifest)}
    assert before < after  # every old file still live
    new_files = after - before
    assert all(v == 2 for v, _, _ in new_files)
    deletes = manifest["deletes"]
    assert len(deletes) == 1 and deletes[0]["seq"] == 2
    assert contents(t).count(("k7", 2, "y")) == 1
    assert ("k7", 1, "x") not in contents(t)


def test_mor_pure_insert_writes_no_delete_file(spark, tmp_path):
    t = make_target(spark, tmp_path / "t", merge_mode="mor")
    t.merge(df_of(spark, [("k1", 1, "a")]))
    t.merge(df_of(spark, [("zz-new", 1, "b")]))
    assert t._manifest().get("deletes", []) == []
    assert len(contents(t)) == 2


def test_mor_wholly_stale_batch_is_discarded_without_commit(spark, tmp_path):
    t = make_target(spark, tmp_path / "t", merge_mode="mor")
    t.merge(df_of(spark, [("k1", 5, "a")]))
    v = t._manifest()["version"]
    t.merge(df_of(spark, [("k1", 1, "stale")]))
    assert t._manifest()["version"] == v
    assert contents(t) == [("k1", 5, "a")]


def test_mor_equal_version_tie_batch_wins(spark, tmp_path):
    """The >= tie: the suppressed row shares the replacement's version,
    so only the delete file (not version ordering) can disambiguate."""
    t = make_target(spark, tmp_path / "t", merge_mode="mor")
    t.merge(df_of(spark, [("k1", 3, "old")]))
    t.merge(df_of(spark, [("k1", 3, "new")]))
    assert contents(t) == [("k1", 3, "new")]


def test_cow_merge_after_mor_applies_pending_deletes(spark, tmp_path):
    """Mixed modes: a CoW merge reading a bucket with a same-version
    suppressed row must not resurrect it."""
    t = make_target(spark, tmp_path / "t")
    t.merge(df_of(spark, [("k1", 3, "old"), ("k2", 1, "b")]))
    t.merge(df_of(spark, [("k1", 3, "new")]), mode="mor")
    t.merge(df_of(spark, [("k2", 2, "b2")]), mode="cow")
    assert contents(t) == [("k1", 3, "new"), ("k2", 2, "b2")]


def test_mor_null_key_stays_single_row(spark, tmp_path):
    t = make_target(spark, tmp_path / "t", merge_mode="mor")
    t.merge(df_of(spark, [(None, 1, "n0"), ("k1", 1, "a")]))
    t.merge(df_of(spark, [(None, 2, "n1")]))
    rows = contents(t)
    assert rows == sorted([("k1", 1, "a"), (None, 2, "n1")], key=_row_key)


def test_compact_folds_deletes_and_preserves_contents(spark, tmp_path):
    t = make_target(spark, tmp_path / "t", merge_mode="mor")
    run_batches(t)
    assert t._manifest()["deletes"]
    before = contents(t)
    assert t.compact() >= 1
    assert t._manifest().get("deletes", []) == []
    assert contents(t) == before == EXPECTED
    s = t.stats()
    assert s["delete_file_count"] == 0 and s["delete_bytes"] == 0


def test_compact_minor_consolidates_deletes_and_preserves_contents(
    spark, tmp_path, monkeypatch
):
    """Minor compaction (r7 VERDICT item 4): all pending delete files
    fold into ONE (key, original-seq) file; table contents must be
    byte-identical — in particular the live replacement row of a
    deleted key (committed AFTER that key's delete seq) must survive,
    which is exactly what tagging keys with the consolidation version
    would break."""
    t = make_target(spark, tmp_path / "t", merge_mode="mor")
    run_batches(t)
    before = t._manifest()["deletes"]
    assert len(before) >= 2
    monkeypatch.setattr(manifest_log, "SMALL_FILE_BYTES", 0)
    out = t.compact_minor()  # deletes-only pass
    assert out["delete_files_merged"] == len(before)
    assert out["small_files_rewritten"] == 0
    after = t._manifest()["deletes"]
    assert len(after) == 1 and after[0].get("sc") is True
    assert contents(t) == EXPECTED
    # the entry's stats (the union of the spent entries') are exactly
    # those of the keys its file holds
    rows = (
        spark.read.parquet(t._delete_path(after[0]))
        .select("arcane_merge_key", merge_module._bucket_expr("arcane_merge_key", 8))
        .collect()
    )
    keys = [r[0] for r in rows if r[0] is not None]
    assert after[0]["bs"] == sorted({r[1] for r in rows})
    assert (after[0]["mn"], after[0]["mx"]) == (min(keys), max(keys))
    assert after[0]["hn"] is any(r[0] is None for r in rows)


def test_compact_minor_mixed_entries_then_full_compact(
    spark, tmp_path, monkeypatch
):
    """After minor compaction the live delete set mixes a consolidated
    (sc) entry with plain per-commit entries from later merges; reads,
    a second minor pass (max-seq-per-key subsumption across both entry
    kinds), and the full compact() must all stay exact."""
    t = make_target(spark, tmp_path / "t", merge_mode="mor")
    run_batches(t)
    monkeypatch.setattr(manifest_log, "SMALL_FILE_BYTES", 0)  # deletes only
    t.compact_minor()
    # k1 re-deleted: its consolidated seq (2) must be subsumed by the
    # new one; k5 is a pure insert
    t.merge(df_of(spark, [("k1", 9, "a9"), ("k5", 1, "e")]))
    expected = sorted(
        [
            ("k1", 9, "a9"),
            ("k2", 1, "b2"),
            ("k3", 5, "c5"),
            ("k4", 3, "d3"),
            ("k5", 1, "e"),
            (None, 2, "n1"),
        ],
        key=_row_key,
    )
    dels = t._manifest()["deletes"]
    assert any(d.get("sc") for d in dels) and any(not d.get("sc") for d in dels)
    assert contents(t) == expected
    t.compact_minor()  # consolidate the mix again
    assert len(t._manifest()["deletes"]) == 1
    assert contents(t) == expected
    assert t.compact() >= 1
    assert t._manifest().get("deletes", []) == []
    assert contents(t) == expected


def test_compact_minor_coalesces_small_files(spark, tmp_path, monkeypatch):
    """Small-file pass: fragmented buckets collapse to one file per
    bucket (large-file entries would be untouched), pending deletes are
    applied during the rewrite, and a vacuum afterwards reclaims the
    superseded fragments without breaking reads."""
    t = make_target(
        spark,
        tmp_path / "t",
        merge_mode="mor",
        num_buckets=2,
        max_records_per_file=2,
    )
    run_batches(t)
    monkeypatch.setattr(manifest_log, "SMALL_FILE_BYTES", 1 << 20)
    m_before = t.maintenance_metrics()
    assert m_before["small_file_count"] == m_before["file_count"]  # all tiny
    out = t.compact_minor()
    assert out["small_files_rewritten"] >= 2
    m_after = t.maintenance_metrics()
    assert m_after["file_count"] <= 2  # ≤ one per bucket
    assert m_after["file_count"] < m_before["file_count"]
    assert m_after["delete_file_count"] <= 1
    assert contents(t) == EXPECTED
    t.vacuum()
    assert contents(t) == EXPECTED


def test_mor_skewed_deletes_broadcast_and_shuffle_paths(
    spark, tmp_path, monkeypatch
):
    """r7 VERDICT item 5: pending deletes concentrated in ONE bucket.
    Under the byte threshold the delete build side is BROADCAST — the
    dirty scan never shuffles, so build-side concentration cannot
    create a straggler (pinned plan assertion).  With the threshold
    forced to 0 (the overdue-compaction fallback) the anti-join
    shuffles under AQE skew handling; contents must be identical on
    both paths."""
    from pyspark.sql import functions as F

    from arcane_stream_parquet_spark.operators.merge import _bucket_expr

    t = make_target(spark, tmp_path / "t", merge_mode="mor", num_buckets=8)
    rows = [(f"k{i}", 1, f"p{i}") for i in range(400)]
    t.merge(df_of(spark, rows))
    kdf = spark.createDataFrame(
        [(k,) for k, _, _ in rows], "arcane_merge_key string"
    )
    skew_keys = [
        r[0]
        for r in kdf.filter(
            _bucket_expr("arcane_merge_key", 8) == F.lit(3)
        ).collect()
    ]
    assert len(skew_keys) > 10
    for c in range(10):  # 10 commits, all deletes land in bucket 3
        t.merge(
            df_of(spark, [(k, 2 + c, f"v{c}") for k in skew_keys]),
            mode="mor",
        )
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    got = contents(t)
    assert len(got) == 400
    assert all(
        p == "v9" for k, _, p in got if k in set(skew_keys)
    )  # latest commit won everywhere in the hot bucket

    # overdue-compaction fallback: drop OUR hint; Catalyst still sees
    # tiny delete files and would re-broadcast from size stats, so pin
    # the genuinely shuffled shape by disabling auto-broadcast — this
    # is what the plan looks like when the pending set is really big
    monkeypatch.setattr(merge_module, "_BROADCAST_DELETE_BYTES", 0)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = t.read()
        plan2 = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan2 or "ShuffledHashJoin" in plan2
        assert "AdaptiveSparkPlan" in plan2  # AQE owns skew handling here
        assert contents(t) == got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_compact_minor_noop_below_thresholds(spark, tmp_path, monkeypatch):
    t = make_target(spark, tmp_path / "t")  # CoW: no deletes ever
    t.merge(df_of(spark, BATCHES[0]))
    v = t._manifest()["version"]
    monkeypatch.setattr(manifest_log, "SMALL_FILE_BYTES", 1)
    out = t.compact_minor()  # nothing qualifies
    assert out == {"delete_files_merged": 0, "small_files_rewritten": 0}
    assert t._manifest()["version"] == v  # no commit, no version bump


def test_compact_minor_crash_before_manifest_flip_loses_nothing(
    spark, tmp_path, monkeypatch
):
    """compact_minor shares the create-only commit contract: a crash
    after writing the consolidated delete file / coalesced data files
    but BEFORE the manifest flip must leave the table exactly as
    before, and a bare retry must converge (orphan dirs recycled)."""
    import pytest

    t = make_target(
        spark, tmp_path / "t", merge_mode="mor",
        num_buckets=2, max_records_per_file=2,
    )
    run_batches(t)
    before = contents(t)
    dels_before = t._manifest()["deletes"]

    boom = RuntimeError("simulated crash at commit point")
    monkeypatch.setattr(manifest_log, "SMALL_FILE_BYTES", 1 << 20)
    monkeypatch.setattr(
        manifest_log.MetaLog,
        "commit",
        lambda *a: (_ for _ in ()).throw(boom),
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        t.compact_minor()
    monkeypatch.undo()

    assert contents(t) == before == EXPECTED
    assert t._manifest()["deletes"] == dels_before  # old deletes live
    monkeypatch.setattr(manifest_log, "SMALL_FILE_BYTES", 1 << 20)
    out = t.compact_minor()  # bare retry
    assert out["delete_files_merged"] == len(dels_before)
    assert contents(t) == EXPECTED
    t.vacuum()
    assert contents(t) == EXPECTED


def test_compact_minor_after_column_drift(spark, tmp_path, monkeypatch):
    """Minor compaction over a table whose older files miss columns
    added later (MoR column drift): the rewrite reads with the
    manifest's unified schema (null-filling), so coalesced files carry
    the full schema and contents stay identical."""
    t = make_target(
        spark, tmp_path / "t", merge_mode="mor",
        num_buckets=2, max_records_per_file=2,
    )
    run_batches(t)
    drifted = spark.createDataFrame(
        [("k9", 1, "z", 42)],
        "arcane_merge_key string, createdon bigint, payload string, extra bigint",
    )
    t.merge(drifted)
    before = sorted(
        map(tuple, t.read().collect()), key=lambda r: ("" if r[0] is None else r[0])
    )
    monkeypatch.setattr(manifest_log, "SMALL_FILE_BYTES", 1 << 20)
    t.compact_minor()
    after = sorted(
        map(tuple, t.read().collect()), key=lambda r: ("" if r[0] is None else r[0])
    )
    assert after == before
    assert "extra" in t.read().columns


def test_maintenance_metrics_match_manifest(spark, tmp_path, monkeypatch):
    t = make_target(spark, tmp_path / "t", merge_mode="mor")
    run_batches(t)
    manifest = t._manifest()
    monkeypatch.setattr(manifest_log, "SMALL_FILE_BYTES", 1 << 20)
    m = t.maintenance_metrics()
    assert m["version"] == manifest["version"]
    assert m["file_count"] == len(manifest["files"])
    assert m["delete_file_count"] == len(manifest["deletes"])
    assert m["delete_bytes"] == sum(d["sz"] for d in manifest["deletes"])
    assert m["small_file_count"] == m["file_count"]


def test_adaptive_maintenance_escalates_and_converges(
    spark, tmp_path, monkeypatch
):
    """The r8 review's stuck-gate scenario #1: pressure minor
    compaction cannot relieve (a delete-bytes bound even one
    consolidated file exceeds) must escalate ONCE to the full compact —
    which clears all pending deletes — and then stop firing."""
    t = make_target(spark, tmp_path / "t", merge_mode="mor")
    run_batches(t)
    assert len(t._manifest()["deletes"]) >= 2
    monkeypatch.setattr(manifest_log, "SMALL_FILE_BYTES", 0)
    for name in ("_MAINT_DELETE_FILES", "_MAINT_SMALL_FILES"):
        monkeypatch.setattr(merge_module, name, 1 << 62)  # never reached
    # unsatisfiable by consolidation alone
    monkeypatch.setattr(merge_module, "_MAINT_DELETE_BYTES", 1)
    r = t.run_adaptive_maintenance()
    assert r == {"ran": True, "escalated": True}
    m = t.maintenance_metrics()
    assert m["delete_file_count"] == 0 and m["delete_bytes"] == 0
    assert contents(t) == EXPECTED
    r2 = t.run_adaptive_maintenance()
    assert r2 == {"ran": False, "escalated": False}  # converged


def test_adaptive_maintenance_ignores_uncoalescable_smalls(
    spark, tmp_path, monkeypatch
):
    """Stuck-gate scenario #2: one small file per bucket is just a
    small table — no compaction can merge anything, so the small-file
    trigger (which gates on the COALESCABLE count) must not fire."""
    t = make_target(spark, tmp_path / "t", num_buckets=8)
    t.merge(df_of(spark, [(f"k{i}", 1, "p") for i in range(64)]))
    monkeypatch.setattr(manifest_log, "SMALL_FILE_BYTES", 1 << 20)
    m = t.maintenance_metrics()
    assert m["small_file_count"] >= 1
    assert m["coalescable_small_files"] == 0
    for name in ("_MAINT_DELETE_FILES", "_MAINT_DELETE_BYTES"):
        monkeypatch.setattr(merge_module, name, 1 << 62)  # never reached
    monkeypatch.setattr(merge_module, "_MAINT_SMALL_FILES", 1)
    r = t.run_adaptive_maintenance()
    assert r == {"ran": False, "escalated": False}


def test_maintenance_metrics_from_sharded_manifest_summary(
    spark, tmp_path, monkeypatch
):
    """A sharded manifest answers maintenance polling from the root's
    n_files + power-of-two size histogram — per-batch metrics must not
    depend on reading the shard files (10^6-entry tables poll after
    every micro-batch).  Counts must agree with the real entry list."""
    t = make_target(
        spark,
        tmp_path / "t",
        merge_mode="mor",
        num_buckets=4,
        max_records_per_file=1,
    )
    monkeypatch.setattr(manifest_log, "SHARD_ENTRIES", 4)  # toy-scale shards
    monkeypatch.setattr(manifest_log, "SMALL_FILE_BYTES", 1 << 20)
    run_batches(t)
    manifest = t._manifest()
    assert manifest.get("file_shards"), "expected a sharded manifest"
    assert "files" not in manifest
    assert manifest["n_files"] == len(t._files_of_manifest(manifest))
    assert sum(manifest["size_hist"].values()) == manifest["n_files"]
    m = t.maintenance_metrics()
    assert m["file_count"] == manifest["n_files"]
    # every toy file is tiny: all of them sit in buckets under 1 MB
    assert m["small_file_count"] == m["file_count"]
    assert m["delete_file_count"] == len(manifest["deletes"])
    # metrics stay correct after a minor pass rewrites the layout
    t.compact_minor()
    m2 = t.maintenance_metrics()
    assert m2["file_count"] < m["file_count"]
    assert m2["delete_file_count"] <= 1
    assert contents(t) == EXPECTED


def test_vacuum_reclaims_spent_delete_dirs(spark, tmp_path):
    t = make_target(spark, tmp_path / "t", merge_mode="mor")
    run_batches(t)
    t.compact()
    removed = t.vacuum()
    assert any(r.startswith("deletes/") for r in removed)
    assert t._fio.list_names(fs_join(t.path, "deletes")) == []
    assert contents(t) == EXPECTED


def test_mor_crash_before_manifest_flip_loses_nothing(
    spark, tmp_path, monkeypatch
):
    """Same commit point as CoW: delta + delete writes before the
    manifest create are orphans on crash; the old table stays intact
    and a retry succeeds."""
    t = make_target(spark, tmp_path / "t", merge_mode="mor")
    t.merge(df_of(spark, [("k1", 1, "a"), ("k2", 1, "b")]))

    boom = RuntimeError("crash before commit")

    def crash(*args):
        raise boom

    monkeypatch.setattr(manifest_log.MetaLog, "commit", crash)
    with pytest.raises(RuntimeError):
        t.merge(df_of(spark, [("k1", 2, "a2")]))
    monkeypatch.undo()
    assert contents(t) == [("k1", 1, "a"), ("k2", 1, "b")]
    # vacuum clears the orphan delta/delete dirs; retry commits cleanly
    t.vacuum()
    t.merge(df_of(spark, [("k1", 2, "a2")]))
    assert contents(t) == [("k1", 2, "a2"), ("k2", 1, "b")]


def test_mor_column_drift_appends_and_null_fills(spark, tmp_path):
    t = make_target(spark, tmp_path / "t", merge_mode="mor")
    t.merge(df_of(spark, [("k1", 1, "a"), ("k2", 1, "b")]))
    drift = spark.createDataFrame(
        [Row(arcane_merge_key="k2", createdon=2, payload="b2", extra="E")]
    )
    t.merge(drift)
    rows = {r["arcane_merge_key"]: r for r in t.read().collect()}
    assert rows["k2"]["extra"] == "E"
    assert rows["k1"]["extra"] is None  # old file null-fills at read


def test_mor_type_widening_falls_back_to_cow(spark, tmp_path):
    """int→long drift can't be absorbed append-only (old files would
    need a type rewrite); merge(mode='mor') silently takes the CoW
    path and the result is the widened, correct table."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    t = make_target(spark, tmp_path / "t", merge_mode="mor")
    base = df_of(spark, [("k1", 1, "a")]).withColumn(
        "num", F.lit(7).cast("int")
    )
    t.merge(base)
    wide = df_of(spark, [("k1", 2, "a2")]).withColumn(
        "num", F.lit(2**40).cast("long")
    )
    t.merge(wide)
    assert t._manifest().get("deletes", []) == []  # CoW path was taken
    out = t.read().collect()
    assert len(out) == 1 and out[0]["num"] == 2**40
    assert isinstance(t.read().schema["num"].dataType, LongType)


def test_mor_time_travel_reads_snapshot_with_its_deletes(spark, tmp_path):
    t = make_target(spark, tmp_path / "t", merge_mode="mor")
    t.merge(df_of(spark, [("k1", 1, "a"), ("k2", 1, "b")]))
    t.merge(df_of(spark, [("k1", 2, "a2")]))
    t.merge(df_of(spark, [("k2", 3, "b3")]))
    snap = sorted(
        (r["arcane_merge_key"], r["createdon"], r["payload"])
        for r in t.read(at_version=2).collect()
    )
    assert snap == [("k1", 2, "a2"), ("k2", 1, "b")]


def test_invalid_mode_raises(spark, tmp_path):
    t = make_target(spark, tmp_path / "t")
    with pytest.raises(ValueError, match="merge mode"):
        t.merge(df_of(spark, [("k1", 1, "a")]), mode="upsert")


# -- randomized CoW/MoR parity (hypothesis) -------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_key = st.sampled_from(["k1", "k2", "k3", None])
_row = st.tuples(_key, st.integers(0, 5), st.sampled_from(["p", "q", "r"]))
_batches = st.lists(
    st.lists(_row, min_size=1, max_size=4), min_size=1, max_size=4
)


@given(batches=_batches, compact_after=st.integers(-1, 2))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_mor_equals_cow_for_random_batch_sequences(
    spark, tmp_path_factory, batches, compact_after
):
    """Property: ANY batch sequence produces identical table contents
    through copy-on-write and merge-on-read — including duplicate keys
    within a batch, null keys, version ties and regressions, and an
    optional mid-sequence compact() on the MoR side only."""
    base = tmp_path_factory.mktemp("morprop")
    cow = make_target(spark, base / "cow")
    mor = make_target(spark, base / "mor", merge_mode="mor")
    for i, b in enumerate(batches):
        df = df_of(spark, b)
        cow.merge(df)
        mor.merge(df)
        if i == compact_after:
            mor.compact()
    assert contents(cow) == contents(mor)


def test_mor_with_sorted_by_and_tiebreakers(spark, tmp_path):
    """User sort order widens file key ranges (pruning degrades, never
    breaks) and tiebreakers drive intra-batch dedup — both must
    compose with MoR exactly as with CoW."""
    kw = dict(sorted_by=("payload",), tiebreakers=("payload",))
    cow = make_target(spark, tmp_path / "cow", **kw)
    mor = make_target(spark, tmp_path / "mor", merge_mode="mor", **kw)
    batches = [
        [("k1", 1, "b"), ("k1", 1, "a"), ("k2", 1, "x")],  # tie in batch
        [("k2", 2, "y"), ("k3", 1, "z")],
        [("k1", 1, "c")],  # equal-version vs target: batch wins
    ]
    for b in batches:
        cow.merge(df_of(spark, b))
        mor.merge(df_of(spark, b))
    assert contents(cow) == contents(mor)
    # the intra-batch (k1,1) tie resolves deterministically by the
    # tiebreaker in BOTH modes (max payload wins under the shared
    # latest_row_agg ordering), then the later equal-version batch
    # row replaces it
    assert [r for r in contents(mor) if r[0] == "k1"] == [("k1", 1, "c")]

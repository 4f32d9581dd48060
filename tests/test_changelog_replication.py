"""Row-level DELETE (``delete_keys``) and changelog-driven incremental
replication (``streaming/changelog.py``).

``delete_keys`` completes the merge-on-read surface with the Iceberg
v2 equality-delete DELETE the reference's engine-side MERGE stack
offers (docs/crd.md:145-182): one delete file + one manifest flip, no
data rewrite.  The replication module then closes the CDC chain —
source target → changelog → downstream target — with exactly-once
effects from at-least-once delivery (idempotent apply under replay).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from arcane_stream_parquet_spark.operators.merge import (
    CHANGE_TYPE_COLUMN,
    COMMIT_VERSION_COLUMN,
    ParquetMergeTarget,
)
from arcane_stream_parquet_spark.streaming.changelog import (
    ChangelogConsumer,
    VersionCursor,
    net_changes,
    replicate_full,
    replicate_incremental,
)


def df_of(spark, rows):
    return spark.createDataFrame(
        [Row(arcane_merge_key=k, createdon=v, payload=p) for k, v, p in rows]
    )


def make_target(spark, path, **kw) -> ParquetMergeTarget:
    kw.setdefault("num_buckets", 8)
    return ParquetMergeTarget(spark=spark, path=str(path), **kw)


def contents(t):
    return sorted(
        (r["arcane_merge_key"], r["createdon"], r["payload"])
        for r in t.read().collect()
    )


# -- delete_keys -----------------------------------------------------------


def test_delete_keys_sequence_and_dataframe(spark, tmp_path):
    t = make_target(spark, tmp_path / "t")
    t.merge(df_of(spark, [(f"k{i}", 1, f"p{i}") for i in range(10)]))
    # sequence form; absent key is not counted and not committed
    assert t.delete_keys(["k1", "k3", "nope"]) == 2
    assert t._manifest()["version"] == 2
    # single-column DataFrame form with a different column name
    kdf = spark.createDataFrame([("k5",), ("k7",)], "anything string")
    assert t.delete_keys(kdf) == 2
    assert contents(t) == sorted(
        (f"k{i}", 1, f"p{i}") for i in range(10) if i not in (1, 3, 5, 7)
    )


def test_delete_keys_idempotent_no_commit(spark, tmp_path):
    t = make_target(spark, tmp_path / "t")
    t.merge(df_of(spark, [(f"k{i}", 1, f"p{i}") for i in range(6)]))
    assert t.delete_keys(["k2"]) == 1
    v = t._manifest()["version"]
    # re-deleting a dead key, an absent key, or an empty set: NO commit
    assert t.delete_keys(["k2"]) == 0
    assert t.delete_keys(["ghost"]) == 0
    assert t.delete_keys([]) == 0
    assert t._manifest()["version"] == v


def test_delete_keys_null_key(spark, tmp_path):
    t = make_target(spark, tmp_path / "t")
    t.merge(df_of(spark, [(None, 1, "null-row"), ("k1", 1, "p1")]))
    assert t.delete_keys([None]) == 1
    assert contents(t) == [("k1", 1, "p1")]
    assert t.delete_keys([None]) == 0


def test_delete_keys_cdc_emits_preimage_deletes(spark, tmp_path):
    t = make_target(spark, tmp_path / "t")
    t.merge(df_of(spark, [(f"k{i}", 1, f"p{i}") for i in range(5)]))
    t.delete_keys(["k0", "k4"])
    ch = t.read_changes(1).collect()
    assert sorted(
        (r["arcane_merge_key"], r["payload"], r[CHANGE_TYPE_COLUMN]) for r in ch
    ) == [("k0", "p0", "delete"), ("k4", "p4", "delete")]
    assert all(r[COMMIT_VERSION_COLUMN] == 2 for r in ch)
    # changelog schema mirrors read(): no internal bucket column
    assert "__bucket" not in t.read_changes(0).columns


def test_delete_keys_time_travel_and_reinsert(spark, tmp_path):
    t = make_target(spark, tmp_path / "t")
    t.merge(df_of(spark, [("a", 5, "old")]))
    assert t.delete_keys(["a"]) == 1
    assert t.read().count() == 0
    assert t.read(at_version=1).count() == 1  # snapshot untouched
    # re-insert with a LOWER version: the delete's seq guard only
    # covers files committed before it, so the new row is live
    t.merge(df_of(spark, [("a", 1, "reborn")]), mode="mor")
    assert contents(t) == [("a", 1, "reborn")]


def test_delete_keys_survives_compaction(spark, tmp_path):
    t = make_target(spark, tmp_path / "t", max_records_per_file=2)
    t.merge(df_of(spark, [(f"k{i}", 1, f"p{i}") for i in range(12)]))
    t.delete_keys([f"k{i}" for i in range(0, 12, 2)])
    t.compact_minor(small_file_bytes=1 << 30)
    t.compact()
    assert contents(t) == sorted(
        (f"k{i}", 1, f"p{i}") for i in range(1, 12, 2)
    )


# -- cursor + consumer -----------------------------------------------------


def test_version_cursor_monotone(spark, tmp_path):
    c = VersionCursor(spark, str(tmp_path / "cur"))
    assert c.value() == 0
    c.advance(3)
    assert c.value() == 3
    c.advance(2)  # replay never moves the cursor back
    assert c.value() == 3
    c.advance(7)
    assert c.value() == 7
    # exactly one cursor file remains (stale ones pruned)
    assert len(c._versions()) == 1


def test_consumer_poll_process_backpressure(spark, tmp_path):
    src = make_target(spark, tmp_path / "src")
    cons = ChangelogConsumer(
        src, str(tmp_path / "cur"), max_versions_per_poll=1
    )
    assert cons.poll() is None  # table doesn't exist yet
    src.merge(df_of(spark, [("a", 1, "p1")]))
    src.merge(df_of(spark, [("b", 2, "p2")]), mode="mor")
    src.merge(df_of(spark, [("c", 3, "p3")]), mode="mor")
    # capped polling: three ticks of one commit each
    seen = []
    for _ in range(3):
        assert cons.process(
            lambda df: seen.append(
                sorted(r["arcane_merge_key"] for r in df.collect())
            )
        )
    assert seen == [["a"], ["b"], ["c"]]
    assert cons.cursor() == 3
    assert not cons.process(lambda df: seen.append("extra"))  # no news


def test_net_changes_folds_to_final_state(spark, tmp_path):
    src = make_target(spark, tmp_path / "src")
    src.merge(df_of(spark, [("a", 1, "v1"), ("b", 1, "v1")]))
    src.merge(df_of(spark, [("a", 2, "v2")]), mode="mor")
    src.delete_keys(["b"])
    src.merge(df_of(spark, [("a", 3, "v3")]), mode="mor")
    net = net_changes(src.read_changes(0), "arcane_merge_key").collect()
    got = {
        r["arcane_merge_key"]: (r["payload"], r[CHANGE_TYPE_COLUMN])
        for r in net
    }
    assert got == {
        "a": ("v3", "update_postimage"),
        "b": ("v1", "delete"),
    }


# -- incremental replication ----------------------------------------------


def assert_mirrors(src, dst):
    assert contents(dst) == contents(src)


def test_replicate_incremental_converges_every_tick(spark, tmp_path):
    src = make_target(spark, tmp_path / "src")
    dst = make_target(spark, tmp_path / "dst", num_buckets=4)
    cur = str(tmp_path / "cur")
    src.merge(df_of(spark, [(f"k{i}", 1, f"p{i}") for i in range(8)]))
    assert replicate_incremental(src, dst, cur) == 8
    assert_mirrors(src, dst)
    # mixed tick: MoR update + insert + delete
    src.merge(df_of(spark, [("k1", 2, "u1"), ("new", 2, "n")]), mode="mor")
    src.delete_keys(["k2", "k3"])
    assert replicate_incremental(src, dst, cur) == 4
    assert_mirrors(src, dst)
    # no-news tick
    assert replicate_incremental(src, dst, cur) == 0


def test_replicate_handles_version_regression(spark, tmp_path):
    """The >=-trap: a bare latest-wins apply would keep the replica's
    stale higher-version row when the source's live version went DOWN
    (delete + lower-version re-insert, or overwrite to older rows).
    The delete-first protocol must mirror the source exactly."""
    src = make_target(spark, tmp_path / "src")
    dst = make_target(spark, tmp_path / "dst")
    cur = str(tmp_path / "cur")
    src.merge(df_of(spark, [("a", 5, "high"), ("b", 5, "keep")]))
    replicate_incremental(src, dst, cur)
    # delete + re-insert with LOWER version, consumed in ONE slice
    src.delete_keys(["a"])
    src.merge(df_of(spark, [("a", 1, "low")]), mode="mor")
    replicate_incremental(src, dst, cur)
    assert_mirrors(src, dst)
    assert contents(dst) == [("a", 1, "low"), ("b", 5, "keep")]
    # overwrite to an older snapshot's rows
    src.overwrite(df_of(spark, [("a", 0, "older"), ("c", 0, "c")]))
    replicate_incremental(src, dst, cur)
    assert_mirrors(src, dst)


def test_replicate_replay_is_idempotent(spark, tmp_path):
    """Crash before the cursor advance ⇒ the whole slice replays; the
    apply must converge to the same mirror state."""
    src = make_target(spark, tmp_path / "src")
    dst = make_target(spark, tmp_path / "dst")
    cur = str(tmp_path / "cur")
    src.merge(df_of(spark, [(f"k{i}", 1, f"p{i}") for i in range(6)]))
    replicate_incremental(src, dst, cur)
    src.merge(df_of(spark, [("k0", 2, "u0")]), mode="mor")
    src.delete_keys(["k5"])
    replicate_incremental(src, dst, cur)
    assert_mirrors(src, dst)
    # rewind the cursor to simulate a crash after apply, before advance
    c = VersionCursor(spark, cur)
    for v in c._versions():
        c._fio.delete(c._file(v))
    c.advance(1)
    n = replicate_incremental(src, dst, cur)
    assert n > 0  # the slice really was re-applied
    assert_mirrors(src, dst)
    assert VersionCursor(spark, cur).value() == src._manifest()["version"]


def test_replicate_transform_materialized_view(spark, tmp_path):
    """transform builds an incremental materialized view: the replica
    holds a projection of the post-images, deletions still apply."""
    src = make_target(spark, tmp_path / "src")
    dst = make_target(spark, tmp_path / "dst")
    cur = str(tmp_path / "cur")

    def upper_view(df):
        return df.withColumn("payload", F.upper("payload"))

    src.merge(df_of(spark, [("a", 1, "x"), ("b", 1, "y")]))
    replicate_incremental(src, dst, cur, transform=upper_view)
    assert contents(dst) == [("a", 1, "X"), ("b", 1, "Y")]
    src.delete_keys(["a"])
    src.merge(df_of(spark, [("b", 2, "z")]), mode="mor")
    replicate_incremental(src, dst, cur, transform=upper_view)
    assert contents(dst) == [("b", 2, "Z")]


def test_replicate_full_resync_after_vacuum_horizon(spark, tmp_path):
    src = make_target(spark, tmp_path / "src")
    dst = make_target(spark, tmp_path / "dst")
    cur = str(tmp_path / "cur")
    src.merge(df_of(spark, [("a", 1, "p")]))
    replicate_incremental(src, dst, cur)
    # history advances and is vacuumed away behind the consumer
    src.merge(df_of(spark, [("a", 2, "p2")]), mode="mor")
    src.compact()
    src.vacuum()
    with pytest.raises(ValueError, match="vacuum"):
        replicate_incremental(src, dst, cur)
    assert replicate_full(src, dst, cur) == 1
    assert_mirrors(src, dst)
    # and the cursor is fast-forwarded: incremental resumes cleanly
    src.merge(df_of(spark, [("b", 3, "p3")]), mode="mor")
    assert replicate_incremental(src, dst, cur) == 1
    assert_mirrors(src, dst)


def test_replicate_chained_two_hops(spark, tmp_path):
    """target A → replica B → replica C: the delete-first apply's
    delete+insert commit pairs in B must still fold to a convergent
    net change for C's consumer."""
    a = make_target(spark, tmp_path / "a")
    b = make_target(spark, tmp_path / "b")
    c = make_target(spark, tmp_path / "c")
    cur_ab, cur_bc = str(tmp_path / "cur_ab"), str(tmp_path / "cur_bc")
    a.merge(df_of(spark, [(f"k{i}", 1, f"p{i}") for i in range(5)]))
    replicate_incremental(a, b, cur_ab)
    replicate_incremental(b, c, cur_bc)
    assert_mirrors(a, c)
    a.merge(df_of(spark, [("k0", 2, "u")]), mode="mor")
    a.delete_keys(["k4"])
    replicate_incremental(a, b, cur_ab)
    replicate_incremental(b, c, cur_bc)
    assert_mirrors(a, b)
    assert_mirrors(a, c)


def test_delete_where_predicate(spark, tmp_path):
    t = make_target(spark, tmp_path / "t")
    t.merge(df_of(spark, [(f"k{i}", i, f"p{i}") for i in range(10)]))
    # SQL-string predicate over non-key columns
    assert t.delete_where("createdon >= 7") == 3
    assert t.delete_where("payload = 'p0'") == 1
    # Column predicate; nothing matches → no commit
    v = t._manifest()["version"]
    assert t.delete_where(F.col("createdon") > 100) == 0
    assert t._manifest()["version"] == v
    assert contents(t) == sorted(
        (f"k{i}", i, f"p{i}") for i in range(1, 7)
    )


def test_delete_where_tuple_predicates_prune(spark, tmp_path):
    """r12: (col, op, value) tuples route the qualifying scan through
    read_where — manifest stats prune provably-unaffected files before
    Spark plans the delete's scan, and results match the Column path."""
    from arcane_stream_parquet_spark.operators.merge import (
        ParquetMergeTarget,
    )

    t = ParquetMergeTarget(
        spark=spark,
        path=str(tmp_path / "tp"),
        num_buckets=1,
        stats_cols=("createdon",),
        sorted_by=("createdon",),
        max_records_per_file=10,
    )
    t.merge(df_of(spark, [(f"k{i:03d}", i, f"p{i}") for i in range(60)]))
    # the pruned qualifying scan plans fewer files than the table holds
    from arcane_stream_parquet_spark.operators.merge import (
        _file_may_match,
    )

    m = t._manifest()
    files = t._files_of_manifest(m)
    parsed, _ = t._parse_predicates(
        t._schema_of(m), (("createdon", ">=", 50),)
    )
    may = [
        f
        for f in files
        if all(_file_may_match(f, c, o, nv) for c, o, _, nv in parsed)
    ]
    assert len(may) < len(files)
    assert t.delete_where(("createdon", ">=", 50)) == 10
    # AND-ed tuples and the like_prefix op compose
    assert t.delete_where(
        ("createdon", ">=", 40), ("payload", "like_prefix", "p4")
    ) == 10
    assert contents(t) == sorted(
        (f"k{i:03d}", i, f"p{i}") for i in range(40)
    )
    # mixing tuple mode with extra preds on a Column arg is rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.delete_where(F.col("createdon") > 0, ("createdon", "<", 5))
    # a typo'd op inside a tuple surfaces the predicate-validation
    # error (op list), never pyspark's opaque condition TypeError
    with _pytest.raises(ValueError, match="not in"):
        t.delete_where(("createdon", ">==", 5))
    # a LIST of AND-ed tuples is accepted directly
    assert t.delete_where(
        [("createdon", ">=", 38), ("createdon", "<", 40)]
    ) == 2
    assert contents(t) == sorted(
        (f"k{i:03d}", i, f"p{i}") for i in range(38)
    )


def test_consumer_lag_gauge(spark, tmp_path):
    src = make_target(spark, tmp_path / "src")
    cons = ChangelogConsumer(src, str(tmp_path / "cur"))
    assert cons.lag() == 0  # no table yet
    src.merge(df_of(spark, [("a", 1, "p")]))
    src.merge(df_of(spark, [("b", 2, "p")]), mode="mor")
    assert cons.lag() == 2
    assert cons.process(lambda df: None)
    assert cons.lag() == 0


def test_replicate_through_schema_drift(spark, tmp_path):
    """Column-add drift at the source flows through the changelog
    (history rows null-fill the new column, the read_changes rule)
    and the replica's own drift handling absorbs it."""
    src = make_target(spark, tmp_path / "src")
    dst = make_target(spark, tmp_path / "dst")
    cur = str(tmp_path / "cur")
    src.merge(df_of(spark, [("a", 1, "p1"), ("b", 1, "p2")]))
    replicate_incremental(src, dst, cur)
    drifted = spark.createDataFrame(
        [("c", 2, "p3", "extra")],
        "arcane_merge_key string, createdon bigint, payload string, "
        "note string",
    )
    src.merge(drifted, mode="mor")
    replicate_incremental(src, dst, cur)
    assert sorted(map(tuple, dst.read().collect())) == sorted(
        map(tuple, src.read().collect())
    )
    assert "note" in dst.read().columns


def test_lookup_keys_bulk_pruned(spark, tmp_path):
    t = make_target(spark, tmp_path / "t")
    t.merge(df_of(spark, [(f"k{i}", 1, f"p{i}") for i in range(20)]))
    t.delete_keys(["k3"])
    keys = spark.createDataFrame(
        [("k1",), ("k3",), (None,), ("ghost",)], "k string"
    )
    got = sorted(
        (r["arcane_merge_key"], r["payload"])
        for r in t.lookup_keys(keys).collect()
    )
    assert got == [("k1", "p1")]  # k3 deleted, null/ghost absent
    # matches the read().semi-join contract exactly
    full = t.read()
    ref = sorted(
        (r["arcane_merge_key"], r["payload"])
        for r in full.join(
            keys, full["arcane_merge_key"].eqNullSafe(keys["k"]), "leftsemi"
        ).collect()
    )
    assert got == ref

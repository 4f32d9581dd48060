"""Every CoW, initial and overwrite commit writes through ONE fused
latest-wins path (``_write_version_latest``), whatever the target's
inner file order.  A plain (key-sorted) target and a
``sorted_by=("payload",)`` target must both match
:func:`merge_latest_wins` applied batch by batch across every merge
shape: initial commit, CoW upsert with >=-ties, within-batch
duplicates, null keys, hot keys and overwrite."""

from __future__ import annotations

import re

import pyarrow.parquet as pq

from arcane_stream_parquet_spark.operators.merge import (
    ParquetMergeTarget,
    merge_latest_wins,
)

SCHEMA = "arcane_merge_key string, createdon long, payload string"


def _sorted_rows(df):
    rows = [tuple(r) for r in df.collect()]
    return sorted(rows, key=lambda tp: tuple((v is None, v) for v in tp))


def _targets(spark, tmp_path, **kw):
    """A plain target and a ``sorted_by`` target over the same args."""
    return [
        ParquetMergeTarget(
            spark=spark,
            path=str(tmp_path / name),
            num_buckets=8,
            **extra,
            **kw,
        )
        for name, extra in (
            ("plain", {}),
            ("sorted", {"sorted_by": ("payload",)}),
        )
    ]


def df_of(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _reference(spark, batches, tiebreakers=()):
    """``merge_latest_wins`` folded over the batches on a DataFrame."""
    ref = df_of(spark, [])
    for b in batches:
        merged = merge_latest_wins(ref, df_of(spark, b), tiebreakers=tiebreakers)
        ref = spark.createDataFrame(merged.collect(), SCHEMA)
    return _sorted_rows(ref)


def test_strategies_identical_through_scripted_history(spark, tmp_path):
    batches = [
        # initial: within-batch dups (v ties broken by tiebreaker)
        [("k1", 1, "a"), ("k1", 2, "b"), ("k2", 1, "c"), (None, 1, "n1")],
        # upsert: >=-tie (batch must win), stale row, new key, null-key
        [("k1", 2, "b2"), ("k2", 0, "stale"), ("k3", 5, "d"), (None, 1, "n2")],
        # wide batch across buckets
        [(f"w{i}", i % 3, f"p{i}") for i in range(50)],
    ]
    want = _reference(spark, batches, tiebreakers=("payload",))
    plain, srt = _targets(spark, tmp_path, tiebreakers=("payload",))
    for t in (plain, srt):
        for b in batches:
            t.merge(df_of(spark, b))
        assert _sorted_rows(t.read()) == want
    assert [f.jsonValue() for f in plain.read().schema.fields] == [
        f.jsonValue() for f in srt.read().schema.fields
    ]


def test_strategies_identical_on_hot_key_batch(spark, tmp_path):
    hot = [("hot", v, f"p{v}") for v in range(2000)] + [
        (f"cold{i}", 1, "c") for i in range(20)
    ]
    late = [("hot", 1500, "late-stale"), ("cold3", 9, "up")]
    want = _reference(spark, [hot, late])
    for t in _targets(spark, tmp_path):
        t.merge(df_of(spark, hot))
        t.merge(df_of(spark, late))
        assert _sorted_rows(t.read()) == want
        got = {r["arcane_merge_key"]: r["payload"] for r in t.read().collect()}
        assert got["hot"] == "p1999" and got["cold3"] == "up"


def test_strategies_identical_on_overwrite(spark, tmp_path):
    snapshot = [("k9", 3, "z"), ("k9", 4, "z2"), ("k8", 1, "y")]
    want = _reference(spark, [snapshot])
    for t in _targets(spark, tmp_path):
        t.merge(df_of(spark, [("k1", 1, "a"), ("k2", 1, "b")]))
        t.overwrite(df_of(spark, snapshot))
        assert _sorted_rows(t.read()) == want


def test_sort_strategy_files_stay_key_sorted(spark, tmp_path):
    """The fused write must preserve the key-sorted inner file order
    the manifest min/max pruning relies on; a ``sorted_by`` target's
    files still record their exact key range."""
    rows = [(f"k{i:03d}", 1, f"p{(i * 7) % 200:03d}") for i in range(200)]
    model = {k: p for k, _, p in rows}
    plain, srt = _targets(spark, tmp_path)
    for t in (plain, srt):
        t.merge(df_of(spark, rows))
        got = {r["arcane_merge_key"]: r["payload"] for r in t.read().collect()}
        assert got == model
        for e in t._manifest()["files"]:
            ks = pq.read_table(t._file_path(e), columns=["arcane_merge_key"])[
                0
            ].to_pylist()
            if t is plain:
                assert ks == sorted(ks)
            assert e["mn"] == min(ks) and e["mx"] == max(ks)


def _exchanges(plan: str) -> int:
    # shuffle exchanges only: BroadcastExchange / ReusedExchange differ
    return len(re.findall(r"(?<![A-Za-z])Exchange ", plan))


def test_sorted_by_cow_upsert_takes_the_one_shuffle_write(
    spark, tmp_path, monkeypatch
):
    """A ``sorted_by`` target's CoW upsert plans the same exchanges as
    a plain target's (its inner order re-sorts within the bucket
    partitions, never a second shuffle), writes payload-sorted files
    and leaves the same contents."""
    initial = [(f"k{i:04d}", 1, f"p{(i * 37) % 500:03d}") for i in range(500)]
    upsert = [(f"k{i:04d}", 2, f"u{(i * 11) % 97:03d}") for i in range(0, 500, 7)]
    plain, srt = _targets(spark, tmp_path)
    for t in (plain, srt):
        t.merge(df_of(spark, initial))
    plans: dict[str, str] = {}
    orig = ParquetMergeTarget._write_partitioned

    def spy(self, df, dirname, **kw):
        plans[self.path] = df._jdf.queryExecution().executedPlan().toString()
        return orig(self, df, dirname, **kw)

    monkeypatch.setattr(ParquetMergeTarget, "_write_partitioned", spy)
    for t in (plain, srt):
        t.merge(df_of(spark, upsert), mode="cow")
    assert _exchanges(plans[plain.path]) == _exchanges(plans[srt.path]), plans

    m = srt._manifest()
    new = [e for e in m["files"] if int(e["v"]) == m["version"]]
    assert new
    for e in new:
        ps = pq.read_table(srt._file_path(e), columns=["payload"])[0].to_pylist()
        assert ps == sorted(ps)
    assert _sorted_rows(srt.read()) == _sorted_rows(plain.read())

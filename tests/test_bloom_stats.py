"""Manifest bloom filters (``manifest_bloom_cols``): point-lookup file
skipping on UNSORTED columns, where min/max intervals span the domain
and never prune.

The invariants under test, in pruning-soundness order:
1. NO FALSE NEGATIVES — every value actually present in a file passes
   that file's bloom (unit-level over every manifest entry, plus a
   hypothesis sweep over adversarial value shapes).
2. Semantics unchanged — read_where/count_where stay
   ≡ the full-scan forms under `=`/`in` probes, present or absent.
3. The skipping bites — an absent-value probe plans ZERO files on a
   column where intervals alone prune nothing.
4. The filters survive the table's whole lifecycle — merge, MoR,
   compact, rebucket all rebuild entries through the one collector.
"""

from __future__ import annotations

import base64
import datetime
import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from arcane_stream_parquet_spark.operators.merge import (
    _BLOOM_K,
    ParquetMergeTarget,
    _bloom_canon,
    _bloom_may_contain,
    _bloom_pos_col,
    _bloom_positions,
)


def uid(i: int) -> str:
    """High-cardinality value with NO correlation to insert order —
    per-file [min, max] intervals span the whole domain."""
    return hashlib.sha256(f"uid{i}".encode()).hexdigest()[:16]


def absent_uid() -> str:
    """A MID-DOMAIN value guaranteed absent: shares 15 hex chars with
    a written uid, so interval stats cannot dismiss it cheaply — only
    the bloom proves it out."""
    u = uid(42)
    return u[:-1] + ("0" if u[-1] != "0" else "1")


def make_target(spark, path, **kw) -> ParquetMergeTarget:
    kw.setdefault("num_buckets", 4)
    kw.setdefault("sorted_by", ("amount",))
    kw.setdefault("max_records_per_file", 25)
    kw.setdefault("manifest_bloom_cols", ("uid",))
    return ParquetMergeTarget(spark=spark, path=str(path), **kw)


def rows_df(spark, lo, hi, ver=1):
    data = [
        (f"k{i:04d}", ver, i, uid(i), None if i % 19 == 3 else i % 7)
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(
        data,
        "arcane_merge_key string, createdon long, amount long, "
        "uid string, small int",
    )


def as_set(df):
    return {tuple(r) for r in df.collect()}


def test_absent_probe_plans_zero_files(spark, tmp_path):
    t = make_target(spark, tmp_path / "t")
    t.merge(rows_df(spark, 0, 300))
    full = t.read_where(("uid", "=", uid(42)))
    assert full.count() == 1
    absent = t.read_where(("uid", "=", absent_uid()))
    assert absent.inputFiles() == []
    assert absent.count() == 0
    # count_where rides the same planner rule
    assert t.count_where(("uid", "=", absent_uid())) == 0
    assert t.count_where(("uid", "=", uid(42))) == 1


def test_interval_alone_cannot_prune_here(spark, tmp_path):
    """The scenario is honest: with blooms off, the same absent probe
    plans every file (hashed uids make every interval span the
    domain) — the pruning in the test above is the bloom's."""
    t = make_target(
        spark, tmp_path / "t", manifest_bloom_cols=(), stats_cols=("uid",)
    )
    t.merge(rows_df(spark, 0, 300))
    absent = t.read_where(("uid", "=", absent_uid()))
    # random 25-value files have wide but not total intervals: the
    # probe survives most files (>= half) — nothing like the bloom's
    # zero-file plan on the identical probe
    assert len(absent.inputFiles()) >= len(t.read().inputFiles()) // 2
    assert absent.count() == 0


def test_in_probe_drops_absent_elements(spark, tmp_path):
    t = make_target(spark, tmp_path / "t")
    t.merge(rows_df(spark, 0, 300))
    full = len(t.read().inputFiles())
    probe = t.read_where(("uid", "in", [uid(7), "zzz", "yyy", "xxx"]))
    assert as_set(probe) == as_set(t.read().filter(F.col("uid") == uid(7)))
    assert 0 < len(probe.inputFiles()) < full
    assert t.read_where(("uid", "in", ["zzz", "yyy"])).inputFiles() == []


@pytest.mark.parametrize(
    "preds",
    [
        (("uid", "=", uid(0)),),
        (("uid", "=", "absent"),),
        (("uid", "in", [uid(1), uid(250), "absent"]), ("amount", "<", 200)),
        (("uid", "not_null"),),
    ],
)
def test_semantics_identical_through_lifecycle(spark, tmp_path, preds):
    t = make_target(spark, tmp_path / "t")
    t.merge(rows_df(spark, 0, 200))
    t.merge(rows_df(spark, 150, 260, ver=2), mode="mor")
    t.delete_keys(["k0005", "k0199"])
    cond = F.lit(True)
    for col, op, *v in preds:
        c = F.col(col)
        cond &= {
            "not_null": c.isNotNull,
            "=": lambda: c == v[0],
            "in": lambda: c.isin(v[0]),
            "<": lambda: c < v[0],
        }[op]()
    assert as_set(t.read_where(*preds)) == as_set(t.read().filter(cond))
    assert t.count_where(*preds) == t.read().filter(cond).count()


def test_no_false_negatives_over_every_entry(spark, tmp_path):
    """Unit-level soundness: every value present in a file passes that
    file's bloom, and at least one absent probe fails somewhere."""
    t = make_target(spark, tmp_path / "t")
    t.merge(rows_df(spark, 0, 120))
    entries = t._files_of_manifest(t._manifest())
    assert entries and all("bf" in e for e in entries)
    by_file = (
        t.read()
        .select(F.col("uid"))
        .distinct()
        .collect()
    )
    # map value -> owning entries via a per-entry scan
    for e in entries:
        vals = {
            r["uid"]
            for r in spark.read.parquet(t._file_path(e)).select("uid").collect()
            if r["uid"] is not None
        }
        for v in vals:
            assert _bloom_may_contain(e, "uid", v), (e["n"], v)
    assert any(
        not _bloom_may_contain(e, "uid", "definitely-absent") for e in entries
    )


def test_spark_and_python_positions_agree(spark):
    """The write side (Spark SQL sha2/conv) and the probe side
    (hashlib) must compute identical positions for every canonical
    shape — a mismatch is a silent wrongly-pruned file."""
    values = [
        "plain",
        "",
        "naïve-ünïcödé-\U0001f600",
        "with|pipe|and\ttab",
        str(2**62),
        str(-(2**62)),
        "true",
        "2024-02-29",
    ]
    m = 16384
    df = spark.createDataFrame([(v,) for v in values], "v string")
    got = df.select(
        "v", *[_bloom_pos_col(F.col("v"), j, m).alias(f"p{j}") for j in range(_BLOOM_K)]
    ).collect()
    for r in got:
        assert [r[f"p{j}"] for j in range(_BLOOM_K)] == _bloom_positions(r["v"], m)


def test_canon_matches_spark_cast(spark):
    """Python-side canon == Spark CAST(col AS STRING) for every
    supported type (the equality the no-false-negative proof rests
    on)."""
    df = spark.createDataFrame(
        [(7, -3, True, False, datetime.date(2024, 2, 29), "s")],
        "a bigint, b int, t boolean, f boolean, d date, s string",
    )
    r = df.select(*[F.col(c).cast("string").alias(c) for c in df.columns]).first()
    assert r["a"] == _bloom_canon(7)
    assert r["b"] == _bloom_canon(-3)
    assert r["t"] == _bloom_canon(True)
    assert r["f"] == _bloom_canon(False)
    assert r["d"] == _bloom_canon(datetime.date(2024, 2, 29).isoformat())
    assert r["s"] == _bloom_canon("s")
    assert _bloom_canon(2.0) == "2"  # integral float probe on int col
    assert _bloom_canon(2.5) is None  # non-integral: skip, stay safe


@settings(max_examples=60, deadline=None)
@given(
    vals=st.lists(
        st.one_of(st.text(max_size=40), st.integers(-(2**62), 2**62)),
        min_size=1,
        max_size=50,
    ),
    probe=st.one_of(st.text(max_size=40), st.integers(-(2**62), 2**62)),
)
def test_bloom_bitset_soundness(vals, probe):
    """Pure-python model of one file's filter: every inserted value
    passes; a probe only ever fails when genuinely absent."""
    m = 1024
    positions = set()
    for v in vals:
        positions.update(_bloom_positions(_bloom_canon(v), m))
    bits = bytearray(m // 8)
    for p in positions:
        bits[p >> 3] |= 1 << (p & 7)
    entry = {
        "bf": {"c": [m, _BLOOM_K, base64.b64encode(bytes(bits)).decode()]}
    }
    for v in vals:
        assert _bloom_may_contain(entry, "c", v)
    if not _bloom_may_contain(entry, "c", probe):
        assert _bloom_canon(probe) not in {_bloom_canon(v) for v in vals}


def test_int_and_date_bloom_cols(spark, tmp_path):
    t = make_target(
        spark,
        tmp_path / "t",
        manifest_bloom_cols=("amount", "day"),
        stats_cols=(),
        sorted_by=(),
    )
    base = datetime.date(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (f"k{i:03d}", 1, (i * 37) % 997, base + datetime.timedelta(days=i % 30))
            for i in range(200)
        ],
        "arcane_merge_key string, createdon long, amount long, day date",
    )
    t.merge(df)
    written = {(i * 37) % 997 for i in range(200)}
    absent = next(v for v in range(997) if v not in written)
    assert t.read_where(("amount", "=", absent)).inputFiles() == []
    present = (37 * 5) % 997
    assert t.read_where(("amount", "=", present)).count() == df.filter(
        F.col("amount") == present
    ).count()
    absent_day = base + datetime.timedelta(days=200)
    assert t.read_where(("day", "=", absent_day)).inputFiles() == []
    assert t.read_where(("day", "=", base)).count() == df.filter(
        F.col("day") == base
    ).count()


def test_all_null_file_has_all_zero_filter(spark, tmp_path):
    t = make_target(spark, tmp_path / "t", num_buckets=1)
    df = spark.createDataFrame(
        [(f"k{i}", 1, i, None) for i in range(10)],
        "arcane_merge_key string, createdon long, amount long, uid string",
    )
    t.merge(df)
    (entry,) = t._files_of_manifest(t._manifest())
    m, k, b64 = entry["bf"]["uid"]
    assert base64.b64decode(b64) == bytes(m // 8)
    assert not _bloom_may_contain(entry, "uid", "anything")
    assert t.read_where(("uid", "=", "anything")).inputFiles() == []
    assert t.read_where(("uid", "is_null")).count() == 10


def test_unsupported_type_rejected(spark, tmp_path):
    t = make_target(
        spark, tmp_path / "t", manifest_bloom_cols=("value",), sorted_by=()
    )
    df = spark.createDataFrame(
        [("k1", 1, 0.5)],
        "arcane_merge_key string, createdon long, value double",
    )
    with pytest.raises(TypeError, match="manifest_bloom_cols"):
        t.merge(df)


def test_filters_survive_compact_and_rebucket(spark, tmp_path):
    t = make_target(spark, tmp_path / "t")
    for lo in range(0, 300, 60):
        t.merge(rows_df(spark, lo, lo + 60))
    t.compact()
    assert t.read_where(("uid", "=", "absent")).inputFiles() == []
    assert t.read_where(("uid", "=", uid(123))).count() == 1
    t.rebucket(8)
    entries = t._files_of_manifest(t._manifest())
    assert all("bf" in e for e in entries)
    assert t.read_where(("uid", "=", "absent")).inputFiles() == []
    assert t.read_where(("uid", "=", uid(123))).count() == 1

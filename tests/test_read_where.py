"""Tests for manifest-level data skipping (``stats_cols`` +
``read_where``): pruning must be invisible to semantics (always ≡
``read().filter``) and visible to the scan plan (fewer input files
when the predicate is selective over a clustered column).
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from arcane_stream_parquet_spark.operators.merge import ParquetMergeTarget


def make_target(spark, path, **kw) -> ParquetMergeTarget:
    kw.setdefault("num_buckets", 4)
    kw.setdefault("stats_cols", ("amount", "grp", "day"))
    kw.setdefault("sorted_by", ("amount",))
    kw.setdefault("max_records_per_file", 25)
    return ParquetMergeTarget(spark=spark, path=str(path), **kw)


def rows_df(spark, lo, hi, ver=1):
    base = datetime.date(2024, 1, 1)
    data = [
        (
            f"k{i:04d}",
            ver,
            i,
            ("red", "green", "blue")[i % 3] if i % 17 else None,
            base + datetime.timedelta(days=i % 30),
        )
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(
        data,
        "arcane_merge_key string, createdon long, amount long, "
        "grp string, day date",
    )


PREDS = [
    (("amount", ">=", 150), ("amount", "<", 190)),
    (("amount", "=", 42),),
    (("grp", "=", "red"),),
    (("grp", "is_null"),),
    (("grp", "not_null"), ("amount", "<=", 10)),
    (("day", ">=", datetime.date(2024, 1, 25)),),
    (("amount", ">", 10_000),),  # empty result
    (("grp", "like_prefix", "gr"),),  # r12 prefix op
    (("grp", "like_prefix", "re"), ("amount", ">=", 100)),
]


def spark_filter(preds):
    cond = F.lit(True)
    for p in preds:
        c = F.col(p[0])
        if p[1] == "is_null":
            cond &= c.isNull()
        elif p[1] == "not_null":
            cond &= c.isNotNull()
        elif p[1] == "like_prefix":
            cond &= c.startswith(p[2])
        else:
            cond &= {
                "=": c == F.lit(p[2]),
                "<": c < F.lit(p[2]),
                "<=": c <= F.lit(p[2]),
                ">": c > F.lit(p[2]),
                ">=": c >= F.lit(p[2]),
            }[p[1]]
    return cond


def as_set(df):
    return {tuple(r) for r in df.collect()}


@pytest.mark.parametrize("preds", PREDS)
def test_read_where_equals_read_filter(spark, tmp_path, preds):
    t = make_target(spark, tmp_path / "t")
    t.merge(rows_df(spark, 0, 300))
    # a MoR trickle commit + a key delete exercise the delete-aware scan
    t.merge(rows_df(spark, 10, 20, ver=2), mode="mor")
    t.delete_keys(["k0005", "k0290"])
    expect = as_set(t.read().filter(spark_filter(preds)))
    got = as_set(t.read_where(*preds))
    assert got == expect


def test_pruning_shrinks_scan_but_not_answer(spark, tmp_path):
    t = make_target(spark, tmp_path / "t")
    t.merge(rows_df(spark, 0, 400))
    full = len(t.read().inputFiles())
    narrow = t.read_where(("amount", ">=", 390))
    pruned = len(narrow.inputFiles())
    assert pruned < full, (pruned, full)
    assert narrow.count() == 10


def test_empty_prune_returns_typed_empty(spark, tmp_path):
    t = make_target(spark, tmp_path / "t")
    t.merge(rows_df(spark, 0, 50))
    out = t.read_where(("amount", ">", 10_000))
    assert out.count() == 0
    assert set(out.columns) == set(t.read().columns)
    # every file proven out of range: nothing planned at all
    assert out.inputFiles() == []


def test_unstatted_column_stays_correct(spark, tmp_path):
    t = make_target(spark, tmp_path / "t", stats_cols=("amount",))
    t.merge(rows_df(spark, 0, 100))
    preds = (("grp", "=", "blue"),)
    assert as_set(t.read_where(*preds)) == as_set(
        t.read().filter(spark_filter(preds))
    )


def test_temporal_string_probe_is_residual_only(spark, tmp_path):
    t = make_target(spark, tmp_path / "t")
    t.merge(rows_df(spark, 0, 60))
    # a string literal against a date column must not prune (format
    # unknowable) but must still filter exactly
    out = t.read_where(("day", ">=", "2024-01-25"))
    expect = t.read().filter(F.col("day") >= "2024-01-25")
    assert as_set(out) == as_set(expect)
    assert len(out.inputFiles()) == len(t.read().inputFiles())


def test_datetime_probe_on_date_column_coerced(spark, tmp_path):
    t = make_target(spark, tmp_path / "t")
    t.merge(rows_df(spark, 0, 60))
    d = datetime.datetime(2024, 1, 25, 0, 0, 0)
    expect = as_set(t.read().filter(F.col("day") >= F.lit(d.date())))
    assert as_set(t.read_where(("day", ">=", d))) == expect


def test_time_travel_read_where(spark, tmp_path):
    t = make_target(spark, tmp_path / "t")
    t.merge(rows_df(spark, 0, 100))
    v1 = t._manifest()["version"]
    t.merge(rows_df(spark, 100, 200, ver=2))
    expect = as_set(t.read(at_version=v1).filter(F.col("amount") >= 50))
    got = as_set(t.read_where(("amount", ">=", 50), at_version=v1))
    assert got == expect
    assert all(r[2] < 100 for r in got)


def test_invalid_predicates_raise(spark, tmp_path):
    t = make_target(spark, tmp_path / "t")
    t.merge(rows_df(spark, 0, 10))
    with pytest.raises(ValueError, match="unknown column"):
        t.read_where(("nope", "=", 1))
    with pytest.raises(ValueError, match="not in"):
        t.read_where(("amount", "!=", 1))
    with pytest.raises(ValueError, match="non-null value"):
        t.read_where(("amount", "="))
    with pytest.raises(ValueError, match="non-null value"):
        t.read_where(("amount", "=", None))
    with pytest.raises(TypeError, match="does not match column"):
        t.read_where(("amount", "=", "abc"))


def test_unsupported_stats_type_rejected(spark, tmp_path):
    t = ParquetMergeTarget(
        spark=spark,
        path=str(tmp_path / "t"),
        num_buckets=2,
        stats_cols=("payload",),
    )
    df = spark.createDataFrame(
        [("k1", 1, ["a"])],
        "arcane_merge_key string, createdon long, payload array<string>",
    )
    with pytest.raises(TypeError, match="unsupported type"):
        t.merge(df)


def test_schema_drift_files_without_stats_kept(spark, tmp_path):
    t = make_target(spark, tmp_path / "t", stats_cols=("extra",))
    # first commit has no 'extra' column at all
    t.merge(
        spark.createDataFrame(
            [("k1", 1, 5)], "arcane_merge_key string, createdon long, amount long"
        )
    )
    t.merge(
        spark.createDataFrame(
            [("k2", 1, 6, 99)],
            "arcane_merge_key string, createdon long, amount long, extra long",
        )
    )
    out = t.read_where(("extra", "=", 99))
    assert [r["arcane_merge_key"] for r in out.collect()] == ["k2"]
    # the drift-era file carries no stats for 'extra' → stays in plan
    assert as_set(t.read_where(("extra", "is_null"))) == as_set(
        t.read().filter(F.col("extra").isNull())
    )


def test_compaction_recollects_stats(spark, tmp_path):
    t = make_target(spark, tmp_path / "t")
    t.merge(rows_df(spark, 0, 200))
    for lo in (0, 40, 80):
        t.merge(rows_df(spark, lo, lo + 5, ver=3), mode="mor")
    t.compact()
    m = t._manifest()
    files = t._files_of_manifest(m)
    assert files and all("cs" in f for f in files)
    preds = (("amount", ">=", 150),)
    assert as_set(t.read_where(*preds)) == as_set(
        t.read().filter(spark_filter(preds))
    )


# -- count_where (metadata-only counting) ------------------------------------


@pytest.mark.parametrize("preds", PREDS)
def test_count_where_equals_filter_count(spark, tmp_path, preds):
    t = make_target(spark, tmp_path / "t")
    t.merge(rows_df(spark, 0, 200))
    t.merge(rows_df(spark, 150, 260, ver=2))
    assert t.count_where(*preds) == t.read().filter(
        spark_filter(preds)
    ).count()


def test_count_where_fully_contained_never_scans(spark, tmp_path):
    """A predicate every file provably satisfies must be answered
    from manifest row counts alone — no Spark scan at all."""
    t = make_target(spark, tmp_path / "t")
    t.merge(rows_df(spark, 0, 200))
    want = t.read().count()
    import unittest.mock as mock

    with mock.patch.object(
        t, "_scan_with_deletes", side_effect=AssertionError("scanned!")
    ):
        assert t.count_where(("amount", ">=", 0)) == want
        assert t.count_where(("amount", "<=", 10_000)) == want
        # provably-empty also metadata-only
        assert t.count_where(("amount", ">", 10_000)) == 0


def test_count_where_mor_dirty_buckets_stay_exact(spark, tmp_path):
    """Pending MoR deletes make manifest counts unknowable for their
    buckets; count_where must scan those and stay exact."""
    t = make_target(spark, tmp_path / "t")
    t.merge(rows_df(spark, 0, 200))
    t.merge(rows_df(spark, 0, 30, ver=5), mode="mor")  # supersedes 30 keys
    for preds in PREDS:
        assert t.count_where(*preds) == t.read().filter(
            spark_filter(preds)
        ).count()
    assert t.count_where(("amount", ">=", 0)) == 200


# -- tz-aware predicate values (ADVICE r10) ----------------------------------


def ts_target(spark, tmp_path):
    # single bucket + sorted_by ts -> files carry disjoint ts ranges
    # ([0-9h],[10-19h],[20-29h],[30-39h]) so the pruning assertions
    # below are deterministic, not hash-distribution-dependent
    t = ParquetMergeTarget(
        spark=spark,
        path=str(tmp_path / "ts"),
        num_buckets=1,
        stats_cols=("ts",),
        sorted_by=("ts",),
        max_records_per_file=10,
    )
    base = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (f"k{i:03d}", 1, base + datetime.timedelta(hours=i))
            for i in range(40)
        ],
        "arcane_merge_key string, createdon long, ts timestamp",
    )
    t.merge(df)
    return t


def test_tz_aware_equality_probe_not_pruned(spark, tmp_path):
    # stats are session-tz-naive ISO strings; an aware probe used to
    # normalize to an offset-suffixed string that lexicographically
    # misorders against them, silently pruning the exact-match file
    t = ts_target(spark, tmp_path)
    probe = datetime.datetime(2024, 1, 1, 12, 0, 0, tzinfo=datetime.timezone.utc)
    out = t.read_where(("ts", "=", probe))
    assert [r["arcane_merge_key"] for r in out.collect()] == ["k012"]
    assert t.count_where(("ts", "=", probe)) == 1


def test_tz_aware_offset_probe_converts_to_session_zone(spark, tmp_path):
    # +05:30 instant == 12:00 UTC: pruning must compare in session
    # (UTC) wall clock, and the answer must equal read().filter
    t = ts_target(spark, tmp_path)
    ist = datetime.timezone(datetime.timedelta(hours=5, minutes=30))
    probe = datetime.datetime(2024, 1, 1, 17, 30, 0, tzinfo=ist)
    out = t.read_where(("ts", ">=", probe))
    expect = t.read().filter(F.col("ts") >= F.lit(probe))
    assert as_set(out) == as_set(expect)
    assert out.count() == 40 - 12
    # and the selective window really pruned files
    assert len(out.inputFiles()) < len(t.read().inputFiles())


def test_tz_aware_probe_on_ntz_column_is_residual_only(spark, tmp_path):
    # wall-clock (ntz) columns have no instant semantics: an aware
    # probe must never prune (nv=None); the residual stays exact
    t = ParquetMergeTarget(
        spark=spark,
        path=str(tmp_path / "ntz"),
        num_buckets=2,
        stats_cols=("ts",),
    )
    df = spark.createDataFrame(
        [("k1", 1, datetime.datetime(2024, 1, 1, 12))],
        "arcane_merge_key string, createdon long, ts timestamp_ntz",
    )
    t.merge(df)
    schema = t._schema_of(t._manifest())
    probe = datetime.datetime(2024, 1, 1, 12, tzinfo=datetime.timezone.utc)
    parsed, _ = t._parse_predicates(schema, (("ts", "=", probe),))
    assert parsed[0][3] is None  # normalized value: residual-only


# -- at_version predicate reads under schema drift (ADVICE r10) ---------------


def test_read_where_at_version_uses_current_schema(spark, tmp_path):
    t = make_target(spark, tmp_path / "t", stats_cols=("amount", "extra"))
    t.merge(
        spark.createDataFrame(
            [("k1", 1, 5)],
            "arcane_merge_key string, createdon long, amount long",
        )
    )
    v1 = t._manifest()["version"]
    t.merge(
        spark.createDataFrame(
            [("k2", 1, 6, 99)],
            "arcane_merge_key string, createdon long, amount long, extra long",
        )
    )
    # predicate on the post-drift column against the PRE-drift snapshot
    # must behave exactly like read(at_version).filter(...): resolve
    # (no 'unknown column'), null-filled, empty result
    out = t.read_where(("extra", "=", 99), at_version=v1)
    assert out.count() == 0
    assert t.count_where(("extra", "=", 99), at_version=v1) == 0
    # column set matches the documented time-travel read
    got = t.read_where(("amount", ">=", 0), at_version=v1)
    assert got.columns == t.read(at_version=v1).columns
    assert as_set(got) == as_set(
        t.read(at_version=v1).filter(F.col("amount") >= 0)
    )
    # is_null on the drifted column over the old snapshot: all rows
    assert t.count_where(("extra", "is_null"), at_version=v1) == 1


# -- 'in' predicates (r11) -----------------------------------------------------


def test_in_predicate_exact_and_pruning(spark, tmp_path):
    t = ParquetMergeTarget(
        spark=spark,
        path=str(tmp_path / "t"),
        num_buckets=1,
        stats_cols=("amount",),
        sorted_by=("amount",),
        max_records_per_file=10,
    )
    t.merge(
        spark.createDataFrame(
            [(f"k{i:03d}", 1, i) for i in range(40)],
            "arcane_merge_key string, createdon long, amount long",
        )
    )
    out = t.read_where(("amount", "in", [3, 7, 35]))
    want = t.read().filter(F.col("amount").isin(3, 7, 35))
    assert as_set(out) == as_set(want)
    # values land in files [0-9] and [30-39]: files [10-19],[20-29] prune
    assert len(out.inputFiles()) == 2
    assert t.count_where(("amount", "in", [3, 7, 35])) == 3
    # provably-empty set plans zero files
    assert t.read_where(("amount", "in", [100, 200])).count() == 0
    assert len(t.read_where(("amount", "in", [100])).inputFiles()) == 0


def test_in_predicate_metadata_count_on_constant_files(spark, tmp_path):
    # a file whose [mn, mx] is a single point inside the set counts
    # from metadata alone (must_match), others scan the exact residual
    t = ParquetMergeTarget(
        spark=spark,
        path=str(tmp_path / "t"),
        num_buckets=1,
        stats_cols=("flag",),
        sorted_by=("flag",),
        max_records_per_file=20,
    )
    t.merge(
        spark.createDataFrame(
            [(f"k{i:03d}", 1, "x" if i < 20 else "y") for i in range(40)],
            "arcane_merge_key string, createdon long, flag string",
        )
    )
    assert t.count_where(("flag", "in", ["x", "z"])) == 20
    assert t.count_where(("flag", "in", ["x", "y"])) == 40


def test_in_predicate_validation_and_residual_only(spark, tmp_path):
    t = ts_target(spark, tmp_path)
    with pytest.raises(ValueError, match="non-empty sequence"):
        t.read_where(("ts", "in", []))
    with pytest.raises(ValueError, match="non-empty sequence"):
        t.read_where(("ts", "in", [None, datetime.datetime(2024, 1, 1)]))
    # a raw-string element on a temporal column poisons pruning for
    # the whole set (residual-only) but the answer stays exact
    out = t.read_where(
        ("ts", "in", ["2024-01-01 12:00:00", datetime.datetime(2024, 1, 1, 5)])
    )
    assert out.count() == 2
    assert len(out.inputFiles()) == len(t.read().inputFiles())
    # all-datetime elements prune normally (naive + aware mix)
    probe = [
        datetime.datetime(2024, 1, 1, 12, 0, 0, tzinfo=datetime.timezone.utc),
        datetime.datetime(2024, 1, 1, 5),
    ]
    out2 = t.read_where(("ts", "in", probe))
    assert sorted(r["arcane_merge_key"] for r in out2.collect()) == [
        "k005",
        "k012",
    ]
    assert len(out2.inputFiles()) < len(t.read().inputFiles())


def test_like_prefix_identity_and_validation(spark, tmp_path):
    """r12: 'like_prefix' — residual is startswith, identity vs
    read().filter holds on a column with nulls, and bad inputs raise."""
    t = make_target(spark, tmp_path)
    t.merge(rows_df(spark, 0, 120))
    for prefix in ("gr", "red", "g", "zzz"):
        got = sorted(
            r["amount"]
            for r in t.read_where(("grp", "like_prefix", prefix)).collect()
        )
        want = sorted(
            r["amount"]
            for r in t.read()
            .filter(F.col("grp").startswith(prefix))
            .collect()
        )
        assert got == want, prefix
        assert t.count_where(("grp", "like_prefix", prefix)) == len(want)
    with pytest.raises(ValueError):
        t.read_where(("grp", "like_prefix", ""))
    with pytest.raises(ValueError):
        t.read_where(("amount", "like_prefix", "1"))  # non-string col
    with pytest.raises(ValueError):
        t.read_where(("grp", "like_prefix", 5))


def test_like_prefix_prunes_on_prefix_clustered_files(spark, tmp_path):
    """On a table whose files are name-range-sorted, a prefix probe
    must plan strictly fewer files than the table holds, and a
    fully-prefixed file range counts metadata-only."""
    from arcane_stream_parquet_spark.operators.merge import (
        ParquetMergeTarget,
        _file_may_match,
        _file_must_match,
    )

    t = ParquetMergeTarget(
        spark=spark,
        path=str(tmp_path / "pfx"),
        num_buckets=1,
        stats_cols=("name",),
        sorted_by=("name",),
        max_records_per_file=20,
    )
    rows = [
        (f"k{i:04d}", 1, f"{c}{i:05d}")
        for i, c in enumerate(
            [chr(ord("a") + (i // 40) % 8) for i in range(240)]
        )
    ]
    t.merge(
        spark.createDataFrame(
            rows, "arcane_merge_key string, createdon long, name string"
        )
    )
    m = t._manifest()
    files = t._files_of_manifest(m)
    schema = t._schema_of(m)
    parsed, _ = t._parse_predicates(schema, (("name", "like_prefix", "c"),))
    may = [
        f
        for f in files
        if all(_file_may_match(f, c, o, nv) for c, o, _, nv in parsed)
    ]
    full = [
        f
        for f in may
        if all(_file_must_match(f, c, o, nv) for c, o, _, nv in parsed)
    ]
    assert len(may) < len(files)  # pruning bites
    assert len(full) >= 1  # 40 'c'-rows across 20-row files
    got = t.count_where(("name", "like_prefix", "c"))
    assert got == 40 == t.read_where(("name", "like_prefix", "c")).count()


# -- manifest string-stat truncation (r13, r12 verdict item 3) -----------------


def test_trunc_stat_max_is_a_strict_upper_bound():
    """Property sweep of the Iceberg-style upper-bound increment: the
    truncated max sorts above every string carrying the original
    prefix, never lands in the surrogate block, and caps at the limit."""
    from arcane_stream_parquet_spark.operators.merge import (
        _STATS_MAX_LEN,
        _trunc_stat_max,
        _trunc_stat_min,
    )

    long = "x" * 100 + "z"
    up = _trunc_stat_max(long)
    assert len(up) <= _STATS_MAX_LEN and up > long
    assert _trunc_stat_min(long) == "x" * _STATS_MAX_LEN <= long
    # short values and non-strings pass through untouched
    assert _trunc_stat_max("abc") == "abc"
    assert _trunc_stat_max(123) == 123 and _trunc_stat_min(None) is None
    # surrogate block skipped: U+D7FF increments to U+E000
    s = "a" * 63 + "퟿" + "tail"
    up = _trunc_stat_max(s)
    assert up == "a" * 63 + "" and up > s
    # un-incrementable tail chars are dropped, the increment moves left
    s = "ab" + "\U0010ffff" * 70
    up = _trunc_stat_max(s)
    assert up == "ac" and up > s
    # the no-finite-successor corner keeps the value whole (sound, uncapped)
    s = "\U0010ffff" * 70
    assert _trunc_stat_max(s) == s


def long_rows_df(spark, lo, hi, ver=1):
    # text values ~200 chars with an orderable 4-digit core so
    # selective predicates exist; keys are ~150 chars too (key stats
    # mn/mx truncate as well)
    data = [
        (
            "key-" + "p" * 140 + f"-{i:04d}",
            ver,
            ("alpha-" if i % 2 else "beta--") + f"{i:04d}-" + "y" * 180,
        )
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(
        data, "arcane_merge_key string, createdon long, body string"
    )


def test_long_string_stats_truncate_and_stay_correct(spark, tmp_path):
    """Manifest entries for a long-string table stay bounded (no
    megabyte min/max riding into every entry) while every pruning and
    metadata-count decision stays conservative-correct against a
    full-scan oracle — including like_prefix probes SHORTER and LONGER
    than the truncation length."""
    from arcane_stream_parquet_spark.operators.merge import (
        _STATS_MAX_LEN,
        ParquetMergeTarget,
    )

    t = ParquetMergeTarget(
        spark=spark,
        path=str(tmp_path / "t"),
        num_buckets=4,
        stats_cols=("body",),
        sorted_by=("body",),
        max_records_per_file=25,
    )
    t.merge(long_rows_df(spark, 0, 200))
    t.merge(long_rows_df(spark, 50, 60, ver=2), mode="mor")
    t.delete_keys(["key-" + "p" * 140 + "-0007"])

    m = t._manifest()
    files = t._files_of_manifest(m) or []
    assert files
    for f in files:
        for v in (f["mn"], f["mx"]):
            assert v is None or len(v) <= _STATS_MAX_LEN
        for mn, mx, _hn in (f.get("cs") or {}).values():
            assert mn is None or len(str(mn)) <= _STATS_MAX_LEN
            assert mx is None or len(str(mx)) <= _STATS_MAX_LEN
    for d in m.get("deletes") or []:
        for v in (d["mn"], d["mx"]):
            assert v is None or len(v) <= _STATS_MAX_LEN

    full = t.read()
    probes = [
        (("body", "like_prefix", "alpha-"),),
        (("body", "like_prefix", "alpha-01"),),
        # probe LONGER than the 64-char truncated stats
        (("body", "like_prefix", "alpha-0150-" + "y" * 80),),
        (("body", "=", ("alpha-" if 151 % 2 else "beta--") + "0151-" + "y" * 180),),
        (("body", ">=", "beta--0190"),),
        (("body", "<", "alpha-0010"),),
    ]
    for preds in probes:
        expect = as_set(full.filter(spark_filter(preds)))
        assert as_set(t.read_where(*preds)) == expect, preds
        assert t.count_where(*preds) == len(expect), preds
    # truncated stats still prune: a selective range over the sorted
    # column plans fewer files than the table holds
    narrow = t.read_where(("body", ">=", "beta--0195"))
    assert 0 < len(narrow.inputFiles()) < len(full.inputFiles())

    # stats recollection paths (compact folds the MoR delta, rebucket
    # rewrites every unit) keep the cap AND the answers
    t.compact()
    assert t.rebucket(8)["done"]
    for f in t._files_of_manifest(t._manifest()) or []:
        for v in (f["mn"], f["mx"]):
            assert v is None or len(v) <= _STATS_MAX_LEN
        for mn, mx, _hn in (f.get("cs") or {}).values():
            assert mn is None or len(str(mn)) <= _STATS_MAX_LEN
            assert mx is None or len(str(mx)) <= _STATS_MAX_LEN
    for preds in probes:
        expect = as_set(t.read().filter(spark_filter(preds)))
        assert as_set(t.read_where(*preds)) == expect, preds
        assert t.count_where(*preds) == len(expect), preds


def test_long_key_upsert_and_delete_stay_exact(spark, tmp_path):
    """Merge-key mn/mx truncation must stay invisible to upsert
    correctness: the touch planner (_plan_touch) and _delete_applies
    only widen with truncated stats (more files touched), never lose a
    row."""
    from arcane_stream_parquet_spark.operators.merge import (
        ParquetMergeTarget,
    )

    t = ParquetMergeTarget(
        spark=spark,
        path=str(tmp_path / "t"),
        num_buckets=4,
        max_records_per_file=25,
    )
    t.merge(long_rows_df(spark, 0, 150))
    t.merge(long_rows_df(spark, 100, 130, ver=3))
    t.merge(long_rows_df(spark, 120, 140, ver=4), mode="mor")
    got = {
        r["arcane_merge_key"]: r["createdon"] for r in t.read().collect()
    }
    want = {**{f"key-{'p'*140}-{i:04d}": 1 for i in range(150)}}
    want.update({f"key-{'p'*140}-{i:04d}": 3 for i in range(100, 130)})
    want.update({f"key-{'p'*140}-{i:04d}": 4 for i in range(120, 140)})
    assert got == want

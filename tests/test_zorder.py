"""Z-order clustering (``cluster_by``): the Morton layout must be
invisible to semantics (reads/merges unchanged) and visible to the
scan plan — a window on the SECOND clustered column prunes files,
which a lexicographic ``sorted_by`` can never do.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from arcane_stream_parquet_spark.operators.merge import ParquetMergeTarget
from arcane_stream_parquet_spark.operators.zorder import (
    cluster_boundaries,
    code_expr,
    interleave_expr,
    zvalue_expr,
)


def rows_df(spark, n, ver=1, seed=0):
    """n rows spread uniformly over a 2-D (x, y) grid, deterministic."""
    base = datetime.date(2024, 1, 1)
    data = [
        (
            f"k{i:05d}",
            ver,
            (i * 37 + seed) % 1000,  # x
            (i * 61 + seed) % 1000,  # y
            base + datetime.timedelta(days=(i * 13) % 365),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        data,
        "arcane_merge_key string, createdon long, x long, y long, d date",
    )


def make_target(spark, path, **kw) -> ParquetMergeTarget:
    kw.setdefault("num_buckets", 4)
    kw.setdefault("cluster_by", ("x", "y"))
    kw.setdefault("max_records_per_file", 100)
    return ParquetMergeTarget(spark=spark, path=str(path), **kw)


# -- expression-level units -------------------------------------------------


def test_interleave_matches_python_morton(spark):
    bits = 8
    for a, b in [(0, 0), (170, 85), (255, 255), (1, 128), (200, 3)]:
        z = interleave_expr([F.lit(a), F.lit(b)], bits)
        got = spark.range(1).select(z.alias("z")).collect()[0]["z"]
        want = sum(((a >> i) & 1) << (2 * i) for i in range(bits)) + sum(
            ((b >> i) & 1) << (2 * i + 1) for i in range(bits)
        )
        assert got == want, (a, b)


def test_codes_are_monotone_and_cover_range(spark):
    df = spark.range(1000).select((F.col("id") % 250).cast("double").alias("v"))
    bounds = cluster_boundaries(df, ("v",), bits=4)["v"]
    assert len(bounds) == 15 and bounds == sorted(bounds)
    rows = (
        df.select("v", code_expr("v", "double", bounds).alias("c"))
        .distinct()
        .orderBy("v")
        .collect()
    )
    codes = [r["c"] for r in rows]
    assert codes == sorted(codes)  # monotone in the value
    assert codes[0] == 0 and codes[-1] == 15  # full range used


def test_null_and_constant_columns_code_zero(spark):
    df = spark.createDataFrame(
        [(None,), (None,)], "v double"
    )
    bounds = cluster_boundaries(df, ("v",), bits=3)["v"]
    assert bounds == []  # all-null: no quantiles
    assert (
        df.select(code_expr("v", "double", bounds).alias("c"))
        .agg(F.max("c"))
        .collect()[0][0]
        == 0
    )
    const = spark.range(100).select(F.lit(7.0).alias("v"))
    cb = cluster_boundaries(const, ("v",), bits=3)["v"]
    got = (
        const.select(code_expr("v", "double", cb).alias("c"))
        .distinct()
        .collect()
    )
    assert len(got) == 1  # skew collapses codes, never crashes


def test_rejects_string_cluster_column(spark):
    df = spark.createDataFrame([("a",)], "s string")
    with pytest.raises(TypeError, match="cluster_by"):
        cluster_boundaries(df, ("s",), bits=3)


def test_temporal_columns_cluster(spark):
    df = spark.createDataFrame(
        [(datetime.date(2024, 1, 1 + i), datetime.datetime(2024, 1, 1, i)) for i in range(24)],
        "d date, ts timestamp",
    ).withColumn("tn", F.col("ts").cast("timestamp_ntz"))
    z = zvalue_expr(df, ("d", "ts", "tn"), bits=3)
    vals = [r["z"] for r in df.select(z.alias("z")).collect()]
    assert len(set(vals)) > 1  # distinct cells, no cast errors


# -- target-level semantics -------------------------------------------------


def test_clustered_merge_parity_with_plain(spark, tmp_path):
    """cluster_by changes LAYOUT only: same rows, same upsert result."""
    plain = ParquetMergeTarget(
        spark=spark, path=str(tmp_path / "p"), num_buckets=4
    )
    clustered = make_target(spark, tmp_path / "c")
    for seed in (0, 5):
        batch = rows_df(spark, 400, ver=seed + 1, seed=seed)
        plain.merge(batch)
        clustered.merge(batch)
    key = lambda df: {tuple(r) for r in df.select(  # noqa: E731
        "arcane_merge_key", "createdon", "x", "y"
    ).collect()}
    assert key(clustered.read()) == key(plain.read())


def test_cluster_by_and_sorted_by_conflict(spark, tmp_path):
    t = make_target(spark, tmp_path / "t", sorted_by=("x",))
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.merge(rows_df(spark, 10))


def test_second_dimension_prunes_files(spark, tmp_path):
    """The whole point: a selective window on y (the SECOND clustered
    column) must drop files from the plan; under sorted_by=(x,) the
    same window plans every file."""
    lex = ParquetMergeTarget(
        spark=spark,
        path=str(tmp_path / "lex"),
        num_buckets=4,
        sorted_by=("x",),
        stats_cols=("x", "y"),
        max_records_per_file=100,
    )
    zed = make_target(spark, tmp_path / "zed")
    batch = rows_df(spark, 4000)
    lex.merge(batch)
    zed.merge(batch)
    pred = (("y", ">=", 100), ("y", "<", 200))
    # identical answers
    want = {tuple(r) for r in lex.read().filter(
        (F.col("y") >= 100) & (F.col("y") < 200)
    ).collect()}
    assert {tuple(r) for r in zed.read_where(*pred).collect()} == want
    assert {tuple(r) for r in lex.read_where(*pred).collect()} == want
    # pruning: z-order plans strictly fewer files on the y window
    lex_files = len(lex.read_where(*pred).inputFiles())
    lex_all = len(lex.read().inputFiles())
    zed_files = len(zed.read_where(*pred).inputFiles())
    zed_all = len(zed.read().inputFiles())
    assert lex_files == lex_all  # lexicographic: no pruning on y
    assert zed_files < zed_all  # z-order: real pruning
    # ... and x windows still prune too (both dims bounded)
    zx = len(zed.read_where(("x", ">=", 100), ("x", "<", 200)).inputFiles())
    assert zx < zed_all


def test_compact_preserves_clustering(spark, tmp_path):
    zed = make_target(spark, tmp_path / "z", merge_mode="mor")
    for seed in range(3):
        zed.merge(rows_df(spark, 800, ver=seed + 1, seed=0))
    zed.compact(target_records_per_file=100)
    pred = (("y", ">=", 100), ("y", "<", 200))
    pruned = len(zed.read_where(*pred).inputFiles())
    full = len(zed.read().inputFiles())
    assert pruned < full
    got = {tuple(r) for r in zed.read_where(*pred).collect()}
    want = {
        tuple(r)
        for r in zed.read()
        .filter((F.col("y") >= 100) & (F.col("y") < 200))
        .collect()
    }
    assert got == want


def test_interleave_wide_positions_exact(spark):
    # bit positions >= 32 (bits=13, d=3 -> width 39) must land exactly:
    # Java masks INT shift counts to 5 bits, so without the bigint
    # widening these wrap into garbage Morton values (ADVICE r10)
    bits, d = 13, 3
    vals = [(8191, 8191, 8191), (4096, 0, 8191), (1, 5000, 7000)]
    for a, b, c in vals:
        z = interleave_expr([F.lit(a), F.lit(b), F.lit(c)], bits)
        got = spark.range(1).select(z.alias("z")).collect()[0]["z"]
        want = 0
        for i in range(bits):
            want |= ((a >> i) & 1) << (i * d)
            want |= ((b >> i) & 1) << (i * d + 1)
            want |= ((c >> i) & 1) << (i * d + 2)
        assert got == want, (a, b, c)
        assert want.bit_length() <= 63


def test_zorder_width_past_bigint_rejected(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0, 3.0, 4.0, 5.0)], "a double, b double, c double, d double, e double"
    )
    # 7 bits * 5 cols = 35 fits; 16 bits * 5 cols = 80 must raise
    with pytest.raises(ValueError, match="exceeds 63"):
        cluster_boundaries(df, ("a", "b", "c", "d", "e"), bits=16)
    with pytest.raises(ValueError, match="exceeds 63"):
        interleave_expr([F.lit(0)] * 5, 16)
    # boundary case 63 itself is accepted (21 * 3)
    interleave_expr([F.lit(0)] * 3, 21)


def test_shiftright_widened_for_high_bits_single_dim(spark):
    # review find (r11): the RIGHT shift must widen too — d=1 allows
    # bits up to 63, and an int-typed code with b >= 32 would mask the
    # shift count to 5 bits (shiftright(x, 35) == shiftright(x, 3))
    val = (1 << 40) | 1
    z = interleave_expr([F.lit(val).cast("bigint")], 48)
    got = spark.range(1).select(z.alias("z")).collect()[0]["z"]
    assert got == val  # d=1 interleave of 48 bits is the identity
    # int-typed input widens internally the same way
    z2 = interleave_expr([F.lit(3)], 40)
    got2 = spark.range(1).select(z2.alias("z")).collect()[0]["z"]
    assert got2 == 3

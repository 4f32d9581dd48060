"""Table-format probe + real-format merge targets (operators/table_format.py).

The sandbox ships no Iceberg/Delta JARs (probe result recorded in SCALE.md),
so the functional merge tests are skipif-gated on the probe; what ALWAYS runs
is the contract: probe shape, fail-loud construction, factory fallback, and
MERGE-statement semantics parity at the SQL-text level.
"""

import pytest

from arcane_stream_parquet_spark.operators.merge import ParquetMergeTarget
from arcane_stream_parquet_spark.operators.table_format import (
    DeltaMergeTarget,
    IcebergMergeTarget,
    TableFormatUnavailable,
    make_merge_target,
    probe_table_formats,
)


@pytest.fixture(scope="module")
def probe(spark):
    return probe_table_formats(spark)


def test_probe_shape_and_consistency(spark, probe):
    assert set(probe) == {"iceberg", "delta", "classes"}
    assert isinstance(probe["iceberg"], bool) and isinstance(probe["delta"], bool)
    # the per-format bool is exactly the AND of its marker classes
    iceberg_markers = [c for c in probe["classes"] if "iceberg" in c]
    delta_markers = [c for c in probe["classes"] if "delta" in c.lower()]
    assert probe["iceberg"] == all(probe["classes"][c] for c in iceberg_markers)
    assert probe["delta"] == all(probe["classes"][c] for c in delta_markers)


def test_probe_is_negative_for_absent_class(spark):
    from arcane_stream_parquet_spark.operators.table_format import _jvm_has_class

    assert _jvm_has_class(spark, "java.lang.String")
    assert not _jvm_has_class(spark, "org.example.DoesNotExist")


def test_unavailable_format_raises_at_construction(spark, probe, tmp_path):
    if probe["iceberg"] and probe["delta"]:
        pytest.skip("both runtimes present — unavailable path untestable")
    cls = DeltaMergeTarget if not probe["delta"] else IcebergMergeTarget
    with pytest.raises(TableFormatUnavailable, match="runtime not on the JVM"):
        cls(spark=spark, table="cat.db.t", path=str(tmp_path))


def test_factory_auto_falls_back_to_parquet(spark, probe, tmp_path):
    if probe["iceberg"] or probe["delta"]:
        pytest.skip("a real format is present; fallback path not taken")
    t = make_merge_target(
        spark, str(tmp_path / "t"), table="cat.db.t", table_format="auto",
        num_buckets=4,
    )
    assert isinstance(t, ParquetMergeTarget)
    assert t.num_buckets == 4


def test_factory_explicit_parquet_and_unknown(spark, tmp_path):
    t = make_merge_target(spark, str(tmp_path / "t"), table_format="parquet")
    assert isinstance(t, ParquetMergeTarget)
    with pytest.raises(ValueError, match="unknown table_format"):
        make_merge_target(spark, str(tmp_path / "t"), table_format="hudi")
    with pytest.raises(ValueError, match="catalog-qualified"):
        make_merge_target(spark, str(tmp_path / "t"), table_format="delta")


def _mk_rows(spark, rows):
    return spark.createDataFrame(rows, "arcane_merge_key string, version bigint, v string")


# ---------------------------------------------------------------------------
# Golden-SQL pinning (r4 VERDICT task 1): every statement each real-format
# target can emit is rendered via render_only construction and asserted
# against exact pinned text.  These run in EVERY environment — syntax or
# semantics bugs in the probe-gated SQL can no longer hide behind the skip.
# ---------------------------------------------------------------------------

from pyspark.sql.types import (  # noqa: E402
    IntegerType, LongType, StringType, StructField, StructType,
)

_SCHEMA = StructType([
    StructField("arcane_merge_key", StringType()),
    StructField("createdon", LongType()),
    StructField("col0", LongType()),
])


def _iceberg(spark, **kw):
    defaults = dict(
        spark=spark, table="cat.db.events", path="s3a://wh/events",
        key_col="arcane_merge_key", version_col="createdon",
        num_buckets=16, render_only=True,
    )
    defaults.update(kw)
    return IcebergMergeTarget(**defaults)


def _delta(spark, **kw):
    defaults = dict(
        spark=spark, table="cat.db.events", path="s3a://wh/events",
        key_col="arcane_merge_key", version_col="createdon",
        render_only=True, )
    defaults.update(kw)
    return DeltaMergeTarget(**defaults)


def test_golden_iceberg_create(spark):
    t = _iceberg(spark)
    assert t.render_create(_SCHEMA) == (
        "CREATE TABLE `cat`.`db`.`events` "
        "(`arcane_merge_key` string, `createdon` bigint, `col0` bigint) "
        "USING iceberg "
        "PARTITIONED BY (bucket(16, `arcane_merge_key`)) "
        "LOCATION 's3a://wh/events/table' "
        "TBLPROPERTIES ('format-version'='2', "
        "'write.merge.mode'='merge-on-read')"
    )


def test_golden_iceberg_create_all_knobs(spark):
    """maxRowsPerFile VALUE must reach the writer (bytes = rows × estimate,
    r4 bug #1b) and bloom columns map per-column."""
    t = _iceberg(
        spark, max_records_per_file=100_000, estimated_row_size_bytes=512,
        bloom_filter_cols=("arcane_merge_key",),
    )
    assert t.render_create(_SCHEMA) == (
        "CREATE TABLE `cat`.`db`.`events` "
        "(`arcane_merge_key` string, `createdon` bigint, `col0` bigint) "
        "USING iceberg "
        "PARTITIONED BY (bucket(16, `arcane_merge_key`)) "
        "LOCATION 's3a://wh/events/table' "
        "TBLPROPERTIES ('format-version'='2', "
        "'write.merge.mode'='merge-on-read', "
        "'write.target-file-size-bytes'='51200000', "
        "'write.parquet.bloom-filter-enabled.column.arcane_merge_key'='true')"
    )


def test_golden_iceberg_sort_order_is_ddl_not_property(spark):
    """sortedBy (docs/crd.md:229-232) must be WRITE ORDERED BY DDL — a
    `sort-order` TBLPROPERTY is stored-and-ignored by Iceberg (r4 bug #1a)."""
    t = _iceberg(spark, sorted_by=("createdon ASC NULLS LAST", "col0 DESC"))
    assert "sort-order" not in t.render_create(_SCHEMA)
    assert t.render_post_create() == [
        "ALTER TABLE `cat`.`db`.`events` WRITE ORDERED BY "
        "createdon ASC NULLS LAST, col0 DESC"
    ]
    # no sort order -> no ALTER issued
    assert _iceberg(spark).render_post_create() == []


def test_golden_merge_statement_both_formats(spark):
    expected = (
        "MERGE INTO `cat`.`db`.`events` t USING __asp_merge_source s "
        "ON t.`arcane_merge_key` = s.`arcane_merge_key` "
        "WHEN MATCHED AND s.`createdon` >= t.`createdon` THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert _iceberg(spark).render_merge() == expected
    assert _delta(spark).render_merge() == expected


def test_golden_iceberg_maintenance(spark):
    assert _iceberg(spark).render_maintenance() == {
        "optimize": (
            "CALL `cat`.system.rewrite_data_files(table => 'cat.db.events')"
        ),
        "expire_snapshots": (
            "CALL `cat`.system.expire_snapshots(table => 'cat.db.events')"
        ),
        "remove_orphan_files": (
            "CALL `cat`.system.remove_orphan_files(table => 'cat.db.events')"
        ),
        "analyze": (
            "CALL `cat`.system.compute_table_stats(table => 'cat.db.events')"
        ),
    }


def test_golden_delta_create_and_maintenance(spark):
    t = _delta(spark)
    assert t.render_create(_SCHEMA) == (
        "CREATE TABLE `cat`.`db`.`events` "
        "(`arcane_merge_key` string, `createdon` bigint, `col0` bigint) "
        "USING delta  "
        "LOCATION 's3a://wh/events/table' "
        "TBLPROPERTIES ('delta.autoOptimize.autoCompact'='true', "
        "'delta.enableTypeWidening'='true')"
    )
    assert t.render_post_create() == []
    assert t.render_maintenance() == {
        "optimize": "OPTIMIZE `cat`.`db`.`events` ZORDER BY (`arcane_merge_key`)",
        "vacuum": "VACUUM `cat`.`db`.`events`",
    }


def test_golden_identifier_quoting(spark):
    """Backtick-quoting survives hostile identifiers in every renderer."""
    t = _iceberg(spark, table="cat.db.we`ird", key_col="k`ey")
    assert "`we``ird`" in t.render_merge()
    assert "ON t.`k``ey` = s.`k``ey`" in t.render_merge()


def test_delta_write_limits_sets_and_restores_conf(spark):
    """maxRowsPerFile flows to Delta via spark.sql.files.maxRecordsPerFile,
    scoped to the write and restored afterwards."""
    key = "spark.sql.files.maxRecordsPerFile"
    t = _delta(spark, max_records_per_file=12345)
    before = spark.conf.get(key, None)
    with t._write_limits():
        assert spark.conf.get(key) == "12345"
    assert spark.conf.get(key, None) == before
    # Iceberg must NOT touch the conf (its writer ignores it; bytes
    # property carries the knob instead)
    ti = _iceberg(spark, max_records_per_file=12345)
    with ti._write_limits():
        assert spark.conf.get(key, None) == before


def test_render_only_never_downgrades(spark, probe):
    """render_only defers the probe, it does not skip the contract: a
    normal construction still fails loudly when the runtime is absent."""
    if probe["iceberg"]:
        pytest.skip("iceberg present; unavailable path untestable")
    with pytest.raises(TableFormatUnavailable):
        IcebergMergeTarget(spark=spark, table="c.d.t", path="/tmp/x")


@pytest.mark.parametrize("fmt_cls", [IcebergMergeTarget, DeltaMergeTarget])
def test_real_format_merge_latest_wins(spark, probe, tmp_path, fmt_cls):
    """Full merge contract against the REAL format — runs only where the
    runtime JARs + catalog configs are present (never in this sandbox)."""
    fmt = fmt_cls.FORMAT
    if not probe[fmt]:
        pytest.skip(f"{fmt} runtime absent (probe)")
    t = fmt_cls(
        spark=spark, table=f"spark_catalog.default.asp_test_{fmt}",
        path=str(tmp_path), key_col="arcane_merge_key", version_col="version",
        num_buckets=4,
    )
    t.merge(_mk_rows(spark, [("a", 1, "x"), ("b", 1, "y")]))
    t.merge(_mk_rows(spark, [("a", 2, "x2"), ("a", 0, "stale"), ("c", 1, "z")]))
    out = {r["arcane_merge_key"]: (r["version"], r["v"]) for r in t.read().collect()}
    assert out == {"a": (2, "x2"), "b": (1, "y"), "c": (1, "z")}
    t.commit_watermark(2)
    assert t.watermark() == 2


def test_merge_statement_semantics_match_parquet_target(spark, tmp_path):
    """The MERGE text the real targets would run, executed as plain SQL
    over temp views, must equal ParquetMergeTarget.merge on the same
    data — proving both paths share one semantics (latest-wins, ``>=``
    so batch wins ties, intra-batch dedup first)."""
    from arcane_stream_parquet_spark.operators.merge import merge_latest_wins
    from arcane_stream_parquet_spark.operators.dedup import latest_by_key

    target = _mk_rows(spark, [("a", 2, "old"), ("b", 1, "keep")])
    batch = _mk_rows(
        spark, [("a", 2, "tie-batch-wins"), ("a", 1, "stale"), ("c", 3, "new")]
    )
    expected = {
        r["arcane_merge_key"]: (r["version"], r["v"])
        for r in merge_latest_wins(
            target, batch, "arcane_merge_key", "version"
        ).collect()
    }
    # replicate the real targets' two steps: dedup batch, then SQL MERGE
    deduped = latest_by_key(batch, ["arcane_merge_key"], "version")
    # emulate MERGE INTO via a full outer join (Spark SQL on temp views
    # has no MERGE without a format runtime) with the exact same
    # matched/not-matched conditions
    t, s = target.alias("t"), deduped.alias("s")
    import pyspark.sql.functions as F

    joined = t.join(s, on="arcane_merge_key", how="full_outer")
    merged = joined.select(
        "arcane_merge_key",
        F.when(
            F.col("s.version").isNotNull()
            & (F.col("t.version").isNull() | (F.col("s.version") >= F.col("t.version"))),
            F.col("s.version"),
        ).otherwise(F.col("t.version")).alias("version"),
        F.when(
            F.col("s.version").isNotNull()
            & (F.col("t.version").isNull() | (F.col("s.version") >= F.col("t.version"))),
            F.col("s.v"),
        ).otherwise(F.col("t.v")).alias("v"),
    )
    got = {r["arcane_merge_key"]: (r["version"], r["v"]) for r in merged.collect()}
    assert got == expected == {
        "a": (2, "tie-batch-wins"), "b": (1, "keep"), "c": (3, "new")
    }


def test_golden_schema_migration_ddl(spark):
    """SchemaMigrationProcessor parity: added columns -> ADD COLUMNS,
    legal widenings -> ALTER COLUMN TYPE, illegal -> raise, unified ->
    raise — the same promotion matrix as ParquetMergeTarget (one
    contract, two executors)."""
    target = StructType([
        StructField("arcane_merge_key", StringType()),
        StructField("createdon", LongType()),
        StructField("x", IntegerType()),
    ])
    batch = StructType([
        StructField("arcane_merge_key", StringType()),
        StructField("createdon", LongType()),
        StructField("x", LongType()),          # widen int -> long
        StructField("note", StringType()),     # new column
    ])
    t = _iceberg(spark)
    assert t.render_schema_migration(target, batch) == [
        "ALTER TABLE `cat`.`db`.`events` ADD COLUMNS (`note` string)",
        "ALTER TABLE `cat`.`db`.`events` ALTER COLUMN `x` TYPE bigint",
    ]
    # no drift -> no DDL; batch-narrower-than-target -> no DDL either
    assert t.render_schema_migration(target, target) == []
    narrower = StructType(target.fields[:2])
    assert t.render_schema_migration(target, narrower) == []
    # target already wide: batch int into long target needs no ALTER
    wide_target = StructType([
        StructField("arcane_merge_key", StringType()),
        StructField("createdon", LongType()),
        StructField("x", LongType()),
    ])
    assert t.render_schema_migration(wide_target, target) == []
    # illegal promotion raises
    bad = StructType([
        StructField("arcane_merge_key", StringType()),
        StructField("createdon", LongType()),
        StructField("x", StringType()),
    ])
    with pytest.raises(ValueError, match="illegal schema evolution"):
        t.render_schema_migration(target, bad)
    # unified forbids drift
    tu = _iceberg(spark, unified_schema=True)
    with pytest.raises(ValueError, match="unified_schema"):
        tu.render_schema_migration(target, batch)


def test_golden_schema_migration_delta_same_contract(spark):
    target = StructType([StructField("k", StringType())])
    batch = StructType([
        StructField("k", StringType()), StructField("v2", LongType()),
    ])
    assert _delta(spark).render_schema_migration(target, batch) == [
        "ALTER TABLE `cat`.`db`.`events` ADD COLUMNS (`v2` bigint)"
    ]


@pytest.mark.parametrize("fmt_cls", [IcebergMergeTarget, DeltaMergeTarget])
def test_real_format_watermark_is_the_metadata_log_protocol(
    spark, tmp_path, fmt_cls
):
    """The catalog targets keep their stream watermark in the same
    create-only log as ParquetMergeTarget: ``watermark-<20 digits>.json``,
    monotonic, superseded files pruned, negative values refused.  Needs
    no format runtime (render-only construction)."""
    from arcane_stream_parquet_spark.operators.manifest import (
        MetaLog,
        watermark_name,
    )

    t = fmt_cls(
        spark=spark, table="cat.db.events", path=str(tmp_path), render_only=True
    )
    assert t.watermark() is None
    for v in (2, 7, 5):
        t.commit_watermark(v)
    assert t.watermark() == 7
    log = MetaLog(t._fio, t.path)
    assert t._fio.list_names(log.dir) == [watermark_name(7)]
    with pytest.raises(ValueError, match="non-negative"):
        t.commit_watermark(-1)


@pytest.mark.parametrize("fmt_cls", [IcebergMergeTarget, DeltaMergeTarget])
def test_stream_runner_drives_real_format_maintenance(
    spark, tmp_path, monkeypatch, fmt_cls
):
    """``StreamRunner`` makes the same maintenance calls on any target
    ``make_merge_target`` returns: the adaptive poll after an ordinary
    batch (a no-op on a real format, whose engine sizes its own files)
    and ``compact`` + ``vacuum(orphan_grace_seconds=)`` every N batches,
    which run the format's native statements.  No format runtime here:
    ``merge`` is stubbed and ``spark.sql`` is recorded, not run."""
    from arcane_stream_parquet_spark.streaming.runner import StreamRunner

    t = fmt_cls(
        spark=spark, table="cat.db.events", path=str(tmp_path / "t"),
        version_col="version", render_only=True,
    )
    merged = []
    monkeypatch.setattr(t, "merge", merged.append)
    runner = StreamRunner(
        source=None, target=t, checkpoint_dir=str(tmp_path / "ckpt"),
        maintenance_every_n_batches=2,
    )
    batch = _mk_rows(spark, [("k1", 3, "a")])
    stmts = []
    empty = spark.range(0)
    monkeypatch.setattr(spark, "sql", lambda q: stmts.append(q) or empty)
    runner._merge_batch(batch, 0)  # adaptive branch
    assert stmts == []
    runner._merge_batch(batch, 1)  # counter branch
    m = t.render_maintenance()
    native = {
        IcebergMergeTarget: ("optimize", "expire_snapshots", "remove_orphan_files"),
        DeltaMergeTarget: ("optimize", "vacuum"),
    }[fmt_cls]
    assert stmts == [m[k] for k in native]
    assert len(merged) == 2 and t.watermark() == 3

"""End-to-end streaming tests reproducing the reference's integration
golden outcomes (IntegrationTests.scala:164-203, see SURVEY.md §5):

1. backfill/first drain: N files × M rows with K distinct keys → target
   holds exactly K rows; watermark == max blob createdOn.
2. idempotent steady state: re-running with no new files changes nothing.
3. incremental: a new file with a newer version upserts its keys only.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import DateTimeException
from pyspark.sql import functions as F

from arcane_stream_parquet_spark.functions.selection import FieldSelectionRule
from arcane_stream_parquet_spark.operators import manifest as manifest_log
from arcane_stream_parquet_spark.operators import merge as merge_module
from arcane_stream_parquet_spark.operators.merge import ParquetMergeTarget
from arcane_stream_parquet_spark.sources.blob import BlobParquetSource, _cutoff_micros
from arcane_stream_parquet_spark.streaming.runner import StreamRunner, run_backfill

N_FILES = 10
ROWS_PER_FILE = 100
N_KEYS = 25  # keys drawn from a small pool → upsert collapses the stream


def write_fixture_file(dirpath: str, index: int, rng: random.Random, mtime_s: int) -> None:
    """One blob in the reference fixture's shape (wide10, FIXTURES.md F1):
    alternating int/string columns, col0 = primary key from a small pool."""
    table = pa.table(
        {
            "col0": pa.array([rng.randrange(N_KEYS) for _ in range(ROWS_PER_FILE)], pa.int64()),
            "col1": pa.array([f"s{rng.randrange(1000)}" for _ in range(ROWS_PER_FILE)]),
            "col2": pa.array([rng.randrange(100) for _ in range(ROWS_PER_FILE)], pa.int64()),
        }
    )
    path = os.path.join(dirpath, f"part-{index:04d}.parquet")
    pq.write_table(table, path)
    os.utime(path, (mtime_s, mtime_s))  # distinct createdOn per blob


@pytest.fixture()
def fixture_dir(tmp_path):
    src = tmp_path / "landing"
    src.mkdir()
    rng = random.Random(42)
    base = 1_700_000_000
    for i in range(N_FILES):
        write_fixture_file(str(src), i, rng, base + i * 60)
    return src


def make_runner(spark, tmp_path, src_dir) -> StreamRunner:
    source = BlobParquetSource(path=str(src_dir), primary_keys=["col0"])
    target = ParquetMergeTarget(spark=spark, path=str(tmp_path / "tgt"), num_buckets=8)
    return StreamRunner(
        source=source,
        target=target,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=3,  # several micro-batches, not one big one
    )


def test_stream_golden_upsert_and_watermark(spark, tmp_path, fixture_dir):
    runner = make_runner(spark, tmp_path, fixture_dir)
    runner.run_available_now(spark)

    out = runner.target.read()
    assert out.count() == N_KEYS  # 1000 rows / 25 keys → 25 rows
    assert out.select(F.countDistinct("arcane_merge_key")).collect()[0][0] == N_KEYS
    # every surviving row carries the latest version of its key
    expected_wm = (1_700_000_000 + (N_FILES - 1) * 60) * 1_000_000  # µs
    assert runner.target.watermark() == expected_wm
    # target schema = source cols + system cols
    assert set(out.columns) == {"col0", "col1", "col2", "createdon", "arcane_merge_key"}


def test_stream_idempotent_rerun(spark, tmp_path, fixture_dir):
    runner = make_runner(spark, tmp_path, fixture_dir)
    runner.run_available_now(spark)
    before = sorted(map(tuple, runner.target.read().collect()))
    wm_before = runner.target.watermark()

    runner.run_available_now(spark)  # no new files ⇒ no change
    assert sorted(map(tuple, runner.target.read().collect())) == before
    assert runner.target.watermark() == wm_before


def test_stream_incremental_new_file(spark, tmp_path, fixture_dir):
    runner = make_runner(spark, tmp_path, fixture_dir)
    runner.run_available_now(spark)

    # a new blob with a newer version updates exactly its keys
    rng = random.Random(7)
    newer = 1_700_000_000 + N_FILES * 60 + 60
    table = pa.table(
        {
            "col0": pa.array([0, 1], pa.int64()),
            "col1": pa.array(["NEW0", "NEW1"]),
            "col2": pa.array([777, 778], pa.int64()),
        }
    )
    path = os.path.join(str(fixture_dir), "part-new.parquet")
    pq.write_table(table, path)
    os.utime(path, (newer, newer))

    runner.run_available_now(spark)
    out = runner.target.read()
    assert out.count() == N_KEYS
    updated = {r["col0"]: r["col1"] for r in out.filter(F.col("col0").isin([0, 1])).collect()}
    assert updated == {0: "NEW0", 1: "NEW1"}
    assert runner.target.watermark() == newer * 1_000_000


def test_backfill_overwrite_and_merge(spark, tmp_path, fixture_dir):
    source = BlobParquetSource(path=str(fixture_dir), primary_keys=["col0"])
    target = ParquetMergeTarget(spark=spark, path=str(tmp_path / "tgt2"), num_buckets=8)

    run_backfill(spark, source, target, behavior="Overwrite")
    assert target.read().count() == N_KEYS

    run_backfill(spark, source, target, behavior="Merge")  # idempotent
    assert target.read().count() == N_KEYS
    expected_wm = (1_700_000_000 + (N_FILES - 1) * 60) * 1_000_000
    assert target.watermark() == expected_wm


def test_backfill_modified_after_cutoff(spark, tmp_path, fixture_dir):
    """backfillStartDate semantics (P3): only blobs ≥ cutoff are read."""
    cutoff_epoch = 1_700_000_000 + 5 * 60 - 1
    import datetime as dt

    iso = dt.datetime.fromtimestamp(cutoff_epoch, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S"
    )
    source = BlobParquetSource(
        path=str(fixture_dir), primary_keys=["col0"], modified_after=iso
    )
    df = source.read_batch(spark)
    # 5 of 10 files survive the cutoff
    assert df.select("createdon").distinct().count() == 5


def test_stream_and_backfill_read_naive_cutoff_in_session_zone(
    spark, tmp_path, fixture_dir, monkeypatch
):
    """A cutoff without a zone means the same instant to the batch scan
    and to the stream, whatever the driver process's local zone: both
    read it in the session time zone (UTC, session.py)."""
    import datetime as dt
    import time

    base = 1_700_000_000
    # an older blob holding a key no later blob has: only a stream
    # that ignores the cutoff merges it
    old = os.path.join(str(fixture_dir), "part-old.parquet")
    pq.write_table(
        pa.table({"col0": pa.array([999], pa.int64()), "col1": ["old"],
                  "col2": pa.array([0], pa.int64())}),
        old,
    )
    os.utime(old, (base - 60, base - 60))
    cutoff_epoch = base + 5 * 60 - 1  # between blob 5 and blob 6
    iso = dt.datetime.fromtimestamp(cutoff_epoch, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S"
    )
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        source = BlobParquetSource(
            path=str(fixture_dir), primary_keys=["col0"], modified_after=iso
        )
        batch = source.read_batch(spark)
        assert batch.select("createdon").distinct().count() == 5
        batch_keys = {r[0] for r in batch.select("col0").distinct().collect()}
        target = ParquetMergeTarget(
            spark=spark, path=str(tmp_path / "tgt_tz"), num_buckets=4
        )
        StreamRunner(
            source=source, target=target, checkpoint_dir=str(tmp_path / "ckpt_tz")
        ).run_available_now(spark)
        stream_keys = {r[0] for r in target.read().select("col0").collect()}
        assert 999 not in batch_keys
        assert stream_keys == batch_keys
        # an explicit zone is kept; text that is no timestamp raises
        est = dt.timezone(dt.timedelta(hours=-5))
        est_iso = dt.datetime.fromtimestamp(cutoff_epoch, est).isoformat()
        for zoned in (iso + "Z", iso + "+00:00", est_iso):
            assert _cutoff_micros(spark, zoned) == cutoff_epoch * 1_000_000
        with pytest.raises((ValueError, DateTimeException)):
            _cutoff_micros(spark, "not a timestamp")
    finally:
        monkeypatch.undo()
        time.tzset()


def test_stream_field_selection_applied(spark, tmp_path, fixture_dir):
    source = BlobParquetSource(
        path=str(fixture_dir),
        primary_keys=["col0"],
        field_selection=FieldSelectionRule(mode="include", fields=frozenset({"col0"})),
    )
    target = ParquetMergeTarget(spark=spark, path=str(tmp_path / "tgt3"), num_buckets=4)
    runner = StreamRunner(source=source, target=target, checkpoint_dir=str(tmp_path / "c3"))
    runner.run_available_now(spark)
    # projection keeps essentials (createdon, arcane_merge_key) + col0
    assert set(target.read().columns) == {"col0", "createdon", "arcane_merge_key"}


def test_maintenance_gated_every_n_batches(spark, tmp_path, fixture_dir):
    """ST8: with maintenance_every_n_batches=2 and maxFilesPerTrigger=3
    (→ 4 micro-batches over 10 files), compaction+vacuum must run and
    leave contents identical to a maintenance-free run."""
    source = BlobParquetSource(path=str(fixture_dir), primary_keys=["col0"])
    target = ParquetMergeTarget(
        spark=spark,
        path=str(tmp_path / "tgt_m"),
        num_buckets=4,
        max_records_per_file=10,  # force fragmented buckets
    )
    runner = StreamRunner(
        source=source,
        target=target,
        checkpoint_dir=str(tmp_path / "ckpt_m"),
        max_files_per_trigger=3,
        maintenance_every_n_batches=2,
    )
    runner.run_available_now(spark)

    # maintenance ran: no orphaned version dirs remain
    import os

    data_root = tmp_path / "tgt_m" / "data"
    manifest = target._manifest()
    live = {
        target._dirname_of(f) for f in target._files_of_manifest(manifest)
    }
    on_disk = set(os.listdir(data_root))
    assert on_disk == live, "vacuum should have removed superseded versions"

    # golden outcome unchanged (same as the no-maintenance runner)
    assert target.read().count() == N_KEYS


def test_stream_mor_e2e_matches_cow_with_adaptive_maintenance(
    spark, tmp_path, fixture_dir, monkeypatch
):
    """r7 VERDICT items 1+3: the FULL pipeline (readStream → foreachBatch
    merge → watermark) in merge-on-read mode, multi-batch, with BOTH
    maintenance paths exercised mid-stream — the counter-gated full
    compact() and the metric-driven compact_minor() — must land on the
    exact rows and watermark of the copy-on-write run (the reference's
    golden-outcome shape, IntegrationTests.scala:165-203)."""

    def run(mode: str, **kw) -> ParquetMergeTarget:
        source = BlobParquetSource(path=str(fixture_dir), primary_keys=["col0"])
        target = ParquetMergeTarget(
            spark=spark,
            path=str(tmp_path / f"tgt_{mode}"),
            num_buckets=4,
            max_records_per_file=10,  # fragmented commits
            merge_mode=mode,
        )
        StreamRunner(
            source=source,
            target=target,
            checkpoint_dir=str(tmp_path / f"ckpt_{mode}"),
            max_files_per_trigger=2,  # 5 micro-batches over 10 files
            **kw,
        ).run_available_now(spark)
        return target

    cow = run("cow")
    # the adaptive minor pass fires mid-stream too
    monkeypatch.setattr(merge_module, "_MAINT_DELETE_FILES", 2)
    monkeypatch.setattr(merge_module, "_MAINT_SMALL_FILES", 8)
    monkeypatch.setattr(manifest_log, "SMALL_FILE_BYTES", 1 << 20)
    mor = run(
        "mor", maintenance_every_n_batches=3  # full compact fires mid-stream
    )
    assert sorted(map(tuple, cow.read().collect())) == sorted(
        map(tuple, mor.read().collect())
    )
    assert cow.watermark() == mor.watermark()
    assert mor.read().count() == N_KEYS
    # the adaptive trigger actually ran: without it, batches 4-5 (after
    # the batch-3 full compact) would each leave a pending delete file
    # and batch 2's fragments would persist; minor maintenance keeps
    # the pending set consolidated
    m = mor.maintenance_metrics()
    assert m["delete_file_count"] <= 1
    assert m["file_count"] <= 8  # ≤ ~1-2 per bucket, not 5 commits' worth


def test_maintenance_zero_disables_all(spark, tmp_path, fixture_dir, monkeypatch):
    """maintenance_every_n_batches=0 is a FULL opt-out (r8 ADVICE): the
    adaptive gate must not run either, even with thresholds that would
    trivially fire — existing deployments that disabled maintenance
    must never see a surprise compact/vacuum."""
    import unittest.mock as mock

    source = BlobParquetSource(path=str(fixture_dir), primary_keys=["col0"])
    target = ParquetMergeTarget(
        spark=spark,
        path=str(tmp_path / "tgt_z"),
        num_buckets=4,
        max_records_per_file=10,
        merge_mode="mor",  # accumulates delete files → real pressure
    )
    runner = StreamRunner(
        source=source,
        target=target,
        checkpoint_dir=str(tmp_path / "ckpt_z"),
        max_files_per_trigger=2,
        maintenance_every_n_batches=0,
    )
    # thresholds that would fire on the first poll
    monkeypatch.setattr(merge_module, "_MAINT_DELETE_FILES", 1)
    monkeypatch.setattr(merge_module, "_MAINT_SMALL_FILES", 1)
    monkeypatch.setattr(manifest_log, "SMALL_FILE_BYTES", 1 << 30)
    with (
        mock.patch.object(
            ParquetMergeTarget, "run_adaptive_maintenance"
        ) as adaptive,
        mock.patch.object(ParquetMergeTarget, "compact") as compact,
        mock.patch.object(ParquetMergeTarget, "compact_minor") as minor,
        mock.patch.object(ParquetMergeTarget, "vacuum") as vacuum,
    ):
        runner.run_available_now(spark)
    assert not adaptive.called and not compact.called
    assert not minor.called and not vacuum.called
    assert target.read().count() == N_KEYS  # the stream itself still ran

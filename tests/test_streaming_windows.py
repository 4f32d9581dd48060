"""Streaming faces of the event-time operators: windowed aggregation
with watermark (late-data handling, ST3/ST4) and watermark-bounded
streaming dedup.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from arcane_stream_parquet_spark.operators.windows import streaming_windowed_counts

EVENT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("version", LongType()),
    ]
)

_BASE_US = 1_700_000_000_000_000  # epoch µs, hour-aligned enough


def _write_events(dirpath, name, rows):
    """rows: (user_id, offset_minutes, value, version)"""
    table = pa.table(
        {
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [_BASE_US + r[1] * 60_000_000 for r in rows],
                pa.timestamp("us", tz="UTC"),
            ),
            "value": pa.array([float(r[2]) for r in rows], pa.float64()),
            "version": pa.array([r[3] for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(dirpath, name))


def _drain(query, timeout=120):
    try:
        assert query.awaitTermination(timeout), "stream did not drain"
    finally:
        if query.isActive:
            query.stop()


def test_streaming_window_counts_with_watermark(spark, tmp_path):
    src = tmp_path / "win_src"
    src.mkdir()
    # two files → two micro-batches (maxFilesPerTrigger=1)
    _write_events(str(src), "a.parquet", [(1, 0, 1.0, 1), (1, 10, 1.0, 2), (2, 70, 1.0, 3)])
    _write_events(str(src), "b.parquet", [(2, 80, 1.0, 4), (1, 130, 1.0, 5)])

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = streaming_windowed_counts(
        stream, "ts", "1 hour", watermark_delay="10 minutes"
    )
    sink = tmp_path / "win_sink"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(tmp_path / "win_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    # append mode emits only windows the watermark has closed: hours 0
    # and 1 closed by the ts=130min event; hour 2 still open → absent.
    got = {
        r["window_start_us"]: r["n_events"]
        for r in spark.read.parquet(str(sink)).collect()
    }
    hour_us = 3_600_000_000
    h0 = (_BASE_US // hour_us) * hour_us
    assert got.get(h0) == 2
    assert got.get(h0 + hour_us) == 2
    assert h0 + 2 * hour_us not in got  # un-finalized window not emitted


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: dropDuplicatesWithinWatermark keeps one
    row per key among duplicates arriving within the watermark delay —
    the streaming face of the exact-dedup rung (state bounded by the
    watermark, unlike unbounded dropDuplicates)."""
    src = tmp_path / "dd_src"
    src.mkdir()
    _write_events(str(src), "a.parquet", [(1, 0, 1.0, 1), (1, 1, 1.0, 1), (2, 2, 1.0, 2)])
    _write_events(str(src), "b.parquet", [(1, 3, 1.0, 1), (3, 4, 1.0, 3)])

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["version"]
    )
    sink = tmp_path / "dd_sink"
    q = (
        deduped.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    rows = spark.read.parquet(str(sink)).collect()
    # versions 1 (x3 across both batches), 2, 3 → exactly one row each
    assert sorted(r["version"] for r in rows) == [1, 2, 3]

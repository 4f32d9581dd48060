"""Streaming + backfill pipeline assembly (reference E1/E2 entry points,
SURVEY.md §3).

The reference's run loop: scan new blobs → enrich (normalize names,
merge key, createdon) → field selection → batch → stage → MERGE →
watermark → dispose staging (main.scala:85-133). Spark collapses this
to::

    source.read_stream(...)            # scan + enrich (BlobParquetSource)
      .writeStream.foreachBatch(merge) # stage+merge per micro-batch
      .option("checkpointLocation", …) # exactly-once file tracking (ST2)
      .trigger(...)                    # change-capture cadence (ST1/A3)

The micro-batch DataFrame IS the staging table (SURVEY.md §1.1): it is
"dropped" for free when the batch ends (ST9). Replay safety matches the
reference's argument: a crash between merge and checkpoint replays the
batch, and the latest-wins MERGE is idempotent per (key, version).

Backfill (E2) is the same transforms as one batch job through
:func:`run_backfill` with ``Overwrite | Merge`` completion behavior
(reference backfillBehavior). The reference's shards are Spark
partitions (SURVEY.md ST10), so there is no separate progress store: a
rerun after a crash replays the whole job, and the latest-wins MERGE
makes that idempotent (ST2).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from arcane_stream_parquet_spark.operators.merge import ParquetMergeTarget
from arcane_stream_parquet_spark.operators.watermark import watermark_value
from arcane_stream_parquet_spark.sources.blob import BlobParquetSource
from arcane_stream_parquet_spark.streaming.retry import (
    QueryRetryPolicy,
    run_with_retry,
)


@dataclass
class StreamRunner:
    """Wires one source prefix to one merge target.

    ``change_capture_interval_seconds`` mirrors the reference's poll
    cadence (default 300 s, crd-parquet-stream.yaml:126-134; jitter is
    an accepted deviation — Spark's trigger is fixed-rate).
    ``max_files_per_trigger`` is the throughput-shaper equivalent
    (ST6).
    """

    source: BlobParquetSource
    target: ParquetMergeTarget
    checkpoint_dir: str
    change_capture_interval_seconds: float = 300.0
    max_files_per_trigger: int | None = None
    on_batch: list = field(default_factory=list)  # hooks: fn(batch_id, df)
    # ST8 maintenance cadence (reference TargetMaintenanceProcessor,
    # main.scala:46,117: OPTIMIZE/expire/remove_orphans/ANALYZE every
    # batchThreshold batches, defaults 60/60/60/180,
    # crd-parquet-stream.yaml:235-296): every N batches the runner runs
    # the target's compact() + vacuum() — OPTIMIZE, expire and orphan
    # removal; it runs no ANALYZE/stats step.  The other batches poll
    # the target's adaptive gate (run_adaptive_maintenance, fixed
    # thresholds in operators/merge.py).  0 disables ALL maintenance,
    # the adaptive gate included (full opt-out contract).
    maintenance_every_n_batches: int = 60
    # orphan age guard passed through to every maintenance vacuum
    # (merge.py vacuum(orphan_grace_seconds=...), r13): 0 = the
    # single-writer default (this stream is the table's only writer,
    # the reference's deployment shape — crash leftovers reclaim
    # immediately); set to hours/days when ANOTHER writer (a backfill,
    # a rebucket operator, a second stream) may be mid-commit while
    # this stream's maintenance runs
    vacuum_orphan_grace_seconds: float = 0.0
    # reference S6 queryRetry*: in-process merge retry with backoff +
    # retryable-message matching (streaming/retry.py); default "never"
    retry_policy: QueryRetryPolicy = field(default_factory=QueryRetryPolicy)
    _batches_since_maintenance: int = field(default=0, repr=False)

    def _merge_batch(self, batch: DataFrame, batch_id: int) -> None:
        # Pin the micro-batch once: head-check, merge (bucket listing +
        # version write) and the watermark max each run an action over
        # this plan, and without the pin every one re-reads the source
        # files. Micro-batches are trigger-bounded (files/bytes caps),
        # so executor storage holds them at any corpus scale.
        batch = batch.localCheckpoint(eager=True)
        if not batch.head(1):
            return
        run_with_retry(
            lambda: self.target.merge(batch), self.retry_policy, is_backfill=False
        )
        self.target.commit_watermark(
            watermark_value(batch, self.target.version_col)
        )
        self._batches_since_maintenance += 1
        if self.maintenance_every_n_batches == 0:
            # full opt-out (r8 ADVICE): "0 disables" means NO maintenance
            # at all — counter-gated AND adaptive — so deployments that
            # opted out never see a surprise compact/vacuum. Adaptive-only
            # operation is spelled maintenance_every_n_batches=<huge>.
            pass
        elif self._batches_since_maintenance >= self.maintenance_every_n_batches:
            self._batches_since_maintenance = 0
            self.target.compact()
            self.target.vacuum(
                orphan_grace_seconds=self.vacuum_orphan_grace_seconds
            )
        else:
            # shared convergent gate (merge.py run_adaptive_maintenance):
            # one manifest read when idle; minor pass + one-shot full-
            # compact escalation when read-path pressure crosses a bound
            self.target.run_adaptive_maintenance(
                orphan_grace_seconds=self.vacuum_orphan_grace_seconds
            )
        for hook in self.on_batch:
            hook(batch_id, batch)

    def _writer(self, spark: SparkSession, available_now: bool):
        stream = self.source.read_stream(
            spark,
            max_files_per_trigger=self.max_files_per_trigger,
        )
        writer = (
            stream.writeStream.foreachBatch(self._merge_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            return writer.trigger(availableNow=True)
        return writer.trigger(
            processingTime=f"{self.change_capture_interval_seconds} seconds"
        )

    def run_available_now(self, spark: SparkSession, timeout_sec: float = 600) -> None:
        """Process everything currently in the source, then stop (the
        test-harness trigger, reference E3 TimeLimitLifetimeService)."""
        query = self._writer(spark, available_now=True).start()
        try:
            if not query.awaitTermination(timeout_sec):
                raise TimeoutError(f"stream did not drain in {timeout_sec}s")
        finally:
            if query.isActive:
                query.stop()

    def start(self, spark: SparkSession) -> StreamingQuery:
        """Continuous change-capture mode (reference E1)."""
        return self._writer(spark, available_now=False).start()


def run_backfill(
    spark: SparkSession,
    source: BlobParquetSource,
    target: ParquetMergeTarget,
    behavior: str = "Merge",
    retry_policy: QueryRetryPolicy | None = None,
) -> None:
    """Backfill (reference E2): re-read the whole source (from
    ``source.modified_after`` if set) and apply ``Overwrite | Merge``
    (crd-parquet-stream.yaml:113-116). Sharding is Spark partitioning —
    free (SURVEY.md ST10). ``retry_policy`` applies with
    ``is_backfill=True`` (the ``backfillOnly`` mode's domain)."""
    if behavior not in ("Merge", "Overwrite"):
        raise ValueError(f"behavior must be Merge|Overwrite, got {behavior!r}")
    policy = retry_policy or QueryRetryPolicy()
    df = source.read_batch(spark)
    if behavior == "Overwrite":
        run_with_retry(lambda: target.overwrite(df), policy, is_backfill=True)
    else:
        run_with_retry(lambda: target.merge(df), policy, is_backfill=True)
    target.commit_watermark(watermark_value(df, target.version_col))


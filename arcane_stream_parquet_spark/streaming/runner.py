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

Backfill (E2) is the same transforms as one batch job with
``Overwrite | Merge`` completion behavior (reference backfillBehavior).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from arcane_stream_parquet_spark.fsio import HadoopFileIO, fs_join

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


# ---------------------------------------------------------------------------
# Sharded, resumable backfill (reference ST10: BlobSourceShardFactory →
# ShardStagingProcessor → BackfillCompletionProcessor with
# DefaultBackfillStateManager persisting progress, main.scala:104-111)


def _list_source_files(spark: SparkSession, path: str) -> list[str]:
    """Deterministic (sorted) listing of the source's parquet blobs —
    the shard universe. One recursive Hadoop FS listing, so the same
    call serves local dirs and ``s3a://`` prefixes (reference S1)."""
    files = HadoopFileIO(spark).list_files_recursive(path, suffix=".parquet")
    if not files:
        raise FileNotFoundError(f"no parquet blobs under {path}")
    return files


@dataclass
class BackfillState:
    """Persisted shard progress (reference DefaultBackfillStateManager):
    ``path`` is a directory holding one CREATE-ONLY marker file per
    completed shard (``shard-NNNNN.done``), committed through the
    Hadoop FS layer so the state can live next to an ``s3a://`` target.
    Create-only markers mean there is no read-modify-write anywhere —
    no mutable-file crash window, and concurrent shard completions
    could not lose each other's progress. ``spark`` defaults to the
    active session."""

    path: str
    spark: SparkSession | None = None

    @property
    def _fio(self) -> HadoopFileIO:
        spark = self.spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("BackfillState needs an active SparkSession")
        return HadoopFileIO(spark)

    def load(self) -> dict:
        names = self._fio.list_names(self.path)
        done = sorted(
            int(n[len("shard-") : -len(".done")])
            for n in names
            if n.startswith("shard-") and n.endswith(".done")
        )
        return {"done_shards": done}

    def save_universe(self, files: list[str], num_shards: int) -> None:
        """Pin the shard universe on FIRST contact (create-only): the
        done-markers index into round-robin shards of THIS list with
        THIS shard count, so a resume must never re-derive either —
        a blob landing mid-backfill (or a changed num_shards) would
        shift assignments and silently route unmerged files into
        already-done shard indices."""
        try:
            self._fio.create_text(
                fs_join(self.path, "universe.json"),
                json.dumps({"files": files, "num_shards": int(num_shards)}),
            )
        except FileExistsError:
            pass  # resume: the persisted universe is authoritative

    def load_universe(self) -> dict | None:
        try:
            return json.loads(
                self._fio.read_text(fs_join(self.path, "universe.json"))
            )
        except FileNotFoundError:
            return None

    def mark_done(self, shard_idx: int) -> None:
        try:
            self._fio.create_text(
                fs_join(self.path, f"shard-{shard_idx:05d}.done"), "{}"
            )
        except FileExistsError:
            pass  # replay after a crash between merge and marker: done is done

    def clear(self) -> None:
        self._fio.delete(self.path, recursive=True)


def run_backfill_sharded(
    spark: SparkSession,
    source: BlobParquetSource,
    target: ParquetMergeTarget,
    state_path: str,
    behavior: str = "Merge",
    num_shards: int = 8,
    retry_policy: QueryRetryPolicy | None = None,
) -> None:
    """Backfill in resumable shards: the blob set splits round-robin
    into ``num_shards`` deterministic shards; each shard is one merge
    commit, recorded in ``state_path`` after it lands. A killed backfill
    rerun with the same state file skips completed shards.

    The shard UNIVERSE (file list + shard count) is pinned in the
    state dir at first contact and is authoritative on resume (r13):
    blobs that land mid-backfill are not part of this run — a fresh
    listing on resume would re-shuffle round-robin assignments and
    silently route unmerged original files into already-done shard
    indices — and the completion watermark is computed over the
    pinned universe only, so it can never leap past rows this
    backfill did not merge.

    Replay safety: a crash AFTER a shard's merge but BEFORE its state
    write re-merges that shard — idempotent, because the latest-wins
    MERGE is a no-op for already-present (key, version) pairs (same
    argument as the reference's watermark crash window, SURVEY.md ST2).

    ``Overwrite`` behavior stages shards into a side target (the
    reference keeps staging tables for resumability during backfill,
    docs/crd.md:131-141) and atomically swaps the real target only at
    completion; ``Merge`` merges shards into the target directly.
    """
    if behavior not in ("Merge", "Overwrite"):
        raise ValueError(f"behavior must be Merge|Overwrite, got {behavior!r}")

    state = BackfillState(state_path, spark)
    # the persisted universe is authoritative on resume (see
    # save_universe): a blob landing between the original listing and
    # a crash-rerun must not re-shuffle shard assignments — it is NOT
    # part of this backfill (the stream picks it up afterwards; the
    # watermark below is computed over the universe, never a fresh
    # listing, so it cannot leap past unmerged late arrivals)
    uni = state.load_universe()
    if uni is None:
        files = _list_source_files(spark, source.path)
        num_shards = min(num_shards, len(files))
        state.save_universe(files, num_shards)
    else:
        files = list(uni["files"])
        num_shards = int(uni["num_shards"])
    shards = [files[i::num_shards] for i in range(num_shards)]
    done = set(state.load()["done_shards"])

    if behavior == "Overwrite":
        staging = ParquetMergeTarget(
            spark=spark,
            path=target.path + "_backfill_staging",
            key_col=target.key_col,
            version_col=target.version_col,
            num_buckets=target.num_buckets,
            max_records_per_file=target.max_records_per_file,
            tiebreakers=target.tiebreakers,
            sorted_by=target.sorted_by,
        )
        sink = staging
    else:
        sink = target

    policy = retry_policy or QueryRetryPolicy()
    for idx, shard_files in enumerate(shards):
        if idx in done:
            continue
        shard_df = source.read_files(spark, shard_files)
        run_with_retry(lambda: sink.merge(shard_df), policy, is_backfill=True)
        state.mark_done(idx)

    # Completion ordering matters for resumability (round-3 ADVICE: the
    # old order deleted staging BEFORE clearing state, so a crash in
    # between bricked the rerun — all shards marked done but staging
    # gone). Now: swap target → watermark → clear state → drop staging.
    # Every crash window reruns idempotently: before clear, the rerun
    # skips done shards and re-runs the (idempotent) overwrite; after
    # clear, the rerun re-merges into whatever staging remains — the
    # latest-wins merge converges to the same snapshot.
    if behavior == "Overwrite":
        target.overwrite(sink.read())

    # watermark over exactly what this backfill merged — the pinned
    # universe — never a fresh full listing, which could include blobs
    # that landed mid-backfill and were NOT merged (an over-high
    # watermark would tell downstream consumers those rows are in)
    full = source.read_files(spark, files)
    target.commit_watermark(watermark_value(full, target.version_col))
    state.clear()

    if behavior == "Overwrite":
        HadoopFileIO(spark).delete(sink.path, recursive=True)


def run_jittered(
    spark: SparkSession,
    runner: StreamRunner,
    cycles: int,
    jitter_variance: float = 0.1,
    jitter_seed: int = 0,
    sleep=None,
) -> list[float]:
    """Jittered change-capture loop (reference ST1:
    changeCaptureJitterVariance/Seed, crd-parquet-stream.yaml:122-134 —
    SURVEY.md lists jitter as the one accepted trigger deviation; this
    closes it): each cycle drains the source (availableNow), then
    sleeps interval·(1 + U(-v, +v)) drawn from a SEEDED generator —
    deterministic schedule, replayable in tests. Returns the actual
    sleep durations. De-synchronizes many streams sharing one store,
    exactly why the reference jitters its polls."""
    import random as _random
    import time as _time

    rng = _random.Random(jitter_seed)
    sleep = sleep if sleep is not None else _time.sleep
    slept: list[float] = []
    for _ in range(cycles):
        runner.run_available_now(spark)
        delay = runner.change_capture_interval_seconds * (
            1.0 + rng.uniform(-jitter_variance, jitter_variance)
        )
        slept.append(delay)
        sleep(delay)
    return slept

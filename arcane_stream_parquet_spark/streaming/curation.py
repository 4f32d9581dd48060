"""Streaming LLM-data curation pipeline — the engine's own pieces
composed into the production ingest shape:

    blob docs stream
      → quality gate          (operators/text.quality_score)
      → incremental near-dup  (operators/dedup_index.LshDedupIndex:
        probe vs the already-accepted corpus, NEVER a corpus rescan)
      → accepted docs MERGE   (operators/merge.ParquetMergeTarget)
      → per-doc audit verdict MERGE (accepted/rejected + reason)

This is the streaming face of the batch ``curation_funnel`` /
``dedup_clusters`` queries: the same operators, driven by Structured
Streaming micro-batches with the same exactly-once arguments as
StreamRunner (checkpointed file tracking; every commit is an
idempotent latest-wins merge, so a replayed batch converges — the
index's replay contract is documented in LshDedupIndex.add_batch).

Scale shape per batch: quality gate is a codegen projection; the index
probe is an equi-join of the batch's band rows against the persisted
band table; merges touch only the buckets the batch's keys hash into.
Corpus size never enters a scan.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arcane_stream_parquet_spark.operators.dedup_index import LshDedupIndex
from arcane_stream_parquet_spark.operators.merge import ParquetMergeTarget
from arcane_stream_parquet_spark.operators.text import quality_score

DOC_SCHEMA = "doc_id BIGINT, text STRING"


@dataclass
class StreamingCurationPipeline:
    """Wires one landing prefix of (doc_id, text) parquet blobs to a
    curated-corpus target plus an audit target (one verdict row per
    seen doc: kept | rejected:quality | rejected:near_dup(of, jaccard))."""

    spark: SparkSession
    source_path: str
    work_path: str  # index + targets root
    checkpoint_dir: str
    min_quality: float = 0.5
    min_jaccard: float = 0.5
    # bucket count for corpus/audit/index targets: sized to the stream's
    # steady-state corpus, not the batch (512+ in production; small
    # harnesses shrink it — at tiny scale per-file overhead dominates,
    # 64 buckets × tables × batches of near-empty parquet files).
    num_buckets: int = 64
    corpus: ParquetMergeTarget = field(init=False)
    audit: ParquetMergeTarget = field(init=False)
    index: LshDedupIndex = field(init=False)

    def __post_init__(self) -> None:
        from arcane_stream_parquet_spark.fsio import fs_join

        self.index = LshDedupIndex(
            spark=self.spark,
            path=fs_join(self.work_path, "dedup_index"),
            min_jaccard=self.min_jaccard,
            num_buckets=self.num_buckets,
        )
        self.corpus = ParquetMergeTarget(
            spark=self.spark,
            path=fs_join(self.work_path, "corpus"),
            key_col="doc_key",
            version_col="ingest_seq",
            num_buckets=self.num_buckets,
        )
        self.audit = ParquetMergeTarget(
            spark=self.spark,
            path=fs_join(self.work_path, "audit"),
            key_col="doc_key",
            version_col="ingest_seq",
            num_buckets=self.num_buckets,
        )

    # -- one micro-batch -----------------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        # one scoring pass per batch (audit + kept both read it; without
        # the pin the quality projection re-runs per downstream action)
        scored = quality_score(batch, min_score=self.min_quality).localCheckpoint(
            eager=True
        )
        kept = scored.filter(F.col("quality_keep")).select("doc_id", "text")
        # near-dup probe + index commit happens only for quality-kept
        # docs (junk must not pollute the accepted-corpus index)
        verdicts = self.index.add_batch(kept, ingest_seq=batch_id)

        audit_rows = (
            scored.select("doc_id", "quality_score", "quality_keep")
            .join(verdicts, "doc_id", "left")
            .select(
                F.col("doc_id").cast("string").alias("doc_key"),
                F.lit(int(batch_id)).cast("long").alias("ingest_seq"),
                F.col("quality_score"),
                F.when(~F.col("quality_keep"), F.lit("rejected:quality"))
                .when(F.col("dup_of").isNotNull(), F.lit("rejected:near_dup"))
                .otherwise(F.lit("kept"))
                .alias("status"),
                F.col("dup_of"),
                F.col("jaccard"),
            )
        )
        accepted = (
            kept.join(verdicts.filter(F.col("dup_of").isNull()), "doc_id")
            .select(
                F.col("doc_id").cast("string").alias("doc_key"),
                F.lit(int(batch_id)).cast("long").alias("ingest_seq"),
                F.col("doc_id"),
                F.col("text"),
            )
        )
        self.corpus.merge(accepted)
        self.audit.merge(audit_rows)
        # the shared convergent maintenance gate (merge.py
        # run_adaptive_maintenance — same implementation and thresholds
        # as the stream runner's, r8 review find: no divergent second
        # copy): a long-running curation stream appends corpus/audit
        # fragments every micro-batch, and the gate's minor pass keeps
        # them bounded
        for target in (self.corpus, self.audit):
            target.run_adaptive_maintenance()

    # -- stream assembly -----------------------------------------------------

    def run_available_now(
        self, timeout_sec: float = 600, max_files_per_trigger: int | None = None
    ) -> None:
        """Drain everything currently in the landing prefix, then stop
        (the test-harness trigger; continuous mode is the same writer
        with a processingTime trigger, as in StreamRunner).

        ``max_files_per_trigger`` caps files per micro-batch —
        availableNow honors source rate limits, so N landing files
        become ceil(N/cap) ordered batches (mtime order), exercising
        the incremental index exactly as a long-running stream would."""
        reader = self.spark.readStream.schema(DOC_SCHEMA)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(self.source_path)
        query = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not query.awaitTermination(timeout_sec):
                raise TimeoutError(f"stream did not drain in {timeout_sec}s")
        finally:
            if query.isActive:
                query.stop()

"""Parquet blob source: batch + streaming scans with system-column
enrichment (reference: S1–S3, SURVEY.md §2.1).

The reference lists blobs under a prefix, filters by blob ``createdOn``
vs the watermark, downloads + decodes, then normalizes names and appends
``arcane_merge_key``/``createdon`` (pipeline paragraph, SURVEY.md §0).
Spark gives the listing/change-detection/decode natively:

- batch: ``spark.read.parquet(path)`` (+ ``modifiedAfter`` cutoff, the
  backfill-start-date semantics of P3);
- streaming: ``spark.readStream.parquet(path)`` — the file-source log IS
  the watermark (exactly-once new-file processing, ST2);
- per-file ``createdOn`` comes from the hidden ``_metadata`` column — no
  extra S3 HEADs, works identically at 100 TB because it's carried by
  the scan itself.

S3 specifics (endpoints, path-style, retries — reference S1) are Hadoop
``fs.s3a.*`` confs, not code.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from arcane_stream_parquet_spark.functions.keys import (
    MERGE_KEY_COLUMN,
    VERSION_COLUMN,
    merge_key_column,
)
from arcane_stream_parquet_spark.functions.names import normalize_column_names
from arcane_stream_parquet_spark.functions.selection import (
    FieldSelectionRule,
    select_fields,
)
from arcane_stream_parquet_spark.session import configure_session


@dataclass(frozen=True)
class BlobParquetSource:
    """One configured source prefix (reference ``spec.source``).

    ``primary_keys`` drive the merge key; ``field_selection`` is applied
    after enrichment (so essential fields exist); ``modified_after`` is
    the ISO-8601 backfill start cutoff (reference backfillStartDate). A
    cutoff without a zone is read in the session time zone, by both the
    batch and the streaming scan.
    """

    path: str
    primary_keys: Sequence[str]
    field_selection: FieldSelectionRule = field(default_factory=FieldSelectionRule)
    modified_after: str | None = None

    def _enrich(self, df: DataFrame) -> DataFrame:
        """normalize names → createdon (file mtime, µs) → merge key → select."""
        version: Column = F.unix_micros(F.col("_metadata.file_modification_time"))
        df = df.withColumn(VERSION_COLUMN, version)
        df = normalize_column_names(df)
        df = df.withColumn(MERGE_KEY_COLUMN, merge_key_column(list(self.primary_keys)))
        return select_fields(df, self.field_selection)

    def read_batch(self, spark: SparkSession) -> DataFrame:
        """Backfill-style full scan (reference E2)."""
        configure_session(spark)
        reader = spark.read
        if self.modified_after:
            reader = reader.option("modifiedAfter", self.modified_after)
        return self._enrich(reader.parquet(self.path))

    def read_files(self, spark: SparkSession, files: Sequence[str]) -> DataFrame:
        """Read an explicit blob subset with the same enrichment as the
        full scans (no ``modified_after`` cutoff)."""
        configure_session(spark)
        return self._enrich(spark.read.parquet(*files))

    def sniff_schema(self, spark: SparkSession) -> StructType:
        """Infer the source schema from existing files (reference default:
        'from a random file in the source path')."""
        configure_session(spark)
        return spark.read.parquet(self.path).schema

    def read_stream(
        self,
        spark: SparkSession,
        max_files_per_trigger: int | None = None,
    ) -> DataFrame:
        """Change-capture scan (reference E1). The file-source checkpoint
        provides the new-file watermark; the per-trigger file cap is
        the throughput-shaper equivalent (reference ST6)."""
        configure_session(spark)
        reader = spark.readStream.schema(self.sniff_schema(spark))
        # NOTE: `modifiedAfter` is a batch-only reader option (file
        # stream sources reject it); the streaming cutoff is applied as
        # a row filter on the version column below — the file-source
        # checkpoint already prevents re-reads, so the filter only
        # gates first-contact old files (reference P3).
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        out = self._enrich(reader.parquet(self.path))
        if self.modified_after:
            # strictly-after, matching the batch path's `modifiedAfter`
            # reader option (which excludes files whose mtime equals the
            # cutoff) — both faces agree on the boundary
            cutoff_us = _cutoff_micros(spark, self.modified_after)
            out = out.filter(F.col(VERSION_COLUMN) > F.lit(cutoff_us))
        return out


def _cutoff_micros(spark: SparkSession, text: str) -> int:
    """``text`` as epoch microseconds, parsed the way the batch
    reader's ``modifiedAfter`` parses it: Spark's string-to-timestamp
    cast, so a value without a zone is read in the session time zone
    and one with ``Z`` or an offset keeps its own. Evaluated on the
    driver (a constant query, no job); unparseable text raises."""
    row = spark.sql(
        "SELECT unix_micros(CAST(:t AS TIMESTAMP))", args={"t": text}
    ).first()
    if row[0] is None:
        raise ValueError(f"unparseable modified_after timestamp: {text!r}")
    return int(row[0])

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
``fs.s3a.*`` confs, not code; ``extra_read_options`` passes through
anything path-scheme-specific.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field
from datetime import datetime

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


def schema_from_parquet_bytes(raw: bytes) -> StructType:
    """Decode a ``sourceSchema`` override: an (empty) parquet file whose
    schema is authoritative (reference docs/crd.md:66-68). PyArrow reads
    the footer; Spark converts the Arrow schema."""
    import io

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(pq.read_schema(io.BytesIO(raw)))


@dataclass(frozen=True)
class BlobParquetSource:
    """One configured source prefix (reference ``spec.source``).

    ``primary_keys`` drive the merge key; ``field_selection`` is applied
    after enrichment (so essential fields exist); ``modified_after`` is
    the ISO-8601 backfill start cutoff (reference backfillStartDate).
    """

    path: str
    primary_keys: Sequence[str]
    field_selection: FieldSelectionRule = field(default_factory=FieldSelectionRule)
    schema: StructType | None = None
    modified_after: str | None = None
    extra_read_options: dict[str, str] = field(default_factory=dict)
    # blob format: parquet (the reference's only format) | csv | json —
    # Spark's DataSource framework makes the other text formats free;
    # csv/json REQUIRE an explicit schema (no parquet footer to sniff;
    # sniffing would mistype and inference isn't allowed for streams).
    format: str = "parquet"

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
        reader = spark.read.options(**self.extra_read_options)
        if self.schema is not None:
            reader = reader.schema(self.schema)
        elif self.format != "parquet":
            raise ValueError(f"{self.format} sources require an explicit schema")
        if self.modified_after:
            reader = reader.option("modifiedAfter", self.modified_after)
        return self._enrich(reader.format(self.format).load(self.path))

    def read_files(self, spark: SparkSession, files: Sequence[str]) -> DataFrame:
        """Read an explicit blob subset with the same enrichment as the
        full scans — the shard read path (reference ST10
        ShardStagingProcessor stages one shard's blobs at a time)."""
        configure_session(spark)
        reader = spark.read.options(**self.extra_read_options)
        if self.schema is not None:
            reader = reader.schema(self.schema)
        elif self.format != "parquet":
            raise ValueError(f"{self.format} sources require an explicit schema")
        return self._enrich(reader.format(self.format).load(list(files)))

    def sniff_schema(self, spark: SparkSession) -> StructType:
        """Infer the source schema from existing files (reference default:
        'from a random file in the source path')."""
        configure_session(spark)
        if self.format != "parquet":
            raise ValueError(f"{self.format} sources require an explicit schema")
        return spark.read.options(**self.extra_read_options).parquet(self.path).schema

    def read_stream(
        self,
        spark: SparkSession,
        max_files_per_trigger: int | None = None,
    ) -> DataFrame:
        """Change-capture scan (reference E1). The file-source checkpoint
        provides the new-file watermark; the per-trigger file cap is
        the throughput-shaper equivalent (reference ST6)."""
        configure_session(spark)
        schema = self.schema if self.schema is not None else self.sniff_schema(spark)
        reader = spark.readStream.schema(schema).options(**self.extra_read_options)
        # NOTE: `modifiedAfter` is a batch-only reader option (file
        # stream sources reject it); the streaming cutoff is applied as
        # a row filter on the version column in _enrich_stream below —
        # the file-source checkpoint already prevents re-reads, so the
        # filter only gates first-contact old files (reference P3).
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        out = self._enrich(reader.format(self.format).load(self.path))
        if self.modified_after:
            cutoff_us = int(
                datetime.fromisoformat(
                    self.modified_after.replace("Z", "+00:00")
                ).timestamp()
                * 1_000_000
            )
            # strictly-after, matching the batch path's `modifiedAfter`
            # reader option (which excludes files whose mtime equals the
            # cutoff) — both faces agree on the boundary
            out = out.filter(F.col(VERSION_COLUMN) > F.lit(cutoff_us))
        return out

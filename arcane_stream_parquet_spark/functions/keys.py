"""System columns: ``arcane_merge_key`` and ``createdon``.

Reference semantics (SURVEY.md §2.2 P4/P5):

- ``arcane_merge_key``: deterministic VARCHAR key derived from the
  configured ``primaryKeys`` columns (reference
  crd-parquet-stream.yaml:511-514; appears as VARCHAR col 11 of the
  target in Common.scala:132). We use SHA-256 over the ``||``-joined
  string casts — stable across runs/engines, uniformly distributed (so
  ``bucket(arcane_merge_key, N)`` partitioning is skew-free at 100 TB),
  and reproducible in ANSI SQL (DuckDB ``sha256``) for oracle checks.
- ``createdon``: the row's version = the source blob's creation
  timestamp as BIGINT (Common.scala:134,151-155). At scan time this is
  the file's modification time from Spark's ``_metadata`` column — no
  extra I/O, available on both batch and streaming parquet scans.

NULL handling: ``concat_ws`` skips NULLs (identically in Spark and
DuckDB), so (1, NULL) and (1,) collide — acceptable for a merge key as
long as it is deterministic, and it matches the SQL-oracle behavior.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MERGE_KEY_COLUMN = "arcane_merge_key"
VERSION_COLUMN = "createdon"


def merge_key_column(primary_keys: Sequence[str]) -> Column:
    """SHA-256 hex string over the ``||``-joined primary key columns."""
    if not primary_keys:
        raise ValueError("primary_keys must be non-empty")
    parts = [F.col(c).cast("string") for c in primary_keys]
    return F.sha2(F.concat_ws("||", *parts), 256)


def with_merge_key(
    df: DataFrame,
    primary_keys: Sequence[str],
    key_col: str = MERGE_KEY_COLUMN,
) -> DataFrame:
    """Append the deterministic merge-key column."""
    return df.withColumn(key_col, merge_key_column(primary_keys))


"""Column-level building blocks (pure functions over DataFrames/Columns)."""

from arcane_stream_parquet_spark.functions.names import (
    normalize_name,
    normalize_column_names,
)
from arcane_stream_parquet_spark.functions.keys import (
    merge_key_column,
    with_merge_key,
    MERGE_KEY_COLUMN,
    VERSION_COLUMN,
)
from arcane_stream_parquet_spark.functions.selection import (
    FieldSelectionRule,
    select_fields,
)

__all__ = [
    "normalize_name",
    "normalize_column_names",
    "merge_key_column",
    "with_merge_key",
    "MERGE_KEY_COLUMN",
    "VERSION_COLUMN",
    "FieldSelectionRule",
    "select_fields",
]

"""Loaders for the driver-generated testdata tables (TESTDATA.md).

``load_table(spark, sf_dir, name)`` is the single entry point every
query goes through; it applies the runtime confs (nano-timestamp
handling) so the engine works on a driver-provided SparkSession too.

events.ts is normalized HERE to a canonical epoch-nano BIGINT,
whatever the parquet footer says — the generator has shipped both
TIMESTAMP(NANOS) (Spark reads epoch-nano BIGINT under the legacy
nanos conf) and plain TIMESTAMP µs (Spark reads TIMESTAMP_NTZ).
DuckDB sees a TIMESTAMP either way, so every oracle comparison
happens at epoch micros — Spark ``ts DIV 1000`` vs DuckDB
``epoch_us(ts)`` (see the registry authoring rules in
plans/registry.py). Normalizing at the single load point keeps every
downstream query physical-type-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from arcane_stream_parquet_spark.session import configure_session

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Column pruning / predicate pushdown stay
    available because this is a plain parquet scan (no caching, no
    materialization)."""
    configure_session(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events":
        df = _normalize_event_ts(df)
    return df


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Canonicalize ``events.ts`` to epoch-nano BIGINT (module
    docstring). A pure projection — column pruning and pushdown on the
    other columns are unaffected; the cast folds into the scan's
    whole-stage codegen."""
    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df  # TIMESTAMP(NANOS) parquet under the legacy conf
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        # µs-precision timestamp; session tz is pinned UTC
        # (session.py), so NTZ→TZ cast is identity on the epoch value,
        # matching DuckDB's naive-as-UTC epoch_us().
        return df.withColumn(
            "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
        )
    raise TypeError(f"unsupported events.ts physical type: {dt}")


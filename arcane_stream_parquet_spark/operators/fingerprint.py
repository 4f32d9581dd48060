"""Content fingerprinting + exact deduplication — the first rung of the
dedup ladder (exact → MinHash-LSH → SimHash → embedding-cosine; see
operators/minhash.py, simhash.py, similarity.py).

Beyond-reference operator (the reference dedups only by CDC merge key,
SURVEY.md §2.3 J2); this family dedups by CONTENT, the LLM-curation
workload.

Scale shape: fingerprint is a narrow per-row projection (sha256 inside
codegen); exact dedup is ONE hash shuffle on the fingerprint — the same
cost as the reference's latest-by-key, with the fingerprint playing the
merge-key role. At 100 TB the shuffle carries only (fingerprint, id,
payload) and AQE handles skew (a viral duplicate becomes a hot key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def normalize_text(text_col: str | Column) -> Column:
    """Canonical form for content identity: lowercase, collapse
    whitespace runs to one space, trim. Shared with the DuckDB oracle."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint_column(text_col: str | Column) -> Column:
    """Deterministic 256-bit content fingerprint (hex string) of the
    normalized text. Same construction as the merge key (functions/
    keys.py) — stable across engines, runs, and partitionings."""
    return F.sha2(normalize_text(text_col), 256)


def with_fingerprint(
    df: DataFrame, text_col: str = "text", out_col: str = "fingerprint"
) -> DataFrame:
    return df.withColumn(out_col, fingerprint_column(text_col))


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "min_id",
) -> DataFrame:
    """Keep one canonical row per distinct (normalized) content.

    ``keep='min_id'`` keeps the lowest id (deterministic, replay-safe);
    one window over one fingerprint-hash shuffle — no join, no collect.
    """
    if keep != "min_id":
        raise ValueError(f"unsupported keep policy: {keep!r}")
    fp = with_fingerprint(df, text_col)
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col).asc())
    return (
        fp.withColumn("__asp_rn", F.row_number().over(w))
        .filter(F.col("__asp_rn") == 1)
        .drop("__asp_rn")
    )


def duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Report duplicate clusters: fingerprint → canonical id + member
    count, only for content seen more than once. One shuffle (groupBy
    fingerprint with map-side partial aggregation)."""
    fp = with_fingerprint(df, text_col)
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("dup_count"),
        )
        .filter(F.col("dup_count") > 1)
    )


"""The full curation funnel composes end-to-end at smoke scale — the
pytest twin of scripts/pipeline_probe.py (which measures it at 10x
sf0.1). Guards the COMPOSITION: operators consuming each other's
outputs through renames/joins, monotone survivor counts, and the
lineage-cut boundary keeping the final plan analyzable. Also pins why
the cut is needed: without it the optimized plan grows superlinearly
per join-back stage (the r13 probe's driver-OOM failure mode, in
miniature).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from arcane_stream_parquet_spark.operators.chunking import chunk_documents
from arcane_stream_parquet_spark.operators.clustering import dedup_assignment
from arcane_stream_parquet_spark.operators.fingerprint import fingerprint_column
from arcane_stream_parquet_spark.operators.minhash import near_duplicates
from arcane_stream_parquet_spark.operators.packing import sequence_packing
from arcane_stream_parquet_spark.operators.redaction import redact_pii
from arcane_stream_parquet_spark.operators.sampling import rank_buckets
from arcane_stream_parquet_spark.operators.text import (
    gopher_quality_flags,
    ngram_perplexity,
    quality_score,
    remove_duplicate_spans,
)
from tests.conftest import SF_ORACLE


def test_funnel_composes(spark):
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    n_raw = docs.count()

    # soft score AND the Gopher hard gates compose on one scan; the
    # synthetic docs are short, so gate only on the rules length can't
    # dominate (word-count/mean-word-len would empty the corpus here).
    gated = (
        gopher_quality_flags(quality_score(docs).filter(F.col("quality_keep")))
        .filter(
            F.col("gopher_ok_alpha_words")
            & F.col("gopher_ok_dup_lines")
            & F.col("gopher_ok_hash_ratio")
            & F.col("gopher_ok_ellipsis_ratio")
        )
        .select("doc_id", "text", "lang", "source")
        .localCheckpoint(eager=False)
    )
    n_gated = gated.count()
    assert 0 < n_gated <= n_raw

    spans = remove_duplicate_spans(gated, window_tokens=10, min_docs=2)
    cleaned = (
        spans.join(gated.select("doc_id", "lang", "source"), "doc_id")
        .select("doc_id", F.col("clean_text").alias("text"), "lang", "source")
        .filter(F.length("text") > 0)
        .localCheckpoint(eager=False)
    )
    n_clean = cleaned.count()
    assert 0 < n_clean <= n_gated

    from pyspark.sql import Window

    exact = (
        cleaned.withColumn("fp", fingerprint_column("text"))
        .withColumn(
            "rn", F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
        )
        .filter("rn = 1")
        .select("doc_id", "text", "lang", "source")
    )
    pairs = near_duplicates(exact, min_jaccard=0.5)
    canon = exact.join(
        dedup_assignment(exact.select("doc_id"), pairs)
        .filter("is_canonical")
        .select("doc_id"),
        "doc_id",
    ).localCheckpoint(eager=False)
    n_canon = canon.count()
    assert 0 < n_canon <= n_clean

    ppl = ngram_perplexity(canon, canon.filter(F.col("doc_id") % 31 == 0))
    kept = (
        rank_buckets(
            canon.join(ppl.select("doc_id", "perplexity"), "doc_id"),
            score_col="perplexity",
            id_col="doc_id",
            permille=(300, 400),
            group_cols=("lang",),
        )
        .filter(F.col("bucket") != "tail")
        .select("doc_id", "text", "lang", "source")
        .localCheckpoint(eager=False)
    )
    n_kept = kept.count()
    # per-lang tail is ~30% but floors on tiny strata keep MORE rows
    assert 0 < n_kept <= n_canon

    final = redact_pii(kept).select(
        "doc_id", F.col("redacted_text").alias("text"), "source"
    )
    chunks = chunk_documents(final, chunk_tokens=64, overlap_tokens=16)
    assert chunks.count() >= n_kept  # every doc with tokens yields >= 1 chunk

    packed = sequence_packing(
        chunks.join(final.select("doc_id", "source"), "doc_id").withColumn(
            "pack_id", F.concat_ws("#", "doc_id", "chunk_index")
        ),
        id_col="pack_id",
        part_col="source",
        text_col="chunk_text",
        window=2048,
    )
    rows = packed.limit(5).collect()
    assert rows and all(r["n_tokens"] >= 0 for r in rows)


def _join_back_stage(i: int):
    """One funnel-shaped stage: transform the text, then join the
    metadata back from the SAME input — the input plan is referenced
    TWICE, so without a lineage cut the logical tree doubles per stage
    (2^stages — the exact mechanism behind the probe's 1.5 GB plan
    string; every clean→join-meta stage in a real funnel has this
    shape)."""

    def stage(df):
        cleaned = df.select(
            "id", F.concat_ws(" ", "t", F.lit(f"s{i}")).alias("t")
        )
        return cleaned.join(df.select("id", "v"), "id").select(
            "id", "t", (F.col("v") + F.length("t")).alias("v")
        )

    return stage


def _plan_len(df) -> int:
    """Optimized-plan text length: the ANALYZED plan is a per-operator
    DAG print (linear in stages); the blowup lives in the OPTIMIZER'S
    CollapseProject, which inlines each referenced expression into
    every use site — multiplicative across stages. That optimized tree
    is what execution planning and plan printing walk."""
    return len(df._jdf.queryExecution().optimizedPlan().toString())


def test_plan_growth_is_superlinear_without_cut(spark):
    base = spark.range(10).select(
        F.col("id"), F.lit("seed").alias("t"), F.lit(0).cast("long").alias("v")
    )
    sizes = []
    df = base
    for i in range(8):
        df = _join_back_stage(i)(df)
        sizes.append(_plan_len(df))
    # each stage multiplies the plan text, it does not add to it
    growth = [b / a for a, b in zip(sizes, sizes[1:])]
    assert min(growth[2:]) > 1.5, sizes

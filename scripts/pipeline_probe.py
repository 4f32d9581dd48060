"""End-to-end curation-pipeline probe: the full funnel, composed, at
~10x the sf0.1 document count with heavy (40%-ish) cross-document
duplication — the corpus shape a web crawl actually has.

The driver rows prove each operator alone; this probe proves the
COMPOSITION: every stage consumes the previous stage's output (cleaned
text flows through renames, survivor sets through semi-joins), each
stage is materialized once (persist + count) so the reported wall is
that stage's own cost, and the per-stage row/token counts document the
funnel's selectivity. Stage list = the production curation order:

  ingest → lang+quality gate → boilerplate-line removal →
  cross-doc span dedup → exact fingerprint dedup →
  MinHash near-dup clustering (keep canonicals) →
  LM perplexity + head/middle rank_buckets (drop tail) →
  PII redaction → chunking → sequence packing

Usage: python scripts/pipeline_probe.py [sf_dir] [replicas]
(default /root/testdata/sf0.1 10 → ~50k docs in, chunks out)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from arcane_stream_parquet_spark import build_session
from arcane_stream_parquet_spark.operators.chunking import chunk_documents
from arcane_stream_parquet_spark.operators.clustering import dedup_assignment
from arcane_stream_parquet_spark.operators.fingerprint import fingerprint_column
from arcane_stream_parquet_spark.operators.minhash import near_duplicates
from arcane_stream_parquet_spark.operators.packing import sequence_packing
from arcane_stream_parquet_spark.operators.redaction import redact_pii
from arcane_stream_parquet_spark.operators.sampling import rank_buckets
from arcane_stream_parquet_spark.operators.text import (
    language_id,
    ngram_perplexity,
    quality_score,
    remove_boilerplate_lines,
    remove_duplicate_spans,
)


def heavy_dup_corpus(spark, sf_dir: str, replicas: int):
    """The dup-gate probe's corpus shape, keeping lang/source metadata:
    each source doc fans out to `replicas` rows; a ~40% prefix stays
    shared (duplicated spans), the tail is salted per-replica."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text", "lang", "source"
    )
    r = spark.range(replicas).select(F.col("id").alias("rep"))
    tk = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = F.size(tk)
    shared = F.slice(tk, 1, (n * 2) / F.lit(5))
    uniq = F.transform(
        F.slice(tk, (n * 2) / F.lit(5) + 1, n),
        lambda t: F.concat(t, F.lit("_r"), F.col("rep")),
    )
    return docs.crossJoin(F.broadcast(r)).select(
        (F.col("doc_id") * replicas + F.col("rep")).alias("doc_id"),
        F.array_join(F.concat(shared, uniq), " ").alias("text"),
        "lang",
        "source",
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicas = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = build_session(app_name="pipeline-probe", cpus=32, shuffle_partitions=32)
    report = []
    prev = None

    lineage = os.environ.get("ASP_PIPELINE_LINEAGE", "cut")

    def stage(name, df, extra=None):
        nonlocal prev
        t0 = time.monotonic()
        if lineage == "cut":
            # Cut the LOGICAL lineage at the stage boundary. persist()
            # alone caches rows but keeps the analyzed plan growing:
            # across ~10 expression-heavy stages Catalyst's toString /
            # analysis expands the shared subtrees multiplicatively —
            # measured: a 1.5 GB plan string OOMs the driver at the
            # packing stage, and per-stage wall inflates 10-40x with
            # ANALYZER time, not execution (SCALE.md r13). Production
            # pipelines get the same cut for free by materializing
            # stages into the merge target; the probe's in-memory
            # equivalent is localCheckpoint.
            df = df.localCheckpoint(eager=True)
            rows = df.count()
        else:  # lineage == "grow": the failure-mode measurement
            df = df.persist()
            rows = df.count()
        wall = time.monotonic() - t0
        if prev is not None and lineage != "cut":
            prev.unpersist()
        prev = df
        rec = {"stage": name, "rows": rows, "wall_s": round(wall, 2)}
        if extra:
            rec.update(extra(df))
        report.append(rec)
        print(json.dumps(rec), flush=True)
        return df

    cur = stage("ingest", heavy_dup_corpus(spark, sf_dir, replicas))

    gated = quality_score(language_id(cur, "text")).filter(F.col("quality_keep"))
    cur = stage(
        "lang_quality_gate",
        gated.select("doc_id", "text", "lang", "source", "lang_pred"),
    )

    boiler = remove_boilerplate_lines(cur, min_docs=replicas * 40)
    cur = stage(
        "boilerplate_lines",
        boiler.join(cur.select("doc_id", "lang", "source"), "doc_id").select(
            "doc_id",
            F.col("clean_text").alias("text"),
            "lang",
            "source",
        ).filter(F.length("text") > 0),
    )

    spans = remove_duplicate_spans(cur, window_tokens=10, min_docs=replicas)
    cur = stage(
        "span_dedup",
        spans.join(cur.select("doc_id", "lang", "source"), "doc_id").select(
            "doc_id",
            F.col("clean_text").alias("text"),
            "lang",
            "source",
        ).filter(F.length("text") > 0),
        extra=lambda df: {
            "tokens": df.agg(
                F.sum(F.size(F.split(F.col("text"), r"\s+")))
            ).collect()[0][0]
        },
    )

    finger = cur.withColumn("fp", fingerprint_column("text"))
    from pyspark.sql import Window

    keep_exact = finger.withColumn(
        "rn", F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
    ).filter(F.col("rn") == 1)
    cur = stage("exact_dedup", keep_exact.select("doc_id", "text", "lang", "source"))

    pairs = near_duplicates(cur, min_jaccard=0.5)
    verdict = dedup_assignment(cur.select("doc_id"), pairs)
    cur = stage(
        "near_dup_clusters",
        cur.join(verdict.filter("is_canonical").select("doc_id"), "doc_id"),
    )

    # LM reference = the deterministic slice the driver row uses.
    ref = cur.filter(F.col("doc_id") % 31 == 0)
    ppl = ngram_perplexity(cur, ref)
    scored = cur.join(ppl.select("doc_id", "perplexity"), "doc_id")
    kept = rank_buckets(
        scored,
        score_col="perplexity",
        id_col="doc_id",
        permille=(300, 400),
        group_cols=("lang",),
    ).filter(F.col("bucket") != "tail")
    cur = stage("perplexity_buckets", kept.select("doc_id", "text", "lang", "source"))

    cur = stage(
        "pii_redaction",
        redact_pii(cur).select(
            "doc_id", F.col("redacted_text").alias("text"), "lang", "source"
        ),
    )

    chunks = chunk_documents(cur, chunk_tokens=64, overlap_tokens=16)
    cur = stage("chunking", chunks.join(
        prev.select("doc_id", "source"), "doc_id"
    ).select("doc_id", "chunk_index", "chunk_text", "chunk_n_tokens", "source"))

    packed = sequence_packing(
        cur.withColumn("pack_id", F.concat_ws("#", "doc_id", "chunk_index")),
        id_col="pack_id",
        part_col="source",
        text_col="chunk_text",
        window=2048,
    )
    cur = stage("sequence_packing", packed)

    total = round(sum(r["wall_s"] for r in report), 2)
    print(json.dumps({"total_wall_s": total, "replicas": replicas, "sf_dir": sf_dir}))
    spark.stop()


if __name__ == "__main__":
    main()

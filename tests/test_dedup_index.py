"""Incremental near-dup index: batches dedup against everything
previously accepted — the streaming-ingest dedup pattern.
"""

from __future__ import annotations

from pyspark.sql import Row

from arcane_stream_parquet_spark.operators.dedup_index import LshDedupIndex

DOC_A = "the quick brown fox jumps over the lazy dog again and again"
DOC_B = "spark engines process parquet files into analytic tables fast"
DOC_C = "completely different third document about streaming merges"


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def test_cross_batch_near_dup_detection(spark, tmp_path):
    idx = LshDedupIndex(spark=spark, path=str(tmp_path / "idx"), num_buckets=4)

    # batch 1: two distinct docs + an in-batch duplicate of the first
    v1 = {
        r["doc_id"]: r
        for r in idx.add_batch(
            _docs(spark, [(1, DOC_A), (2, DOC_B), (3, DOC_A)]), ingest_seq=1
        ).collect()
    }
    assert v1[1]["dup_of"] is None
    assert v1[2]["dup_of"] is None
    assert v1[3]["dup_of"] == 1  # in-batch: lower id wins
    assert v1[3]["jaccard"] == 1.0

    # batch 2: duplicate of batch-1 doc + a new doc
    v2 = {
        r["doc_id"]: r
        for r in idx.add_batch(
            _docs(spark, [(10, DOC_A), (11, DOC_C)]), ingest_seq=2
        ).collect()
    }
    assert v2[10]["dup_of"] == 1  # caught against the PERSISTED index
    assert v2[11]["dup_of"] is None

    # batch 3: duplicate of a batch-2 acceptance — index grew
    v3 = {
        r["doc_id"]: r
        for r in idx.add_batch(_docs(spark, [(20, DOC_C)]), ingest_seq=3).collect()
    }
    assert v3[20]["dup_of"] == 11

    # rejected docs were never indexed: doc 3 and 10 absent
    stored = {r["doc_id"] for r in idx._shingles.read().select("doc_id").collect()}
    assert stored == {1, 2, 11}


def test_replay_idempotent(spark, tmp_path):
    idx = LshDedupIndex(spark=spark, path=str(tmp_path / "idx2"), num_buckets=4)
    idx.add_batch(_docs(spark, [(1, DOC_A)]), ingest_seq=1)
    before = sorted(map(tuple, idx._shingles.read().select("doc_id").collect()))
    # crash-replay of the same batch: the doc self-matches in the index
    # and is reported ACCEPTED (round-3 ADVICE: dup_of = itself would
    # make downstream callers drop the doc on replay), no index bloat
    v = idx.add_batch(_docs(spark, [(1, DOC_A)]), ingest_seq=1).collect()
    assert v[0]["dup_of"] is None  # already present → kept, not flagged
    after = sorted(map(tuple, idx._shingles.read().select("doc_id").collect()))
    assert after == before


def test_replay_self_match_beats_other_matches(spark, tmp_path):
    """Defensive corner of the replay contract: a doc ALREADY in the
    index stays accepted even if some other index doc also matches it —
    rejecting it would leave index entries describing a rejected doc."""
    from pyspark.sql import functions as F

    idx = LshDedupIndex(spark=spark, path=str(tmp_path / "idx3"), num_buckets=4)
    idx.add_batch(_docs(spark, [(5, DOC_A)]), ingest_seq=1)
    # plant a conflicting lower-id near-dup directly in the index (can't
    # arise through add_batch — it would have been rejected — but replay
    # code must still prefer keep)
    sig = idx._signature(_docs(spark, [(2, DOC_A)]))
    from arcane_stream_parquet_spark.operators.minhash import lsh_bands

    bands = (
        lsh_bands(sig, num_hashes=idx.num_hashes, num_bands=idx.num_bands)
        .withColumn(
            "band_doc_key", F.concat_ws("|", F.col("band_key"), F.col("doc_id"))
        )
        .withColumn("ingest_seq", F.lit(0).cast("long"))
    )
    sets = (
        sig.select("doc_id", F.col("__shingles").alias("sh"))
        .withColumn("doc_key", F.col("doc_id").cast("string"))
        .withColumn("ingest_seq", F.lit(0).cast("long"))
    )
    idx._bands.merge(bands)
    idx._shingles.merge(sets)

    v = {r["doc_id"]: r for r in idx.add_batch(_docs(spark, [(5, DOC_A)]), ingest_seq=2).collect()}
    assert v[5]["dup_of"] is None  # self-match wins: already present → kept


def test_verdict_pair_is_consistent(spark, tmp_path):
    """ADVICE r2: (dup_of, jaccard) must describe the SAME prior pair —
    dup_of is the smallest matching id and jaccard is THAT pair's
    jaccard, not the max over all matching pairs."""
    from arcane_stream_parquet_spark.operators.dedup_index import LshDedupIndex

    idx = LshDedupIndex(spark=spark, path=str(tmp_path / "idx"), min_jaccard=0.3, num_buckets=4)
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs1 = spark.createDataFrame(
        [(1, base), (2, base + " extra words appended here to lower overlap ratio")],
        "doc_id long, text string",
    )
    idx.add_batch(docs1, ingest_seq=1)
    # doc 3 matches doc 1 exactly (jaccard 1.0) and doc 2 partially
    docs2 = spark.createDataFrame([(3, base)], "doc_id long, text string")
    v = {r["doc_id"]: r for r in idx.add_batch(docs2, ingest_seq=2).collect()}
    assert v[3]["dup_of"] == 1
    assert v[3]["jaccard"] == 1.0  # the pair (3,1)'s jaccard, by construction

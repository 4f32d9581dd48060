"""Relational + pipeline operators built from DataFrame primitives.

Reference-semantics core (SURVEY.md §2): dedup, watermark, merge.
Beyond-reference families (the LLM-data-pipeline surface): text
analysis, fingerprinting, MinHash/SimHash near-dup, embedding
similarity, multimodal plumbing, sampling, decontamination, windows,
as-of and range joins.
"""

from arcane_stream_parquet_spark.operators.asof import asof_join
from arcane_stream_parquet_spark.operators.contamination import contamination_flags
from arcane_stream_parquet_spark.operators.dedup import latest_by_key
from arcane_stream_parquet_spark.operators.fingerprint import (
    duplicate_groups,
    exact_dedup,
    with_fingerprint,
)
from arcane_stream_parquet_spark.operators.merge import (
    ParquetMergeTarget,
    merge_latest_wins,
)
from arcane_stream_parquet_spark.operators.minhash import (
    candidate_pairs,
    lsh_bands,
    minhash_signature,
    near_duplicates,
)
from arcane_stream_parquet_spark.operators.multimodal import (
    decode_image_features,
    payload_metadata,
    sample_frames,
    with_binary_payload,
)
from arcane_stream_parquet_spark.operators.chunking import chunk_documents
from arcane_stream_parquet_spark.operators.pq import (
    exact_rerank,
    ivfpq_build,
    ivfpq_topk,
    pq_encode,
    pq_topk,
    pq_topk_rerank,
    train_pq_codebooks,
)
from arcane_stream_parquet_spark.operators.rangejoin import interval_join
from arcane_stream_parquet_spark.operators.sampling import (
    rank_buckets,
    stratified_sample,
    train_test_split,
)
from arcane_stream_parquet_spark.operators.simhash import (
    simhash,
    simhash_near_duplicates,
)
from arcane_stream_parquet_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_topk,
    embedding_near_duplicates,
    ivf_assign_two_level,
    ivf_topk,
    semantic_duplicates,
)
from arcane_stream_parquet_spark.operators.text import (
    gopher_quality_flags,
    language_id,
    quality_score,
    text_stats,
)
from arcane_stream_parquet_spark.operators.watermark import compute_watermark
from arcane_stream_parquet_spark.operators.windows import (
    session_counts,
    sliding_counts,
    tumbling_counts,
)

__all__ = [
    "ParquetMergeTarget",
    "ann_lsh_topk",
    "asof_join",
    "candidate_pairs",
    "chunk_documents",
    "exact_rerank",
    "ivfpq_build",
    "ivfpq_topk",
    "pq_encode",
    "pq_topk",
    "pq_topk_rerank",
    "train_pq_codebooks",
    "compute_watermark",
    "contamination_flags",
    "cosine_topk",
    "decode_image_features",
    "duplicate_groups",
    "embedding_near_duplicates",
    "exact_dedup",
    "gopher_quality_flags",
    "interval_join",
    "ivf_assign_two_level",
    "ivf_topk",
    "language_id",
    "latest_by_key",
    "lsh_bands",
    "merge_latest_wins",
    "minhash_signature",
    "near_duplicates",
    "payload_metadata",
    "quality_score",
    "rank_buckets",
    "sample_frames",
    "semantic_duplicates",
    "session_counts",
    "simhash",
    "simhash_near_duplicates",
    "sliding_counts",
    "stratified_sample",
    "text_stats",
    "train_test_split",
    "tumbling_counts",
    "with_binary_payload",
    "with_fingerprint",
]

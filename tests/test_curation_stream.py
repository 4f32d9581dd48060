"""End-to-end streaming curation: quality gate → incremental near-dup
index → curated corpus + audit targets, across MULTIPLE micro-batches —
the streaming face of the batch curation_funnel/dedup_clusters queries.
Near-duplicates of documents accepted in an EARLIER drain must be
rejected without rescanning the corpus."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from arcane_stream_parquet_spark.operators import manifest as manifest_log
from arcane_stream_parquet_spark.operators import merge as merge_module
from arcane_stream_parquet_spark.streaming.curation import (
    StreamingCurationPipeline,
)

GOOD = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the quiet green forest where it finds a warm place to rest"
)
GOOD2 = (
    "many hands make light work when people share the load and help each "
    "other finish the long task before the evening light is gone"
)
JUNK = "@@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( ))))"


def _write_docs(dirpath: str, name: str, rows: list[tuple[int, str]]) -> None:
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows]),
        }
    )
    pq.write_table(table, os.path.join(dirpath, name))


@pytest.fixture()
def pipeline(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    return landing, StreamingCurationPipeline(
        spark=spark,
        source_path=str(landing),
        work_path=str(tmp_path / "work"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        min_jaccard=0.5,
    )


def test_multi_batch_curation(pipeline):
    landing, p = pipeline

    # drain 1: two good docs + junk
    _write_docs(str(landing), "b1.parquet", [(1, GOOD), (2, GOOD2), (3, JUNK)])
    p.run_available_now()

    corpus = {r["doc_id"] for r in p.corpus.read().collect()}
    assert corpus == {1, 2}
    audit = {r["doc_key"]: r["status"] for r in p.audit.read().collect()}
    assert audit == {"1": "kept", "2": "kept", "3": "rejected:quality"}

    # drain 2: a near-dup of doc 1 (one word changed), one new good doc
    near_dup = GOOD.replace("lazy", "sleepy")
    new_doc = (
        "seven silver ships sailed slowly past the southern shore while "
        "gulls circled high above the cold grey waves all afternoon long"
    )
    _write_docs(str(landing), "b2.parquet", [(10, near_dup), (11, new_doc)])
    p.run_available_now()

    corpus = {r["doc_id"] for r in p.corpus.read().collect()}
    assert corpus == {1, 2, 11}, "near-dup of an earlier drain was re-admitted"
    audit = {r["doc_key"]: (r["status"], r["dup_of"]) for r in p.audit.read().collect()}
    assert audit["10"] == ("rejected:near_dup", 1)
    assert audit["11"] == ("kept", None)

    # drain 3: nothing new → no changes (checkpoint skips processed files)
    p.run_available_now()
    assert {r["doc_id"] for r in p.corpus.read().collect()} == {1, 2, 11}


def test_replayed_batch_converges_after_index_commit_crash(pipeline):
    """Round-3 ADVICE (high): crash AFTER LshDedupIndex.add_batch
    committed the index but BEFORE the corpus/audit merges. On replay
    the accepted docs self-match in the index; they must be treated as
    'already present / kept' — merged into the corpus with audit
    status kept — not rejected as near-duplicates of themselves."""
    landing, p = pipeline

    _write_docs(str(landing), "b1.parquet", [(1, GOOD), (2, GOOD2), (3, JUNK)])

    # simulated crash: first attempt dies between the index commit and
    # the corpus merge
    real_merge = p.corpus.merge
    calls = {"n": 0}

    def crashing_merge(df):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash before corpus merge")
        return real_merge(df)

    p.corpus.merge = crashing_merge
    with pytest.raises(Exception):  # surfaced through the stream query
        p.run_available_now()
    assert p.index._shingles.exists()  # index DID commit before the crash
    assert not p.corpus.exists()  # corpus merge was lost

    # replay (fresh checkpoint = the batch is re-delivered, same docs)
    import shutil

    shutil.rmtree(p.checkpoint_dir)
    p.run_available_now()

    corpus = {r["doc_id"] for r in p.corpus.read().collect()}
    assert corpus == {1, 2}, "replayed docs were rejected as dups of themselves"
    audit = {r["doc_key"]: (r["status"], r["dup_of"]) for r in p.audit.read().collect()}
    assert audit == {
        "1": ("kept", None),
        "2": ("kept", None),
        "3": ("rejected:quality", None),
    }


def test_adaptive_minor_maintenance_bounds_fragments(spark, tmp_path, monkeypatch):
    """r8: the curation stream's per-batch corpus/audit appends must not
    accumulate unbounded fragments — with aggressive thresholds the
    metric-driven compact_minor pass keeps the live file count bounded
    while leaving every verdict identical."""
    landing = tmp_path / "landing"
    landing.mkdir()
    # stopword-rich scaffold (passes the quality gate) with unique
    # content words in every shingle (no cross-doc near-dups)
    texts = [
        (i, " ".join(f"the tok{i}x{j} is a word{i}y{j} and" for j in range(12)))
        for i in range(12)
    ]
    for i, (doc_id, text) in enumerate(texts):
        _write_docs(str(landing), f"b{i:02d}.parquet", [(doc_id, text)])

    p = StreamingCurationPipeline(
        spark=spark,
        source_path=str(landing),
        work_path=str(tmp_path / "work"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        num_buckets=8,
    )
    monkeypatch.setattr(merge_module, "_MAINT_SMALL_FILES", 6)  # fire mid-stream
    monkeypatch.setattr(manifest_log, "SMALL_FILE_BYTES", 1 << 20)
    p.run_available_now(max_files_per_trigger=1)  # 12 micro-batches

    kept = {r["doc_id"] for r in p.corpus.read().collect()}
    assert kept == {doc_id for doc_id, _ in texts}
    audit = {r["doc_key"]: r["status"] for r in p.audit.read().collect()}
    assert all(s == "kept" for s in audit.values()) and len(audit) == 12
    # maintenance actually ran and bounded the debris: far fewer live
    # files than the 12-commits-x-per-batch-fragments unmaintained pile
    m = p.corpus.maintenance_metrics()
    assert m["file_count"] <= 12, m

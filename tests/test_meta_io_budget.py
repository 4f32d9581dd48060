"""Metadata IO budget per public operation: each lists the table's
``_asp_meta`` directory once, a merge or an idle maintenance poll
reads the current root manifest once, and a merge probes its next root
at most twice (the commit fence and the create-only check).  On an
object store every LIST, GET and HEAD is a round trip, so these counts
are the steady-state cost of a micro-batch before any data IO."""

from __future__ import annotations

import contextlib
import re

from arcane_stream_parquet_spark.fsio import HadoopFileIO
from arcane_stream_parquet_spark.operators.merge import ParquetMergeTarget

_ROOT = re.compile(r"/_asp_meta/manifest-v\d+\.json$")


def df_of(spark, rows):
    return spark.createDataFrame(
        rows, "arcane_merge_key string, createdon long, payload string"
    )


@contextlib.contextmanager
def meta_calls(monkeypatch):
    """Count ``list_names`` of ``_asp_meta`` and reads and ``exists``
    probes of root manifests made inside the block."""
    seen = {"list": 0, "root_read": 0, "root_exists": 0}
    real_list, real_read = HadoopFileIO.list_names, HadoopFileIO.read_text
    real_exists = HadoopFileIO.exists

    def list_names(self, dir_path):
        if dir_path.rstrip("/").endswith("/_asp_meta"):
            seen["list"] += 1
        return real_list(self, dir_path)

    def read_text(self, path):
        if _ROOT.search(path):
            seen["root_read"] += 1
        return real_read(self, path)

    def exists(self, path):
        if _ROOT.search(path):
            seen["root_exists"] += 1
        return real_exists(self, path)

    with monkeypatch.context() as m:
        m.setattr(HadoopFileIO, "list_names", list_names)
        m.setattr(HadoopFileIO, "read_text", read_text)
        m.setattr(HadoopFileIO, "exists", exists)
        yield seen


def test_one_listing_per_operation(spark, tmp_path, monkeypatch):
    t = ParquetMergeTarget(spark=spark, path=str(tmp_path / "t"), num_buckets=4)
    t.merge(df_of(spark, [(f"k{i:03d}", 1, "a") for i in range(200)]))
    for v in (2, 3):  # warm
        t.merge(df_of(spark, [(f"k{i:03d}", v, "b") for i in range(0, 200, 7)]))
    before = t.snapshot_versions()[-1]

    for mode in ("cow", "mor"):
        batch = df_of(spark, [(f"k{i:03d}", 4, mode) for i in range(0, 200, 11)])
        with meta_calls(monkeypatch) as seen:
            t.merge(batch, mode=mode)
        assert (seen["list"], seen["root_read"]) == (1, 1), mode
        assert seen["root_exists"] <= 2, mode

    with meta_calls(monkeypatch) as seen:
        assert t.run_adaptive_maintenance() == {"ran": False, "escalated": False}
    assert seen == {"list": 1, "root_read": 1, "root_exists": 0}

    with meta_calls(monkeypatch) as seen:
        t.commit_watermark(4)
    assert seen["list"] == 1

    with meta_calls(monkeypatch) as seen:
        changes = t.read_changes(before)
    assert seen["list"] == 1
    assert seen["root_read"] <= t.snapshot_versions()[-1] - before + 1
    assert changes.count() > 0

    assert len(t.snapshot_versions()) >= 5
    with meta_calls(monkeypatch) as seen:
        h = t.history().collect()
    assert seen["list"] == 1 and seen["root_read"] == len(h) >= 5

    with meta_calls(monkeypatch) as seen:
        t.vacuum()
    assert seen["list"] == 1
    assert len(t.snapshot_versions()) == 1

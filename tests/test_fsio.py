"""Hadoop FileSystem metadata layer (fsio.py) — the round-2 verdict's
top storage fix: ParquetMergeTarget metadata must run through
``org.apache.hadoop.fs.FileSystem`` so one code path serves ``file://``,
``hdfs://`` and ``s3a://`` (reference deploys only to object stores,
docs/crd.md:53-54). No S3 exists in this sandbox, so the proof is the
scheme-URI path: everything here runs against explicit ``file://...``
URIs, which exercise the exact same JVM FileSystem API surface.
"""

from __future__ import annotations

import pytest

from arcane_stream_parquet_spark.fsio import HadoopFileIO, fs_join
from arcane_stream_parquet_spark.operators.merge import ParquetMergeTarget


def test_fs_join_is_uri_safe():
    assert fs_join("s3a://bucket/pre/", "a", "b.json") == "s3a://bucket/pre/a/b.json"
    assert fs_join("file:///tmp/x", "y") == "file:///tmp/x/y"
    assert fs_join("/plain/path", "z") == "/plain/path/z"


def test_small_file_round_trip_on_file_uri(spark, tmp_path):
    fio = HadoopFileIO(spark)
    root = f"file://{tmp_path}"
    p = fs_join(root, "meta", "state.json")

    with pytest.raises(FileNotFoundError):
        fio.read_text(p)
    assert not fio.exists(p)

    fio.create_text(p, '{"v": 1}')
    assert fio.exists(p)
    assert fio.read_text(p) == '{"v": 1}'

    # the ONLY write primitive is create-only: committed files are
    # immutable, evolution happens by creating a higher-versioned file
    with pytest.raises(FileExistsError):
        fio.create_text(p, '{"v": 2}')

    q = fs_join(root, "meta", "manifest-v00001.json")
    fio.create_text(q, "m1")
    with pytest.raises(FileExistsError):
        fio.create_text(q, "m2")

    assert fio.list_names(fs_join(root, "meta")) == [
        "manifest-v00001.json",
        "state.json",
    ]
    assert fio.delete(p)
    assert not fio.exists(p)


def test_create_only_crash_states_are_invisible(spark, tmp_path):
    """A crash inside create_text leaves only an orphaned .tmp — which
    listings filter and exists() on the destination misses, so readers
    can never observe a partial commit (the round-3 mutable-file crash
    window is gone with the write_text primitive itself)."""
    fio = HadoopFileIO(spark)
    root = f"file://{tmp_path}"
    committed = fs_join(root, "meta", "manifest-v00001.json")
    fio.create_text(committed, "m1")
    # simulated crash mid-commit of the NEXT version
    fio._write_raw(fs_join(root, "meta", "manifest-v00002.json.tmp"), b"partial")

    assert fio.list_names(fs_join(root, "meta")) == ["manifest-v00001.json"]
    assert not fio.exists(fs_join(root, "meta", "manifest-v00002.json"))
    # the retry commits cleanly over the orphan (tmp is overwritten raw)
    fio.create_text(fs_join(root, "meta", "manifest-v00002.json"), "m2")
    assert fio.read_text(fs_join(root, "meta", "manifest-v00002.json")) == "m2"


def test_create_text_lost_race_classifies_as_file_exists(spark, tmp_path):
    """The r14-soak bug, reproduced deterministically: writer B commits
    the destination BETWEEN writer A's exists() probe and A's rename.
    Hadoop's rename-onto-existing returns false; before the fix that
    surfaced as a bare OSError that no commit site maps to
    ConcurrentWriteError, killing the loser instead of triggering its
    retry. The loser must see FileExistsError, the winner's content
    must be intact, and the loser's tmp must not linger."""
    fio = HadoopFileIO(spark)
    root = f"file://{tmp_path}"
    p = fs_join(root, "meta", "manifest-v00009.json")

    real_exists = fio.exists
    probed = {"n": 0}

    def racy_exists(path):
        if path == p and probed["n"] == 0:
            # A's pre-write probe ran before B committed — then B wins
            probed["n"] += 1
            real_exists(path)  # keep the real call pattern
            fio.create_text(p, "winner")  # B commits inside A's window
            return False
        return real_exists(path)

    object.__setattr__(fio, "exists", racy_exists)
    try:
        with pytest.raises(FileExistsError):
            fio.create_text(p, "loser")
    finally:
        object.__delattr__(fio, "exists")

    assert fio.read_text(p) == "winner"
    # the loser's (unique-named) tmp was cleaned up on classification
    # (os.listdir sees what list_names filters; "." names are checksum
    # side-files the local FS owns)
    import os

    visible = [n for n in os.listdir(tmp_path / "meta") if not n.startswith(".")]
    assert visible == ["manifest-v00009.json"]


def test_move_lost_race_classifies_as_file_exists(spark, tmp_path):
    """Same classification contract on the data-file move primitive."""
    fio = HadoopFileIO(spark)
    root = f"file://{tmp_path}"
    src_a = fs_join(root, "stage", "a.parquet")
    src_b = fs_join(root, "stage", "b.parquet")
    dst = fs_join(root, "landing", "part-0.parquet")
    fio._write_raw(src_a, b"A")
    fio._write_raw(src_b, b"B")

    real_exists = fio.exists
    probed = {"n": 0}

    def racy_exists(path):
        if path == dst and probed["n"] == 0:
            probed["n"] += 1
            fio.move(src_b, dst)  # B wins inside A's window
            return False
        return real_exists(path)

    object.__setattr__(fio, "exists", racy_exists)
    try:
        with pytest.raises(FileExistsError):
            fio.move(src_a, dst)
    finally:
        object.__delattr__(fio, "exists")
    assert fio.read_bytes(dst) == b"B"
    assert fio.exists(src_a)  # the loser's source is untouched


def test_create_text_two_writer_hammer(spark, tmp_path):
    """Two threads hammer the SAME sequence of destinations through one
    JVM FileSystem client — the real interleaving (no mocks). For every
    destination exactly one writer wins, every loss is FileExistsError
    (NEVER a bare OSError — the r14 bug), and each committed file holds
    exactly one writer's full content."""
    import threading

    fio = HadoopFileIO(spark)
    root = f"file://{tmp_path}/meta"
    n_paths = 40
    results: dict[int, list] = {0: [], 1: []}
    barrier = threading.Barrier(2)
    errors: list[BaseException] = []

    def writer(wid: int) -> None:
        try:
            for v in range(n_paths):
                p = fs_join(root, f"manifest-v{v:05d}.json")
                barrier.wait()
                try:
                    fio.create_text(p, f"writer-{wid}-v{v}")
                    results[wid].append((v, "won"))
                except FileExistsError:
                    results[wid].append((v, "lost"))
        except BaseException as e:  # noqa: BLE001 — OSError here IS the bug
            errors.append(e)

    ts = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errors, f"unclassified failure escaped create_text: {errors[:1]}"
    assert len(results[0]) == len(results[1]) == n_paths

    by_version: dict[int, list[int]] = {}
    for wid in (0, 1):
        for v, outcome in results[wid]:
            if outcome == "won":
                by_version.setdefault(v, []).append(wid)
    # exactly one winner per destination, and its content is intact
    assert sorted(by_version) == list(range(n_paths))
    for v, winners in by_version.items():
        assert len(winners) == 1, f"v{v}: double-commit {winners}"
        p = fs_join(root, f"manifest-v{v:05d}.json")
        assert fio.read_text(p) == f"writer-{winners[0]}-v{v}"
    # no tmp orphans from classified losers (os.listdir sees what
    # list_names deliberately filters)
    import os

    leftovers = [n for n in os.listdir(f"{tmp_path}/meta") if n.endswith(".tmp")]
    assert not leftovers, leftovers


def test_list_files_recursive_filters_and_sorts(spark, tmp_path):
    fio = HadoopFileIO(spark)
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "1.parquet").write_bytes(b"x")
    (tmp_path / "a" / "_SUCCESS").write_bytes(b"")
    (tmp_path / "b.parquet").write_bytes(b"y")
    (tmp_path / "c.json").write_bytes(b"z")
    got = fio.list_files_recursive(f"file://{tmp_path}", suffix=".parquet")
    assert [g.rsplit("/", 1)[1] for g in got] == ["1.parquet", "b.parquet"]
    assert all(g.startswith("file:") for g in got)
    assert fio.list_files_recursive(f"file://{tmp_path}/nope") == []


def test_backfill_entirely_on_file_uris(spark, tmp_path):
    """The full E2 path — source scan, overwrite, merge, watermark —
    with EVERY path a scheme URI, proving no local-FS call survives
    anywhere in the backfill stack."""
    import random

    from arcane_stream_parquet_spark.sources.blob import BlobParquetSource
    from arcane_stream_parquet_spark.streaming.runner import run_backfill
    from tests.test_streaming import N_KEYS, write_fixture_file

    landing = tmp_path / "landing"
    landing.mkdir()
    rng = random.Random(7)
    for i in range(6):
        write_fixture_file(str(landing), i, rng, 1_700_000_000 + i * 60)

    source = BlobParquetSource(path=f"file://{landing}", primary_keys=["col0"])
    target = ParquetMergeTarget(
        spark=spark, path=f"file://{tmp_path}/tgt", num_buckets=4
    )
    run_backfill(spark, source, target, behavior="Overwrite")
    assert target.read().count() == N_KEYS
    run_backfill(spark, source, target, behavior="Merge")  # idempotent
    assert target.read().count() == N_KEYS
    assert target.watermark() == (1_700_000_000 + 5 * 60) * 1_000_000


def test_merge_target_full_lifecycle_on_file_uri(spark, tmp_path):
    """The production posture in miniature: every metadata op of
    ParquetMergeTarget (manifest flip, schema, snapshots, compact,
    vacuum, stats, watermark) against a scheme URI path."""
    from pyspark.sql import Row

    t = ParquetMergeTarget(
        spark=spark,
        path=f"file://{tmp_path}/tgt",
        num_buckets=4,
        max_records_per_file=2,
    )

    def batch(version, payloads):
        return spark.createDataFrame(
            [
                Row(arcane_merge_key=k, createdon=version, payload=p)
                for k, p in payloads
            ]
        )

    t.merge(batch(1, [(f"k{i}", "a") for i in range(8)]))
    t.merge(batch(2, [("k0", "b"), ("k1", "b")]))
    rows = {r["arcane_merge_key"]: r["payload"] for r in t.read().collect()}
    assert rows["k0"] == "b" and rows["k7"] == "a" and len(rows) == 8

    # time travel via archived manifests on the URI path
    v1 = {r["arcane_merge_key"]: r["payload"] for r in t.read(at_version=1).collect()}
    assert v1["k0"] == "a"

    # maintenance ops
    t.compact()
    assert {r["arcane_merge_key"] for r in t.read().collect()} == set(rows)
    removed = t.vacuum()
    assert isinstance(removed, list)
    s = t.stats()
    assert s["row_count"] == 8 and s["total_bytes"] > 0
    assert t.stats(with_row_count=False)["row_count"] is None

    # watermark persistence through the same layer
    t.commit_watermark(2)
    t.commit_watermark(1)  # monotonic no-op
    assert t.watermark() == 2


# ---------------------------------------------------------------------------
# r5: data-file staging helpers (move + set_mtime)


def test_move_refuses_existing_destination(spark, tmp_path):
    from arcane_stream_parquet_spark.fsio import HadoopFileIO, fs_join

    fio = HadoopFileIO(spark)
    root = str(tmp_path)
    fio.create_text(fs_join(root, "a.txt"), "A")
    fio.create_text(fs_join(root, "b.txt"), "B")
    import pytest as _pytest

    with _pytest.raises(FileExistsError):
        fio.move(fs_join(root, "a.txt"), fs_join(root, "b.txt"))
    # and a clean move works, preserving content
    fio.move(fs_join(root, "a.txt"), fs_join(root, "c.txt"))
    assert fio.read_text(fs_join(root, "c.txt")) == "A"
    assert not fio.exists(fs_join(root, "a.txt"))


def test_set_mtime_pins_modification_time(spark, tmp_path):
    from arcane_stream_parquet_spark.fsio import HadoopFileIO, fs_join

    fio = HadoopFileIO(spark)
    p = fs_join(str(tmp_path), "f.txt")
    fio.create_text(p, "x")
    fio.set_mtime(p, 1_234_567_890_000)
    jp = fio._jpath(p)
    st = fio._fs(jp).getFileStatus(jp)
    assert int(st.getModificationTime()) == 1_234_567_890_000


def test_create_text_cross_process_hammer(spark, tmp_path):
    """Two SEPARATE JVMs (subprocesses — distinct Hadoop FS clients)
    race create_text on the same destination sequence with no
    coordination (scripts/create_text_hammer.py). Pins the full
    round-15 commit-CAS contract at deployment shape: no unclassified
    error ever escapes, every destination has exactly one winner, and
    the winner's bytes are intact (no cross-content publish, no
    silent overwrite). The winner's own read-back of the committed
    file proves content integrity."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = f"file://{tmp_path}/meta"
    n = 30
    procs = [
        subprocess.Popen(
            [
                sys.executable,
                os.path.join(repo, "scripts", "create_text_hammer.py"),
                root,
                str(wid),
                str(n),
            ],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            cwd=repo,
            env={**os.environ, "PYTHONPATH": repo},
            text=True,
        )
        for wid in (0, 1)
    ]
    reports = []
    for p in procs:
        out, err = p.communicate(timeout=600)
        assert p.returncode == 0, f"worker failed:\n{err[-3000:]}"
        reports.append(json.loads(out.strip().splitlines()[-1]))

    for rep in reports:
        assert rep["errors"] == [], rep["errors"]
        assert len(rep["wins"]) + len(rep["losses"]) == n

    fio = HadoopFileIO(spark)
    winners: dict[int, str] = {}
    for rep in reports:
        for v_str, text in rep["wins"].items():
            v = int(v_str)
            assert v not in winners, f"v{v}: double-commit"
            winners[v] = text
    assert sorted(winners) == list(range(n))
    for v, text in winners.items():
        p = fs_join(root, f"manifest-v{v:05d}.json")
        assert fio.read_text(p) == text, f"v{v}: published wrong bytes"


def test_hardlink_degradation_is_observable(spark, tmp_path, monkeypatch):
    """r15 VERDICT item 5: a mount rejecting link(2) degrades the
    publish to plain rename — the commit still succeeds single-writer,
    but the weaker mode flips HARDLINK_DEGRADED (once per filesystem)
    and warns, so a fleet can refuse multi-writer mode instead of
    silently believing it has the CAS."""
    import warnings

    from arcane_stream_parquet_spark import fsio as fsio_mod

    fio = HadoopFileIO(spark)
    root = f"file://{tmp_path}"
    p = fs_join(root, "meta", "commit.json")

    def no_links(jvm, src, dst):
        raise Exception(
            "java.lang.UnsupportedOperationException: links not supported"
        )

    monkeypatch.setattr(HadoopFileIO, "_create_link", staticmethod(no_links))
    monkeypatch.setattr(fsio_mod, "HARDLINK_DEGRADED", set())
    assert not fio.hardlink_degraded(p)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        fio.create_text(p, '{"v": 1}')
        fio.create_text(fs_join(root, "meta", "second.json"), "x")
    assert fio.read_text(p) == '{"v": 1}'  # commit succeeded
    assert fio.hardlink_degraded(p)  # ...in the observable weaker mode
    degraded_warnings = [
        w for w in caught if "degraded to plain rename" in str(w.message)
    ]
    assert len(degraded_warnings) == 1  # once per filesystem, not per commit
    # create-only still refused sequentially in degraded mode
    with pytest.raises(FileExistsError):
        fio.create_text(p, '{"v": 2}')


def test_generic_fs_exception_eexist_classifies_not_overwrites(
    spark, tmp_path, monkeypatch
):
    """r15 ADVICE: a provider may surface EEXIST as a generic
    FileSystemException (not FileAlreadyExistsException). The commit
    must classify it as the lost race — NOT degrade to rename, which
    would overwrite the rival's committed bytes."""
    from arcane_stream_parquet_spark import fsio as fsio_mod

    fio = HadoopFileIO(spark)
    root = f"file://{tmp_path}"
    p = fs_join(root, "meta", "contended.json")

    def eexist_generic(jvm, src, dst):
        # the rival's commit materializes in the probe→link window;
        # OUR link then fails with the provider's generic EEXIST shape
        with open(dst, "w") as fh:
            fh.write("rival")
        raise Exception(
            f"java.nio.file.FileSystemException: {dst}: File exists"
        )

    monkeypatch.setattr(
        HadoopFileIO, "_create_link", staticmethod(eexist_generic)
    )
    monkeypatch.setattr(fsio_mod, "HARDLINK_DEGRADED", set())
    with pytest.raises(FileExistsError):
        fio.create_text(p, "loser")
    monkeypatch.undo()
    # the key claims: the rival's bytes survive (no degrade-then-rename
    # overwrite) and the flag did NOT flip (a race, not a capability gap)
    assert fio.read_text(p) == "rival"
    assert not fsio_mod.HARDLINK_DEGRADED

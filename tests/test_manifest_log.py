"""The metadata log (``operators/manifest.py``) without a JVM: the name
grammar, shard split / reuse / fold-back / fragmentation bound, summary
parity between inline and sharded roots, and a crash-point matrix over
an in-memory IO that fails at any chosen create or delete."""

from __future__ import annotations

import copy
import json

import pytest

from arcane_stream_parquet_spark.operators import manifest as ml
from arcane_stream_parquet_spark.operators.manifest import (
    ConcurrentWriteError,
    MetaLog,
)

TABLE = "mem://t"


class MemIO:
    """The IO surface the log uses, over a dict; listings filter
    ``.tmp`` staging and dot-files like ``HadoopFileIO.list_names``."""

    def __init__(self, files: dict | None = None):
        self.files = dict(files or {})

    def list_names(self, dir_path: str) -> list[str]:
        prefix = dir_path.rstrip("/") + "/"
        return sorted(
            p[len(prefix) :]
            for p in self.files
            if p.startswith(prefix)
            and "/" not in p[len(prefix) :]
            and not p.endswith(".tmp")
            and not p[len(prefix) :].startswith(".")
        )

    def read_text(self, path: str) -> str:
        if path not in self.files:
            raise FileNotFoundError(path)
        return self.files[path]

    def create_text(self, path: str, text: str) -> None:
        if path in self.files:
            raise FileExistsError(path)
        self.files[path] = text

    def exists(self, path: str) -> bool:
        return path in self.files

    def delete(self, path: str, recursive: bool = False) -> bool:
        return self.files.pop(path, None) is not None


class Crash(Exception):
    pass


class FaultyIO(MemIO):
    """Fails the ``fail_at``-th mutation (create or delete, counted
    from 0); ``None`` never fails.  ``ops`` logs every mutation."""

    def __init__(self, files: dict | None = None, fail_at: int | None = None):
        super().__init__(files)
        self.fail_at = fail_at
        self.ops: list[tuple[str, str]] = []

    def _mutate(self, kind: str, path: str) -> None:
        if self.fail_at == len(self.ops):
            raise Crash(f"{kind} #{self.fail_at}: {path}")
        self.ops.append((kind, path.rsplit("/", 1)[-1]))

    def create_text(self, path: str, text: str) -> None:
        self._mutate("create", path)
        super().create_text(path, text)

    def delete(self, path: str, recursive: bool = False) -> bool:
        self._mutate("delete", path)
        return super().delete(path, recursive)


def entry(b: int, n: str, sz: int = 100, v: int = 1) -> dict:
    return {"v": v, "d": f"v{v:05d}-x", "b": b, "n": n, "sz": sz,
            "mn": "a", "mx": "z", "hn": False, "rc": 1}


def root(version: int, **kw) -> dict:
    return {"version": version, "num_buckets": 8, "buckets": {},
            "schema": None, "deletes": [], "op": "merge-cow", **kw}


def key(files: list[dict]) -> list[tuple]:
    return sorted((f["b"], f["n"]) for f in files)


@pytest.fixture
def shards_of(monkeypatch):
    def set_limit(n: int) -> None:
        monkeypatch.setattr(ml, "SHARD_ENTRIES", n)

    return set_limit


# -- name grammar ------------------------------------------------------------


def test_name_grammar_roundtrip_and_junk_ignored():
    names = [
        ml.root_name(2),
        ml.root_name(10),
        ml.shard_name(2, 0),
        "manifest-v00099-shard-00000-deadbeef.json",  # any shard suffix
        ml.watermark_name(7),
        ml.watermark_name(12),
        ml.marker_name(8, 1),
        # junk the parse must skip
        "tag-gold.json",
        ml.root_name(11) + ".1a2b3c4d5e6f.tmp",
        ".manifest-v00003.json.crc",
        "manifest-vabc.json",
        "manifest-v00004.jsonx",
        "manifest-v²³.json",
        "watermark-v00000000000000000009.json",
        "watermark-.json",
        "README",
    ]
    got = ml.parse_listing(names)
    assert got.roots == (2, 10)
    assert got.shards == (
        "manifest-v00002-shard-00000.json",
        "manifest-v00099-shard-00000-deadbeef.json",
    )
    assert got.watermarks == (7, 12)
    assert got.markers == ("rebucket-to8-u0000001.json",)
    assert ml.parse_listing([]) == ml.Listing()


def test_listing_is_one_list_names_call():
    io = MemIO({f"{TABLE}/_asp_meta/{ml.root_name(1)}": "{}"})
    calls = []
    real = io.list_names
    io.list_names = lambda d: calls.append(d) or real(d)
    log = MetaLog(io, TABLE)
    assert log.listing().roots == (1,)
    assert calls == [f"{TABLE}/_asp_meta"]
    assert MetaLog(MemIO(), TABLE).listing() == ml.Listing()


# -- shards: split, reuse, fold-back, fragmentation bound ----------------------


def test_split_cuts_only_between_buckets(shards_of):
    shards_of(3)
    entries = [entry(b, f"f{b}-{i}") for b, k in ((3, 1), (0, 4), (1, 1), (2, 2))
               for i in range(k)]
    groups = ml.split_shards(entries)
    assert [len(g) for g in groups] == [4, 3, 1]  # bucket 0 is never split
    seen: set[int] = set()
    for g in groups:
        bs = {f["b"] for f in g}
        assert not bs & seen
        seen |= bs
        assert [f["b"] for f in g] == sorted(f["b"] for f in g)
    assert key([f for g in groups for f in g]) == key(entries)


def test_sharded_commit_reuse_and_fold_back(shards_of):
    shards_of(2)
    io = FaultyIO()
    log = MetaLog(io, TABLE)
    v1 = [entry(b, f"f{b}-{i}") for b in range(4) for i in range(2)]
    log.commit(root(1), v1)
    m1 = log.current()
    assert ml.is_sharded(m1) and "files" not in m1
    assert m1["n_files"] == 8 and sum(m1["size_hist"].values()) == 8
    assert [(s["b0"], s["b1"], s["nf"]) for s in m1["file_shards"]] == [
        (0, 0, 2), (1, 1, 2), (2, 2, 2), (3, 3, 2)
    ]
    assert key(log.region(m1)[0]) == key(v1)
    assert set(log.listing().shards) == set(ml.shard_names(m1))

    # a commit touching bucket 1 reads only that shard and reuses the rest
    region, keep = log.region(m1, {1})
    assert key(region) == key([f for f in v1 if f["b"] == 1])
    assert {s["b0"] for s in keep} == {0, 2, 3}
    io.ops.clear()
    log.commit(root(2), region + [entry(1, "new", v=2)], keep)
    m2 = log.current()
    assert set(ml.shard_names(m2)) >= {s["n"] for s in keep}
    created = [n for kind, n in io.ops if kind == "create"]
    assert created == [ml.shard_name(2, 0), ml.root_name(2)]  # kept: not rewritten
    assert m2["n_files"] == 9

    # the table shrinks under the threshold: kept shards fold back inline
    shards_of(20)
    region, keep = log.region(m2, {1})
    log.commit(root(3), region, keep)
    m3 = log.current()
    assert not ml.is_sharded(m3)
    assert key(m3["files"]) == key(log.region(m2)[0])


def test_fragmentation_bound_reshards(shards_of):
    shards_of(1)  # one shard per bucket
    log = MetaLog(MemIO(), TABLE)
    v1 = [entry(b, f"f{b}") for b in range(6)]
    log.commit(root(1), v1)
    m1 = log.current()
    assert len(m1["file_shards"]) == 6
    shards_of(4)
    region, keep = log.region(m1, {5})
    assert len(keep) == 5
    # 5 kept + 1 new shard > 2 x ideal (7 // 4 + 1): the list reshards
    log.commit(root(2), region + [entry(5, "g", v=2)], keep)
    m2 = log.current()
    assert [s["n"] for s in m2["file_shards"]] == [
        ml.shard_name(2, 0), ml.shard_name(2, 1)
    ]
    assert key(log.region(m2)[0]) == key(v1 + [entry(5, "g")])


# -- one summary for both root shapes ----------------------------------------------


def test_summary_parity_inline_vs_sharded(shards_of):
    sizes = [10, 900, 5_000, 70_000, 2 << 20, 9 << 20, 40 << 20]
    files = [
        entry(b, f"f{b}-{i}", sz=sizes[(b * 3 + i) % len(sizes)])
        for b in range(6)
        for i in range(b % 4 + 1)
    ]
    shards_of(1_000)
    inline_log = MetaLog(MemIO(), TABLE)
    inline_log.commit(root(1), files)
    inline = inline_log.current()
    shards_of(3)
    sharded_log = MetaLog(MemIO(), TABLE)
    sharded_log.commit(root(1), files)
    sharded = sharded_log.current()
    assert not ml.is_sharded(inline) and len(sharded["file_shards"]) > 1
    for small in (0, 100, 8 << 10, 1 << 20, 8 << 20, 64 << 20):
        a, b = ml.summary(inline, small), ml.summary(sharded, small)
        for k in ("file_count", "small_file_count", "coalescable_small_files"):
            assert a[k] == b[k], (small, k)
        # the coalescable count is the per-bucket rule on the raw list
        cls = ml.size_class_at(small)
        per_bucket: dict[int, int] = {}
        for f in files:
            if f["sz"].bit_length() <= cls:
                per_bucket[f["b"]] = per_bucket.get(f["b"], 0) + 1
        assert a["coalescable_small_files"] == sum(
            n for n in per_bucket.values() if n >= 2
        )
    exact = sum(f["sz"] for f in files)
    assert ml.summary(inline)["total_bytes"] == exact
    assert ml.summary(sharded)["total_bytes"] is None


# -- crash-point matrix ---------------------------------------------------------


def _sharded_v1(shards_of):
    shards_of(2)
    io = MemIO()
    log = MetaLog(io, TABLE)
    v1 = [entry(b, f"f{b}-{i}") for b in range(4) for i in range(2)]
    log.commit(root(1), v1)
    return io.files, v1


def _commit_v2(log: MetaLog) -> None:
    m1 = log.current()
    region, keep = log.region(m1, {0, 3})
    m = copy.deepcopy(m1)
    m.update(version=2, op="merge-cow")
    log.commit(m, region + [entry(0, "n0", v=2), entry(3, "n3", v=2)], keep)


def _check_v1_current(files: dict, v1: list[dict]) -> None:
    log = MetaLog(MemIO(files), TABLE)
    assert log.listing().roots == (1,)
    cur = log.current()
    assert cur["version"] == 1 and key(log.region(cur)[0]) == key(v1)


def _mutations(files: dict, attempt) -> int:
    io = FaultyIO(files)
    attempt(MetaLog(io, TABLE))
    return len(io.ops)


def test_crash_matrix_sharded_commit(shards_of):
    """Crash at every create or delete of a sharded commit, then at
    every create or delete of its retry (which replaces the orphan
    shards the crash left): the previous root stays current and
    readable each time, and a plain retry converges."""
    base, v1 = _sharded_v1(shards_of)
    want = key(v1 + [entry(0, "n0"), entry(3, "n3")])
    first = _mutations(base, _commit_v2)
    assert first >= 3  # >= 2 shard creates + the root create
    retried_deletes = 0
    for i in range(first):
        io = FaultyIO(base, fail_at=i)
        with pytest.raises(Crash):
            _commit_v2(MetaLog(io, TABLE))
        crashed = dict(io.files)
        _check_v1_current(crashed, v1)
        second = _mutations(crashed, _commit_v2)
        for j in range(second):
            io2 = FaultyIO(crashed, fail_at=j)
            with pytest.raises(Crash):
                _commit_v2(MetaLog(io2, TABLE))
            retried_deletes += any(k == "delete" for k, _ in io2.ops)
            _check_v1_current(io2.files, v1)
            log = MetaLog(MemIO(io2.files), TABLE)
            _commit_v2(log)  # plain retry converges
            cur = log.current()
            assert cur["version"] == 2 and key(log.region(cur)[0]) == want
    assert retried_deletes, "no retry replaced an orphan shard"


def test_existing_root_refused_before_any_shard_write(shards_of):
    base, _v1 = _sharded_v1(shards_of)
    io = FaultyIO(base)
    io.files[f"{TABLE}/_asp_meta/{ml.root_name(2)}"] = json.dumps(root(2, files=[]))
    before = dict(io.files)
    with pytest.raises(ConcurrentWriteError, match="already committed"):
        _commit_v2(MetaLog(io, TABLE))
    assert io.ops == [] and io.files == before


def test_crash_matrix_commit_watermark():
    base = MemIO()
    MetaLog(base, TABLE).commit_watermark(5)
    clean = FaultyIO(base.files)
    MetaLog(clean, TABLE).commit_watermark(9)
    assert [k for k, _ in clean.ops] == ["create", "delete"]
    for i, committed in ((0, 5), (1, 9)):
        io = FaultyIO(base.files, fail_at=i)
        log = MetaLog(io, TABLE)
        with pytest.raises(Crash):
            log.commit_watermark(9)
        assert log.watermark() == committed  # never regresses, never missing
        io.fail_at = None
        log.commit_watermark(9)  # plain retry
        assert log.watermark() == 9
        log.commit_watermark(11)
        assert log.listing().watermarks == (11,)
    with pytest.raises(ValueError, match="non-negative"):
        MetaLog(MemIO(), TABLE).commit_watermark(-1)


def test_current_walks_past_a_vanished_root_and_refuses_old_formats():
    io = MemIO()
    log = MetaLog(io, TABLE)
    log.commit(root(1), [entry(0, "a")])
    listing = ml.Listing(roots=(1, 2))  # v2 listed, then vacuumed
    assert log.current(listing)["version"] == 1
    with pytest.raises(FileNotFoundError):
        MetaLog(MemIO(), TABLE).current()
    old = root(2)  # no file list: an earlier layout
    io.create_text(log.path(ml.root_name(2)), json.dumps(old))
    with pytest.raises(ValueError, match=r"missing: files or file_shards"):
        log.current()

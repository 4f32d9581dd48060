"""The table's metadata log: every file under ``<table>/_asp_meta``.

:class:`~arcane_stream_parquet_spark.operators.merge.ParquetMergeTarget`
and the Iceberg/Delta targets' watermark keep all their evolving state
here as a sequence of create-only files; nothing in the log is ever
rewritten in place.  Layout::

    <path>/_asp_meta/manifest-vNNNNN.json      one root per commit; the
                                               CURRENT manifest is the
                                               max readable version
    <path>/_asp_meta/manifest-vNNNNN-shard-NNNNN.json  file-entry shards
                                               of large roots
    <path>/_asp_meta/watermark-<20-digits>.json  stream watermark (ST2);
                                               current = max in listing
                                               (filename IS the value)
    <path>/_asp_meta/rebucket-to<nb>-u<unit>.json  staged rebucket units

The root manifest (one format; :meth:`MetaLog.read_root` refuses any
other):

- ``version``, ``committed_at``, ``op`` (commit kind), ``schema`` (the
  authoritative table schema), ``num_buckets``, ``buckets``
  ({bucket -> version that last changed it}, the CDC diff scope) and
  ``deletes`` (pending delete entries);
- the live file entries, EITHER inline as ``files`` OR sharded as
  ``file_shards`` descriptors ``{"n", "b0", "b1", "nf", "hist",
  "coal"}`` with the ``n_files`` / ``size_hist`` summary beside them.

A file entry is ``{"v": commit version, "d": dirname, "b": bucket,
"n": name, "sz": bytes, "mn"/"mx": key range (None for an all-null-key
file), "hn": may hold a null key, "rc": row count}`` plus optional
``"cs"`` (per-column ranges) and ``"bf"`` (bloom filters).  A delete entry is
``{"seq": commit version, "d": dirname, "n": name, "bs": buckets its
keys hash into, "mn", "mx", "hn", "sz"}``; ``"sc"`` marks a
consolidated file that stores each key's original seq.

The commit point of every table change is the creation of one
never-pre-existing root (:meth:`MetaLog.commit`).  This module imports
no pyspark: :class:`MetaLog` works on any IO object with
``HadoopFileIO``'s ``list_names``, ``read_text``, ``create_text``,
``exists`` and ``delete``.  An operation lists the directory once
(:class:`Listing`) and passes that listing and the root it read on;
callers ask this module for files, regions and summaries and never read
the ``files`` / ``file_shards`` keys themselves.
"""

from __future__ import annotations

import itertools
import json
import re
import time
from collections import Counter
from collections.abc import Callable, Iterable
from dataclasses import dataclass

from arcane_stream_parquet_spark.fsio import fs_join

META_DIR = "_asp_meta"

#: Manifest sharding threshold (Iceberg's manifest-list shape): a file
#: list over this many entries is written as immutable shard files and
#: the root carries only their descriptors, so a 10⁶-file table no
#: longer concentrates ~120 MB of JSON in one object.
SHARD_ENTRIES = 100_000

#: Small-file bound of the maintenance policy: a data file whose
#: power-of-two size class fits under it counts as small, and two or
#: more small files in one bucket are what a minor compaction merges.
SMALL_FILE_BYTES = 8 << 20

# the keys of a root that hold (or summarise) its file list: a commit
# rebuilds them from the files and kept shards it is given
_FILE_LIST_KEYS = ("files", "file_shards", "n_files", "size_hist")


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this target version first.  The losing
    commit touched nothing the winner references; retrying the whole
    operation (which re-reads the manifest) converges.  See the
    single-writer contract in :meth:`ParquetMergeTarget._manifest`."""


# -- the name grammar ------------------------------------------------------


def root_name(version: int) -> str:
    return f"manifest-v{int(version):05d}.json"


def shard_name(version: int, i: int) -> str:
    return f"manifest-v{int(version):05d}-shard-{int(i):05d}.json"


def watermark_name(value: int) -> str:
    return f"watermark-{int(value):020d}.json"


def marker_name(nb: int, u: int) -> str:
    return f"rebucket-to{int(nb)}-u{int(u):07d}.json"


# a name the log wrote (anything else — ``.tmp`` staging files,
# checksum side-files, junk — is ignored); one group per file kind
_NAME = re.compile(
    r"manifest-v(?P<roots>\d+)\.json|(?P<shards>manifest-v\d+-shard-.*\.json)"
    r"|watermark-(?P<watermarks>\d+)\.json|(?P<markers>rebucket-.*\.json)",
    re.ASCII,
)


@dataclass(frozen=True)
class Listing:
    """One parse of one listing of the metadata directory."""

    roots: tuple[int, ...] = ()  # committed root versions, ascending
    shards: tuple[str, ...] = ()  # shard file names
    watermarks: tuple[int, ...] = ()  # committed watermark values, ascending
    markers: tuple[str, ...] = ()  # rebucket marker file names


def parse_listing(names: Iterable[str]) -> Listing:
    found: dict[str, list] = {k: [] for k in Listing.__dataclass_fields__}
    for n in names:
        m = _NAME.fullmatch(n)
        if m:
            kind = m.lastgroup
            found[kind].append(int(m[kind]) if kind in ("roots", "watermarks") else n)
    return Listing(**{k: tuple(sorted(v)) for k, v in found.items()})


# -- file-list shape and summaries (pure, no IO) ---------------------------
#
# Shard entries are bucket-sorted and cut only at bucket boundaries, so
# a descriptor's [b0, b1] range decides from the root alone whether a
# commit touching bucket set B involves it; untouched shards are REUSED
# by name in the next root (Iceberg's manifest-reuse shape), and the
# maintenance gate answers from ~40 ints per descriptor.  An inline
# root is summarised as ONE virtual descriptor by the same rule.


def is_sharded(manifest: dict) -> bool:
    return "file_shards" in manifest


def shard_names(manifest: dict) -> list[str]:
    return [s["n"] for s in manifest.get("file_shards") or []]


def size_class_at(small_file_bytes: int) -> int:
    """Largest power-of-two size class k whose whole range
    [2^(k-1), 2^k - 1] fits under the threshold — the conservative
    (≤2×) rounding the size histogram can answer."""
    return (int(small_file_bytes) + 1).bit_length() - 1


def step_at(step: dict, k: int) -> int:
    """Evaluate a {str(class): value} cumulative step function at class
    k: the value recorded at the largest class ≤ k."""
    best, bk = 0, -1
    for ks, v in step.items():
        ki = int(ks)
        if bk < ki <= k:
            bk, best = ki, int(v)
    return best


def shard_summary(entries: list[dict]) -> tuple[dict, dict]:
    """(size histogram, coalescable histogram) of one shard, both keyed
    by ``str(bit_length(sz))``.  ``coal[k]`` = files of size class ≤ k
    sharing a bucket (within this shard) with ≥ 2 such files — a
    cumulative step function, so any threshold resolves without reading
    the shard.  A bucket split across shards by reuse under-counts (the
    safe direction for a trigger) until the fragmentation bound in
    :meth:`MetaLog.commit` reshards."""
    hist: dict[str, int] = {}
    per_bucket: dict[int, dict[int, int]] = {}
    for f in entries:
        k = int(f["sz"]).bit_length()
        hist[str(k)] = hist.get(str(k), 0) + 1
        bb = per_bucket.setdefault(int(f["b"]), {})
        bb[k] = bb.get(k, 0) + 1
    coal: dict[str, int] = {}
    cum = dict.fromkeys(per_bucket, 0)
    for k in sorted(int(x) for x in hist):
        for b, bb in per_bucket.items():
            cum[b] += bb.get(k, 0)
        coal[str(k)] = sum(c for c in cum.values() if c >= 2)
    return hist, coal


def split_shards(entries: list[dict]) -> list[list[dict]]:
    """Bucket-sorted entry groups of ~``SHARD_ENTRIES`` each, cut ONLY
    between buckets so every group covers a disjoint bucket range (a
    single pathologically huge bucket yields one oversized shard rather
    than a straddle)."""
    out: list[list[dict]] = [[]]
    entries = sorted(entries, key=lambda f: (int(f["b"]), f["n"]))
    for _, bucket in itertools.groupby(entries, key=lambda f: int(f["b"])):
        if len(out[-1]) >= SHARD_ENTRIES:
            out.append([])
        out[-1].extend(bucket)
    return out if out[-1] else []


def _hist_sum(descs: list[dict]) -> dict[str, int]:
    out: Counter = Counter()
    for d in descs:
        out.update({c: int(n) for c, n in d["hist"].items()})
    return dict(out)


def _descriptors(manifest: dict) -> list[dict]:
    if is_sharded(manifest):
        return manifest["file_shards"]
    hist, coal = shard_summary(manifest["files"])
    return [{"nf": len(manifest["files"]), "hist": hist, "coal": coal}]


def summary(manifest: dict, small_file_bytes: int | None = None) -> dict:
    """Metadata-only file summary of one root, the same rules for both
    shapes (no shard is read):

    - ``file_count``;
    - ``small_file_count``: files whose power-of-two size class fits
      entirely under ``small_file_bytes`` (default
      :data:`SMALL_FILE_BYTES`);
    - ``coalescable_small_files``: those small files sharing a bucket
      with another small file — what a minor compaction can merge;
    - ``total_bytes``: exact for an inline root, None for a sharded one."""
    k = size_class_at(
        SMALL_FILE_BYTES if small_file_bytes is None else small_file_bytes
    )
    descs = _descriptors(manifest)
    hist = {int(c): n for c, n in _hist_sum(descs).items()}
    return {
        "file_count": sum(int(d["nf"]) for d in descs),
        "small_file_count": sum(n for c, n in hist.items() if c <= k),
        "coalescable_small_files": sum(step_at(d["coal"], k) for d in descs),
        "total_bytes": (
            None
            if is_sharded(manifest)
            else sum(int(f["sz"]) for f in manifest["files"])
        ),
    }


# -- the log ---------------------------------------------------------------


class MetaLog:
    """One table's metadata directory over an IO object (module
    docstring); methods taking a ``listing`` use it instead of listing
    again."""

    def __init__(self, io, table_path: str):
        self.io = io
        self.table_path = table_path
        self.dir = fs_join(table_path, META_DIR)

    def path(self, name: str) -> str:
        return fs_join(self.dir, name)

    def listing(self) -> Listing:
        return parse_listing(self.io.list_names(self.dir))

    def drop(self, name: str) -> None:
        self.io.delete(self.path(name))

    def _read_json(self, name: str):
        return json.loads(self.io.read_text(self.path(name)))

    def _read_each(self, names: Iterable[str]) -> list[tuple[str, dict]]:
        out = []
        for n in names:
            try:
                out.append((n, self._read_json(n)))
            except FileNotFoundError:
                continue  # dropped since the listing
        return out

    # -- roots -------------------------------------------------------------

    def read_root(self, version: int) -> dict:
        """THE manifest loader: every root read goes through here, and
        one root-only check (never a shard read) refuses any layout but
        the one this module writes — a table whose manifests predate it
        is refused, not upgraded, exactly as an Iceberg reader refuses
        an unknown ``format-version``.  Raises FileNotFoundError when
        the root does not exist."""
        m = self._read_json(root_name(version))
        shards = m.get("file_shards")
        deletes = m.get("deletes") or []
        checks = {
            "num_buckets": "num_buckets" in m,
            "files or file_shards": "files" in m or shards is not None,
            "file_shards descriptors": not shards or isinstance(shards[0], dict),
            "n_files": shards is None or "n_files" in m,
            "size_hist": shards is None or "size_hist" in m,
            "delete entry bs": not deletes or "bs" in deletes[0],
        }
        missing = [name for name, ok in checks.items() if not ok]
        if missing:
            raise ValueError(
                f"manifest v{version} at {self.table_path} predates the "
                f"current manifest format (missing: {', '.join(missing)}); "
                f"such tables are refused, not upgraded"
            )
        return m

    def current(self, listing: Listing | None = None) -> dict:
        """The CURRENT root = the max committed version.  Walks the
        listing newest-first so a concurrent ``vacuum()`` in another
        process (deleting old snapshots between the list and the read)
        degrades to the next-newest committed value instead of an
        error."""
        if listing is None:
            listing = self.listing()
        for v in reversed(listing.roots):
            try:
                return self.read_root(v)
            except FileNotFoundError:
                continue
        raise FileNotFoundError(f"no committed manifest under {self.dir}")

    def at(
        self, version: int | None, current: dict, listing: Listing | None = None
    ) -> dict:
        """Snapshot ``version`` (None: ``current``), read only when it
        is not the current root."""
        if version is None or version == current["version"]:
            return current
        try:
            return self.read_root(version)
        except FileNotFoundError:
            avail = list((listing or self.listing()).roots)
            raise ValueError(
                f"no snapshot v{version}; available: {avail}"
            ) from None

    def reader(self, current: dict, listing: Listing | None = None):
        """``root(v)`` for one operation: snapshot ``v`` (:meth:`at`),
        each root read at most once."""
        cache = {current["version"]: current}
        return lambda v: cache.get(v) or cache.setdefault(
            v, self.at(v, current, listing)
        )

    # -- file lists --------------------------------------------------------

    def read_shard(self, name: str) -> list[dict]:
        return self._read_json(name)

    def _split(
        self, manifest: dict, wanted: Callable[[dict], bool]
    ) -> tuple[list[dict], list[dict]]:
        if not is_sharded(manifest):
            return manifest["files"], []
        files: list[dict] = []
        keep: list[dict] = []
        for s in manifest["file_shards"]:
            if wanted(s):
                files.extend(self.read_shard(s["n"]))
            else:
                keep.append(s)
        return files, keep

    def region(
        self, manifest: dict, buckets: set[int] | None = None
    ) -> tuple[list[dict], list[dict]]:
        """``(files, keep)`` for a commit touching ``buckets`` (None:
        all): every entry that may belong to one — the inline list, or
        the shards whose bucket range intersects — and the descriptors
        of the untouched shards, which :meth:`commit` reuses unread."""
        if buckets is None:
            return self._split(manifest, lambda s: True)
        return self._split(
            manifest,
            lambda s: any(int(s["b0"]) <= b <= int(s["b1"]) for b in buckets),
        )

    def coalescable_region(
        self, manifest: dict
    ) -> tuple[list[dict], list[dict]]:
        """``(files, keep)`` for a minor compaction: only the shards
        whose descriptor shows a coalescable small file are read."""
        k = size_class_at(SMALL_FILE_BYTES)
        return self._split(manifest, lambda s: step_at(s["coal"], k) > 0)

    # -- commit ------------------------------------------------------------

    def commit(
        self, manifest: dict, files: list[dict], keep: list[dict] = ()
    ) -> None:
        """THE commit point: CREATE ``manifest-v{version}.json``, a
        never-pre-existing destination, so the commit is atomic-enough
        on every Hadoop FS including S3A (fsio.py).  ``manifest`` gives
        every root key but the file list; ``files`` is the changed
        region's entries and ``keep`` the untouched shard descriptors
        from :meth:`region`, referenced by name without being read.
        The CAS fence runs first; shards are written BEFORE the root, so
        a crash leaves the old table intact (orphan shards are replaced
        on retry).  Kept shards fold back inline when the table shrinks
        under the threshold, and the list reshards once reuse exceeds
        ~2× the ideal shard count."""
        root = {k: v for k, v in manifest.items() if k not in _FILE_LIST_KEYS}
        # wall-clock commit stamp: drives time-based snapshot retention
        # (vacuum older_than_seconds) and history(); never used for
        # ordering (versions do that)
        root["committed_at"] = round(time.time(), 3)
        version = root["version"]
        # the CAS fence: lose a race cleanly BEFORE replacing any shard
        # a winner's root may reference
        if self.io.exists(self.path(root_name(version))):
            raise ConcurrentWriteError(
                f"manifest v{version} already committed by another "
                f"writer at {self.table_path}; retry the operation"
            )
        files, keep = list(files), list(keep)
        total = len(files) + sum(int(s["nf"]) for s in keep)
        sharded = total > SHARD_ENTRIES
        groups = split_shards(files) if sharded else []
        if keep and (
            not sharded or len(keep) + len(groups) > 2 * (total // SHARD_ENTRIES + 1)
        ):
            # fold the kept shards back: inline once the table shrank
            # under the threshold (at most one shard's worth), else a
            # reshard-on-fragmentation (amortized O(1) per commit)
            files += [f for s in keep for f in self.read_shard(s["n"])]
            keep = []
            groups = split_shards(files) if sharded else []
        if not sharded:
            root["files"] = files
        else:
            descs = keep + [
                self._write_shard(version, i, g) for i, g in enumerate(groups)
            ]
            descs.sort(key=lambda s: (int(s["b0"]), s["n"]))
            root["n_files"] = total
            root["size_hist"] = _hist_sum(descs)
            root["file_shards"] = descs
        try:
            self.io.create_text(self.path(root_name(version)), json.dumps(root))
        except FileExistsError:
            raise ConcurrentWriteError(
                f"manifest v{version} was committed by another writer "
                f"between this commit's fence check and its root create "
                f"at {self.table_path}; retry the operation"
            ) from None

    def _write_shard(self, version: int, i: int, group: list[dict]) -> dict:
        name = shard_name(version, i)
        # a shard for an uncommitted version can only be a crash orphan
        # from a previous attempt (the root's creation is the commit and
        # it does not exist yet) — replace it
        if self.io.exists(self.path(name)):
            self.drop(name)
        self.io.create_text(self.path(name), json.dumps(group))
        hist, coal = shard_summary(group)
        b0, b1 = int(group[0]["b"]), int(group[-1]["b"])
        return {
            "n": name, "b0": b0, "b1": b1, "nf": len(group), "hist": hist, "coal": coal
        }

    # -- watermark (reference ST2) -----------------------------------------
    #
    # The current watermark is the MAX ``watermark-<value>.json`` name in
    # a listing: readers never open the file, so none can observe a
    # deleted-but-not-yet-replaced value.  Older files are pruned after
    # the create (any listing taken before the prune holds the new max).

    def watermark(self) -> int | None:
        """Last committed watermark (reference BlobSourceWatermark)."""
        values = self.listing().watermarks
        return values[-1] if values else None

    def commit_watermark(self, value: int | None) -> None:
        """Advance the watermark to ``value``; lower or equal values are
        a no-op (monotonic), None is ignored."""
        if value is None:
            return
        value = int(value)
        if value < 0:
            raise ValueError(
                f"watermark must be non-negative (blob createdOn / version "
                f"timestamps), got {value}"
            )
        stale = self.listing().watermarks
        if stale and value <= stale[-1]:
            return
        self.io.create_text(
            self.path(watermark_name(value)), json.dumps({"version": value})
        )
        for v in stale:  # prune superseded values (readers are list-max)
            self.drop(watermark_name(v))

    # -- rebucket markers --------------------------------------------------

    def read_marker(self, nb: int, u: int) -> dict | None:
        try:
            return self._read_json(marker_name(nb, u))
        except FileNotFoundError:
            return None

    def write_marker(self, marker: dict) -> None:
        self.io.create_text(
            self.path(marker_name(marker["nb"], marker["u"])), json.dumps(marker)
        )

    def markers(self, listing: Listing | None = None) -> list[tuple[str, dict]]:
        """``(file name, marker)`` of every rebucket marker."""
        return self._read_each((listing or self.listing()).markers)

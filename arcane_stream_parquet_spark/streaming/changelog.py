"""Incremental changelog consumption + table-to-table replication —
the downstream half of the CDC loop.

The reference's whole job is one hop: blob change capture → MERGE into
a table (docs/crd.md:145-182, main.scala:85-133).  ``read_changes``
(operators/merge.py) made the OUTPUT of that hop change-capturable;
this module closes the chain so targets compose into pipelines:

    source stream → merge target A → ChangelogConsumer → target B → …

``ChangelogConsumer`` is the same micro-batch polling shape as
``StreamRunner`` (SURVEY §2 S3/ST1: remember a cursor, poll the head,
process the delta, advance) with the cursor persisted exactly like the
stream watermark (ST2): monotone create-only ``cursor-<v>.json`` files,
list-max readers, no read-modify-write window.

Delivery contract — exactly-once EFFECTS from at-least-once delivery:
``process`` runs the handler BEFORE advancing the cursor, so a crash
between the two replays the batch.  Both replication primitives are
idempotent under replay: a latest-wins merge of rows already applied
changes nothing (``>=`` keeps the stored row), and ``delete_keys`` of
keys already dead commits nothing.  Any user handler must meet the
same bar (or dedup on ``_commit_version``).

Scale shape per tick: ``read_changes`` is O(delta) for MoR commits and
bucket-pruned snapshot diffs otherwise (its own docstring); the net-
change fold is one window over the delta; the downstream apply touches
only the buckets the delta's keys hash into.  Source table size never
enters a scan, so a 100 TB table trickling 1 GB/day replicates at
1 GB/day of work.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from arcane_stream_parquet_spark.fsio import HadoopFileIO, fs_join
from arcane_stream_parquet_spark.operators.merge import (
    CHANGE_TYPE_COLUMN,
    COMMIT_VERSION_COLUMN,
    ParquetMergeTarget,
)

_CURSOR_PREFIX = "cursor-"


class VersionCursor:
    """Durable monotone version cursor: ``cursor-<20-digit>.json``
    create-only files under ``path``; the current value is the MAX name
    in a listing (the ST2 watermark persistence pattern — readers never
    hit a deleted-but-not-replaced window because advancing creates the
    new file before pruning the old)."""

    def __init__(self, spark, path: str) -> None:
        self._spark = spark
        self.path = path

    @property
    def _fio(self) -> HadoopFileIO:
        return HadoopFileIO(self._spark)

    def _versions(self) -> list[int]:
        names = self._fio.list_names(self.path)
        return sorted(
            int(n[len(_CURSOR_PREFIX) : -len(".json")])
            for n in names
            if n.startswith(_CURSOR_PREFIX) and n.endswith(".json")
        )

    def _file(self, version: int) -> str:
        return fs_join(self.path, f"{_CURSOR_PREFIX}{version:020d}.json")

    def value(self) -> int:
        """Last consumed version; 0 = nothing consumed yet (the
        ``read_changes(0)`` full-replay origin)."""
        versions = self._versions()
        return versions[-1] if versions else 0

    def advance(self, version: int) -> None:
        version = int(version)
        stale = self._versions()
        if stale and version <= stale[-1]:
            return  # monotone: replays never move the cursor back
        self._fio.create_text(
            self._file(version), json.dumps({"version": version})
        )
        for v in stale:
            self._fio.delete(self._file(v))


@dataclass
class ChangelogConsumer:
    """Poll a merge target's CDC changelog from a durable cursor.

    ``max_versions_per_poll`` caps how many commits one tick consumes
    (the A2 throughput-shaping knob: a consumer resuming far behind
    head works through the backlog in bounded batches instead of one
    giant union)."""

    target: ParquetMergeTarget
    cursor_path: str
    max_versions_per_poll: int | None = None

    def __post_init__(self) -> None:
        self._cursor = VersionCursor(self.target.spark, self.cursor_path)

    def cursor(self) -> int:
        return self._cursor.value()

    def lag(self) -> int:
        """Commits at the source not yet consumed (head − cursor); the
        replication-lag gauge an operator alerts on.  One root
        manifest read — O(1) regardless of table size."""
        if not self.target.exists():
            return 0
        head = int(self.target._manifest()["version"])
        return max(0, head - self._cursor.value())

    def poll(self) -> "tuple[DataFrame, int] | None":
        """(changes DataFrame, head version) for everything committed
        past the cursor, or ``None`` when there is no news.  Raises the
        ``read_changes`` vacuum-horizon ValueError when the cursor fell
        behind reclaimed history — resume with a full resync."""
        if not self.target.exists():
            return None
        frm = self._cursor.value()
        head = int(self.target._manifest()["version"])
        if head <= frm:
            return None
        if self.max_versions_per_poll is not None:
            head = min(head, frm + int(self.max_versions_per_poll))
        return self.target.read_changes(frm, head), head

    def commit(self, head: int) -> None:
        self._cursor.advance(head)

    def process(self, fn: Callable[[DataFrame], None]) -> bool:
        """One tick: hand the delta to ``fn``, then advance.  Returns
        whether any work was done.  Crash between the two ⇒ replay ⇒
        ``fn`` must be idempotent (module docstring)."""
        polled = self.poll()
        if polled is None:
            return False
        changes, head = polled
        fn(changes)
        self.commit(head)
        return True


def net_changes(changes: DataFrame, key_col: str) -> DataFrame:
    """Fold a multi-commit changelog slice to the NET change per key:
    the max-``_commit_version`` row (``read_changes`` contract: that
    row is the key's final state in the slice).  One window over the
    delta — never the table."""
    w = Window.partitionBy(key_col).orderBy(
        F.col(COMMIT_VERSION_COLUMN).desc()
    )
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def replicate_incremental(
    src: ParquetMergeTarget,
    dst: ParquetMergeTarget,
    cursor_path: str,
    transform: "Callable[[DataFrame], DataFrame] | None" = None,
    max_versions_per_poll: int | None = None,
) -> int:
    """One replication tick: fold the new changelog slice to net
    changes, apply upserts as one latest-wins merge and deletions as
    one ``delete_keys`` commit, advance the cursor.  Returns the number
    of net changes applied (0 = no news).

    ``transform`` maps the post-image rows (table columns only) before
    the merge — a row-wise projection building an incremental
    MATERIALIZED VIEW instead of a verbatim replica.  It must preserve
    the merge key and version columns; deletion keys pass through
    untransformed, so a transform must not re-key rows.

    Apply protocol is DELETE-FIRST: every net-changed key is
    ``delete_keys``-reset in ``dst``, then the non-delete post-images
    merge back in.  A bare latest-wins merge would be cheaper but
    WRONG whenever a source key's live version ever went DOWN
    (``overwrite()`` to an older snapshot, or delete + re-insert with
    a lower version): the replica's ``>=`` rule would keep the stale
    higher-version row forever.  The reset makes the apply
    unconditional — ``dst.read()`` mirrors ``src.read()`` after every
    tick for ANY source history — at the cost of one extra O(delta)
    commit; a chained consumer downstream of ``dst`` still converges
    (its net fold sees delete@v then insert@v+1 → net insert).

    Replays are idempotent end-to-end (module docstring): a crash
    after the reset but before the merge re-runs both — delete of an
    already-dead key commits nothing, and the merge restores the
    post-images — so every tick converges.  Readers of ``dst`` may
    observe the between-commits state (keys reset, post-images not yet
    merged); per-tick atomicity needs a single-writer reader fence the
    same way any two-commit sequence does."""
    consumer = ChangelogConsumer(
        src, cursor_path, max_versions_per_poll=max_versions_per_poll
    )
    polled = consumer.poll()
    if polled is None:
        return 0
    changes, head = polled
    net = net_changes(changes, src.key_col).persist()
    try:
        n = net.count()
        if n:
            dst.delete_keys(net.select(src.key_col))
            upserts = net.filter(
                F.col(CHANGE_TYPE_COLUMN) != "delete"
            ).drop(CHANGE_TYPE_COLUMN, COMMIT_VERSION_COLUMN)
            if transform is not None:
                upserts = transform(upserts)
            if not upserts.isEmpty():
                dst.merge(upserts)
    finally:
        net.unpersist()
    consumer.commit(head)
    return n


def replicate_full(
    src: ParquetMergeTarget, dst: ParquetMergeTarget, cursor_path: str
) -> int:
    """Full resync: snapshot-overwrite ``dst`` from ``src`` and fast-
    forward the cursor to the snapshot's version — the documented
    recovery path when a consumer falls behind the vacuum horizon
    (``read_changes`` raises; Iceberg incremental-scan-after-
    expire_snapshots contract).  Returns the snapshot row count."""
    head = int(src._manifest()["version"])
    snapshot = src.read(at_version=head)
    dst.overwrite(snapshot)
    VersionCursor(src.spark, cursor_path).advance(head)
    return snapshot.count()

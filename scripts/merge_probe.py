"""Merge-path scale probe (r6 — VERDICT r5 items 1 & 7): backfill +
narrow upserts at 1x and 4x sf0.1 lineitem, copy-on-write vs
merge-on-read, with per-commit bytes written.

Replicates lineitem with key offsets for the 4x geometry (~2.4M rows,
~1,000 data files at maxRecordsPerFile=2000 / 64 buckets), then for
each (scale, batch-size, mode) snapshot-copies the committed base table
and measures one upsert: wall time and bytes the commit wrote (new data
version dir + delete dir).  Done-criteria being checked:

- MoR: a 0.01%-key upsert commits in O(batch) — bytes written must be
  far below the CoW touched-file floor (8.0 MB at 1x, r5 table).
- 4x: rewrite bytes track the touched-file floor (not table size) and
  backfill/stats-readback stay ~linear in data size.

Usage: python scripts/merge_probe.py [sf_dir]  (default sf0.1)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from arcane_stream_parquet_spark import build_session  # noqa: E402
from arcane_stream_parquet_spark.operators.merge import (  # noqa: E402
    ParquetMergeTarget,
)
from arcane_stream_parquet_spark.sources.blob import BlobParquetSource  # noqa: E402


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def commit_bytes(table_path: str, version: int) -> int:
    # nonce staging: the commit's dirs are v{version:05d}-<nonce>
    total = 0
    prefix = f"v{version:05d}-"
    for sub in ("data", "deletes"):
        root = os.path.join(table_path, sub)
        if not os.path.isdir(root):
            continue
        for name in os.listdir(root):
            if name.startswith(prefix):
                total += dir_bytes(os.path.join(root, name))
    return total


def soak(sf_dir: str, n_commits: int = 100, scale: int = 1) -> int:
    """Sustained-trickle soak (r8 — VERDICT r7 item 1): ``n_commits``
    sequential 0.01%-key MoR upserts against a 1x sf table, with the
    PRODUCTION adaptive maintenance gate
    (ParquetMergeTarget.run_adaptive_maintenance: metrics poll →
    compact_minor → one-shot full-compact escalation on surviving
    delete pressure → vacuum) invoked after every commit, exactly as
    the streaming runner does.
    Records read latency every 10 commits; the done-criterion is a
    bounded curve (≤ ~2× the clean read) instead of the unmaintained
    drift (0.79 s clean → ~3 s after just 10 commits, SCALE.md r6).
    A 30-commit unmaintained arm runs first for contrast.

    Usage: python scripts/merge_probe.py soak [sf_dir] [n_commits]
    """
    spark = build_session(app_name="merge-soak")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="asp_soak_")

    source = BlobParquetSource(
        path=os.path.join(sf_dir, "lineitem.parquet"),
        primary_keys=["l_orderkey", "l_linenumber"],
    )
    rows = source.read_batch(spark)
    if scale > 1:  # replicate with key offsets (the skew/geometry shape)
        from arcane_stream_parquet_spark.functions.keys import with_merge_key

        max_ok = rows.agg(F.max("l_orderkey")).collect()[0][0]
        parts = [
            rows.withColumn(
                "l_orderkey", F.col("l_orderkey") + F.lit(i * (max_ok + 1))
            )
            for i in range(scale)
        ]
        rows = parts[0]
        for p in parts[1:]:
            rows = rows.unionByName(p)
        rows = with_merge_key(
            rows.drop("arcane_merge_key"), ["l_orderkey", "l_linenumber"]
        )
    base_path = os.path.join(work, "base")
    base = ParquetMergeTarget(
        spark=spark,
        path=base_path,
        num_buckets=64,
        # ~2 MB base files: ABOVE the minor-compaction small-file
        # threshold below, so the pass touches only trickle fragments —
        # the 100 TB shape, where base files are hundreds of MB
        max_records_per_file=20000,
    )
    t0 = time.perf_counter()
    base.merge(rows)
    print(
        f"backfill {rows.count()} rows in {time.perf_counter() - t0:.1f} s",
        flush=True,
    )

    def trickle(i: int):
        return rows.filter(
            F.xxhash64("arcane_merge_key", F.lit(i)) % 10000 == 0
        ).withColumn("createdon", F.col("createdon") + F.lit(i + 1))

    def read_sec(t: ParquetMergeTarget, samples: int = 1) -> float:
        vals = []
        for _ in range(samples):
            t0 = time.perf_counter()
            t.read().count()
            vals.append(time.perf_counter() - t0)
        return sorted(vals)[len(vals) // 2]

    curves: dict[str, list[tuple[int, float]]] = {}
    for arm, n_arm, adaptive in (
        ("unmaintained", min(30, n_commits), False),
        ("adaptive", n_commits, True),
    ):
        path = os.path.join(work, arm)
        shutil.copytree(base_path, path)
        t = ParquetMergeTarget(
            spark=spark, path=path, num_buckets=64, max_records_per_file=20000
        )
        clean = read_sec(t, samples=3)  # median: single reads jitter ±30%
        curve = [(0, clean)]
        maint_runs = 0
        maint_sec = 0.0
        t0 = time.perf_counter()
        for i in range(n_arm):
            t.merge(trickle(i), mode="mor")
            if adaptive:
                m0 = time.perf_counter()
                # the production gate (same call the stream runner makes)
                r = t.run_adaptive_maintenance(
                    small_file_bytes=1 << 20,
                    on_delete_files=16,
                    on_delete_bytes=None,
                    on_small_files=128,
                )
                if r["ran"]:
                    maint_sec += time.perf_counter() - m0
                    maint_runs += 1
            if (i + 1) % 10 == 0:
                curve.append((i + 1, read_sec(t)))
        wall = time.perf_counter() - t0
        m = t.maintenance_metrics(small_file_bytes=1 << 20)
        worst = max(s for _, s in curve[1:])
        print(
            f"[{arm}] {n_arm} commits in {wall:.1f} s "
            f"({maint_runs} maintenance passes, {maint_sec:.1f} s), "
            f"end state: {m['file_count']} files / "
            f"{m['delete_file_count']} delete files; read clean "
            f"{clean:.2f} s, worst {worst:.2f} s ({worst / clean:.1f}x)",
            flush=True,
        )
        curves[arm] = curve
        shutil.rmtree(path)

    print("\n| commits | unmaintained read s | adaptive read s |")
    print("|---|---|---|")
    un = dict(curves["unmaintained"])
    ad = dict(curves["adaptive"])
    for i in sorted(ad):
        u = f"{un[i]:.2f}" if i in un else "—"
        print(f"| {i} | {u} | {ad[i]:.2f} |")

    clean = ad[0]
    worst = max(s for c, s in ad.items() if c > 0)
    # bounded = within ~2x of clean, with an absolute floor so sub-second
    # JVM jitter at bench scale cannot fail a structurally flat curve
    ok = worst <= max(2.5 * clean, 1.5)
    print(
        f"\nadaptive bounded: worst {worst:.2f} s vs clean {clean:.2f} s "
        f"({worst / clean:.1f}x) -> {'OK' if ok else 'EXCEEDED'}",
        flush=True,
    )
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


def skew(sf_dir: str) -> int:
    """Skewed-MoR-anti-join probe (r8 — VERDICT r7 item 5): 10 MoR
    commits whose deletes ALL land in one bucket of a 4x-geometry
    table, then read-path wall on (a) the production broadcast path and
    (b) the forced-shuffle fallback (auto-broadcast off) that models an
    overdue-compaction pending set too big to broadcast — where AQE's
    skew handling owns the concentrated build side.

    Usage: python scripts/merge_probe.py skew [sf_dir]
    """
    spark = build_session(app_name="merge-skew")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="asp_skew_")

    from arcane_stream_parquet_spark.operators.merge import _bucket_expr

    source = BlobParquetSource(
        path=os.path.join(sf_dir, "lineitem.parquet"),
        primary_keys=["l_orderkey", "l_linenumber"],
    )
    base = source.read_batch(spark)
    max_ok = base.agg(F.max("l_orderkey")).collect()[0][0]
    from arcane_stream_parquet_spark.functions.keys import with_merge_key

    parts = [
        base.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * (max_ok + 1)))
        for i in range(4)
    ]
    rows = parts[0]
    for p in parts[1:]:
        rows = rows.unionByName(p)
    rows = with_merge_key(
        rows.drop("arcane_merge_key"), ["l_orderkey", "l_linenumber"]
    )
    t = ParquetMergeTarget(
        spark=spark,
        path=os.path.join(work, "t"),
        num_buckets=64,
        max_records_per_file=2000,
    )
    t0 = time.perf_counter()
    t.merge(rows)
    n = rows.count()
    print(
        f"4x backfill {n} rows in {time.perf_counter() - t0:.1f} s",
        flush=True,
    )
    hot = rows.filter(_bucket_expr("arcane_merge_key", 64) == F.lit(7))
    hot_n = hot.count()
    for c in range(10):  # every delete lands in bucket 7
        t.merge(
            hot.withColumn("createdon", F.col("createdon") + F.lit(c + 1)),
            mode="mor",
        )
    m = t.maintenance_metrics()
    print(
        f"10 hot-bucket commits: {m['delete_file_count']} delete files, "
        f"{m['delete_bytes'] / 1e6:.2f} MB pending over {hot_n} keys",
        flush=True,
    )

    def timed_read() -> float:
        vals = []
        for _ in range(3):
            t0 = time.perf_counter()
            t.read().count()
            vals.append(time.perf_counter() - t0)
        return sorted(vals)[1]

    bcast = timed_read()
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, "expected broadcast anti-join"
    t.broadcast_delete_bytes = 0
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    shuffled = timed_read()
    plan2 = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan2 or "ShuffledHashJoin" in plan2
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    print(
        f"read wall: broadcast {bcast:.2f} s, forced-shuffle+AQE "
        f"{shuffled:.2f} s (ratio {shuffled / bcast:.1f}x)",
        flush=True,
    )
    ok = shuffled <= max(4 * bcast, 10.0)  # no runaway straggler
    print(f"skew bounded -> {'OK' if ok else 'EXCEEDED'}", flush=True)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "soak":
        return soak(
            sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1",
            int(sys.argv[3]) if len(sys.argv) > 3 else 100,
            int(sys.argv[4]) if len(sys.argv) > 4 else 1,
        )
    if len(sys.argv) > 1 and sys.argv[1] == "skew":
        return skew(
            sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
        )
    scales = (1, 4)
    if len(sys.argv) > 1 and sys.argv[1] == "geometry":
        # e.g. `geometry 16` — the r7 item-7 16x probe (9.6M rows);
        # runs the standard upsert matrix at just that scale
        scales = (int(sys.argv[2]),)
        sys.argv = [sys.argv[0]] + sys.argv[3:]
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = build_session(app_name="merge-probe")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="asp_merge_probe_")

    source = BlobParquetSource(
        path=os.path.join(sf_dir, "lineitem.parquet"),
        primary_keys=["l_orderkey", "l_linenumber"],
    )
    base_rows = source.read_batch(spark)
    max_ok = base_rows.agg(F.max("l_orderkey")).collect()[0][0]

    def replicated(times: int):
        parts = []
        for i in range(times):
            parts.append(
                base_rows.withColumn(
                    "l_orderkey",
                    F.col("l_orderkey") + F.lit(i * (max_ok + 1)),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # re-derive the merge key for the offset copies
        from arcane_stream_parquet_spark.functions.keys import (
            with_merge_key,
        )

        return with_merge_key(
            out.drop("arcane_merge_key"), ["l_orderkey", "l_linenumber"]
        )

    results = []
    for scale in scales:
        rows = replicated(scale)
        n = rows.count()
        base_path = os.path.join(work, f"base{scale}x")
        target = ParquetMergeTarget(
            spark=spark,
            path=base_path,
            num_buckets=64,
            max_records_per_file=2000,
        )
        t0 = time.perf_counter()
        target.merge(rows)
        backfill = time.perf_counter() - t0
        manifest = target._manifest()
        n_files = len(target._files_of_manifest(manifest))
        table_mb = dir_bytes(base_path) / 1e6
        print(
            f"[{scale}x] backfill {n} rows in {backfill:.1f} s "
            f"({n / backfill:,.0f} rows/s), {n_files} files, "
            f"{table_mb:.1f} MB table", flush=True
        )

        for frac_label, modulus in (("0.01%", 10000), ("0.1%", 1000)):
            batch = rows.filter(
                F.xxhash64("arcane_merge_key") % modulus == 0
            ).withColumn("createdon", F.col("createdon") + F.lit(1))
            bn = batch.count()
            for mode in ("cow", "mor"):
                path = os.path.join(work, f"t{scale}x_{frac_label}_{mode}")
                shutil.copytree(base_path, path)
                t = ParquetMergeTarget(
                    spark=spark,
                    path=path,
                    num_buckets=64,
                    max_records_per_file=2000,
                )
                t0 = time.perf_counter()
                t.merge(batch, mode=mode)
                wall = time.perf_counter() - t0
                v = t._manifest()["version"]
                mb = commit_bytes(path, v) / 1e6
                results.append(
                    (scale, frac_label, bn, mode, mb, wall)
                )
                print(
                    f"[{scale}x] upsert {frac_label} ({bn} keys) "
                    f"{mode}: {mb:.2f} MB written, {wall:.2f} s", flush=True
                )
                shutil.rmtree(path)

    print("\n| scale | batch | mode | bytes written | wall |")
    print("|---|---|---|---|---|")
    for scale, frac, bn, mode, mb, wall in results:
        print(
            f"| {scale}x | {frac} ({bn} keys) | {mode} "
            f"| {mb:.2f} MB | {wall:.2f} s |"
        )

    # MoR accumulation: 10 sequential 0.01% upserts on the 1x table,
    # then the read-side anti-join cost and the compact() fold-in —
    # the bounded-deletes story the read path depends on
    if 1 not in scales:  # geometry-only run: no 1x base table on disk
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
        return 0
    rows = replicated(1)
    path = os.path.join(work, "t_chain")
    shutil.copytree(os.path.join(work, "base1x"), path)
    t = ParquetMergeTarget(
        spark=spark, path=path, num_buckets=64, max_records_per_file=2000
    )
    t0 = time.perf_counter()
    clean_read = t.read().count()
    clean_wall = time.perf_counter() - t0
    total_mb = 0.0
    t0 = time.perf_counter()
    for i in range(10):
        batch = rows.filter(
            F.xxhash64("arcane_merge_key", F.lit(i)) % 10000 == 0
        ).withColumn("createdon", F.col("createdon") + F.lit(1))
        t.merge(batch, mode="mor")
        total_mb += commit_bytes(path, t._manifest()["version"]) / 1e6
    chain_wall = time.perf_counter() - t0
    n_del = len(t._manifest().get("deletes", []))
    t0 = time.perf_counter()
    dirty_read = t.read().count()
    dirty_wall = time.perf_counter() - t0
    t0 = time.perf_counter()
    t.compact()
    compact_wall = time.perf_counter() - t0
    t0 = time.perf_counter()
    folded_read = t.read().count()
    folded_wall = time.perf_counter() - t0
    assert clean_read == dirty_read == folded_read
    print(
        f"\nMoR chain (1x): 10 commits {chain_wall:.1f} s, "
        f"{total_mb:.2f} MB total, {n_del} delete entries; read "
        f"clean {clean_wall:.2f} s -> with deletes {dirty_wall:.2f} s "
        f"-> compact {compact_wall:.1f} s -> folded read "
        f"{folded_wall:.2f} s ({folded_read} rows all along)",
        flush=True,
    )
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

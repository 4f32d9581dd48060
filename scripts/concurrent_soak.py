"""Cross-process concurrent-writer soak (r13 VERDICT item 5).

Every prior concurrency test runs both writers inside ONE process (one
JVM, one Hadoop FS client); the r13 orphan-grace guard and the scoped
rebucket marker sweep exist specifically to protect a concurrent
writer in ANOTHER process. This script is that writer: two separate
Spark sessions (separate JVMs, launched as subprocesses by
tests/test_concurrent_soak.py or by hand) interleave upserts (CoW and
MoR), minor compaction, vacuum with a positive orphan grace, and one
mid-soak online rebucket against a single target, with CAS fences on
(they always are — the root-manifest create is the commit point).

Invariants the orchestrator checks afterwards:
- zero lost commits: every private key from every round of both
  writers is present with its exact payload;
- shared keys fold to the globally-maximal version (latest-wins);
- zero live-data deletions: a final vacuum changes nothing visible;
- the mid-soak rebucket flipped and the table converged on the new
  bucket count.

Usage (worker mode):
    python scripts/concurrent_soak.py worker <target_path> <writer_id> <rounds>

Prints ONE JSON line: {"writer": N, "committed": [...], "retries": N}.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHARED_KEYS = 10
PRIVATE_PER_ROUND = 3


def expected_rows(outs: list[dict], rounds: int) -> dict:
    """The pure-python oracle: fold both writers' committed batches.
    Versions are globally unique by construction (r*2 + wid + 1), so
    the fold is order-independent — shared keys keep the max version's
    payload, private keys are never contested."""
    rows: dict = {}
    best = max(
        (c["version"], f"w{o['writer']}r{c['round']}")
        for o in outs
        for c in o["committed"]
    )
    for i in range(SHARED_KEYS):
        rows[f"s{i}"] = (best[0], best[1])
    for o in outs:
        wid = o["writer"]
        for c in o["committed"]:
            r = c["round"]
            for i in range(PRIVATE_PER_ROUND):
                rows[f"w{wid}-r{r}-{i}"] = (1, f"priv-w{wid}r{r}i{i}")
    return rows


def worker(path: str, wid: int, rounds: int) -> None:
    from pyspark.sql import SparkSession

    from arcane_stream_parquet_spark.operators.merge import (
        ConcurrentWriteError,
        ParquetMergeTarget,
    )

    spark = (
        SparkSession.builder.master("local[4]")
        .appName(f"concurrent-soak-w{wid}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    t = ParquetMergeTarget(
        spark=spark, path=path, num_buckets=4, max_records_per_file=20
    )
    rng = random.Random(1000 + wid)
    retries = 0
    committed: list[dict] = []

    def with_retry(fn, what: str):
        nonlocal retries
        for _ in range(120):
            try:
                return fn()
            except ConcurrentWriteError:
                retries += 1
                time.sleep(0.05 + rng.random() * 0.3)
        raise RuntimeError(f"w{wid} {what}: gave up after 120 CAS retries")

    for r in range(rounds):
        version = r * 2 + wid + 1  # globally unique: wid 0 odd, wid 1 even
        rows = [(f"s{i}", version, f"w{wid}r{r}") for i in range(SHARED_KEYS)]
        rows += [
            (f"w{wid}-r{r}-{i}", 1, f"priv-w{wid}r{r}i{i}")
            for i in range(PRIVATE_PER_ROUND)
        ]
        df = spark.createDataFrame(
            rows, "arcane_merge_key string, createdon bigint, payload string"
        )
        mode = "mor" if (r + wid) % 3 == 0 else "cow"
        with_retry(lambda: t.merge(df, mode=mode), f"merge r{r}")
        committed.append({"round": r, "version": version, "mode": mode})

        if r % 3 == 2:
            if wid == 0:
                with_retry(t.compact_minor, f"compact_minor r{r}")
            else:
                # the other writer IS mid-commit sometimes: the positive
                # grace is what keeps its staged-but-unreferenced files
                # alive (r13 orphan-age guard, vacuum docstring)
                t.vacuum(keep_last=2, orphan_grace_seconds=300.0)

        if wid == 0 and r == rounds // 2:
            # online rebucket mid-soak, interleaving with writer 1's
            # merges — each merge invalidates/restages only the units
            # it touched, and the final flip is CAS-fenced like any
            # other commit
            def _rebucket():
                out = t.rebucket(8)
                while not out.get("done"):
                    out = t.rebucket(8)
                return out

            with_retry(_rebucket, f"rebucket r{r}")

    print(json.dumps({"writer": wid, "committed": committed, "retries": retries}))
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) != 5 or sys.argv[1] != "worker":
        raise SystemExit(__doc__)
    worker(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))

"""The four workloads.  Each takes a ``Run`` (session, seed, work dir,
tracer, counters) and returns ``(ops, detail)``: the user-facing
operation samples behind the end-to-end metrics and the workload's own
named figures.

Target configuration, identical in every workload: a lineitem-shaped
table keyed by ``(l_orderkey, l_linenumber)``, ``BASE_ROWS`` rows
resharded into ``BASE_BLOBS`` blobs, a ``ParquetMergeTarget`` with
``NUM_BUCKETS`` buckets and otherwise shipped defaults (CoW default
mode, file stats on, ``dedup_strategy="sort"``), and a ``StreamRunner``
with shipped maintenance defaults.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import gen
from perfbench.layers import files_under
from perfbench.oracle import TARGET_COLS, LatestWins, merge_key, query_mismatch, target_frame
from perfbench.stats import percentile

BASE_ROWS = 20_000
BASE_BLOBS = 8
NUM_BUCKETS = 4
UPSERTS_PER_MODE = 2
# A small batch (one trickle blob, one read_mix merge): mostly updates.
BATCH_UPDATES, BATCH_INSERTS = 900, 100
TRICKLE_INTERVAL_S = 0.25
# The stream's first micro-batches after start() run colder code; the
# blobs landed in this many seconds warm it up and are not measured.
TRICKLE_WARMUP_S = 12.0
TRIGGER_INTERVAL_S = 0.5
DRAIN_TIMEOUT_S = 30.0
LOOKUP_KEYS = 100
QUERY_SF = 0.01
# The traced run's closing sweep (``layer_sweep``): a small target and a
# few registry rows over tiny tables.
SWEEP_ROWS, SWEEP_BLOBS = 2_000, 4
SWEEP_QUERY_SF = 0.001
SWEEP_QUERIES = ("latest_by_key", "groupby_pricing_summary", "join_semi_anti", "window_rank_lag")
# Registry rows over the TPC-H-ish tables and events: every query here
# has a DuckDB oracle and builds no side-effect table.
QUERIES = (
    "latest_by_key",
    "merge_key_hash",
    "field_selection",
    "normalize_names",
    "watermark_max_version",
    "merge_upsert",
    "upsert_golden_counts",
    "groupby_pricing_summary",
    "rollup_agg",
    "join_semi_anti",
    "multi_join_revenue_by_nation",
    "window_rank_lag",
    "scalar_pack",
    "asof_join",
    "range_join_binned",
    "pivot_percentile_agg",
    "event_analytics",
    "window_event_time",
)


@dataclass
class Ops:
    """Samples of the workload's user-facing operation."""

    latencies: list[float] = field(default_factory=list)
    work: float = 0.0  # units completed (rows, reads or queries)
    busy_s: float = 0.0  # wall spent completing them
    cpu_s: list[float] = field(default_factory=list)  # driver JVM CPU per unit of work

    def add(self, seconds: float, work: float = 1.0) -> None:
        self.latencies.append(seconds)
        self.work += work
        self.busy_s += seconds


def _blob_base_ms() -> int:
    """Base blobs carry mtimes an hour back, inside the file stream
    source's default max file age, and below every blob landed live."""
    return int(time.time() * 1000) - 3_600_000


def _make_target(run, name: str):
    from arcane_stream_parquet_spark.operators.merge import ParquetMergeTarget

    target = ParquetMergeTarget(
        spark=run.spark, path=os.path.join(run.work, name), num_buckets=NUM_BUCKETS
    )
    run.layers.wrap_target(target)
    return target


def _source(path: str):
    from arcane_stream_parquet_spark.sources.blob import BlobParquetSource

    return BlobParquetSource(path=path, primary_keys=list(gen.KEY_COLS))


def _pinned_batch(run, path: str):
    """Read a blob dir and pin it, as ``StreamRunner`` pins micro-batches."""
    return _source(path).read_batch(run.spark).localCheckpoint(eager=True)


def _check_target(run, target, oracle: LatestWins, what: str) -> None:
    rows = target_frame(target.read())
    bad = oracle.mismatches(rows)
    run.check(bad == 0, f"{what}: {bad} rows differ from latest-wins")
    wm = target.watermark()
    run.check(
        wm == oracle.max_version_us,
        f"{what}: watermark {wm} != max blob version {oracle.max_version_us}",
    )


def _dir_bytes(path: str) -> int:
    return sum(files_under(path).values())


# -- bulk_ingest --------------------------------------------------------------


def bulk_ingest(run):
    """Closed loop, one caller.  Each cycle: ``run_backfill`` of the base
    blobs into an empty target, then CoW upserts, then MoR upserts, each
    a re-versioned 10% batch of seeded keys.  Whole cycles repeat while
    the run's time lasts (``Run.time_up``)."""
    from arcane_stream_parquet_spark.streaming import runner as runner_mod

    ops = Ops()
    kinds = {"backfill": [], "cow": [], "mor": []}
    in_bytes = out_bytes = 0

    def cycle(c: int, rows: int, blobs: int, upserts_per_mode: int, timed: bool):
        nonlocal in_bytes, out_bytes
        rng = gen.rng_for(run.seed, 1, c)
        base_ms = _blob_base_ms() + c * 100_000
        src = os.path.join(run.work, f"bulk{c}", "base")
        base = gen.write_blobs(src, rng, np.arange(rows), blobs, base_ms)
        oracle = LatestWins()
        oracle.add(base)
        run.layers.input_bytes += sum(b.bytes for b in base)
        target = _make_target(run, f"bulk{c}/target")
        source = _source(src)
        if timed:
            run.layers.blob_scan(source, base)
        t = time.perf_counter()
        runner_mod.run_backfill(run.spark, source, target)
        dt = time.perf_counter() - t
        if timed:
            ops.add(dt, rows)
            kinds["backfill"].append((dt, rows))
        mtime = base_ms + blobs
        for j, mode in enumerate(["cow"] * upserts_per_mode + ["mor"] * upserts_per_mode):
            ids = gen.upsert_ids(rng, rows, rows // 10)
            up = os.path.join(run.work, f"bulk{c}", f"u{j}")
            dt = _commit(run, target, oracle, up, rng, ids, mtime + j, mode)
            if timed:
                ops.add(dt, len(ids))
                kinds[mode].append((dt, len(ids)))
                in_bytes += _dir_bytes(up)
        if timed:
            in_bytes += sum(b.bytes for b in base)
            out_bytes += _dir_bytes(target.path)
        _check_target(run, target, oracle, f"bulk cycle {c}")
        run.attempted += 1

    cycle(0, BASE_ROWS // 10, 4, 1, timed=False)  # warm-up: every path once, small
    run.start_measuring()
    c, last = 1, 0.0
    while not run.time_up(last):
        t, cpu = time.perf_counter(), run.jvm_cpu_s()
        cycle(c, BASE_ROWS, BASE_BLOBS, UPSERTS_PER_MODE, timed=True)
        ops.cpu_s.append(run.jvm_cpu_s() - cpu)
        last = time.perf_counter() - t
        c += 1

    def rate(samples):
        return sum(n for _t, n in samples) / sum(t for t, _n in samples)

    detail = {
        "backfill_rows_per_s": rate(kinds["backfill"]),
        "upsert_cow_rows_per_s": rate(kinds["cow"]),
        "upsert_mor_rows_per_s": rate(kinds["mor"]),
        "commit_p50_s": percentile(ops.latencies, 50),
        "write_amp": out_bytes / in_bytes,
        "cycles": c - 1,
        "commits": len(ops.latencies),
    }
    return ops, detail


# -- trickle_stream -----------------------------------------------------------


def trickle_stream(run):
    """Open loop.  The target is preloaded through the stream itself, then
    ``StreamRunner.start()`` runs with a short trigger and shipped CoW and
    maintenance defaults while one ~1,000-row blob lands every
    ``TRICKLE_INTERVAL_S`` by write-then-rename.  The blobs of the first
    ``TRICKLE_WARMUP_S`` are the warm-up; the measured window starts with
    the stream already busy.  A blob's freshness is the time from its due
    instant to the ``on_batch`` hook after which the committed watermark
    covers its mtime."""
    from arcane_stream_parquet_spark.streaming.observability import MetricsListener
    from arcane_stream_parquet_spark.streaming.runner import StreamRunner

    rng = gen.rng_for(run.seed, 2)
    # (hook time, committed watermark, batch id, driver JVM CPU seconds)
    visible: list[tuple[float, int | None, int, float]] = []
    cond = threading.Condition()

    def preload(i: int):
        """Base blobs, a target and a runner; the base goes in through the
        stream itself, so the checkpoint knows the base blobs."""
        src = os.path.join(run.work, f"trickle{i}", "src")
        base = gen.write_blobs(
            src, gen.rng_for(run.seed, 2, 0), np.arange(BASE_ROWS), BASE_BLOBS, _blob_base_ms()
        )
        target = _make_target(run, f"trickle{i}/target")

        def on_batch(batch_id, _df):
            wm = target.watermark()
            with cond:
                visible.append((time.perf_counter(), wm, batch_id, run.jvm_cpu_s()))
                cond.notify_all()

        runner = StreamRunner(
            source=_source(src),
            target=target,
            checkpoint_dir=os.path.join(run.work, f"trickle{i}", "checkpoint"),
            change_capture_interval_seconds=TRIGGER_INTERVAL_S,
            on_batch=[on_batch],
        )
        run.layers.wrap_runner(runner)
        runner.run_available_now(run.spark)
        run.layers.stream_blobs += len(base)
        return src, base, target, runner

    src, base, target, runner = run.preload(preload)
    oracle = LatestWins()
    oracle.add(base)
    listener = MetricsListener(keep_last=10_000)
    run.spark.streams.addListener(listener)
    first_hook = len(visible)  # hooks from here on are the live query's
    query = runner.start(run.spark)

    def wait_visible(version_us: int, deadline: float) -> float | None:
        with cond:
            while True:
                hit = first_visible(visible, version_us)
                if hit is not None or time.perf_counter() >= deadline:
                    return hit
                cond.wait(timeout=0.05)

    live = BASE_ROWS
    warm: list[gen.Blob] = []
    landed: list[tuple[float, gen.Blob]] = []  # measured: (due instant, blob)
    lateness: list[float] = []
    n_warm = round(TRICKLE_WARMUP_S / TRICKLE_INTERVAL_S)
    n_all = n_warm + round(run.seconds / TRICKLE_INTERVAL_S)
    try:
        t0, wall0 = time.perf_counter(), time.time()
        for i in range(n_all):
            due = t0 + i * TRICKLE_INTERVAL_S
            time.sleep(max(0.0, due - time.perf_counter()))
            if i == n_warm:
                run.start_measuring()
            ids = gen.upsert_ids(rng, live, BATCH_UPDATES, BATCH_INSERTS)
            live += BATCH_INSERTS
            mtime_ms = int((wall0 + i * TRICKLE_INTERVAL_S) * 1000)
            path = os.path.join(src, f"trickle-{i:05d}.parquet")
            size = gen.write_blob(path, gen.lineitem_rows(rng, ids), mtime_ms)
            blob = gen.Blob(path, gen.mtime_ms_of(path), len(ids), size)
            lateness.append(time.perf_counter() - due)
            if i < n_warm:
                warm.append(blob)
            else:
                landed.append((due, blob))
            oracle.add([blob])
            run.attempted += 1
        with cond:
            backlog = sum(1 for _due, b in landed if first_visible(visible, b.version_us) is None)
        drain_deadline = time.perf_counter() + DRAIN_TIMEOUT_S
        for blob in warm:
            seen = wait_visible(blob.version_us, drain_deadline)
            run.check(seen is not None, f"blob {blob.path} not visible after drain")
        fresh = []
        for due, blob in landed:
            seen = wait_visible(blob.version_us, drain_deadline)
            run.check(seen is not None, f"blob {blob.path} not visible after drain")
            if seen is not None:
                fresh.append(seen - due)
    finally:
        query.stop()
        deadline = time.perf_counter() + 5.0
        while time.perf_counter() < deadline and not _progress_settled(listener, query):
            time.sleep(0.05)
        run.spark.streams.removeListener(listener)
    _check_target(run, target, oracle, "trickle")
    run.attempted += 1

    # the micro-batches that committed a measured blob; a batch's CPU is
    # the JVM's CPU between its hook and the previous one (the stream is
    # never idle, so that is the whole trigger)
    first_us = landed[0][1].version_us
    live_hooks = visible[first_hook:]
    measured = [
        (h, prev) for prev, h in zip(live_hooks, live_hooks[1:]) if h[1] is not None and h[1] >= first_us
    ]
    ids = {h[2] for h, _prev in measured}
    batches = [r for r in listener.records if r["batch_id"] in ids and r["num_input_rows"]]
    rows = sum(r["num_input_rows"] for r in batches)
    trigger_s = sum(r["duration_ms"].get("triggerExecution", 0) for r in batches) / 1000
    ops = Ops(latencies=fresh, work=float(rows), busy_s=trigger_s)
    ops.cpu_s = [h[3] - prev[3] for h, prev in measured]
    merged = base + warm + [b for _d, b in landed]
    run.layers.stream_blobs += len(warm) + len(landed)
    run.layers.backlog_blobs = backlog
    run.layers.input_bytes += sum(b.bytes for b in merged)
    detail = {
        "freshness_p50_s": percentile(fresh, 50),
        "freshness_p90_s": percentile(fresh, 90),
        "blobs": len(landed),
        "batches": len(batches),
        "generator_lateness_max_s": max(lateness),
        "backlog_blobs_at_end": backlog,
        "write_amp": _dir_bytes(target.path) / sum(b.bytes for b in merged),
    }
    return ops, detail


def first_visible(visible, version_us: int) -> float | None:
    """Time of the first ``on_batch`` hook whose committed watermark
    covers ``version_us`` (the blob's mtime in whole ms, as µs), or None.
    ``visible`` holds (hook time, watermark, ...) in hook order."""
    return next((v[0] for v in visible if v[1] is not None and v[1] >= version_us), None)


def _progress_settled(listener, query) -> bool:
    """True once the listener has seen the query's last progress."""
    last = query.lastProgress
    return last is None or any(r["batch_id"] == last["batchId"] for r in listener.records)


# -- read_mix -----------------------------------------------------------------


def read_mix(run):
    """Closed loop, one client, MoR writes.  Each cycle: one ~1,000-row
    ``merge(mode="mor")``, one ``run_adaptive_maintenance`` poll, then the
    read set (``_read_set``)."""
    from arcane_stream_parquet_spark.streaming import runner as runner_mod

    rng = gen.rng_for(run.seed, 3)
    base_ms = _blob_base_ms()

    def preload(i: int):
        src = os.path.join(run.work, f"mix{i}", "base")
        base = gen.write_blobs(
            src, gen.rng_for(run.seed, 3, 0), np.arange(BASE_ROWS), BASE_BLOBS, base_ms
        )
        target = _make_target(run, f"mix{i}/target")
        runner_mod.run_backfill(run.spark, _source(src), target)
        return src, base, target

    src, base, target = run.preload(preload)
    oracle = LatestWins()
    oracle.add(base)
    run.layers.blob_scan(_source(src), base)
    run.layers.input_bytes += sum(b.bytes for b in base)

    ops = Ops()
    commits: list[float] = []
    live = BASE_ROWS
    mtime = base_ms + BASE_BLOBS

    def cycle(c: int, timed: bool):
        nonlocal live, mtime
        ids = gen.upsert_ids(rng, live, BATCH_UPDATES, BATCH_INSERTS)
        live += BATCH_INSERTS
        before = target.snapshot_versions()[-1]
        dt = _commit(run, target, oracle, os.path.join(run.work, "mix", f"b{c}"), rng, ids, mtime, "mor")
        mtime += 1
        if timed:
            commits.append(dt)
        target.run_adaptive_maintenance()
        _read_set(run, target, oracle, rng, live, before, len(ids), ops if timed else None)

    cycle(0, timed=False)  # warm-up
    run.start_measuring()
    c, last = 1, 0.0
    while not run.time_up(last):
        t, cpu = time.perf_counter(), run.jvm_cpu_s()
        cycle(c, timed=True)
        ops.cpu_s.append(run.jvm_cpu_s() - cpu)
        last = time.perf_counter() - t
        c += 1
    _check_target(run, target, oracle, "read_mix")
    run.attempted += 1
    run.layers.pending_delete_files = target.maintenance_metrics()["delete_file_count"]
    detail = {
        "read_p50_s": percentile(ops.latencies, 50),
        "read_p90_s": percentile(ops.latencies, 90),
        "commit_p50_s": percentile(commits, 50),
        "cycles": c - 1,
        "pending_delete_files": run.layers.pending_delete_files,
    }
    return ops, detail


def _commit(run, target, oracle, directory, rng, ids, mtime_ms, mode) -> float:
    """Land ``ids`` as one blob, merge it as the runner would (pinned
    batch, then the watermark) and return the ``merge`` call's time."""
    blobs = gen.write_blobs(directory, rng, ids, 1, mtime_ms)
    batch = _pinned_batch(run, directory)
    t = time.perf_counter()
    target.merge(batch, mode=mode)
    dt = time.perf_counter() - t
    batch.unpersist()
    target.commit_watermark(blobs[0].version_us)
    oracle.add(blobs)
    run.layers.input_bytes += blobs[0].bytes
    run.attempted += 1
    return dt


def _read_set(run, target, oracle, rng, live, before, changed, ops=None) -> None:
    """``lookup`` of ``LOOKUP_KEYS`` random live keys, a ``count_where``
    range, a ``read_where`` range, ``read_changes`` since snapshot
    ``before`` (``changed`` rows) and ``read().count()``, each checked
    against the oracle.  Read times go to ``ops`` when given."""
    orders = live // gen.LINES_PER_ORDER
    span = max(1, orders // 50)
    lo = int(rng.integers(0, orders - span))
    rng_pred = (("l_orderkey", ">=", lo), ("l_orderkey", "<", lo + span))
    rng_sql = f"l_orderkey >= {lo} AND l_orderkey < {lo + span}"
    pick = rng.choice(live, size=min(LOOKUP_KEYS, live), replace=False)
    okeys, lines = gen.key_columns(pick)
    keys = [merge_key(o, n) for o, n in zip(okeys, lines)]
    pick_sql = " OR ".join(f"(l_orderkey = {o} AND l_linenumber = {n})" for o, n in zip(okeys, lines))
    lo2 = int(rng.integers(0, orders - span))
    rng2_pred = (("l_orderkey", ">=", lo2), ("l_orderkey", "<", lo2 + span))
    rng2_sql = f"l_orderkey >= {lo2} AND l_orderkey < {lo2 + span}"

    reads = [
        ("lookup", lambda: target.lookup(keys).select(*TARGET_COLS).toPandas()),
        ("count_where", lambda: target.count_where(*rng_pred)),
        ("read_where", lambda: target.read_where(*rng2_pred).count()),
        ("read_changes", lambda: target.read_changes(before).count()),
        ("read_count", lambda: target.read().count()),
    ]
    got = {}
    for name, fn in reads:
        t = time.perf_counter()
        with run.tracer.span(f"read.{name}", "operators.merge.read"):
            got[name] = fn()
        dt = time.perf_counter() - t
        run.attempted += 1
        if ops is not None:
            ops.add(dt)
    bad = oracle.mismatches(got["lookup"], pick_sql)
    run.check(bad == 0, f"lookup: {bad} rows differ")
    exp = oracle.count(rng_sql)
    run.check(got["count_where"] == exp, f"count_where {got['count_where']} != {exp}")
    exp = oracle.count(rng2_sql)
    run.check(got["read_where"] == exp, f"read_where {got['read_where']} != {exp}")
    run.check(got["read_changes"] == changed, f"read_changes {got['read_changes']} != {changed}")
    exp = oracle.count()
    run.check(got["read_count"] == exp, f"read().count() {got['read_count']} != {exp}")


# -- query_registry -----------------------------------------------------------


def _query_tables(run, name: str, sf: float, names) -> tuple[dict, str]:
    """Seeded query tables under ``name``; every row in ``names`` is
    collected once and checked against its DuckDB oracle (which also
    warms it).  Returns the builders and the table directory."""
    import duckdb

    from arcane_stream_parquet_spark.plans import oracle_queries, spark_queries

    data = os.path.join(run.work, name)
    counts = gen.write_query_tables(data, run.seed, sf)
    builders, oracles = spark_queries(), oracle_queries()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for table in counts:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{data}/{table}.parquet'")
        for q in names:
            spark_pd = builders[q](run.spark, data).toPandas()
            reason = query_mismatch(spark_pd, con.execute(oracles[q]).df())
            run.check(reason is None, f"{q}: {reason}")
    finally:
        con.close()
    return builders, data


def _query_pass(run, builders, data, names, times) -> None:
    """Every row in ``names`` once through the ``noop`` sink; appends
    each row's time to ``times[row]``."""
    for q in names:
        t = time.perf_counter()
        with run.tracer.span(q, "plans", phase="plan"):
            df = builders[q](run.spark, data)
        with run.tracer.span(q, "plans", phase="exec"):
            df.write.format("noop").mode("overwrite").save()
        times.setdefault(q, []).append(time.perf_counter() - t)
        run.attempted += 1


def query_registry(run):
    """The registry rows in ``QUERIES`` over seeded tables at ``QUERY_SF``.
    The first pass collects each result and checks it against the row's
    DuckDB oracle (and warms the query); timed passes then run every
    query through the ``noop`` sink until the run's time is up.  A
    query's time is its median over the timed passes."""
    builders, data = _query_tables(run, "tables", QUERY_SF, QUERIES)
    times: dict[str, list[float]] = {}
    run.start_measuring()
    passes, last, cpu_s = 0, 0.0, []
    while not run.time_up(last):
        start, cpu = time.perf_counter(), run.jvm_cpu_s()
        _query_pass(run, builders, data, QUERIES, times)
        cpu_s.append(run.jvm_cpu_s() - cpu)
        passes += 1
        last = time.perf_counter() - start
    medians = [float(np.median(v)) for v in times.values()]
    total = sum(medians)
    ops = Ops(latencies=medians, work=float(len(medians)), busy_s=total, cpu_s=cpu_s)
    detail = {"query_total_s": total, "queries": len(QUERIES), "passes": passes}
    return ops, detail


# -- traced-run sweep ---------------------------------------------------------


def layer_sweep(run) -> None:
    """Close a traced run with one pass through every layer, so each
    per-layer metric has samples whichever workload ran: a blob scan, a
    ``run_backfill``, one CoW and two MoR merges, the read set, each
    maintenance call, a stream of two micro-batches and a few registry
    rows, all on small inputs and all checked against the oracles.  It
    runs after the measured window and its spans join the run's."""
    from arcane_stream_parquet_spark.streaming import runner as runner_mod
    from arcane_stream_parquet_spark.streaming.runner import StreamRunner

    rng = gen.rng_for(run.seed, 9)
    base_ms = _blob_base_ms()
    src = os.path.join(run.work, "sweep", "base")
    base = gen.write_blobs(src, rng, np.arange(SWEEP_ROWS), SWEEP_BLOBS, base_ms)
    run.layers.input_bytes += sum(b.bytes for b in base)
    run.layers.blob_scan(_source(src), base)
    target = _make_target(run, "sweep/target")
    runner_mod.run_backfill(run.spark, _source(src), target)
    oracle = LatestWins()
    oracle.add(base)

    # stream: the base in one micro-batch, then one more blob in a second
    stream_target = _make_target(run, "sweep/stream_target")
    runner = StreamRunner(
        source=_source(src),
        target=stream_target,
        checkpoint_dir=os.path.join(run.work, "sweep", "checkpoint"),
    )
    run.layers.wrap_runner(runner)
    runner.run_available_now(run.spark)
    mtime = base_ms + SWEEP_BLOBS
    ids = gen.upsert_ids(rng, SWEEP_ROWS, BATCH_UPDATES, BATCH_INSERTS)
    more = gen.write_blobs(src, rng, ids, 1, mtime, "more")
    mtime += 1
    runner.run_available_now(run.spark)
    run.layers.stream_blobs += len(base) + len(more)
    run.layers.input_bytes += more[0].bytes
    stream_oracle = LatestWins()
    stream_oracle.add(base + more)
    _check_target(run, stream_target, stream_oracle, "sweep stream")
    run.attempted += 1

    # direct calls on the backfilled target: merges, reads, maintenance
    live = SWEEP_ROWS
    for k, mode in enumerate(("cow", "mor", "mor")):
        ids = gen.upsert_ids(rng, live, BATCH_UPDATES, BATCH_INSERTS)
        live += BATCH_INSERTS
        before = target.snapshot_versions()[-1]
        _commit(run, target, oracle, os.path.join(run.work, "sweep", f"u{k}"), rng, ids, mtime, mode)
        mtime += 1
    _read_set(run, target, oracle, rng, live, before, len(ids))
    target.run_adaptive_maintenance()
    target.compact_minor()
    target.compact()
    target.vacuum()
    _check_target(run, target, oracle, "sweep")
    run.attempted += 1

    builders, data = _query_tables(run, "sweep/tables", SWEEP_QUERY_SF, SWEEP_QUERIES)
    _query_pass(run, builders, data, SWEEP_QUERIES, {})


WORKLOADS = {
    "bulk_ingest": bulk_ingest,
    "trickle_stream": trickle_stream,
    "read_mix": read_mix,
    "query_registry": query_registry,
}

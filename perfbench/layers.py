"""Per-layer instrumentation for traced runs, named after the engine's
modules, and the per-layer metrics computed from its spans.

Layers and the calls wrapped at their boundary:

- ``session``: ``build_session`` (timed by ``run.py``).
- ``sources.blob``: ``BlobParquetSource`` scans, plus a noop scan of
  ``read_batch`` over the base blobs.
- ``streaming.runner``: ``run_backfill``, ``watermark_value`` as the
  runner calls it, ``StreamRunner.run_available_now``/``start``, the
  runner's ``foreachBatch`` function (per instance), and the
  ``MetricsListener`` phases of every micro-batch of the run.
- ``operators.merge`` write / read / maintenance: ``ParquetMergeTarget``
  methods, wrapped per instance.
- ``fsio``: the public ``HadoopFileIO`` methods the merge target calls.
- ``plans``: the registry builders (plan) and their noop sink (exec).

When tracing is off every hook is a no-op and ``metrics()`` is unused.
A traced run ends with ``workloads.layer_sweep``, which calls every
layer once more, so every per-layer metric has samples on every
workload.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

LAYER_SHORT = {
    "session": "session",
    "sources.blob": "blob",
    "streaming.runner": "runner",
    "operators.merge.write": "merge.write",
    "operators.merge.read": "read",
    "operators.merge.maintenance": "maint",
    "fsio": "fsio",
    "plans": "plans",
}
FSIO_GROUPS = {
    "list": ("list_names", "list_files", "list_files_recursive"),
    "read": ("read_bytes", "read_text", "exists", "mtime_ms"),
    "create": ("create_text", "mkdirs"),
    "delete": ("delete",),
}
COMMIT_KINDS = ("initial", "cow", "mor")
COMMIT_COUNTS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_bytes",
    "bytes_written",
    "files_written",
    "files_kept",
)
READ_OPS = {
    "lookup": "read.lookup_s",
    "count_where": "read.count_where_s",
    "read_where": "read.where_s",
    "read_changes": "read.changes_s",
    "read_count": "read.scan_s",
}
MAINT_METHODS = ("run_adaptive_maintenance", "compact_minor", "compact", "vacuum")


def metric_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    names = ["session.start_s", "blob.scan_s", "blob.files", "blob.rows"]
    names += [
        "runner.backfill_s",
        "runner.watermark_max_s",
        "runner.batch_s",
        "runner.trigger_s",
        "runner.stream_planning_s",
        "runner.fixed_s",
        "runner.blobs_per_batch",
        "runner.backlog_blobs",
    ]
    names += ["merge.initial_s", "merge.cow_s", "merge.mor_s", "merge.watermark_commit_s"]
    names += [f"merge.{k}.{c}" for k in COMMIT_KINDS for c in COMMIT_COUNTS]
    names += ["merge.write_amp"]
    names += list(READ_OPS.values()) + ["read.jobs", "read.pending_delete_files"]
    names += ["maint.poll_s", "maint.compact_minor_s", "maint.compact_s", "maint.vacuum_s"]
    names += ["maint.runs", "maint.bytes_rewritten"]
    names += [f"fsio.{g}.{k}" for g in FSIO_GROUPS for k in ("calls", "s")]
    names += ["plans.plan_s", "plans.exec_s", "plans.jobs"]
    names += [f"{short}.self_s" for short in LAYER_SHORT.values()]
    names += ["traced.latency_p50_s", "traced.cpu_s_per_op"]
    return names


def files_under(path: str) -> dict[str, int]:
    """Every file below ``path`` with its size."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def _live_files(target) -> set:
    """Live data files of the committed manifest (empty before the first
    commit)."""
    if not target.exists():
        return set()
    files = target._manifest().get("files") or []
    return {(target._dirname_of(e), e["b"], e["n"]) for e in files}


class Layers:
    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.enabled = tracer.enabled
        self.listener = None
        self.commits: list[dict] = []
        self.rewrites: list[int] = []
        self.blob_files = self.blob_rows = 0
        self.input_bytes = 0
        self.stream_blobs = 0  # blobs fed to a stream
        self.backlog_blobs = 0
        self.pending_delete_files = 0

    # -- wrapping -------------------------------------------------------------

    def install(self) -> None:
        """Wrap the module-level and class-level boundaries and listen to
        every streaming query of the run."""
        if not self.enabled:
            return
        from arcane_stream_parquet_spark import fsio
        from arcane_stream_parquet_spark.sources.blob import BlobParquetSource
        from arcane_stream_parquet_spark.streaming import runner as runner_mod
        from arcane_stream_parquet_spark.streaming.observability import MetricsListener

        t = self.tracer
        for group, methods in FSIO_GROUPS.items():
            for m in methods:
                t.wrap(fsio.HadoopFileIO, m, "fsio", name=f"fsio.{group}.{m}")
        t.wrap(runner_mod, "run_backfill", "streaming.runner", name="runner.backfill")
        t.wrap(runner_mod, "watermark_value", "streaming.runner", name="runner.watermark_max")
        t.wrap_all(
            BlobParquetSource,
            ("read_batch", "read_files", "read_stream", "sniff_schema"),
            "sources.blob",
            prefix="blob.",
        )
        self.listener = MetricsListener(keep_last=100_000)
        t.spark.streams.addListener(self.listener)

    def wrap_runner(self, runner) -> None:
        """Wrap one ``StreamRunner`` before its query starts: its entry
        points, and the ``foreachBatch`` function every micro-batch calls
        (bound when the query is built, so a per-instance wrap is seen)."""
        if not self.enabled:
            return
        t = self.tracer
        t.wrap_all(runner, ("run_available_now", "start"), "streaming.runner", prefix="runner.")
        t.wrap(runner, "_merge_batch", "streaming.runner", name="runner.foreach_batch")

    def wrap_target(self, target) -> None:
        if not self.enabled:
            return
        t = self.tracer
        self._wrap_merge(target)
        t.wrap(target, "commit_watermark", "operators.merge.write", name="merge.commit_watermark")
        for m in MAINT_METHODS:
            self._wrap_rewrite(target, m)

    def _wrap_merge(self, target) -> None:
        orig = target.merge

        def wrapper(batch, mode=None):
            kind = (mode or target.merge_mode).lower() if target.exists() else "initial"
            files0, live0 = files_under(target.path), _live_files(target)
            with self.tracer.span(f"merge.{kind}", "operators.merge.write") as span:
                out = orig(batch, mode=mode)
            files1, live1 = files_under(target.path), _live_files(target)
            new = set(files1) - set(files0)
            self.commits.append(
                {
                    "kind": kind,
                    "span": span,
                    "bytes_written": sum(files1[p] for p in new),
                    "files_written": sum(1 for p in new if p.endswith(".parquet")),
                    "files_kept": len(live0 & live1),
                }
            )
            return out

        target.merge = wrapper

    def _wrap_rewrite(self, target, method: str) -> None:
        orig = getattr(target, method)

        rewrites = method in ("compact_minor", "compact")

        def wrapper(*args, **kwargs):
            files0 = files_under(target.path) if rewrites else {}
            with self.tracer.span(f"maint.{method}", "operators.merge.maintenance"):
                out = orig(*args, **kwargs)
            if rewrites:
                files1 = files_under(target.path)
                self.rewrites.append(sum(files1[p] for p in set(files1) - set(files0)))
            return out

        setattr(target, method, wrapper)

    def blob_scan(self, source, blobs) -> None:
        """Noop scan of the source's enriched batch read (traced only)."""
        if not self.enabled:
            return
        with self.tracer.span("blob.scan", "sources.blob"):
            source.read_batch(self.tracer.spark).write.format("noop").mode("overwrite").save()
        self.blob_files += len(blobs)
        self.blob_rows += sum(b.rows for b in blobs)

    # -- metrics --------------------------------------------------------------

    def metrics(self) -> dict[str, float]:
        spans = self.tracer.spans
        by_name: dict[str, list] = defaultdict(list)
        for s in spans:
            by_name[s.name].append(s)

        def med(name: str) -> float:
            xs = [s.duration for s in by_name.get(name, [])]
            return statistics.median(xs) if xs else 0.0

        out: dict[str, float] = {name: 0.0 for name in metric_names()}
        out["session.start_s"] = med("session.start")
        out["blob.scan_s"] = med("blob.scan")
        out["blob.files"] = self.blob_files
        out["blob.rows"] = self.blob_rows
        out["runner.backfill_s"] = med("runner.backfill")
        out["runner.watermark_max_s"] = med("runner.watermark_max")
        out.update(self._stream_metrics(by_name))
        for kind in COMMIT_KINDS:
            out[f"merge.{kind}_s"] = med(f"merge.{kind}")
            rows = [c for c in self.commits if c["kind"] == kind]
            for c in COMMIT_COUNTS:
                vals = [r[c] if c in r else getattr(r["span"], c) for r in rows]
                out[f"merge.{kind}.{c}"] = statistics.median(vals) if vals else 0
        out["merge.watermark_commit_s"] = med("merge.commit_watermark")
        written = sum(c["bytes_written"] for c in self.commits)
        out["merge.write_amp"] = written / self.input_bytes if self.input_bytes else 0.0
        for op, name in READ_OPS.items():
            out[name] = med(f"read.{op}")
        out["read.jobs"] = sum(s.jobs for s in spans if s.layer == "operators.merge.read")
        out["read.pending_delete_files"] = self.pending_delete_files
        out["maint.poll_s"] = med("maint.run_adaptive_maintenance")
        out["maint.compact_minor_s"] = med("maint.compact_minor")
        out["maint.compact_s"] = med("maint.compact")
        out["maint.vacuum_s"] = med("maint.vacuum")
        out["maint.runs"] = len(by_name.get("maint.compact_minor", [])) + len(
            by_name.get("maint.compact", [])
        )
        out["maint.bytes_rewritten"] = sum(self.rewrites)
        for group, methods in FSIO_GROUPS.items():
            calls = [s for m in methods for s in by_name.get(f"fsio.{group}.{m}", [])]
            out[f"fsio.{group}.calls"] = len(calls)
            out[f"fsio.{group}.s"] = sum(s.duration for s in calls)
        out.update(self._plan_metrics(spans))
        for layer, secs in self.tracer.layer_self_s().items():
            out[f"{LAYER_SHORT[layer]}.self_s"] = secs
        return out

    def _stream_metrics(self, by_name) -> dict[str, float]:
        """Medians over the run's micro-batches that read rows.  The
        fixed cost of a batch is the self time of the runner's
        ``foreachBatch`` function: pinning the batch, the empty check and
        the hooks, without the merge, watermark and maintenance calls it
        makes."""
        batches = [r for r in self.listener.records if r["num_input_rows"]]
        if not batches:
            return {}

        def med_s(*keys: str) -> float:
            return statistics.median(sum(b["duration_ms"].get(k, 0) for k in keys) for b in batches) / 1000

        selfs = self.tracer.self_times()
        fixed = [selfs[s.id] for s in by_name.get("runner.foreach_batch", [])]
        return {
            "runner.batch_s": med_s("addBatch"),
            "runner.trigger_s": med_s("triggerExecution"),
            "runner.stream_planning_s": med_s("latestOffset", "getBatch", "queryPlanning"),
            "runner.fixed_s": statistics.median(fixed) if fixed else 0.0,
            "runner.blobs_per_batch": self.stream_blobs / len(batches),
            "runner.backlog_blobs": self.backlog_blobs,
        }

    def _plan_metrics(self, spans) -> dict[str, float]:
        per: dict[tuple[str, str], list] = defaultdict(list)
        for s in spans:
            if s.layer == "plans":
                per[(s.name, s.attrs["phase"])].append(s)
        if not per:
            return {}

        def total(phase: str, field: str) -> float:
            return sum(
                statistics.median(getattr(s, field) for s in ss)
                for (_n, p), ss in per.items()
                if p == phase
            )

        return {
            "plans.plan_s": total("plan", "duration"),
            "plans.exec_s": total("exec", "duration"),
            "plans.jobs": total("plan", "jobs") + total("exec", "jobs"),
        }

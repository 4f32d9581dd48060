"""In-memory span tracer for the traced (``--trace 1``) runs.

Spans are recorded from benchmark code around calls into the engine's
layers: the tracer replaces a public function or method with a wrapper
that opens a span, tags the Spark jobs it runs with a job group of its
own, and closes the span when the call returns.  Nothing in the engine
is edited.  Spans stay in memory and are written out when the run ends.

A span's Spark work (jobs, stages, tasks, shuffle bytes) is its *self*
work: a nested span sets its own job group, so the jobs it runs are
counted once, on the innermost span.  Self time is the span's duration
minus the part of it covered by its child spans.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op
    pass-through, so the timed runs pay nothing."""

    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()

    # -- spans ----------------------------------------------------------------

    def _stack(self) -> list[Span]:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        stack = self._stack()
        s = Span(
            id=next(self._ids),
            name=name,
            layer=layer,
            start=0.0,
            parent=stack[-1].id if stack else None,
            run_id=self.run_id,
            attrs=dict(attrs),
        )
        group = f"perfbench-{self.run_id}-{s.id}"
        prev = sc.getLocalProperty(_GROUP_PROP)
        sc.setLocalProperty(_GROUP_PROP, group)
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            sc.setLocalProperty(_GROUP_PROP, prev)
            self._count_jobs(s, group)
            with self._lock:
                self.spans.append(s)

    def _count_jobs(self, s: Span, group: str) -> None:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            s.jobs += 1
            for sid in info.stageIds:
                stage = tracker.getStageInfo(sid)
                if stage is None or stage.numCompletedTasks == 0:
                    continue  # skipped (reused shuffle output)
                s.stages += 1
                s.tasks += stage.numTasks
                s.shuffle_bytes += _stage_shuffle_write(sc, store, sid)

    # -- wrapping -------------------------------------------------------------

    def wrap(self, owner, attr: str, layer: str, name: str | None = None) -> None:
        """Replace ``owner.attr`` (module function, class method or bound
        method of one instance) by a span-opening wrapper."""
        if not self.enabled:
            return
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        label = name or attr

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(label, layer):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def wrap_all(self, owner, attrs, layer: str, prefix: str = "") -> None:
        for attr in attrs:
            self.wrap(owner, attr, layer, name=prefix + attr)

    # -- reporting ------------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the union of its children's
        intervals (children may run on other threads and overlap)."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children[s.id], key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_end is None or lo > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = lo, hi
                else:
                    cur_end = max(cur_end, hi)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.id] = s.duration - covered
        return out

    def layer_self_s(self) -> dict[str, float]:
        selfs = self.self_times()
        totals: dict[str, float] = defaultdict(float)
        for s in self.spans:
            totals[s.layer] += selfs[s.id]
        return dict(totals)

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                row = asdict(s)
                row["self_s"] = selfs[s.id]
                fh.write(json.dumps(row) + "\n")


def _stage_shuffle_write(sc, store, stage_id: int) -> int:
    """Shuffle bytes a stage wrote, from the app status store (kept with
    ``spark.ui.enabled=false``)."""
    from py4j.protocol import Py4JJavaError

    try:
        gw = sc._gateway
        empty = gw.jvm.java.util.ArrayList()
        rows = store.stageData(stage_id, False, empty, False, gw.new_array(gw.jvm.double, 0))
        total = 0
        it = rows.iterator()
        while it.hasNext():
            total += int(it.next().shuffleWriteBytes())
        return total
    except Py4JJavaError:  # stage evicted from the store
        return 0

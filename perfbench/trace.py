"""Span recording for the traced benchmark run.

Spans are recorded from the benchmark's own files only: `Tracer.install`
wraps the engine's public entry points (module attributes and
`LaketteTable` methods) and restores the originals on exit, so the engine
modules are never edited. Each wrapper returns the wrapped call's result
unchanged.

A span is (name, start, end, parent, run id, thread, phase, attrs). Parents
come from a per-thread stack: `foreachBatch` runs `merge_into` on a Spark
callback thread, so the streaming epochs nest under their own thread's
spans, and `attach_orphans` later hangs them under the trigger span they
overlap most.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

#: executor counters read from the Spark status store at span boundaries
SPARK_COUNTERS = {
    "shuffle_write_bytes": "totalShuffleWrite",
    "shuffle_read_bytes": "totalShuffleRead",
    "input_bytes": "totalInputBytes",
    "task_ms": "totalDuration",
    "gc_ms": "totalGCTime",
    "tasks": "completedTasks",
    "failed_tasks": "failedTasks",
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    run_id: str = ""
    thread: str = ""
    phase: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span: its duration minus the part of its interval that
    its children cover (children clipped to the parent, overlaps counted
    once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        covered = [
            (max(c.start, s.start), min(c.end if c.end is not None else c.start, end))
            for c in kids.get(s.id, [])
        ]
        covered = [(lo, hi) for lo, hi in covered if hi > lo]
        out[s.id] = max(0.0, (end - s.start) - union_length(covered))
    return out


def descendants(spans: list[Span], root: int) -> list[Span]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c.id)
    return out


#: Spark reports a trigger's start and duration in whole milliseconds
TRIGGER_RESOLUTION_S = 0.002


def epochs_over_wall(spans: list[Span], roots: tuple[str, ...]) -> tuple[int, list[int]]:
    """(epochs checked, ids of the epochs whose spans' self times sum to more
    than the epoch's wall time). An epoch is a span named in `roots`; a
    streaming trigger's wall time is the listener's interval, so a merge span
    that runs past its trigger makes the sum exceed it (children are clipped
    to their parent, their own time is not)."""
    selfs = self_times(spans)
    over = []
    checked = [s for s in spans if s.name in roots]
    for r in checked:
        tol = TRIGGER_RESOLUTION_S if r.name == "streaming.trigger" else 1e-6
        if sum(selfs[s.id] for s in [r, *descendants(spans, r.id)]) > r.duration + tol:
            over.append(r.id)
    return len(checked), over


class NullTracer:
    """Tracing off: spans cost one context-manager entry and record nothing."""

    enabled = False
    phase = ""

    @contextmanager
    def span(self, name: str, **attrs):
        yield attrs


class Tracer:
    def __init__(self, spark=None):
        self.enabled = True
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self.phase = "setup"
        self.spark = spark
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, *, counters: bool = False, **attrs):
        st = self._stack()
        s = Span(
            id=next(self._ids), name=name, start=time.time(),
            parent=st[-1] if st else None, run_id=self.run_id,
            thread=threading.current_thread().name, phase=self.phase,
            attrs=dict(attrs),
        )
        before = self.counters() if counters else None
        with self._lock:
            self.spans.append(s)
        st.append(s.id)
        try:
            yield s.attrs
        finally:
            st.pop()
            s.end = time.time()
            if before is not None:
                after = self.counters()
                s.attrs["spark"] = {k: after[k] - before[k] for k in after}

    def add_span(self, name: str, start: float, end: float, **attrs) -> Span:
        s = Span(
            id=next(self._ids), name=name, start=start, end=end,
            run_id=self.run_id, thread="listener", phase=self.phase,
            attrs=dict(attrs),
        )
        with self._lock:
            self.spans.append(s)
        return s

    def counters(self) -> dict[str, int]:
        """Executor totals from the status store (works with the UI off)."""
        execs = self.spark.sparkContext._jsc.sc().statusStore().executorList(True)
        tot = dict.fromkeys(SPARK_COUNTERS, 0)
        for i in range(execs.size()):
            e = execs.apply(i)
            for k, attr in SPARK_COUNTERS.items():
                tot[k] += int(getattr(e, attr)())
        return tot

    # ------------------------------------------------------------ wrappers

    def _patch(self, owner, attr: str, name: str, on_result=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as a:
                try:
                    res = orig(*args, **kwargs)
                except Exception as exc:
                    a["error"] = type(exc).__name__
                    raise
                if on_result is not None:
                    on_result(a, args, kwargs, res)
                return res

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    def install(self) -> "Tracer":
        """Wrap the engine's layer boundaries. `uninstall` restores them."""
        from forklift_spark.lakette import table as lk
        from forklift_spark.operators import changes, merge
        from forklift_spark.streaming import ingest

        def merge_stats(a, args, kwargs, st):
            a.update(
                epoch=st.epoch, skipped=st.skipped, batch_rows=st.batch_rows,
                applied_rows=st.applied_rows, rows_rewritten=st.rows_rewritten,
                touched_buckets=st.touched_buckets, bucket_skew=st.bucket_skew,
                key_skew=st.key_skew, salt_buckets=st.salt_buckets,
                mode_used=st.mode_used, evolved=len(st.evolved_columns),
            )

        def compact_stats(a, args, kwargs, res):
            a.update(buckets=res.get("compacted_buckets", 0))

        def planned(a, args, kwargs, files):
            a.update(files=len(files))

        # `ingest` binds merge_into by name at import time: patch both names
        self._patch(merge, "merge_into", "merge.merge_into", merge_stats)
        self._patch(ingest, "merge_into", "merge.merge_into", merge_stats)
        self._patch(merge, "compact", "merge.compact", compact_stats)
        self._patch(lk.LaketteTable, "commit_version", "lakette.commit_version")
        self._patch(lk.LaketteTable, "snapshot", "lakette.snapshot")
        self._patch(lk.LaketteTable, "plan_files", "lakette.plan_files", planned)
        self._patch(changes, "snapshot_diff", "changes.snapshot_diff")
        return self

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ output

    def attach_orphans(self) -> int:
        """Hang each parentless callback-thread span under the listener's
        trigger span it overlaps most. Trigger spans keep the interval the
        listener reported, so `epochs_over_wall` can catch a span that does
        not fit its trigger. Returns the number of callback-thread spans
        that overlap no trigger."""
        triggers = [s for s in self.spans if s.name == "streaming.trigger"]
        lost = 0
        for s in self.spans:
            if s.parent is not None or s.thread in ("listener", "MainThread"):
                continue
            best = max(triggers, key=lambda t: min(t.end, s.end) - max(t.start, s.start), default=None)
            if best is None or min(best.end, s.end) <= max(best.start, s.start):
                lost += 1
            else:
                s.parent = best.id
        return lost

    def dump(self, path: str, extra: dict) -> None:
        """Write every span, with its self time, as one JSON document."""
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump(
                {"run_id": self.run_id, **extra,
                 "spans": [{**asdict(s), "self": selfs[s.id]} for s in self.spans]},
                f,
            )


class ProgressListener(StreamingQueryListener):
    """Collects `durationMs` of every micro-batch (trigger)."""

    def __init__(self):
        super().__init__()
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            self.progress.append(
                {
                    "timestamp": p.timestamp,
                    "batch_id": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                }
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def count(self) -> int:
        with self._lock:
            return len(self.progress)

    def wait_for(self, n: int, timeout: float = 10.0) -> None:
        """Progress events arrive asynchronously over the listener bus."""
        deadline = time.monotonic() + timeout
        while self.count() < n and time.monotonic() < deadline:
            time.sleep(0.02)

    def take(self) -> list[dict]:
        with self._lock:
            out, self.progress = self.progress, []
        return out

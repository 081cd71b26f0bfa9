"""Spans, layer wrappers and Spark status-store readers.

Everything here lives in the benchmark: the engine is observed from the
outside. A :class:`Recorder` keeps spans in memory (name, start, end,
parent, op id). Each span tags the Spark jobs it launches with a job group
of its own, so per-stage executor metrics can be read back per span from
the status store, which works with the UI disabled.

Layer wrappers are installed only in traced runs. They replace a public
function at every module attribute (and class attribute) that holds it, so
``from x import f`` call sites are covered too, and are removed afterwards.

Micro-batch jobs run on the stream thread under the stream's own job group
(its run id); :class:`StreamListener` records each run id and each
micro-batch's ``StreamingQueryProgress``.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


def now_ms() -> float:
    """Wall clock in epoch milliseconds: the base Spark uses for job times."""
    return time.time() * 1000.0


@dataclass
class Span:
    sid: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    jobs: list[int] = field(default_factory=list)

    @property
    def ms(self) -> float:
        return self.end - self.start


class Recorder:
    """In-memory span store. ``op`` is the id of the op being timed; spans
    opened on other threads (a ``foreachBatch`` callback) hang under the
    innermost span open on the thread that runs the op."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.op: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._owner: list[Span] = []
        self._owner_thread = threading.get_ident()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._owner_thread:
            return self._owner
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        outer = stack or self._owner
        sp = Span(
            next(self._ids), name, self.op,
            outer[-1].sid if outer else None, now_ms(),
        )
        sp.group = f"perfbench-{sp.sid}"
        prev = (self.sc.getLocalProperty(_GROUP), self.sc.getLocalProperty(_DESC))
        self.sc.setLocalProperty(_GROUP, sp.group)
        self.sc.setLocalProperty(_DESC, name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = now_ms()
            stack.pop()
            self.sc.setLocalProperty(_GROUP, prev[0])
            self.sc.setLocalProperty(_DESC, prev[1])
            with self._lock:
                self.spans.append(sp)

    def resolve_jobs(self, spans: list[Span]) -> None:
        """Fill ``span.jobs`` from the status tracker (call once the op ended)."""
        st = self.sc.statusTracker()
        for sp in spans:
            sp.jobs = sorted(st.getJobIdsForGroup(sp.group))

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s.sid):
                fh.write(json.dumps({
                    "sid": sp.sid, "name": sp.name, "op": sp.op,
                    "parent": sp.parent, "start_ms": round(sp.start, 3),
                    "end_ms": round(sp.end, 3), "jobs": sp.jobs,
                }) + "\n")


class Wrappers:
    """Install span wrappers around public engine functions.

    ``targets`` is a list of ``(owner, attr, span_name)``; ``owner`` is a
    module or a class. For module functions every loaded
    ``dask_pipes_spark`` module attribute bound to the same object is
    replaced too. ``keep`` maps a span name to a list that collects what
    the wrapped function returns, for counts taken after the op."""

    def __init__(self, rec: Recorder, targets, keep: dict[str, list] | None = None):
        self.rec = rec
        self.targets = targets
        self.keep = keep or {}
        self._undo: list[tuple[object, str, object]] = []

    def _wrap(self, fn, name: str):
        rec = self.rec
        sink = self.keep.get(name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with rec.span(name):
                out = fn(*args, **kwargs)
            if sink is not None:
                sink.append(out)
            return out

        return traced

    def __enter__(self) -> "Wrappers":
        mods = [
            m for n, m in list(sys.modules.items())
            if n.startswith("dask_pipes_spark") and m is not None
        ]
        for owner, attr, name in self.targets:
            orig = owner.__dict__[attr]
            wrapped = self._wrap(orig, name)
            holders = [owner] if isinstance(owner, type) else [
                m for m in mods if m.__dict__.get(attr) is orig
            ]
            for h in holders:
                self._undo.append((h, attr, orig))
                setattr(h, attr, wrapped)
        return self

    def __exit__(self, *exc) -> None:
        for h, attr, orig in reversed(self._undo):
            setattr(h, attr, orig)
        self._undo.clear()


def job_window(sc, job_ids) -> list[tuple[float, float]]:
    """(submit, complete) epoch-ms interval of each finished job."""
    store = sc._jsc.sc().statusStore()
    out = []
    for j in job_ids:
        jd = store.job(j)
        sub, done = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and done.isDefined():
            out.append((float(sub.get().getTime()), float(done.get().getTime())))
    return out


STAGE_FIELDS = (
    "tasks", "executor_run_ms", "executor_cpu_ms", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes", "gc_ms",
)


def stage_totals(sc, job_ids) -> dict:
    """Sums over the executed (not skipped) stages of ``job_ids``."""
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    empty_q = sc._gateway.new_array(jvm.double, 0)
    tot = dict.fromkeys(STAGE_FIELDS, 0.0)
    tot["stages"] = 0
    seen: set[int] = set()
    for j in job_ids:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            if sid in seen:
                continue
            seen.add(sid)
            seq = store.stageData(sid, False, jvm.java.util.ArrayList(), False, empty_q)
            for i in range(seq.size()):
                s = seq.apply(i)
                if str(s.status()) == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += s.numTasks()
                tot["executor_run_ms"] += s.executorRunTime()
                tot["executor_cpu_ms"] += s.executorCpuTime() / 1e6
                tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
                tot["shuffle_read_bytes"] += s.shuffleReadBytes()
                tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                tot["input_bytes"] += s.inputBytes()
                tot["gc_ms"] += s.jvmGcTime()
    return tot


def union_ms(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def _iso_ms(ts: str) -> float:
    """``2026-01-01T00:00:00.123Z`` -> epoch ms."""
    from datetime import datetime, timezone

    d = datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return d.replace(tzinfo=timezone.utc).timestamp() * 1000.0


class StreamListener(StreamingQueryListener):
    """Records stream run ids and per-micro-batch progress."""

    def __init__(self):
        self.runs: list[str] = []
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.runs.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.batches.append({
                "run": str(p.runId),
                "start_ms": _iso_ms(p.timestamp),
                "batch_ms": float(p.batchDuration),
                "rows": int(p.numInputRows),
                "durations": {k: float(v) for k, v in dict(p.durationMs).items()},
            })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def snapshot(self) -> tuple[int, int]:
        with self._lock:
            return len(self.runs), len(self.batches)

"""Outside-in tracer for the benchmark's traced run.

Spans are recorded around the program's public entry points by
replacing module or class attributes from outside (no program file
changes).  Each span records name, start, end, parent span id and the
request id shared by one request's spans, and stays in memory until
the run writes it out.

Spark jobs are attributed through a per-span job group: entering a
span sets ``spark.jobGroup.id`` in the span's own thread and leaving
restores the previous value, so a job carries the innermost open span
of the thread that launched it.  Jobs launched on threads without an
open span (``run_concurrent`` pool threads, Structured Streaming's own
jobs) keep another group and are counted as unattributed.  Job and
stage timings come from the session's status store after the run.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time

GROUP_PREFIX = "perfbench-span-"
REQUEST_GROUP = "perfbench-request-"
_GROUP_KEY = "spark.jobGroup.id"


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of [start, end] intervals — busy
    time when jobs overlap (a plain sum double-counts the overlap)."""
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


class Tracer:
    """In-memory span recorder.  ``enabled`` switches recording for
    the whole process; ``begin_request`` overrides it for the calling
    thread.  A disabled tracer's wrappers call straight through."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # -- request scope --------------------------------------------------

    def begin_request(self, rid: str, traced: bool) -> None:
        """Tag the spans this thread opens with request id ``rid`` and
        record them only if ``traced``.  The untraced requests of a
        traced run still get a job group, so their jobs are told apart
        from jobs no request owns."""
        self._local.rid = rid
        self._local.on = traced
        if self.sc is not None:
            self._local.prev_group = self.sc.getLocalProperty(_GROUP_KEY)
            self.sc.setLocalProperty(_GROUP_KEY, f"{REQUEST_GROUP}{rid}")

    def end_request(self) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(_GROUP_KEY, self._local.prev_group)
        self._local.rid = self._local.on = None

    def active(self) -> bool:
        on = getattr(self._local, "on", None)
        return self.enabled if on is None else on

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    # -- spans ------------------------------------------------------------

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active():
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        self.replace(owner, attr, wrapper)

    def replace(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new`` until ``unwrap_all``."""
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    # -- job harvest -----------------------------------------------------

    def harvest_jobs(self, since_ms: float) -> list[dict]:
        """Every job submitted at or after ``since_ms`` (epoch ms) with
        its group, interval and per-stage counters from the status
        store (the Spark UI's data, which the session keeps even with
        the UI disabled)."""
        store = self.sc._jsc.sc().statusStore()
        jobs = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            sub, comp = j.submissionTime(), j.completionTime()
            if not sub.isDefined():
                continue
            sub_ms = float(sub.get().getTime())
            if sub_ms < since_ms:
                continue
            g = j.jobGroup()
            stages = []
            ids = j.stageIds().mkString(",")
            for sid in (int(x) for x in ids.split(",") if x):
                s = store.lastStageAttempt(sid)
                if s.status().toString() == "SKIPPED":
                    continue
                st, ft = s.submissionTime(), s.firstTaskLaunchedTime()
                stages.append({
                    "id": sid,
                    "tasks": int(s.numCompleteTasks()),
                    "shuffle_write": int(s.shuffleWriteBytes()),
                    # task wall time on the executors, including the
                    # time task threads wait on Python workers
                    "run_ms": int(s.executorRunTime()),
                    "wait_ms": (
                        float(ft.get().getTime() - st.get().getTime())
                        if st.isDefined() and ft.isDefined() else 0.0
                    ),
                })
            jobs.append({
                "id": int(j.jobId()),
                "group": g.get() if g.isDefined() else None,
                "start": sub_ms,
                "end": float(comp.get().getTime()) if comp.isDefined() else sub_ms,
                "stages": stages,
            })
        return sorted(jobs, key=lambda j: j["id"])


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        t = self.t
        stack = t._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(t._ids),
            "name": self.name,
            "parent": parent["id"] if parent else None,
            "rid": getattr(t._local, "rid", None),
            "start": time.time() * 1000.0,
            "end": None,
        }
        if t.sc is not None:
            self._prev_group = t.sc.getLocalProperty(_GROUP_KEY)
            t.sc.setLocalProperty(_GROUP_KEY, f"{GROUP_PREFIX}{rec['id']}")
        stack.append(rec)
        self.rec = rec
        return rec

    def __exit__(self, *exc):
        t = self.t
        self.rec["end"] = time.time() * 1000.0
        t._stack().pop()
        if t.sc is not None:
            t.sc.setLocalProperty(_GROUP_KEY, self._prev_group)
        with t._lock:
            t.spans.append(self.rec)
        return False


def self_ms(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time: duration minus the union of its direct
    children's intervals (children on other threads included)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - union_ms(kids.get(s["id"], []))
        for s in spans
    }


def owned(job: dict) -> bool:
    """The job ran inside a span or a request of the traced run."""
    return (job["group"] or "").startswith((GROUP_PREFIX, REQUEST_GROUP))


def span_of_job(job: dict) -> int | None:
    g = job["group"] or ""
    return int(g[len(GROUP_PREFIX):]) if g.startswith(GROUP_PREFIX) else None

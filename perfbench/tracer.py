"""Outside-in tracer: spans around the calls into each layer of the
package, recorded from the benchmark's own files.

``Tracer.wrap(owner, attr, name)`` replaces a public function or method
with a wrapper that records a span (name, start, end, parent, run id)
each time it is called, and ``restore()`` puts every original back.
Each span also carries:

- the Spark jobs it started: the span sets its id as the thread's job
  group, so ``statusTracker().getJobIdsForGroup`` lists them;
- deltas of the status store's executor counters (tasks, failed tasks,
  input bytes, shuffle-write bytes, GC time) between its start and end.

Spans stay in memory; ``spans()`` returns them with self time (the
span's duration minus the part its children cover). Work the tracer
itself does to derive counts (``probe``) runs with the clock paused for
every open span and is reported as ``probe_s``.
"""

from __future__ import annotations

import contextlib
import functools
import time

COUNTERS = ("tasks", "failed_tasks", "input_bytes", "shuffle_write_bytes", "gc_s")


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self._spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self._paused = 0.0  # probe seconds, shifted out of open spans
        self._probe_c = dict.fromkeys(COUNTERS, 0.0)  # probe counter deltas
        self.probe_s = 0.0

    # -- Spark-side readings -------------------------------------------

    def _counters(self) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        execs = jsc.statusStore().executorList(True)
        out = dict.fromkeys(COUNTERS, 0.0)
        for i in range(execs.size()):
            e = execs.apply(i)
            out["tasks"] += e.totalTasks()
            out["failed_tasks"] += e.failedTasks()
            out["input_bytes"] += e.totalInputBytes()
            out["shuffle_write_bytes"] += e.totalShuffleWrite()
            out["gc_s"] += e.totalGCTime() / 1000.0
        return out

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    # -- spans -----------------------------------------------------------

    def _now(self) -> float:
        return time.perf_counter() - self._paused

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": f"{self.run_id}:{len(self._spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "attrs": dict(attrs),
        }
        self._spans.append(s)
        self._stack.append(s)
        c0 = self._counters()
        p0 = dict(self._probe_c)
        self._set_group(s)
        s["start"] = self._now()
        try:
            yield s
        finally:
            s["end"] = self._now()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            jobs = list(self.sc.statusTracker().getJobIdsForGroup(s["id"]))
            c1 = self._counters()
            s["jobs"] = len(jobs)
            s["counters"] = {
                k: c1[k] - c0[k] - (self._probe_c[k] - p0[k]) for k in COUNTERS
            }

    def open(self, name: str, **attrs):
        """Begin a span for a boundary that is not one call (such as one
        work group of an ingest run). Returns ``(cm, span)``; the caller
        ends it with ``cm.__exit__``."""
        cm = self.span(name, **attrs)
        return cm, cm.__enter__()

    @contextlib.contextmanager
    def probe(self):
        """Tracer-side work: excluded from every open span's time."""
        t0 = time.perf_counter()
        c0 = self._counters()
        self._set_group(None)
        try:
            yield
        finally:
            self._set_group(self._stack[-1] if self._stack else None)
            c1 = self._counters()
            for k in COUNTERS:
                self._probe_c[k] += c1[k] - c0[k]
            dt = time.perf_counter() - t0
            self._paused += dt
            self.probe_s += dt

    # -- patching ----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, after=None, before=None):
        """Record a span around every call of ``owner.attr``. ``before``
        (args, kwargs) runs at entry; ``after`` (span, result, args,
        kwargs) runs once the call returns, as a probe."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if before is not None:
                before(args, kwargs)
            with tracer.span(name) as s:
                result = orig(*args, **kwargs)
            if after is not None:
                with tracer.probe():
                    after(s, result, args, kwargs)
            return result

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- output --------------------------------------------------------------

    def spans(self) -> list[dict]:
        """Finished spans with ``dur`` and ``self`` seconds and
        job counts inclusive of their children."""
        done = [s for s in self._spans if "end" in s]
        kids: dict[str, list[dict]] = {}
        for s in done:
            kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in done:
            ch = sorted(kids.get(s["id"], []), key=lambda c: c["start"])
            covered, hi = 0.0, s["start"]
            for c in ch:
                lo = max(c["start"], hi)
                if c["end"] > lo:
                    covered += c["end"] - lo
                    hi = c["end"]
            out.append(dict(s, dur=s["end"] - s["start"],
                            self=s["end"] - s["start"] - covered))
        by_id = {s["id"]: s for s in out}

        def jobs_incl(s):
            return s["jobs"] + sum(jobs_incl(by_id[c["id"]]) for c in kids.get(s["id"], []))

        for s in out:
            s["jobs_incl"] = jobs_incl(s)
        return out

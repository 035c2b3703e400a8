"""Spans, status-store figures and latency statistics for the benchmark.

Tracing serves the traced run (``--trace 1``).

Everything here lives in the benchmark, not in the engine:

- :class:`Tracer` keeps spans (name, start, end, parent, request id) in
  memory and writes them out at exit. Spans come from timing wrappers
  that the benchmark installs around the public functions of each engine
  module (:meth:`Tracer.wrap`) and from the benchmark's own operation
  spans (:meth:`Tracer.span`).
- Every traced operation runs under its own Spark job group, so
  :func:`job_groups` can read per-stage task, run, CPU, shuffle and spill
  figures for it from Spark's status store, which works with the UI off.

A layer's self time is its span's duration minus the part of that
interval its child spans cover (:func:`self_times`).
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


def p50(values) -> float:
    """Median of a non-empty sample."""
    return statistics.median(values)


def hi(values) -> tuple[float, float, int]:
    """(value, percentile, sample count) of the highest percentile with at
    least ten samples beyond it: the 11th largest sample. With fewer than
    eleven samples there is no such percentile and the maximum is given
    with percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def timing(values) -> dict:
    """Median and high percentile of a sample, with its size."""
    if not values:
        return {"samples": 0}
    v, pct, n = hi(values)
    return {"p50": p50(values), "hi": v, "hi_percentile": pct, "samples": n}


def kind_p50(by_kind: dict[str, list]) -> float:
    """Mean over operation kinds of each kind's median latency. The kinds
    of a workload cost different amounts, so a pooled median would jump
    between their clusters as the sample mix shifts by one request."""
    meds = [p50(xs) for xs in by_kind.values() if xs]
    return sum(meds) / len(meds)


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) pairs."""
    total = 0.0
    end = None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool, sc):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @property
    def request(self):
        return getattr(self._tls, "req", None)

    def _record(self, name, start, end, parent, req, sid=None) -> None:
        with self._lock:
            self.spans.append({"id": sid or next(self._ids), "name": name,
                               "start": start, "end": end,
                               "parent": parent, "req": req})

    @contextmanager
    def span(self, name: str, req=None, group: str | None = None):
        """Span around a block; ``req`` tags it and every span opened
        under it on this thread, ``group`` labels its Spark jobs."""
        if not self.enabled:
            yield
            return
        st = self._stack()
        parent = st[-1] if st else None
        with self._lock:
            sid = next(self._ids)
        old_req = self.request
        if req is not None:
            self._tls.req = req
        if group is not None:
            old_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(group, name, False)
        st.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            st.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", old_group)
            self._record(name, start, end, parent, self.request, sid)
            self._tls.req = old_req

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[key] += n

    # -- wrappers around engine functions ----------------------------------

    def wrap(self, owner, attr: str, name: str, generator: bool = False,
             on_call=None, group: str | None = None) -> None:
        """Replace ``owner.attr`` (a module function or a method) with a
        timing wrapper. ``generator=True`` times the call through the
        exhaustion of the generator it returns. ``on_call(args, kwargs,
        result)`` may count work at the boundary. ``group`` runs each
        call's Spark jobs under the job group ``<group><call number>``."""
        if not self.enabled:
            return
        orig = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        tracer = self

        if generator:
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                st = tracer._stack()
                parent = st[-1] if st else None
                req = tracer.request
                start = time.perf_counter()
                inner = orig(*a, **kw)

                def run():
                    try:
                        for item in inner:
                            if on_call is not None:
                                on_call(a, kw, item)
                            yield item
                    finally:
                        tracer._record(name, start, time.perf_counter(),
                                       parent, req)
                return run()
        else:
            calls = itertools.count(1)

            @functools.wraps(orig)
            def wrapper(*a, **kw):
                grp = f"{group}{next(calls)}" if group else None
                with tracer.span(name, group=grp):
                    out = orig(*a, **kw)
                if on_call is not None:
                    on_call(a, kw, out)
                return out

        setattr(owner, attr, wrapper)

    # -- output ------------------------------------------------------------

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per span name: count, total seconds and self seconds."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, dict] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        covered = union_length(
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], ()) if b > s["start"]
            and a < s["end"])
        row = out.setdefault(s["name"], {"n": 0, "total_s": 0.0,
                                         "self_s": 0.0})
        row["n"] += 1
        row["total_s"] += dur
        row["self_s"] += dur - covered
    return out


# -- Spark status store --------------------------------------------------------

_STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_mem_bytes": "memoryBytesSpilled",
    "spill_disk_bytes": "diskBytesSpilled",
}


def job_groups(sc, prefix: str) -> dict[str, dict]:
    """Sum of job, stage and task figures per Spark job group whose name
    starts with ``prefix``, read from the status store.

    Py4J cannot fill in Scala default arguments, so every argument of
    ``jobsList`` and ``stageData`` is passed explicitly."""
    from py4j.protocol import Py4JJavaError

    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    empty = sc._jvm.java.util.ArrayList()
    out: dict[str, dict] = {}
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        job = jobs.apply(i)
        grp = job.jobGroup()
        if not grp.isDefined() or not grp.get().startswith(prefix):
            continue
        row = out.setdefault(grp.get(), defaultdict(float))
        row["jobs"] += 1
        ids = job.stageIds()
        for k in range(ids.size()):
            try:
                attempts = store.stageData(ids.apply(k), False, empty, False,
                                           no_quantiles)
            except Py4JJavaError:  # skipped stage: never submitted
                continue
            if attempts.size() == 0:
                continue
            row["stages"] += 1
            for a in range(attempts.size()):
                st = attempts.apply(a)
                for key, getter in _STAGE_FIELDS.items():
                    row[key] += getattr(st, getter)()
    return {g: dict(v) for g, v in out.items()}


def job_intervals(sc, prefix: str) -> dict[str, list]:
    """(submission, completion) epoch seconds of each job per job group."""
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out: dict[str, list] = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        if not g.isDefined() or not g.get().startswith(prefix):
            continue
        if j.submissionTime().isDefined() and j.completionTime().isDefined():
            out.setdefault(g.get(), []).append(
                (j.submissionTime().get().getTime() / 1e3,
                 j.completionTime().get().getTime() / 1e3))
    return out

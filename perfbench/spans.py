"""Per-layer spans recorded from outside the package.

A :class:`Tracer` opens a span around each call into a layer's public
functions (it wraps them in place with :meth:`Tracer.wrap`) or around a
block (:meth:`Tracer.span`).  Each span records its wall time, and the
Spark jobs that ran inside it, found by job-id range: the DAG scheduler
numbers jobs in submission order, so the jobs of a span are the ids
handed out between its start and its end.  Job groups are not used,
because jobs submitted from a plain thread pool carry none.  With one
client, spans never overlap except by nesting; a nested span's jobs and
time are its own and are subtracted from its parent (self time).

For each span's own jobs the tracer reads the in-process status store
(it works with the UI off) at the end of the span, before
``spark.ui.retainedStages`` can evict anything: tasks, executor CPU,
shuffle write bytes and input bytes per stage.  A stage is counted once
per run even when later jobs list it again as skipped.

:class:`NullTracer` has the same interface and does nothing, so an
untraced run pays nothing.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict

SPARK_UNITS = ("jobs", "tasks", "executor_cpu_s", "shuffle_write_bytes", "input_bytes")


def self_job_ids(lo: int, hi: int, child_jobs: set[int]) -> set[int]:
    """Jobs a span owns: ids in ``[lo, hi)`` not claimed by a child span."""
    return set(range(lo, hi)) - child_jobs


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def wrap(self, owner, attr: str, name: str) -> None:
        pass


class Tracer:
    """Span recorder over a live SparkContext's scheduler and status store."""

    enabled = True

    def __init__(self, spark=None, job_source=None):
        # ``job_source`` lets tests replace the JVM with a fake exposing
        # ``next_job_id()``, ``sync()`` and ``job_stats(job_id, seen)``.
        self.jobs = job_source or SparkJobSource(spark)
        self.stack: list[dict] = []
        self.totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.seen_stages: set[int] = set()
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        frame = {"name": name, "lo": self.jobs.next_job_id(), "children_s": 0.0,
                 "child_jobs": set()}
        self.stack.append(frame)
        start = time.perf_counter()
        self.overhead_s += start - t0
        try:
            yield
        finally:
            end = time.perf_counter()
            self.jobs.sync()
            hi = self.jobs.next_job_id()
            self.stack.pop()
            wall = end - start
            own = self_job_ids(frame["lo"], hi, frame["child_jobs"])
            rec = self.totals[name]
            rec["self_s"] += wall - frame["children_s"]
            rec["count"] += 1
            rec["jobs"] += len(own)
            for job_id in sorted(own):
                for unit, value in self.jobs.job_stats(job_id, self.seen_stages).items():
                    rec[unit] += value
            done = time.perf_counter()
            self.overhead_s += done - end
            if self.stack:
                # the parent's self time excludes this span and its
                # bookkeeping
                parent = self.stack[-1]
                parent["children_s"] += done - t0
                parent["child_jobs"] |= set(range(frame["lo"], hi))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper (module function
        or class method)."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, spanned)

    def layer_totals(self, layers, methods: dict[str, list[str]]) -> dict[str, float]:
        """Flatten span totals into ``<layer>.<unit>`` metrics.

        A layer sums every span named ``layer`` or ``layer.<method>``;
        ``methods`` lists the per-method spans reported on their own."""
        out: dict[str, float] = {}
        units = ("self_s", "count") + SPARK_UNITS
        for layer in layers:
            agg = defaultdict(float)
            for name, rec in self.totals.items():
                if name == layer or name.startswith(layer + "."):
                    for u in units:
                        agg[u] += rec.get(u, 0.0)
            for u in units:
                out[f"{layer}.{u}"] = agg[u]
        for layer, names in methods.items():
            for m in names:
                rec = self.totals.get(f"{layer}.{m}", {})
                for u in ("self_s", "count", "jobs"):
                    out[f"{layer}.{m}.{u}"] = rec.get(u, 0.0)
        return out

    def structure(self) -> dict[str, dict[str, float]]:
        """Per span name: the counts that repeat exactly between runs."""
        keys = ("count", "jobs", "tasks", "shuffle_write_bytes")
        return {
            name: {k: rec.get(k, 0.0) for k in keys}
            for name, rec in sorted(self.totals.items())
        }


class SparkJobSource:
    """Job ids and per-job stage metrics from the driver JVM."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()

    def next_job_id(self) -> int:
        return int(self.sc.dagScheduler().numTotalJobs())

    def sync(self) -> None:
        # status-store updates arrive through the listener bus
        self.sc.listenerBus().waitUntilEmpty()

    def job_stats(self, job_id: int, seen: set[int]) -> dict[str, float]:
        out = {"tasks": 0.0, "executor_cpu_s": 0.0, "shuffle_write_bytes": 0.0,
               "input_bytes": 0.0}
        try:
            stages = self.store.job(job_id).stageIds().iterator()
        except Exception:  # noqa: BLE001 — evicted or never registered
            return out
        while stages.hasNext():
            sid = stages.next()
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001
                continue
            out["tasks"] += st.numCompleteTasks()
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["input_bytes"] += st.inputBytes()
        return out

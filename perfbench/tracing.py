"""Per-layer tracing from outside the program.

Spans are recorded around the benchmark's own calls into each layer
(``workloads.Step``) and kept in memory until the run ends. Job counts,
executor CPU and shuffle bytes come from Spark's status store, found by
the job group each span sets; stream phases come from a Python
``StreamingQueryListener``. Only a traced run creates a ``Tracer``: an
untraced run sets no job group and installs no listener.
"""

from __future__ import annotations

import itertools
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQueryListener

BATCH_MEASURES = ("build_s", "build_jobs", "run_s", "jobs",
                  "executor_cpu_s", "shuffle_mb", "driver_s")
STREAM_MEASURES = ("first_batch_s", "add_batch_s", "commit_s", "state_mb")
MB = 1 << 20


def union_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """In-memory span recorder bound to one run id."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, parent: int | None = None, group: str | None = None):
        rec = {"run_id": self.run_id, "id": next(self._ids), "parent": parent,
               "name": name, "group": group, "start": time.time()}
        if group:
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def group_jobs(self, group: str) -> dict:
        """Jobs, executor CPU, shuffle bytes and job intervals (epoch s)
        of every job launched under ``group``."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        cpu_ns = shuffle = 0
        intervals = []
        ids = self.sc.statusTracker().getJobIdsForGroup(group)
        for jid in ids:
            job = store.job(int(jid))
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            it = job.stageIds().iterator()
            while it.hasNext():
                stage = store.lastStageAttempt(it.next())
                cpu_ns += stage.executorCpuTime()
                shuffle += stage.shuffleReadBytes() + stage.shuffleWriteBytes()
        return {"jobs": len(ids), "executor_cpu_s": cpu_ns / 1e9,
                "shuffle_mb": shuffle / MB, "intervals": intervals}


def persist(value):
    """Persist and materialize a DataFrame so the next layer's span does
    not recompute it; other values pass through."""
    if isinstance(value, DataFrame):
        value = value.persist()
        value.count()
    return value


def trace_steps(tracer: Tracer, spark, steps, env: dict, root: int) -> dict:
    """Run ``steps`` one at a time under spans and return the seven batch
    measures per step, keyed ``<step name>.<measure>``.

    build: the call that returns the result, including any eager jobs.
    run: a noop-sink write of a DataFrame result with its inputs
    persisted beforehand, so the span is that layer's self time. A call
    whose result is not a DataFrame (trained centroids) does all its
    work in build; its run measures repeat build's.
    """
    out = {}
    for step in steps:
        for key in step.inputs:
            env[key] = persist(env[key])
        base = f"{tracer.run_id}:{step.name}"
        with tracer.span(step.name, root) as layer:
            with tracer.span("build", layer["id"], group=base + ":build") as b:
                value = step.call(spark, env)
            with tracer.span("run", layer["id"], group=base + ":run") as r:
                if isinstance(value, DataFrame):
                    value.write.format("noop").mode("overwrite").save()
        built = tracer.group_jobs(b["group"])
        ran = tracer.group_jobs(r["group"])
        lo, hi = r["start"], r["end"]
        if not isinstance(value, DataFrame):
            ran, (lo, hi) = built, (b["start"], b["end"])
        m = {
            "build_s": b["end"] - b["start"],
            "build_jobs": built["jobs"],
            "run_s": hi - lo,
            "jobs": ran["jobs"],
            "executor_cpu_s": ran["executor_cpu_s"],
            "shuffle_mb": ran["shuffle_mb"],
            "driver_s": (hi - lo) - union_s(ran["intervals"], lo, hi),
        }
        out.update({f"{step.name}.{k}": v for k, v in m.items()})
        env[step.out] = value
    return out


class ProgressListener(StreamingQueryListener):
    """Collects every query progress event by query name."""

    def __init__(self):
        self.lock = threading.Lock()
        self.progress: dict[str, list[dict]] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "batch": p.batchId,
            "rows": p.numInputRows,
            "ms": dict(p.durationMs or {}),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators or []),
        }
        with self.lock:
            self.progress.setdefault(p.name, []).append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def measures(self, name: str, state_bytes: int | None = None) -> dict:
        """The four stream measures of query ``name``. ``state_bytes``
        overrides the state-store figure for a sink that keeps its state
        outside the state store (the foreachBatch dedup's parquet
        tables)."""
        with self.lock:
            recs = sorted(self.progress.get(name, []), key=lambda r: r["batch"])
        data = [r for r in recs if r["rows"] > 0]
        first, later = data[0], data[1:] or data
        return {
            "first_batch_s": first["ms"].get("triggerExecution", 0) / 1e3,
            "add_batch_s": statistics.median(
                r["ms"].get("addBatch", 0) for r in later) / 1e3,
            "commit_s": statistics.median(
                r["ms"].get("walCommit", 0) + r["ms"].get("commitOffsets", 0)
                for r in later) / 1e3,
            "state_mb": (max(r["state_bytes"] for r in recs)
                         if state_bytes is None else state_bytes) / MB,
        }

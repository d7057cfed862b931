"""Traced mode: an in-memory span recorder, per-job-group Spark
counters and the per-layer self-time rollup.

Spans are opened only by the benchmark's own code: either explicitly
(``tracer.span(...)``) or by wrapping a public function of the package
for the duration of a traced run (``tracer.wrap(...)``). The package
itself is never edited. Spans are kept in memory and written once, at
exit, so recording costs a few dict appends per call.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records (id, name, start, end, parent, op) spans. The parent is
    the innermost open span on the same thread; ``op`` is the client
    operation the span belongs to (set with :meth:`op`)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._op: str | None = None
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def op(self, op_id: str):
        """Tag every span opened until exit (on any thread: streaming
        micro-batches run on Spark's callback thread) with ``op_id``."""
        prev, self._op = self._op, op_id
        try:
            yield
        finally:
            self._op = prev

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
               "op": self._op, "start": time.perf_counter(), "end": None}
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper until
        :meth:`unwrap_all`. Works for module functions and class
        methods alike (the wrapper is a plain function)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    @property
    def installed(self) -> bool:
        return bool(self._patched)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # --- rollups ---------------------------------------------------------
    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def self_time_by_layer(self, spans: list[dict] | None = None) -> dict[str, float]:
        """Seconds spent in each layer's spans minus the time of their
        child spans. The layer is the span name before the first dot."""
        spans = self.spans if spans is None else spans
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            own = (s["end"] - s["start"]) - child.get(s["id"], 0.0)
            out[s["name"].split(".", 1)[0]] += max(own, 0.0)
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


# --- Spark counters from the status store -----------------------------------

COUNTERS = ("jobs", "job_s", "stages", "tasks", "executor_run_s", "gc_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")


def job_group_counters(spark) -> dict[str, dict[str, float]]:
    """Per job group: jobs, their wall time (submission to completion),
    stages that ran, tasks, executor run and GC seconds, shuffle bytes
    and spill, read from the Spark driver's
    ``AppStatusStore`` (populated with ``spark.ui.enabled=false`` too).
    A stage shared by several jobs counts once, for the first job that
    ran it; skipped stages count nowhere."""
    store = spark.sparkContext._jsc.sc().statusStore()  # noqa: SLF001
    jobs = store.jobsList(None)
    out: dict[str, dict[str, float]] = {}
    seen: set[int] = set()
    rows = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        start, end = j.submissionTime(), j.completionTime()
        wall = ((end.get().getTime() - start.get().getTime()) / 1000.0
                if start.isDefined() and end.isDefined() else 0.0)
        rows.append((j.jobId(), g.get() if g.isDefined() else "", wall,
                     j.stageIds()))
    for _job_id, group, wall, stage_ids in sorted(rows, key=lambda r: r[0]):
        c = out.setdefault(group, dict.fromkeys(COUNTERS, 0.0))
        c["jobs"] += 1
        c["job_s"] += wall
        for k in range(stage_ids.size()):
            sid = stage_ids.apply(k)
            if sid in seen:
                continue
            attempts = store.stageData(sid, False, None, False, None)
            for a in range(attempts.size()):
                s = attempts.apply(a)
                if s.status().toString() == "SKIPPED":
                    continue
                seen.add(sid)
                c["stages"] += 1
                c["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                c["executor_run_s"] += s.executorRunTime() / 1000.0
                c["gc_s"] += s.jvmGcTime() / 1000.0
                c["shuffle_write_bytes"] += s.shuffleWriteBytes()
                c["shuffle_read_bytes"] += s.shuffleReadBytes()
                c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return out


def scan_metrics(df) -> dict[str, float]:
    """Rows and files read by the leaf scans of ``df``'s executed plan,
    from their SQL metrics (``numOutputRows``, ``numFiles``). Call it
    after an action on ``df``: the metrics are those of that run."""
    out = {"rows": 0.0, "files": 0.0}
    stack = [df._jdf.queryExecution().executedPlan()]  # noqa: SLF001
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        children = node.children()
        if children.size() == 0:
            metrics = node.metrics()
            for key, name in (("numOutputRows", "rows"), ("numFiles", "files")):
                if metrics.contains(key):
                    out[name] += metrics.apply(key).value()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def sum_counters(counters) -> dict[str, float]:
    """Element-wise sum of several job groups' counters."""
    counters = list(counters)
    return {k: sum(c[k] for c in counters) for k in COUNTERS}


def udf_profile(spark, fn_name: str) -> tuple[float, int]:
    """(seconds, calls of ``fn_name``) recorded by the ``perf`` UDF
    profiler (``spark.sql.pyspark.udf.profiler=perf``) across all UDFs."""
    results = spark._profiler_collector._perf_profile_results  # noqa: SLF001
    secs = sum(st.total_tt for st in results.values())
    calls = sum(nc for st in results.values()
                for (_f, _l, fn), (_cc, nc, _tt, _ct, _callers) in st.stats.items()
                if fn == fn_name)
    return float(secs), int(calls)

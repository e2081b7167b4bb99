"""Spans recorded from the benchmark's own files, around its calls into
the engine: run -> pass or step -> op (query or verb) -> {build, exec}.

Spans live in memory and are written out when the run ends. Every leaf
span runs its Spark work under its own job group, so jobs, stages and
SQL metrics are attributed by group from Spark's status store once, after
the timed phase; nothing scans the job list while ops are timed.

With tracing off, `span()` is a shared no-op context and no job group,
plan phase or status-store read happens.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
import uuid

MB = 1024.0 * 1024.0

# SQL metric names Spark gives the Python-evaluation nodes
_PY_METRICS = {
    "time to run Python workers": "python_udf_s",
    "data sent to Python workers": "python_sent_mb",
    "data returned from Python workers": "python_recv_mb",
}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,()]+),(\d+),(\w+)\)")
_VALUE = re.compile(r"([\d.]+)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")
_SCALE = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / MB, "KiB": 1024 / MB, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0**2,
}

SPARK_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    "python_udf_s", "python_sent_mb", "python_recv_mb",
)
PHASES = ("analysis", "optimization", "planning")


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def parse_metric_value(text: str) -> float:
    """A formatted SQL metric ('12.3 MiB', or 'total (...)\\n1.2 s (...)')
    -> seconds for timings, MB for sizes."""
    m = _VALUE.search(text.strip().splitlines()[-1])
    return float(m.group(1)) * _SCALE[m.group(2)] if m else 0.0


class Span:
    __slots__ = ("id", "name", "kind", "parent", "start", "end", "attrs", "group")

    def __init__(self, sid, name, kind, parent, start, attrs, group):
        self.id, self.name, self.kind, self.parent = sid, name, kind, parent
        self.start, self.end, self.attrs, self.group = start, None, attrs, group

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0  # time spent in tracing bookkeeping

    @contextlib.contextmanager
    def _record(self, name, kind, attrs):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        group = None
        if kind in ("build", "exec"):
            group = f"{self.run_id}.{sid}"
            self.spark.sparkContext.setJobGroup(group, group)
        span = Span(sid, name, kind, parent.id if parent else None, 0.0, attrs, group)
        self.spans.append(span)
        self._stack.append(span)
        span.start = time.perf_counter()
        self.overhead_s += span.start - t0
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self.spark.sparkContext.setJobGroup(f"{self.run_id}.idle", "idle")
            self.overhead_s += time.perf_counter() - span.end

    def span(self, name: str, kind: str, **attrs):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._record(name, kind, attrs)

    def note_phases(self, span, df) -> None:
        """Catalyst phase times of the QueryExecution that ran `df`'s
        action (traced run only)."""
        if span is None:
            return
        t0 = time.perf_counter()
        phases = df._jdf.queryExecution().tracker().phases()
        for p in PHASES:
            opt = phases.get(p)
            span.attrs[f"catalyst_{p}_s"] = (
                opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
            )
        self.overhead_s += time.perf_counter() - t0

    # -- status-store harvest (after the timed phase) ---------------------

    def attribute_spark_metrics(self) -> None:
        """Fill every leaf span's attrs with the jobs, stages, tasks,
        executor time, shuffle, spill and Python-node metrics of its job
        group."""
        if not self.enabled:
            return
        by_group = {s.group: s for s in self.spans if s.group}
        for s in by_group.values():
            s.attrs.update({f: 0.0 for f in SPARK_FIELDS})
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        stages = {}
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        for st in _scala_iter(
            store.stageList(None, False, False, no_quantiles, None)
        ):
            if st.status().toString() == "SKIPPED":
                continue
            stages[(st.stageId(), st.attemptId())] = st
        stage_ids_by_group: dict[str, set] = {}
        for job in _scala_iter(store.jobsList(None)):
            g = job.jobGroup()
            if not g.isDefined() or g.get() not in by_group:
                continue
            span = by_group[g.get()]
            span.attrs["jobs"] += 1
            stage_ids_by_group.setdefault(g.get(), set()).update(_scala_iter(job.stageIds()))
        for g, ids in stage_ids_by_group.items():
            a = by_group[g].attrs
            for (sid, _attempt), st in stages.items():
                if sid not in ids:
                    continue
                a["stages"] += 1
                a["tasks"] += st.numTasks()
                a["executor_run_s"] += st.executorRunTime() / 1000.0
                a["executor_cpu_s"] += st.executorCpuTime() / 1e9
                a["gc_s"] += st.jvmGcTime() / 1000.0
                a["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                a["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                a["spill_mb"] += st.diskBytesSpilled() / MB
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for ex in _scala_iter(sql.executionsList()):
            desc = ex.description()
            if desc not in by_group:
                continue
            wanted = {}
            for name, acc, _kind in _PLAN_METRIC.findall(ex.metrics().toString()):
                if name in _PY_METRICS:
                    wanted[int(acc)] = _PY_METRICS[name]
            if not wanted:
                continue
            values = sql.executionMetrics(ex.executionId())
            a = by_group[desc].attrs
            for acc, field in wanted.items():
                v = values.get(acc)
                if v.isDefined():
                    a[field] += parse_metric_value(v.get())

    # -- output -----------------------------------------------------------

    def self_seconds(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.id] = s.seconds - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        selfs = self.self_seconds()
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [
            {
                "run": self.run_id,
                "id": s.id,
                "name": s.name,
                "kind": s.kind,
                "parent": s.parent,
                "start_s": s.start - t0,
                "end_s": s.end - t0,
                "self_s": selfs[s.id],
                **s.attrs,
            }
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, **extra, "spans": rows}, fh, indent=1)

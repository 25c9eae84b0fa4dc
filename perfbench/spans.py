"""Span tracing from the benchmark's own code.

``Tracer`` records spans (name, layer, parent, start, end) around calls
into the package's public functions: the benchmark either opens a span
itself or ``wrap``s a function at the module attribute the caller
looks it up through (e.g. ``pipeline.upsert``), so the package is not
edited. Each span sets its own Spark job group, so jobs that a lazy
DataFrame triggers inside the span are attributed to it. Spans stay in
memory; Spark-side numbers are fetched once, after the traced body,
from the UI's REST API (stage metrics, SQL node metrics), which the
session exposes under ``SPARK_GRAFT_UI=true``.

A disabled tracer costs one attribute check per span.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request
from collections import defaultdict
from dataclasses import dataclass, field

_GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    layer: str
    t0: float
    t1: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """``Tracer()`` is the disabled tracer of untraced bodies."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself

    def _set_group(self, sid: int | None) -> None:
        sc = self.spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"{_GROUP_PREFIX}{sid}", self.spans[sid].name)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        b0 = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, parent, name, layer, 0.0))
        if parent is not None:
            self.spans[parent].children.append(sid)
        self._stack.append(sid)
        self._set_group(sid)
        b1 = time.perf_counter()
        self.spans[sid].t0 = b1
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.spans[sid].t1 = t1
            self._stack.pop()
            self._set_group(parent)
            self.bookkeeping_s += (b1 - b0) + (time.perf_counter() - t1)

    def wrap(self, module, attr: str, layer: str, name: str) -> None:
        """Replace ``module.attr`` by a wrapper recording span ``name``
        (undone by ``unwrap_all``). Callers that look the name up through
        ``module`` at call time are traced; the function is unchanged."""
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name, layer):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------------------
    # span arithmetic
    # ------------------------------------------------------------------

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_seconds(self) -> dict[str, float]:
        """Layer → Σ (span duration − time its child spans cover)."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = sum(self.spans[c].seconds for c in s.children)
            out[s.layer] += s.seconds - covered
        return dict(out)

    def covered_seconds(self, t0: float, t1: float) -> float:
        """Union length of top-level spans clipped to [t0, t1]."""
        iv = sorted(
            (max(s.t0, t0), min(s.t1, t1))
            for s in self.spans
            if s.parent is None and s.t1 > t0 and s.t0 < t1
        )
        total, end = 0.0, t0
        for a, b in iv:
            a = max(a, end)
            if b > a:
                total += b - a
                end = b
        return total

    def descendants(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.spans[s].children)
        return out


# ----------------------------------------------------------------------
# Spark-side metrics from the UI REST API
# ----------------------------------------------------------------------


class SparkMetrics:
    """Per-job-group stage and SQL-node metrics, fetched after the run."""

    def __init__(self, spark, timeout_s: float = 30.0):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._wait_idle(sc, timeout_s)
        jobs = self._get("jobs")
        stages = self._get("stages")
        sql = self._get("sql?details=true&planDescription=false&length=100000")
        self.jobs_by_group: dict[str, list[dict]] = defaultdict(list)
        group_of_job: dict[int, str] = {}
        for j in jobs:
            g = j.get("jobGroup")
            if g and g.startswith(_GROUP_PREFIX):
                self.jobs_by_group[g].append(j)
                group_of_job[j["jobId"]] = g
        self.stages: dict[int, list[dict]] = defaultdict(list)  # id → attempts
        for s in stages:
            if s["status"] in ("COMPLETE", "FAILED"):  # not SKIPPED
                self.stages[s["stageId"]].append(s)
        self.rows_by_group: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        for e in sql:
            ids = e.get("successJobIds", []) + e.get("failedJobIds", []) + e.get("runningJobIds", [])
            groups = {group_of_job[i] for i in ids if i in group_of_job}
            if len(groups) != 1:
                continue
            g = groups.pop()
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "number of output rows":
                        self.rows_by_group[g][node["nodeName"]] += _int(m["value"])

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def _wait_idle(self, sc, timeout_s: float) -> None:
        """The REST store is fed by the listener bus asynchronously:
        wait until no job runs and the job count stops changing."""
        deadline = time.monotonic() + timeout_s
        last = -1
        while time.monotonic() < deadline:
            if not sc.statusTracker().getActiveJobsIds():
                n = len(self._get("jobs"))
                if n == last:
                    return
                last = n
            time.sleep(0.3)

    def for_spans(self, sids: list[int]) -> dict[str, float]:
        """Sum of job/stage/task counts and stage metrics over spans."""
        tot = defaultdict(float)
        for sid in sids:
            for j in self.jobs_by_group.get(f"{_GROUP_PREFIX}{sid}", []):
                tot["jobs"] += 1
                for st in j["stageIds"]:
                    for s in self.stages.get(st, []):
                        tot["stages"] += 1
                        tot["tasks"] += s["numTasks"]
                        tot["task_failures"] += s["numFailedTasks"]
                        tot["input_bytes"] += s["inputBytes"]
                        tot["shuffle_read_bytes"] += s["shuffleReadBytes"]
                        tot["shuffle_write_bytes"] += s["shuffleWriteBytes"]
                        tot["executor_run_s"] += s["executorRunTime"] / 1000.0
                        tot["jvm_gc_s"] += s["jvmGcTime"] / 1000.0
        return dict(tot)

    def scan_rows(self, sids: list[int], node_prefix: str) -> int:
        return sum(
            n
            for sid in sids
            for name, n in self.rows_by_group.get(f"{_GROUP_PREFIX}{sid}", {}).items()
            if name.startswith(node_prefix)
        )


def _int(v: str) -> int:
    try:
        return int(str(v).replace(",", ""))
    except ValueError:
        return 0

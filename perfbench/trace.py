"""Spans around the benchmark's calls into the program, and what Spark
and /proc say about each span.

A span records (run id, pass, name, layer, kind, start, end, parent).
With tracing on, every span that may start Spark jobs runs under its
own job group, so the jobs, stages and task metrics it caused can be
read afterwards from ``sc.statusTracker()`` and the UI REST API at
``sc.uiWebUrl``. With tracing off, a span is only a name and nothing is
recorded. Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request
from dataclasses import asdict, dataclass, field
from datetime import datetime

from . import procs

#: how long to wait for the REST view to show a span's jobs as complete
JOB_WAIT_S = 10.0


@dataclass
class Span:
    run_id: str
    pass_no: int
    name: str
    layer: str
    kind: str  # "build" (driver-side construction) or "action"
    start: float
    end: float = 0.0
    parent: str | None = None
    group: str | None = None
    jobs: list = field(default_factory=list)
    job_wall_s: float = 0.0  # wall covered by this span's Spark jobs

    @property
    def wall(self) -> float:
        return self.end - self.start


def rest(sc, path: str):
    """GET ``path`` under this application in the Spark UI REST API."""
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


#: the driver's peak memory metrics that are not the heap itself: Spark's
#: execution and storage memory (aggregation buffers, broadcast blocks),
#: the JVM's non-heap memory (metaspace, code cache), and NIO buffers
JVM_PEAKS = ("OnHeapUnifiedMemory", "OffHeapUnifiedMemory", "JVMOffHeapMemory",
             "DirectPoolMemory", "MappedPoolMemory")


def jvm_peak_bytes(sc) -> int:
    """Sum of the driver's ``JVM_PEAKS`` over the application so far, as
    the REST ``executors`` view reports them (polled inside the JVM)."""
    peaks = rest(sc, "executors")[0].get("peakMemoryMetrics") or {}
    return sum(int(peaks.get(k, 0)) for k in JVM_PEAKS)


class Tracer:
    """Spans of one run; off until ``enabled`` is set."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.enabled = False
        self.run_id = run_id
        self.spans: list[Span] = []
        self.pass_no = -1
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, kind: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1].name if self._stack else None
        s = Span(self.run_id, self.pass_no, name, layer, kind, 0.0, parent=parent)
        s.group = f"{self.run_id}:{self.pass_no}:{len(self.spans)}"
        self.sc.setJobGroup(s.group, name)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                self.sc._jsc.clearJobGroup()
            self.spans.append(s)

    def pass_spans(self, pass_no: int) -> list[Span]:
        return [s for s in self.spans if s.pass_no == pass_no]

    # -- Spark side -------------------------------------------------------

    def spark_stats(self, pass_no: int) -> dict:
        """Jobs, tasks and stage metrics of one pass's spans."""
        tracker = self.sc.statusTracker()
        out = dict(jobs=0, tasks=0, executor_run_s=0.0, executor_cpu_s=0.0, gc_s=0.0,
                   shuffle_write_mb=0.0, spill_mb=0.0, task_skew=1.0, eager_jobs=0)
        for s in self.pass_spans(pass_no):
            s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
            if not s.jobs:
                continue
            jobs = self._wait_jobs(s.jobs)
            s.job_wall_s = _union_wall(
                [(_ts(j["submissionTime"]), _ts(j["completionTime"])) for j in jobs]
            )
            out["jobs"] += len(jobs)
            if s.kind == "build":
                out["eager_jobs"] += len(jobs)
            for sid in sorted({st for j in jobs for st in j["stageIds"]}):
                for att in self._stage(sid):
                    if att.get("status") != "COMPLETE":
                        continue  # skipped: an exchange reused from an earlier stage
                    out["tasks"] += att["numTasks"]
                    out["executor_run_s"] += att["executorRunTime"] / 1e3
                    out["executor_cpu_s"] += att["executorCpuTime"] / 1e9
                    out["gc_s"] += att["jvmGcTime"] / 1e3
                    out["shuffle_write_mb"] += att["shuffleWriteBytes"] / 2**20
                    out["spill_mb"] += (att["memoryBytesSpilled"] + att["diskBytesSpilled"]) / 2**20
                    if att["numTasks"] > 1:
                        out["task_skew"] = max(out["task_skew"], self._skew(sid, att["attemptId"]))
        return out

    def _wait_jobs(self, job_ids: list[int]) -> list[dict]:
        # the REST view follows the listener bus, which may lag the action
        deadline = time.monotonic() + JOB_WAIT_S
        while True:
            jobs = [rest(self.sc, f"jobs/{j}") for j in job_ids]
            if all("completionTime" in j for j in jobs) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.05)

    def _stage(self, sid: int) -> list[dict]:
        try:
            return rest(self.sc, f"stages/{sid}")
        except OSError:  # a stage skipped from the start is unknown to the UI
            return []

    def _skew(self, sid: int, attempt: int) -> float:
        q = rest(self.sc, f"stages/{sid}/{attempt}/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return mx / med if med > 0 else 1.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _ts(text: str) -> float:
    # e.g. 2026-10-17T15:44:13.123GMT
    return datetime.strptime(text.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _union_wall(intervals: list[tuple[float, float]]) -> float:
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


class CpuWindow:
    """CPU split of the process tree over one pass."""

    def __init__(self, tree: procs.Tree):
        self.tree = tree
        self.t0 = tree.split_cpu()

    def close(self) -> dict:
        t1 = self.tree.split_cpu()
        return {k: t1[k] - self.t0[k] for k in ("driver", "jvm", "workers")} | {
            "n_workers": t1["n_workers"]}

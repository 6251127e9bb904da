"""Spans around the benchmark's calls into each layer, with Spark work
attributed to them from outside the package.

A span records name, start, end, parent and request id. In a traced
run every request runs under its own Spark job group; a span notes the
group's job ids at entry and at exit, so the jobs it caused are exactly
the new ones. When a request ends, :meth:`Tracer.resolve` reads those
jobs' stages from the status store (``sc.statusStore()`` over py4j) and
stores per-span deltas: jobs, stages, tasks, executor run and CPU ms,
input, shuffle and spill bytes, plus JVM GC ms, janino compile counts
and Hadoop file bytes read at the span's edges. Spans stay in memory
until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = (
    "tasks", "executor_run_ms", "executor_cpu_ms", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "stage_gc_ms",
)


class SparkProbe:
    """Readings of the driver JVM and its status store (local mode: the
    executors share the driver JVM)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        jvm = sc._jvm
        self._gc_beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._compiles = codegen.METRIC_COMPILATION_TIME()
        self._fs = jvm.org.apache.hadoop.fs.FileSystem
        self._seen_stages: set[int] = set()
        self._job_cache: dict[int, dict] = {}

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store reflects all jobs that have ended."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group_jobs(self, group: str) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def gc_ms(self) -> int:
        beans = self._gc_beans
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))

    def compiles(self) -> int:
        return int(self._compiles.getCount())

    def file_bytes_read(self) -> int:
        """Bytes read from local files through Hadoop's FileSystem (table
        scans; shuffle files and cached blocks do not pass through it)."""
        stats = self._fs.getAllStatistics()
        return sum(
            stats.get(i).getBytesRead() for i in range(stats.size())
            if stats.get(i).getScheme() == "file"
        )

    def storage(self) -> tuple[int, float]:
        """(cached RDDs, MB they hold in memory and on disk)."""
        infos = self._jsc.getRDDStorageInfo()
        size = sum(i.memSize() + i.diskSize() for i in infos)
        return len(infos), size / 1e6

    def job_stats(self, job_id: int) -> dict:
        """Summed stage metrics of one job, plus its stages' run intervals
        (epoch ms). A stage that an earlier job already ran (a reused
        shuffle) is counted with that earlier job only."""
        hit = self._job_cache.get(job_id)
        if hit is not None:
            return hit
        stats = dict.fromkeys(STAGE_FIELDS, 0)
        stats.update(stages=0, intervals=[])
        job = self._store.job(job_id)
        sids = job.stageIds()
        for i in range(sids.size()):
            sid = sids.apply(i)
            if sid in self._seen_stages:
                continue
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # the stage was never submitted (skipped)
                continue
            if sd.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            self._seen_stages.add(sid)
            stats["stages"] += 1
            stats["tasks"] += sd.numTasks()
            stats["executor_run_ms"] += sd.executorRunTime()
            stats["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            stats["input_bytes"] += sd.inputBytes()
            stats["shuffle_read_bytes"] += sd.shuffleReadBytes()
            stats["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            stats["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            stats["stage_gc_ms"] += sd.jvmGcTime()
            sub, done = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and done.isDefined():
                stats["intervals"].append((sub.get().getTime(), done.get().getTime()))
        self._job_cache[job_id] = stats
        return stats


def union_ms(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: str
    start_ms: float  # epoch ms
    end_ms: float = 0.0
    jobs: list[int] = field(default_factory=list)
    gc_ms: int = 0
    compiles: int = 0
    file_bytes: int = 0
    spark: dict = field(default_factory=dict)

    @property
    def wall_ms(self) -> float:
        return self.end_ms - self.start_ms


class Tracer:
    """In-memory spans. Spans always carry wall time; Spark deltas are
    read only while ``active`` (a probe is set and the current request
    is traced)."""

    def __init__(self):
        self.probe: SparkProbe | None = None
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._request = "setup"

    def attach(self, probe: SparkProbe) -> None:
        """Read Spark deltas from now on; set-up jobs form group ``setup``."""
        self.probe = probe
        self.active = True
        probe.sc.setJobGroup(self._request, self._request)

    @contextmanager
    def request(self, request_id: str, traced: bool = True, name: str = "request"):
        """Root span ``name`` of one request; a traced request runs under
        its own Spark job group."""
        previous = (self._request, self.active)
        self._request = request_id
        self.active = traced and self.probe is not None
        if self.active:
            self.probe.sc.setJobGroup(request_id, request_id)
        try:
            with self.span(name) as root:
                yield root
        finally:
            if self.active:
                self.probe.sc.setJobGroup(previous[0], previous[0])
                self.resolve(request_id)
            self._request, self.active = previous

    @contextmanager
    def span(self, name: str):
        probe = self.probe if self.active else None
        parent = self._stack[-1].id if self._stack else None
        if probe is not None:
            probe.drain()
            jobs0 = probe.group_jobs(self._request)
            gc0, comp0, fb0 = probe.gc_ms(), probe.compiles(), probe.file_bytes_read()
        s = Span(len(self.spans), name, parent, self._request, time.time() * 1e3)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end_ms = time.time() * 1e3
            if probe is not None:
                probe.drain()
                s.jobs = sorted(probe.group_jobs(self._request) - jobs0)
                s.gc_ms = probe.gc_ms() - gc0
                s.compiles = probe.compiles() - comp0
                s.file_bytes = probe.file_bytes_read() - fb0

    def resolve(self, request_id: str) -> None:
        """Attach status-store deltas to every span of ``request_id``.
        Jobs are read in id order, so a reused stage is charged to the
        first job that ran it."""
        spans = [s for s in self.spans if s.request == request_id and not s.spark]
        for job in sorted({j for s in spans for j in s.jobs}):
            self.probe.job_stats(job)
        for s in spans:
            stats = [self.probe.job_stats(j) for j in s.jobs]
            agg = {f: sum(st[f] for st in stats) for f in STAGE_FIELDS + ("stages",)}
            agg["jobs"] = len(s.jobs)
            stage_ms = union_ms([iv for st in stats for iv in st["intervals"]])
            agg["stage_ms"] = stage_ms
            agg["driver_ms"] = max(s.wall_ms - stage_ms, 0.0)
            s.spark = agg

    def self_ms(self) -> dict[int, float]:
        """Per span: its wall time minus the part its children cover."""
        child_cover: dict[int, list] = {}
        for s in self.spans:
            if s.parent is not None:
                child_cover.setdefault(s.parent, []).append((s.start_ms, s.end_ms))
        return {s.id: s.wall_ms - union_ms(child_cover.get(s.id, [])) for s in self.spans}

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_ms()
        spans = [dict(asdict(s), self_ms=selfs[s.id]) for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(dict(extra, spans=spans), f)

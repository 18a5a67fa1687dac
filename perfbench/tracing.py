"""Measurement helpers: process clocks, resident memory, spans and
Spark stage metrics.

Spans are recorded only here, around the benchmark's own calls into
the engine; nothing inside the engine is instrumented. Stage metrics
come from the Spark status store, keyed by the job group the
benchmark sets before each call.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import uuid
from dataclasses import dataclass, field

#: stage-metric counters summed per job group
STAGE_FIELDS = (
    "exec_s",
    "executor_cpu_s",
    "input_bytes",
    "input_rows",
    "output_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
    "scan_s",
    "jobs",
    "stages",
    "tasks",
)


def since_process_start() -> float:
    """Seconds since this process was started, from ``/proc``."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (children, grandchildren, ...)."""
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while we listed
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by the live descendants of ``pid``."""
    ticks = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed resident memory of this process's
    descendants (the driver JVM and its Python workers) on a thread;
    ``peak_mb`` is the highest sum seen."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    id: int
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``span()`` opens a child of the
    innermost open span; ``record()`` adds a span measured elsewhere
    (the nightly composite's per-leg clock)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._open: list[int] = []

    def span(self, name: str, layer: str, **attrs):
        return _SpanCtx(self, name, layer, attrs)

    def record(self, name: str, layer: str, start: float, end: float, **attrs) -> None:
        if self.enabled:
            parent = self._open[-1] if self._open else None
            self.spans.append(
                Span(name, layer, start, end, parent, len(self.spans), attrs)
            )

    def self_seconds(self, phases: set[str]) -> dict[str, float]:
        """Per layer: time of the spans in ``phases`` not covered by
        the span's children."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s.attrs.get("phase") not in phases:
                continue
            covered, cursor = 0.0, s.start
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.layer] = out.get(s.layer, 0.0) + s.seconds - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "run_id": self.run_id,
                            "id": s.id,
                            "parent": s.parent,
                            "name": s.name,
                            "layer": s.layer,
                            "start": s.start,
                            "end": s.end,
                            **s.attrs,
                        }
                    )
                    + "\n"
                )


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str, attrs: dict):
        self.t, self.name, self.layer, self.attrs = tracer, name, layer, attrs

    def __enter__(self) -> _SpanCtx:
        self.start = time.perf_counter()
        if self.t.enabled:
            self.id = len(self.t.spans)
            # reserve the slot so children can name their parent
            self.t.spans.append(
                Span(self.name, self.layer, self.start, self.start,
                     self.t._open[-1] if self.t._open else None, self.id,
                     self.attrs)
            )
            self.t._open.append(self.id)
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.perf_counter()
        if self.t.enabled:
            self.t._open.pop()
            self.t.spans[self.id].end = self.end

    @property
    def seconds(self) -> float:
        return self.end - self.start


class StageMetrics:
    """Reads per-job-group stage metrics from the Spark status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self._quantiles = q

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def read(self, group: str) -> dict:
        """Summed stage metrics of every job in ``group``, plus
        ``task_skew``: the largest max/median task run time over the
        group's stages that ran two or more tasks."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        skew = 0.0
        seen = set()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            out["jobs"] += 1
            for sid in info.stageIds if info else []:
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if str(sd.status()) == "SKIPPED" or sd.numTasks() == 0:
                    continue
                run_s = sd.executorRunTime() / 1e3
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["exec_s"] += run_s
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["input_bytes"] += sd.inputBytes()
                out["input_rows"] += sd.inputRecords()
                out["output_bytes"] += sd.outputBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.diskBytesSpilled()
                out["gc_s"] += sd.jvmGcTime() / 1e3
                if sd.inputBytes() > 0:
                    out["scan_s"] += run_s
                if sd.numTasks() >= 2:
                    ts = store.taskSummary(sid, sd.attemptId(), self._quantiles)
                    if ts.isDefined():
                        rt = ts.get().executorRunTime()
                        med, mx = rt.apply(0), rt.apply(1)
                        if med > 0:
                            skew = max(skew, mx / med)
        out["task_skew"] = skew
        return out


def add_into(total: dict, part: dict) -> None:
    """Sum ``part`` into ``total``; ``task_skew`` keeps the maximum."""
    for k, v in part.items():
        if k == "task_skew":
            total[k] = max(total.get(k, 0.0), v)
        else:
            total[k] = total.get(k, 0.0) + v


def tail_percentile(samples: list[float]) -> dict | None:
    """The highest whole percentile with at least ten samples above it
    (nearest-rank), or None with fewer than 20 samples."""
    n = len(samples)
    if n < 20:
        return None
    pct = (100 * (n - 10)) // n
    ordered = sorted(samples)
    rank = max(1, -(-pct * n // 100))  # ceil(pct * n / 100)
    return {"percentile": pct, "value": ordered[rank - 1], "samples": n}


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0

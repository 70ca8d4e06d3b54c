"""Spans, statistics and Spark counters for the benchmark's traced runs.

Everything here is measured from outside the program: spans wrap calls
into the package's public functions, Spark counters are read from the
status tracker and status store under a job group the benchmark sets,
and files written come from a directory walk. Nothing in the package
knows it is being traced.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import time
from dataclasses import asdict, dataclass, field

@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``dump`` writes every span as JSON once,
    at the end of the run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), math.nan, parent, self.run_id)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the part of [start, end] that the union of ``intervals``
    covers."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return span.duration - covered(span.start, span.end, [(c.start, c.end) for c in children])


def load_spans(path: str) -> list[Span]:
    with open(path) as f:
        return [Span(**d) for d in json.load(f)]


# --------------------------------------------------------------------------
# Spark counters


class SparkCounters:
    """Per-call Spark job, stage, shuffle, spill, GC and output counts.

    ``group(name)`` sets the job group for the calls inside it; on exit
    it waits for the listener bus to drain (so the status store holds
    every finished stage) and returns the counts of that group's jobs.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    @contextlib.contextmanager
    def group(self, name: str):
        counts: dict = {}
        self.sc.setJobGroup(name, name)
        try:
            yield counts
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            counts.update(self.collect(name))

    def collect(self, name: str) -> dict:
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(name)
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = self._jsc.statusStore()
        out = {"jobs": len(job_ids), "stages": 0, "shuffle_bytes": 0,
               "spill_bytes": 0, "gc_s": 0.0, "rows_written": 0}
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage never submitted (skipped)
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["gc_s"] += sd.jvmGcTime() / 1000.0
            out["rows_written"] += sd.outputRecords()
        return out


def data_files(root: str) -> dict[str, int]:
    """Visible data files under ``root`` (what a reader scans: not
    checksums, markers or staging) -> size in bytes."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def written(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(files, bytes) that appear in ``after`` and not in ``before``."""
    new = [p for p in after if p not in before]
    return len(new), sum(after[p] for p in new)


# --------------------------------------------------------------------------
# process memory


def _stat(pid: str) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name (field 2) may hold spaces: split after it
        return f.read().rsplit(")", 1)[1].split()


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by ``pid`` and every live process descended from it, read from
    ``/proc``. Time the machine spends running other guests is not in it."""
    parent: dict[str, str] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                parent[p] = _stat(p)[1]
            except OSError:  # exited while listing
                continue
    tree, frontier = {str(pid)}, [str(pid)]
    while frontier:
        cur = frontier.pop()
        kids = [p for p, pp in parent.items() if pp == cur and p not in tree]
        tree.update(kids)
        frontier.extend(kids)
    ticks = 0
    for p in tree:
        try:
            f = _stat(p)
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")

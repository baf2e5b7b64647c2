"""Spans, percentiles and Spark work counters for the benchmark.

Nothing here reaches into the program under test: spans wrap the
benchmark's own calls into public functions, and the Spark counters come
from the status store every SparkContext keeps (it works with
`spark.ui.enabled=false`).
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# ---------------------------------------------------------------------------
# Percentiles
# ---------------------------------------------------------------------------

MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile `q` in (0, 1]. The median is always
    allowed; any higher percentile needs at least MIN_BEYOND samples
    above its rank, else ValueError — a p75 over 30 samples rests on 7
    points and is refused."""
    if not values:
        raise ValueError("percentile of no samples")
    if q == 0.5:
        return statistics.median(values)
    n = len(values)
    rank = math.ceil(q * n)
    if n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{q * 100:g} over {n} samples has {n - rank} beyond it; needs {MIN_BEYOND}"
        )
    return sorted(values)[rank - 1]


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; `enabled=False` records nothing, so the
    untraced run pays only a context-manager call per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            op: str | None = None) -> int:
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, op))
        return sid

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        sid = self.add(name, time.perf_counter(), math.nan, parent, op)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid].end = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s, self_s in zip(self.spans, self_times(self.spans)):
                fh.write(json.dumps({**asdict(s), "self": self_s}) + "\n")


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval covered by
    its children (overlapping children are counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = []
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s.dur - covered)
    return out


# ---------------------------------------------------------------------------
# Spark work counters
# ---------------------------------------------------------------------------

class SparkCounters:
    """Work counters read from the SparkContext's status store, per set
    of jobs: the jobs of a job group (one per query) or every job after
    a mark (a stream). Stage records are final once a stage completes:
    tasks run, summed task run time, input and shuffle bytes. Skipped
    stages (shuffle output reused) count neither as stages nor tasks."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._gw = self.sc._gateway
        self.spent_s = 0.0  # time spent reading counters: the tracing cost

    def _drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds all finished stages."""
        self._jsc.listenerBus().waitUntilEmpty()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, interruptOnCancel=False)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def group_jobs(self, group: str) -> list[int]:
        self._drain()
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_mark(self) -> int:
        """The highest job id so far (-1 before the first job)."""
        self._drain()
        jobs = self._jsc.statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def jobs_after(self, mark: int) -> list[int]:
        self._drain()
        jobs = self._jsc.statusStore().jobsList(None)
        return [j for j in (jobs.apply(i).jobId() for i in range(jobs.size())) if j > mark]

    def work(self, job_ids: list[int]) -> dict[str, float]:
        t0 = time.perf_counter()
        self._drain()
        store = self._jsc.statusStore()
        stage_ids: set[int] = set()
        for jid in job_ids:
            seq = store.job(jid).stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        out = dict.fromkeys(("stages", "tasks", "task_ms", "input_bytes", "shuffle_bytes"), 0.0)
        out["jobs"] = float(len(job_ids))
        no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        for sid in stage_ids:
            attempts = store.stageData(sid, False, self._gw.jvm.java.util.ArrayList(), False,
                                       no_quantiles)
            for k in range(attempts.size()):
                st = attempts.apply(k)
                if st.numCompleteTasks() == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_ms"] += st.executorRunTime()
                out["input_bytes"] += st.inputBytes()
                out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        self.spent_s += time.perf_counter() - t0
        return out


# ---------------------------------------------------------------------------
# Process-tree memory
# ---------------------------------------------------------------------------


def _tree_pids(root: int) -> list[int]:
    """`root` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of the process tree: pages shared between
    processes (forked Python workers) are split among them, not counted
    once per process as RSS would."""
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue  # the process ended between listing and reading
    return total


class MemSampler:
    """Background sampler of the process tree's PSS high-water mark."""

    INTERVAL_S = 0.2

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="mem-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(me))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))

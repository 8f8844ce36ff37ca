"""Measurement plumbing shared by the workloads: spans and Spark job
counters (traced runs only), percentiles, a lake-directory walk and
``/proc`` readings.  Imports nothing from the engine."""

from __future__ import annotations

import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# ------------------------------------------------------------ statistics

def tail(values: list[float]) -> tuple[float, int, int]:
    """(value, percentile, n): the highest whole percentile with at least
    ten samples above it (nearest rank); below 11 samples, the maximum
    (percentile 100).  Runs take a fixed number of samples, so the
    percentile is the same from run to run."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], 100, n
    pct = 100 * (n - 10) // n
    return xs[math.ceil(pct * n / 100) - 1], pct, n


def op_count(seconds: float, nominal_s: float, minimum: int) -> int:
    """Operations a run of ``seconds`` makes: fixed by the run length and
    the operation's nominal time on the reference box (not by the clock
    during the run), so every run of a workload has the same composition."""
    return max(minimum, round(seconds / nominal_s))


# ------------------------------------------------------------- outside

def dir_stats(root: str) -> tuple[int, int]:
    """(bytes, files) under ``root``, every version and checkpoint kept."""
    total = files = 0
    for base, _dirs, names in os.walk(root):
        for n in names:
            try:
                total += os.lstat(os.path.join(base, n)).st_size
                files += 1
            except OSError:
                pass
    return total, files


def _status_kb(pid: int | str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def child_pids(pid: int) -> list[int]:
    """Direct children of ``pid`` (the JVM that py4j launched)."""
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out += [int(x) for x in f.read().split()]
        except OSError:
            pass
    return out


def peak_rss_mb() -> tuple[float, float]:
    """(python, jvm) peak resident set in MB, from ``VmHWM``."""
    me = os.getpid()
    jvm = sum(_status_kb(p, "VmHWM") for p in child_pids(me))
    return _status_kb("self", "VmHWM") / 1024, jvm / 1024


def cpu_steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two
    :func:`cpu_times` readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    return d[7] / total if total and len(d) > 7 else 0.0


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


# ---------------------------------------------------------------- tracing

@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None  # cycle / query / run id
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


@dataclass
class Tracer:
    """In-memory spans around public engine calls, with the Spark jobs,
    stages and tasks each span started (its own, children excluded).

    Disabled, ``span`` is a bare ``yield`` so untimed and timed code
    paths are the same."""

    spark: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    bookkeeping_s: float = 0.0  # time spent reading the job counters
    _stack: list[int] = field(default_factory=list)

    def _job_mark(self) -> int:
        # job ids are allocated from one counter, whichever thread (a
        # streaming query's included) submits the job; no session, no jobs
        if self.spark is None:
            return 0
        return self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    def _job_work(self, first: int, last: int) -> tuple[int, int]:
        if first == last:
            return 0, 0
        st = self.spark.sparkContext.statusTracker()
        stages = tasks = 0
        for j in range(first, last):
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages += 1
                si = st.getStageInfo(s)
                tasks += si.numTasks if si is not None else 0
        return stages, tasks

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        before = time.perf_counter()
        sp = Span(name, before,
                  parent=self._stack[-1] if self._stack else None,
                  op=op if op is not None or not self._stack else self.spans[self._stack[-1]].op)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        first = self._job_mark()
        sp.start = time.perf_counter()
        self.bookkeeping_s += sp.start - before
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            last = self._job_mark()
            self._stack.pop()
            sp.jobs = last - first
            sp.stages, sp.tasks = self._job_work(first, last)
            self.bookkeeping_s += time.perf_counter() - sp.end
            # children counted their own jobs already
            for child in self.spans[idx + 1:]:
                if child.parent == idx:
                    sp.jobs -= child.jobs
                    sp.stages -= child.stages
                    sp.tasks -= child.tasks

    def add(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0.0) + value

    def self_times(self) -> dict[int, float]:
        """Span index -> duration minus the time its children cover
        (children of one span run sequentially, never overlapping)."""
        out = {i: s.end - s.start for i, s in enumerate(self.spans)}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.end - s.start
        return out

    def by_name(self, timed_only: bool = False) -> dict[str, dict[str, float]]:
        """Per span name: count, total and self seconds, jobs/stages/tasks
        (``timed_only``: leave out the spans recorded during set-up)."""
        selfs = self.self_times()
        agg: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if timed_only and s.op == "setup":
                continue
            a = agg.setdefault(s.name, {"n": 0, "total_s": 0.0, "self_s": 0.0,
                                        "jobs": 0, "stages": 0, "tasks": 0})
            a["n"] += 1
            a["total_s"] += s.end - s.start
            a["self_s"] += selfs[i]
            a["jobs"] += s.jobs
            a["stages"] += s.stages
            a["tasks"] += s.tasks
        return agg

    def per_call(self, name: str, key: str = "total_s") -> float:
        """Mean of ``key`` over the timed calls of span ``name`` (0 when the
        workload never makes that call)."""
        a = self.by_name(timed_only=True).get(name)
        return a[key] / a["n"] if a else 0.0

    def dump(self, path: str) -> None:
        import json

        selfs = self.self_times()
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({**s.__dict__, "id": i, "self_s": selfs[i]}) + "\n")

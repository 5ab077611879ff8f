"""Measurement plumbing: span tracing, Spark job counters, process
memory, CPU time and CPU-steal sampling.

Spans wrap public engine calls from the outside (``Tracer.install``
patches the class methods and ``Tracer.restore`` puts them back); the
engine code is never edited. Every Spark job submitted while a span is
open is tagged with that span through the ``spark.jobGroup.id`` local
property, and ``Tracer.collect_jobs`` reads the jobs and stages back from
the local Spark UI REST API once the run is over, so counters are
attributed to the innermost open span. Spans live in memory until then.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    children_s: float = 0.0
    jobs: int = 0  # launched by the code's own actions; see _AQE_CALLSITE
    stages: int = 0
    tasks: int = 0
    shuffle_write: int = 0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


# Adaptive query execution submits jobs of its own to materialize query
# stages, from a thread pool whose call site reads
# "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java". How many
# it submits depends on which concurrent stage finishes first (a round
# launched 22 such jobs in one run and 23 in the next), so job counts
# leave them out; their stages and tasks still count.
_AQE_CALLSITE = "withThreadLocalCaptured"


class Tracer:
    """In-memory span tree plus job-group tagging. Disabled tracers are
    never installed, so untraced runs pay nothing."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[type, str, object]] = []
        self.off = False

    # -- spans --------------------------------------------------------------
    def _open(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, 0.0)
        self.spans.append(sp)
        self._stack.append(sp.sid)
        self.sc.setLocalProperty("spark.jobGroup.id", f"span-{sp.sid}")
        sp.t0 = time.perf_counter()
        return sp

    def _close(self, sp: Span) -> None:
        sp.t1 = time.perf_counter()
        self._stack.pop()
        if sp.parent is not None:
            self.spans[sp.parent].children_s += sp.dur
        group = f"span-{self._stack[-1]}" if self._stack else None
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str):
        sp = self._open(name)
        try:
            yield sp
        finally:
            self._close(sp)

    @contextmanager
    def paused(self):
        """Run the installed wrappers as the bare methods: no spans, no job
        tags. For the untraced side of the overhead comparison."""
        self.off = True
        try:
            yield
        finally:
            self.off = False

    def patch(self, cls: type, method: str, make) -> None:
        """Replace ``cls.method`` by ``make(original)`` until ``restore``."""
        orig = cls.__dict__[method]
        self._patched.append((cls, method, orig))
        setattr(cls, method, make(orig))

    def install(self, targets: list[tuple[type, str, str]]) -> None:
        """Wrap ``cls.method`` in a span named ``name`` for each target."""
        for cls, method, name in targets:

            def make(orig, name=name):
                def wrapper(*a, **kw):
                    if self.off:
                        return orig(*a, **kw)
                    with self.span(name):
                        return orig(*a, **kw)

                return wrapper

            self.patch(cls, method, make)

    def patched(self, cls: type) -> bool:
        return any(c is cls for c, _, _ in self._patched)

    def restore(self) -> None:
        for cls, method, orig in reversed(self._patched):
            setattr(cls, method, orig)
        self._patched.clear()

    # -- queries over the span tree ----------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.t1 > 0]

    def subtree(self, sp: Span) -> list[Span]:
        out, frontier = [sp], [sp.sid]
        while frontier:
            nxt = [s.sid for s in self.spans if s.parent in frontier]
            out += [self.spans[i] for i in nxt]
            frontier = nxt
        return out

    def inclusive(self, sp: Span, attr: str) -> int:
        return sum(getattr(s, attr) for s in self.subtree(sp))

    # -- Spark counters -----------------------------------------------------
    def _rest(self, path: str):
        ui = self.sc.uiWebUrl
        app = self.sc.applicationId
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/{path}") as r:
            return json.load(r)

    def collect_jobs(self) -> None:
        """Attribute every finished job's stage/task/shuffle counters to the
        span that tagged it, recounting from zero so repeated calls agree.
        The UI listener is asynchronous, so poll until the job list stops
        growing."""
        if not self.sc.uiWebUrl:
            return
        jobs, last = [], -1
        for _ in range(50):
            jobs = self._rest("jobs")
            if len(jobs) == last and all(j["status"] != "RUNNING" for j in jobs):
                break
            last = len(jobs)
            time.sleep(0.2)
        stages = {s["stageId"]: s for s in self._rest("stages?status=complete")}
        for sp in self.spans:
            sp.jobs = sp.stages = sp.tasks = sp.shuffle_write = 0
        for j in jobs:
            group = j.get("jobGroup") or ""
            if not group.startswith("span-"):
                continue
            sp = self.spans[int(group[5:])]
            sp.jobs += _AQE_CALLSITE not in j.get("name", "")
            sp.stages += j.get("numCompletedStages", 0)
            sp.tasks += j.get("numCompletedTasks", 0)
            sp.shuffle_write += sum(
                stages[s].get("shuffleWriteBytes", 0)
                for s in j.get("stageIds", [])
                if s in stages
            )


# ---------------------------------------------------------------------------
# process sampling
# ---------------------------------------------------------------------------
def tree(root: int) -> list[int]:
    """``root`` and the pids of all its live descendants, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def tree_pss_mib(root: int) -> float:
    """Proportional set size in MiB of ``root`` and all its descendants
    (the driver JVM and its forked Python workers), read from /proc. PSS
    splits pages shared after fork between the sharers, so forked workers
    are not counted twice."""
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total / 1024


class MemSampler(threading.Thread):
    """Polls the process tree's PSS (MiB) and keeps the peak."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_mib = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        root = os.getpid()
        while not self._halt.is_set():
            self.peak_mib = max(self.peak_mib, tree_pss_mib(root))
            self._halt.wait(self.interval)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_mib


_GC_PAUSE = re.compile(r"Pause (\w+).*?(\d+)([KMG])->(\d+)([KMG])\((\d+)([KMG])\)")
_MIB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def gc_heap_mib(log: str) -> tuple[float, float]:
    """(largest live Java heap, largest committed heap), in MiB, from the
    pause lines of a ``-Xlog:gc`` file such as
    ``Pause Full (System.gc()) 612M->198M(2048M)``. The live heap is the
    occupancy after a full collection; after a young one it still holds
    old-generation garbage, whose amount depends on GC timing."""
    live = committed = 0.0
    with open(log) as f:
        for m in _GC_PAUSE.finditer(f.read()):
            committed = max(committed, int(m[6]) * _MIB[m[7]])
            if m[1] == "Full":
                live = max(live, int(m[4]) * _MIB[m[5]])
    return live, committed


def cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies from /proc/stat; (0, 0) where unavailable."""
    try:
        with open("/proc/stat") as f:
            v = f.readline().split()
        return int(v[1]) + int(v[2]) + int(v[3]), int(v[8])
    except (OSError, IndexError, ValueError):
        return 0, 0


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and its live descendants."""
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                v = f.read().rsplit(")", 1)[1].split()
            total += int(v[11]) + int(v[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / os.sysconf("SC_CLK_TCK")


@dataclass
class Unit:
    """One timed call: wall seconds, the share of CPU time the hypervisor
    stole meanwhile (from /proc/stat), and CPU seconds of this process
    tree (driver, JVM, Python workers)."""

    wall: float
    steal: float
    cpu: float

    @property
    def adj(self) -> float:
        """Wall time with the stolen share removed: a CPU-bound step on a
        vCPU that is withheld a fraction s of the time runs 1/(1-s) slower,
        so this is the wall the step would take on an uncontended host."""
        return self.wall * (1.0 - self.steal)


class StealMeter:
    """Times calls as ``Unit``s, so a unit measured while the hypervisor
    withheld cycles shows up as steal, not as engine cost."""

    def __init__(self):
        self.units: list[Unit] = []

    def timed(self, fn, *a, **kw):
        b0, s0 = cpu_jiffies()
        c0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        out = fn(*a, **kw)
        wall = time.perf_counter() - t0
        b1, s1 = cpu_jiffies()
        c1 = tree_cpu_s(os.getpid())
        unit = Unit(wall, (s1 - s0) / max(1, (b1 - b0) + (s1 - s0)), c1 - c0)
        self.units.append(unit)
        return unit, out

    def max_frac(self) -> float:
        return max((u.steal for u in self.units), default=0.0)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0

"""Outside-in probes: the process tree under ``/proc``, JVM MXBeans, and
Spark's status store per job group, plus the in-memory span recorder of
the traced run. Nothing here changes a plan or a Spark setting.
"""

from __future__ import annotations

import os
import sys
import threading
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
KINDS = ("driver", "jvm", "pydaemon", "pyworkers")


def _stat(pid: int) -> tuple[int, str, int, int] | None:
    """(ppid, comm, own cpu ticks, reaped-children cpu ticks) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    comm = s[s.index("(") + 1 : s.rindex(")")]
    rest = s[s.rindex(")") + 2 :].split()
    # Fields after comm start at field 3 (state): ppid is 4, utime..cstime 14..17.
    ppid = int(rest[1])
    own = int(rest[11]) + int(rest[12])
    reaped = int(rest[13]) + int(rest[14])
    return ppid, comm, own, reaped


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (FileNotFoundError, ProcessLookupError):
        return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except (FileNotFoundError, ProcessLookupError):
        return ""


def host_cpu() -> tuple[int, int]:
    """(all CPU ticks, stolen ticks) of the whole host, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


@dataclass
class TreeSample:
    """CPU seconds (own + reaped children) and RSS bytes per process kind."""

    cpu: dict[str, float]
    rss: dict[str, int]
    pids: dict[int, str]

    def rss_total(self) -> int:
        return sum(self.rss.values())


class ProcTree:
    """The driver process and everything it spawned: the JVM, the Python
    worker daemon under it and the daemon's forked workers. CPU of a child
    that exited is read from its parent's ``cutime``/``cstime``: a worker
    the daemon reaped counts as ``pyworkers``, anything else reaped counts
    with the process that started it."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self._kinds: dict[int, str] = {self.root: "driver"}
        self.seen: set[int] = set()

    def _kind(self, pid: int, parent: str, comm: str) -> str:
        known = self._kinds.get(pid)
        if known:
            return known
        if parent == "driver" and comm == "java":
            kind = "jvm"
        elif parent == "jvm" and comm.startswith("python"):
            cmd = _cmdline(pid)
            kind = "pydaemon" if ("daemon" in cmd or "worker_preload" in cmd) else "pyworkers"
        elif parent == "pydaemon":
            kind = "pyworkers"
        else:
            kind = parent
        self._kinds[pid] = kind
        return kind

    def sample(self) -> TreeSample:
        stats: dict[int, tuple[int, str, int, int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, st in stats.items():
            children.setdefault(st[0], []).append(pid)
        cpu = dict.fromkeys(KINDS, 0.0)
        rss = dict.fromkeys(KINDS, 0)
        pids: dict[int, str] = {}
        stack = [(self.root, "driver")]
        while stack:
            pid, parent = stack.pop()
            st = stats.get(pid)
            if st is None:
                continue
            _, comm, own, reaped = st
            kind = "driver" if pid == self.root else self._kind(pid, parent, comm)
            pids[pid] = kind
            cpu[kind] += own / _TICK
            # Workers the daemon reaped were Python workers; anything else
            # reaped stays with the kind of the process that started it.
            cpu["pyworkers" if kind == "pydaemon" else kind] += reaped / _TICK
            rss[kind] += _rss(pid)
            stack.extend((c, kind) for c in children.get(pid, ()))
        self.seen.update(pids)
        return TreeSample(cpu, rss, pids)


class PeakSampler:
    """Background thread sampling whole-tree RSS every ``interval`` s; keeps
    the peak total and the peak per kind."""

    def __init__(self, tree: ProcTree, interval: float):
        self.tree = tree
        self.interval = interval
        self.peak_total = 0
        self.peak = dict.fromkeys(KINDS, 0)
        self._workers: set[int] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def observe(self, s: TreeSample) -> None:
        with self._lock:
            self.peak_total = max(self.peak_total, s.rss_total())
            for k, v in s.rss.items():
                self.peak[k] = max(self.peak[k], v)
            self._workers.update(p for p, k in s.pids.items() if k == "pyworkers")

    def workers(self) -> set[int]:
        """Every Python worker pid seen so far."""
        with self._lock:
            return set(self._workers)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.observe(self.tree.sample())

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


@dataclass
class JvmSample:
    jit_ms: float  # JIT compile time, summed over compiler threads
    gc_s: float
    classes: int  # classes loaded
    codegen: int  # whole-stage / expression classes compiled by Spark's codegen

    def __sub__(self, o: "JvmSample") -> "JvmSample":
        return JvmSample(
            self.jit_ms - o.jit_ms, self.gc_s - o.gc_s, self.classes - o.classes, self.codegen - o.codegen
        )


class Jvm:
    """Process-wide JVM counters via MXBeans and Spark's codegen metrics (py4j)."""

    def __init__(self, spark):
        jvm = spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._classes = mf.getClassLoadingMXBean()
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def sample(self) -> JvmSample:
        gc_ms = sum(max(0, b.getCollectionTime()) for b in self._gcs)
        return JvmSample(
            float(self._jit.getTotalCompilationTime()),
            gc_ms / 1000.0,
            self._classes.getTotalLoadedClassCount(),
            self._codegen.getCount(),
        )


@dataclass
class GroupStats:
    """Counts Spark's status store holds for the jobs of one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    call_sites: list[str] = field(default_factory=list)

    def add(self, o: "GroupStats") -> "GroupStats":
        return GroupStats(
            self.jobs + o.jobs,
            self.stages + o.stages,
            self.tasks + o.tasks,
            self.task_run_s + o.task_run_s,
            self.task_cpu_s + o.task_cpu_s,
            self.shuffle_bytes + o.shuffle_bytes,
            self.spill_bytes + o.spill_bytes,
            self.call_sites + o.call_sites,
        )


_PKG = "polars_sim_spark" + os.sep


def _package_site(frame) -> str | None:
    """``operators/join_sim.py:506 similarity_mapping`` for the innermost
    frame of the program's package on the stack, or None."""
    while frame is not None:
        fn = frame.f_code.co_filename
        if _PKG in fn:
            return f"{fn[fn.rindex(_PKG) + len(_PKG):]}:{frame.f_lineno} {frame.f_code.co_name}"
        frame = frame.f_back
    return None


class CallSites:
    """While active, records the wall-clock window and the program's Python
    call site of every py4j call the package makes. Spark names a job after
    its JVM call site (``localCheckpoint at NativeMethodAccessorImpl.java:0``)
    or, for jobs started asynchronously, a thread-pool frame; the window in
    flight at the job's submission time names the operator line instead."""

    def __init__(self):
        self.windows: list[tuple[float, float, str]] = []
        self._orig = None

    def __enter__(self):
        from py4j.java_gateway import JavaMember

        orig = self._orig = JavaMember.__call__
        windows = self.windows

        def call(member, *args):
            site = _package_site(sys._getframe(1))
            if site is None:
                return orig(member, *args)
            t0 = time.time()
            try:
                return orig(member, *args)
            finally:
                windows.append((t0, time.time(), site))

        JavaMember.__call__ = call
        return self

    def __exit__(self, *exc):
        from py4j.java_gateway import JavaMember

        JavaMember.__call__ = self._orig
        return False

    def site_at(self, t: float) -> str:
        """The innermost package call in flight at wall-clock time ``t``."""
        best = None
        for t0, t1, site in self.windows:
            if t0 - 0.002 <= t <= t1 + 0.002 and (best is None or t0 >= best[0]):
                best = (t0, site)
        return best[1] if best else "(no package call in flight)"


class SparkStatus:
    """Reads Spark's status store (it is kept with the UI disabled) for the
    jobs of a job group the benchmark set around a call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._tracker = self.sc.statusTracker()
        self._store = self.sc._jsc.sc().statusStore()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def group(self, group: str, sites: CallSites | None = None) -> GroupStats:
        g = GroupStats()
        for jid in sorted(self._tracker.getJobIdsForGroup(group)):
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            g.jobs += 1
            if sites is not None:
                job = self._store.job(jid)
                submitted = job.submissionTime()
                at = submitted.get().getTime() / 1e3 if submitted.isDefined() else 0.0
                action = job.name().partition(" at ")[0]
                g.call_sites.append(f"{sites.site_at(at)} ({action})")
            for sid in info.stageIds:
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:  # py4j: a stage the store has already evicted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                g.stages += 1
                g.tasks += sd.numCompleteTasks()
                g.task_run_s += sd.executorRunTime() / 1e3
                g.task_cpu_s += sd.executorCpuTime() / 1e9
                g.shuffle_bytes += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                g.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return g

    def cache_state(self) -> tuple[int, float]:
        """(persisted RDDs, MB of their blocks in memory and on disk)."""
        jsc = self.sc._jsc.sc()
        live = jsc.getPersistentRDDs().size()
        mb = sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo()) / 2**20
        return live, mb


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """Spans around the benchmark's calls into each layer, kept in memory
    and written once at the end. A span still times its block when the
    tracer is disabled or ``record=False``; it just is not kept."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str, op: int | None = None, record: bool = True):
        return _SpanCtx(self, name, op, self.enabled and record)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its child spans cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child.get(i, 0.0)
        return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op: int | None, record: bool):
        self.t, self.name, self.op, self.record = tracer, name, op, record

    def __enter__(self):
        self.start = time.perf_counter()
        if self.record:
            self.idx = len(self.t.spans)
            parent = self.t._stack[-1] if self.t._stack else None
            self.t.spans.append(Span(self.name, self.start, self.start, parent, self.op))
            self.t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        if self.record:
            self.t.spans[self.idx].end = self.end
            self.t._stack.pop()
        return False

    @property
    def seconds(self) -> float:
        return self.end - self.start

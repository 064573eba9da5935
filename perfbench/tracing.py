"""Spans, Spark job attribution, and the process tree's memory and CPU time.

A span is opened around a call into one layer of the package. It records
wall time and the range of Spark job ids submitted while it was open:
job ids are handed out in order by the DAG scheduler, so a span owns every
job whose id falls in its range, whichever thread submitted it. (Job
groups cannot do this: the index build's pool threads drop the caller's
group.) Stage metrics are read once, after the run, from the application
status store over py4j; it keeps job and stage data with the UI disabled.

Spans live in memory until ``resolve`` and are written out by the caller.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from dataclasses import dataclass, field

FIELDS = (
    "ms", "calls", "jobs", "stages", "tasks", "run_ms", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Span:
    idx: int
    name: str
    parent: int | None
    t0: float
    job0: int
    t1: float = 0.0
    job1: int = 0
    attrs: dict = field(default_factory=dict)
    stats: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Tracer:
    """Records spans when ``enabled``; otherwise every hook is a plain
    pass-through, so one run can interleave traced and untraced work."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()
        self.enabled = False
        self.spans: list[Span] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _next_job(self) -> int:
        return int(self._dag.nextJobId())

    def start(self, name: str, **attrs) -> Span | None:
        if not self.enabled:
            return None
        st = self._stack()
        with self._lock:
            s = Span(len(self.spans), name, st[-1].idx if st else None,
                     time.perf_counter(), self._next_job(), attrs=attrs)
            self.spans.append(s)
        st.append(s)
        return s

    def end(self, s: Span | None) -> None:
        if s is None:
            return
        s.job1 = self._next_job()
        s.t1 = time.perf_counter()
        st = self._stack()
        if st and st[-1] is s:
            st.pop()

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def wrap(self, owner, attr: str, name: str, caller: str | None = None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper. With *caller*, only
        calls made directly from a function of that name are spanned."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def hook(*args, **kwargs):
            if not tracer.enabled or (
                caller is not None and sys._getframe(1).f_code.co_name != caller
            ):
                return orig(*args, **kwargs)
            s = tracer.start(name)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.end(s)

        self._patched.append((owner, attr, owner.__dict__.get(attr, orig)))
        setattr(owner, attr, hook)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def resolve(self) -> None:
        """Fill each span's stage metrics from the status store. A stage
        counts for the lowest job that lists it, so a stage a later job
        skips is never counted twice."""
        if not self.spans:
            return
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        lo = min(s.job0 for s in self.spans)
        hi = max(s.job1 for s in self.spans)
        stage_job: dict[int, int] = {}
        stage_data: dict[int, tuple] = {}
        for jid in range(lo, hi):
            try:
                ids = store.job(jid).stageIds()
            except Exception:  # evicted or never registered: no stages to count
                continue
            for i in range(ids.size()):
                sid = int(ids.apply(i))
                if sid in stage_job:
                    continue
                stage_job[sid] = jid
                d = store.lastStageAttempt(sid)
                complete = str(d.status()) == "COMPLETE"
                stage_data[sid] = (
                    int(complete), int(d.numCompleteTasks()), int(d.executorRunTime()),
                    int(d.inputBytes()), int(d.shuffleReadBytes()),
                    int(d.shuffleWriteBytes()),
                    int(d.memoryBytesSpilled()) + int(d.diskBytesSpilled()),
                )
        by_job: dict[int, list[tuple]] = {}
        for sid, jid in stage_job.items():
            by_job.setdefault(jid, []).append(stage_data[sid])
        keys = FIELDS[3:]
        for s in self.spans:
            tot = dict.fromkeys(keys, 0)
            for jid in range(s.job0, s.job1):
                for row in by_job.get(jid, ()):
                    for k, v in zip(keys, row):
                        tot[k] += v
            s.stats = {"ms": s.ms, "calls": 1, "jobs": s.job1 - s.job0, **tot}

    def totals(self) -> dict[str, dict]:
        """Per span name: every field of FIELDS summed over its spans."""
        out: dict[str, dict] = {}
        for s in self.spans:
            acc = out.setdefault(s.name, dict.fromkeys(FIELDS, 0))
            for k in FIELDS:
                acc[k] += s.stats.get(k, 0)
        return out

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.idx]

    def coverage(self, s: Span) -> float:
        """Share of *s*'s wall time covered by its direct child spans."""
        iv = sorted((c.t0, c.t1) for c in self.children(s))
        covered, end = 0.0, s.t0
        for a, b in iv:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return covered / (s.t1 - s.t0) if s.t1 > s.t0 else 1.0

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "parent": s.parent, "start_ms": (s.t0 - self.spans[0].t0) * 1e3,
             "ms": s.ms, "jobs": [s.job0, s.job1], **s.attrs, "stats": s.stats}
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        self.span = self.tracer.start(self.name, **self.attrs)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer.end(self.span)


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, the fields after comm) of a /proc stat file."""
    with open(path) as f:
        stat = f.read()
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def _tree(root_pid: int) -> dict[int, tuple[str, list[str]]]:
    """*root_pid* and all its live descendants: pid -> (comm, stat fields)."""
    procs: dict[int, tuple[str, list[str]]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            procs[int(name)] = _stat(f"/proc/{name}/stat")
        except OSError:  # the process ended while we looked
            continue
        children.setdefault(int(procs[int(name)][1][1]), []).append(int(name))
    out, todo = {}, [root_pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, ()))
        if p in procs:
            out[p] = procs[p]
    return out


def _tree_pss_bytes(root_pid: int) -> int:
    """Memory of *root_pid* and all its descendants (driver, JVM, Python
    workers) as proportional set size: pages shared between forked
    workers count once in total, where summed RSS would count them once
    per process. The JVM shares no pages with the rest, so its RSS is its
    PSS; it is read from ``status``, because ``smaps_rollup`` walks the
    page tables of the whole heap (tens of ms, holding the JVM's memory
    map lock) and so would slow the program it measures."""
    total = 0
    for p, (comm, _) in _tree(root_pid).items():
        path, key = ((f"/proc/{p}/status", "VmRSS:") if comm == "java"
                     else (f"/proc/{p}/smaps_rollup", "Pss:"))
        try:
            with open(path) as f:
                for line in f:
                    if line.startswith(key):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


# JVM threads that keep the runtime itself going: the JIT compilers and the
# garbage collector. Their CPU time depends on when compilation and
# collection happen to run, not on the work asked of the program.
_JVM_UPKEEP = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ", "VM Thread")
_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds that *root_pid* and its descendants (driver, JVM, Python
    workers) have used, with reaped children, less the JVM's compiler and
    GC threads. Time the hypervisor gives other guests (steal) is not CPU
    time of ours, so this grows less than wall time when the host is
    busy."""
    ticks = 0
    for p, (comm, f) in _tree(root_pid).items():
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        if comm != "java":
            continue
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                tcomm, tf = _stat(f"/proc/{p}/task/{tid}/stat")
            except OSError:
                continue
            if tcomm.startswith(_JVM_UPKEEP):
                ticks -= int(tf[11]) + int(tf[12])
    return ticks / _TICK


class MemorySampler:
    """Samples the process tree's memory every *interval* seconds in a
    daemon thread, into ``samples`` (bytes). Disabled, it samples nothing:
    each sample walks /proc in this process, whose CPU time the untraced
    run reports."""

    def __init__(self, interval: float = 0.25, enabled: bool = True):
        self.interval = interval
        self.enabled = enabled
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.samples.append(_tree_pss_bytes(pid))
            if self._stop.wait(self.interval):
                return

    def quantile(self, q: float) -> int:
        s = sorted(self.samples)
        return s[min(len(s) - 1, int(q * len(s)))] if s else 0

    def __enter__(self) -> "MemorySampler":
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self.enabled:
            self._thread.join(timeout=10)


def jvm_counters(spark) -> dict[str, int]:
    """The driver JVM's garbage collection and JIT compilation totals
    since start-up, to tell a slow run's cause apart."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gcs = list(mf.getGarbageCollectorMXBeans())
    return {
        "gc_ms": sum(int(b.getCollectionTime()) for b in gcs),
        "gc_count": sum(int(b.getCollectionCount()) for b in gcs),
        "jit_ms": int(mf.getCompilationMXBean().getTotalCompilationTime()),
        "heap_committed_mb": int(mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted()) >> 20,
    }


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU time counters from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]

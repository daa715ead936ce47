"""Shared benchmark machinery: session set-up, call accounting,
tracing spans with Spark job/stage attribution, CPU and memory readings.

Spans are recorded only from the benchmark's side of each call
(wrappers installed around the program's public functions), so the
program runs unmodified. With tracing off no wrapper is installed and
no job group is set.
"""

from __future__ import annotations

import contextlib
import functools
import os
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def median(xs):
    return statistics.median(xs) if xs else float("nan")


# ---------------------------------------------------------------------
# session
# ---------------------------------------------------------------------


def heap_size() -> str:
    """JVM heap: a quarter of physical RAM, capped at the engine's 16g
    default, unless ``SPARK_GRAFT_DRIVER_MEM`` is set."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(16, int(gib // 4)))}g"


def start_session(work: str):
    """``local[nproc]`` session with shuffle partitions = nproc; every
    file Spark writes (shuffle, spill, JVM temp) stays under ``work``."""
    from etl_pipeline_4handling_listings_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap_size()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for the JVM to
    exit (its Python workers end with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def prepare_process(work: str) -> None:
    """Make the engine importable here and in Spark's Python workers,
    and keep Python-side temp files inside ``work``."""
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = tmp


# ---------------------------------------------------------------------
# call accounting
# ---------------------------------------------------------------------


class OpFailed(Exception):
    """Raised after a failed call has been counted, to end the pass."""


@dataclass
class Ops:
    """Counts every timed call as attempted or failed and keeps its
    wall time under an op name. A failure keeps its exception class
    and message and ends the pass; it is never retried or hidden."""

    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    times: dict = field(default_factory=dict)

    def call(self, name: str, fn, *args, **kwargs):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception as exc:
            self.failed += 1
            self.errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            traceback.print_exc(file=sys.stderr)
            raise OpFailed(name) from exc
        self.times.setdefault(name, []).append(time.perf_counter() - t0)
        return out

    def all_times(self) -> list[float]:
        return [t for ts in self.times.values() for t in ts]


# ---------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    run: str
    group: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans (name, start, end, parent, run id). Each span
    runs under its own Spark job group, so the jobs a call launches
    are attributed to the innermost span that was open."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._stack: list[Span] = []
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sc = self.spark.sparkContext
        sp = Span(
            id=len(self.spans),
            name=name,
            start=time.perf_counter(),
            end=None,
            parent=self._stack[-1].id if self._stack else None,
            run=self.run_id,
            group=f"{self.run_id}.{len(self.spans)}",
            attrs=attrs,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. Outside the
        span, ``before(args, kwargs)`` runs first and its result is
        handed to ``after(state, args, kwargs, result)``, so what they
        measure is not billed to the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            state = before(args, kwargs) if before is not None else None
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(state, args, kwargs, out)
            return out

        self.replace(owner, attr, wrapper)

    def replace(self, owner, attr: str, value) -> None:
        """Set ``owner.attr`` until :meth:`unwrap_all`."""
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def resolve_jobs(self) -> None:
        """Attach job, shuffle-write and spill counts to each span from
        the status tracker and the app status store. Listener events
        arrive asynchronously, so the bus is drained first."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        jvm = sc._jvm
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        for sp in self.spans:
            if "jobs" in sp.attrs:
                continue
            jobs = tracker.getJobIdsForGroup(sp.group)
            shuffle = spill = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else []:
                    it = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_quantiles).iterator()
                    while it.hasNext():
                        sd = it.next()
                        shuffle += sd.shuffleWriteBytes()
                        spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            sp.attrs.update(jobs=len(jobs), shuffle_write_bytes=shuffle, spill_bytes=spill)

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        return kids

    def self_time(self, sp: Span, kids) -> float:
        """Span duration minus the part of it its children cover."""
        cover, last = 0.0, sp.start
        for c in sorted(kids.get(sp.id, []), key=lambda c: c.start):
            s, e = max(c.start, last), min(c.end, sp.end)
            if e > s:
                cover += e - s
                last = e
        return (sp.end - sp.start) - cover

    def layer_totals(self) -> dict[str, dict]:
        """Per span name: calls, self seconds, and jobs / shuffle bytes
        / spill bytes including descendants."""
        kids = self.children()
        memo: dict[int, tuple] = {}

        def inclusive(sp):
            if sp.id not in memo:
                acc = [sp.attrs.get("jobs", 0), sp.attrs.get("shuffle_write_bytes", 0), sp.attrs.get("spill_bytes", 0)]
                for c in kids.get(sp.id, []):
                    for i, v in enumerate(inclusive(c)):
                        acc[i] += v
                memo[sp.id] = tuple(acc)
            return memo[sp.id]

        out: dict[str, dict] = {}
        for sp in self.spans:
            d = out.setdefault(sp.name, {"calls": 0, "self_s": 0.0, "jobs": 0, "shuffle": 0, "spill": 0})
            d["calls"] += 1
            d["self_s"] += self.self_time(sp, kids)
            jobs, shuffle, spill = inclusive(sp)
            # nested spans of the same name would count their jobs twice
            if not any(self.spans[p].name == sp.name for p in self._ancestors(sp)):
                d["jobs"] += jobs
                d["shuffle"] += shuffle
                d["spill"] += spill
        return out

    def _ancestors(self, sp: Span):
        p = sp.parent
        while p is not None:
            yield p
            p = self.spans[p].parent

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.__dict__) + "\n")


class NoTracer:
    """Tracing off: spans cost nothing."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None


# ---------------------------------------------------------------------
# clocks, memory and disk
# ---------------------------------------------------------------------


def _descendants(root: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        parents.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(parents.get(p, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    Spark JVM and its Python workers), children already reaped included."""
    ticks = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                # utime, stime, cutime, cstime
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other tenants so far, summed
    over this machine's CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


@dataclass
class Clocks:
    """Wall, CPU (this process tree) and steal seconds."""

    wall: float
    cpu: float
    steal: float

    @classmethod
    def now(cls) -> "Clocks":
        return cls(time.perf_counter(), tree_cpu_s(), steal_s())

    def since(self) -> "Clocks":
        """Seconds elapsed on each clock from this reading to now."""
        now = Clocks.now()
        return Clocks(now.wall - self.wall, now.cpu - self.cpu, now.steal - self.steal)


def _status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def memory_mb() -> tuple[float, float]:
    """(peak resident set of this process plus the Spark JVM, and the
    proportional set size of Spark's Python workers alive now). The
    workers are forked from one daemon and share pages with it, and
    idle ones come and go, so their peaks are neither additive nor
    steady; their current PSS is reported apart."""
    me = os.getpid()
    peak_kb = _status_kb(me, "VmHWM")
    workers_kb = 0
    for pid in _descendants(me):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" in cmd:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    workers_kb += next(int(x.split()[1]) for x in f if x.startswith("Pss:"))
            elif pid != me and b"java" in cmd.split(b"\0")[0]:
                peak_kb += _status_kb(pid, "VmHWM")
        except (OSError, StopIteration):
            continue
    return peak_kb / 1024.0, workers_kb / 1024.0


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def parquet_bytes(path: str) -> int:
    return sum(s for p, s in dir_files(path).items() if p.endswith(".parquet"))

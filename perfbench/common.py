"""Shared machinery of the benchmark: run root, Spark session, load
sentinel, timed calls and their statistics, tracing and output checks.

Nothing here runs at import time. ``run.py`` prepares the process
environment (``RunRoot.enter``) before pyspark starts its JVM, so every
file the run writes lands under one directory that is removed at exit.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO_ROOT = BENCH_DIR.parent
RUN_DIR_NAME = ".perfbench_run"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class RunRoot:
    """One directory under the checkout holding everything a run writes:
    generated inputs, Spark local dirs, the warehouse, ``TMPDIR`` and the
    JVM's ``java.io.tmpdir``. Spark and the JVM leave temporary files
    behind; pointing every temp-dir knob here and deleting the root at
    exit keeps the checkout clean and nothing is written outside it."""

    def __init__(self, workload: str):
        self.path = REPO_ROOT / RUN_DIR_NAME / f"{workload}-{os.getpid()}"

    def enter(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "spark-local", "warehouse", "data"):
            (self.path / sub).mkdir(parents=True)
        os.environ["TMPDIR"] = str(self.path / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.path / "spark-local")
        # spark-submit's own launcher JVM; without this it writes /tmp/hsperfdata_*
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.path / 'tmp'}"
        tempfile.tempdir = None  # re-read TMPDIR on next use
        # Python workers spawned by the JVM import octopufs_spark by name;
        # they inherit this environment, not this process's sys.path.
        paths = [str(REPO_ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        if str(REPO_ROOT) not in sys.path:
            sys.path.insert(0, str(REPO_ROOT))

    def data(self, *parts: str) -> str:
        return str(self.path.joinpath("data", *parts))

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            self.path.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass


def start_spark(root: RunRoot):
    """The system's own ``get_spark`` at its own configuration (heap,
    UI, shuffle partitions), on ``local[nproc]``. Only paths are added:
    the JVM's temp dir, Derby's home, Spark's local and warehouse dirs
    all go under the run root, and the JVM keeps no ``hsperfdata`` file."""
    from octopufs_spark.session import get_spark

    tmp = root.path / "tmp"
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc()}]",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
            "spark.local.dir": str(root.path / "spark-local"),
            "spark.sql.warehouse.dir": str(root.path / "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM (local mode: the whole engine)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def load_sentinel(spark) -> float:
    """Fixed-work Spark job (scan, exchange, hash aggregate). Its work
    never changes, so its time tells a loaded machine from a slow
    program."""
    t0 = time.perf_counter()
    spark.range(4_000_000).selectExpr("id % 1000 k", "id v").groupBy("k").sum("v").write.format(
        "noop"
    ).mode("overwrite").save()
    return time.perf_counter() - t0


def become_subreaper() -> None:
    """Make this process the child subreaper of everything it starts
    (Linux ``PR_SET_CHILD_SUBREAPER``): a worker whose parent ends first
    is re-parented here instead of to init, so ``stop_engine`` can wait
    for it."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _proc_table() -> dict[int, tuple[str, int, int]]:
    """Every process in ``/proc``: pid -> (state, parent pid, CPU ticks
    of it and of the children it has reaped, user plus system)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
            out[int(d)] = (st[0], int(st[1]), sum(int(x) for x in st[11:15]))
        except (OSError, IndexError, ValueError):
            continue
    return out


def _below(pid: int, table: dict, zombies: bool = False) -> list[int]:
    """The processes below ``pid`` in ``table``."""
    children: dict[int, list[int]] = {}
    for p, (state, ppid, _) in table.items():
        if zombies or state != "Z":
            children.setdefault(ppid, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    return _below(pid, _proc_table())


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def engine_cpu_s() -> float:
    """CPU seconds, user plus system, used so far by this process and
    every process below it (the JVM and its Python workers), with the
    children each has reaped. Unlike wall time it leaves out the time
    the host takes the CPUs away (steal), which on a shared VM slows
    whole runs by up to half."""
    table = _proc_table()
    me = os.getpid()
    return sum(table[p][2] for p in [me, *_below(me, table, zombies=True)]) / _CLK_TCK


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_engine(graceful: bool = True, grace_s: float = 30.0) -> None:
    """Stop the Spark session and the JVM behind it, and wait until the
    JVM and every process it started (Python workers) have ended.

    ``SparkSession.stop`` leaves the gateway JVM running until this
    process exits, and the JVM's Python workers end only after it; both
    would outlive the run. Here the gateway is shut down, the JVM's
    stdin closed (it exits on EOF) and waited for, and then every
    process still below this one; whatever is left after ``grace_s`` is
    killed. Safe to call when no session started. With ``graceful``
    false (a call into the JVM was interrupted, so the gateway's
    connection may be out of step) the session is not stopped through
    the gateway; the JVM stops it in its shutdown hook."""
    import signal

    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    if graceful:
        try:
            spark = SparkSession.getActiveSession()
            if spark is not None:
                spark.stop()
        except Exception:
            pass
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + grace_s
    if jvm is not None:
        try:
            jvm.stdin.close()
        except Exception:
            pass
        try:
            jvm.wait(timeout=grace_s)
        except Exception:
            jvm.kill()
            jvm.wait()
    killed = False
    while True:
        _reap()
        left = _descendants(os.getpid())
        if not left:
            return
        if not killed and time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            killed = True
        time.sleep(0.05)


# ---------------------------------------------------------------- stats


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it: the 11th-largest sample, at percentile
    100 * (n - 10) / n. Fewer than 11 samples: the maximum, at 100."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def timing_summary(xs: list[float]) -> dict:
    value, pct = tail(xs)
    return {"p50": statistics.median(xs), "tail": value, "tail_pct": round(pct, 1), "n": len(xs)}


class Calls:
    """The timed calls of a closed loop, by call type (the span name):
    the wall seconds and the CPU seconds (``engine_cpu_s``) of each."""

    def __init__(self, tracer: "Tracer"):
        self.tr = tracer
        self.by_type: dict[str, list[float]] = {}
        self.cpu_by_type: dict[str, list[float]] = {}
        self.total_s = 0.0

    def call(self, name: str, fn, timed: bool = True):
        """Run ``fn`` inside a span; returns (its result, the span)."""
        with self.tr.span(name) as sp:
            cpu0 = engine_cpu_s()
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            cpu = engine_cpu_s() - cpu0
        if timed:
            self.by_type.setdefault(name, []).append(dt)
            self.cpu_by_type.setdefault(name, []).append(cpu)
            self.total_s += dt
        return out, sp

    def samples(self, names=None) -> list[float]:
        return [x for k, xs in self.by_type.items() if names is None or k in names for x in xs]

    def summary(self, cycles: int) -> dict:
        """``cycle_cpu_s`` and ``slowest_op_cpu_s`` plus the record's
        detail (underscored keys), where the same two figures in wall
        seconds are ``cycle_s`` and ``slowest_op_s``."""
        every = timing_summary(self.samples())
        p50 = {k: statistics.median(xs) for k, xs in self.by_type.items()}
        cpu_p50 = {k: statistics.median(xs) for k, xs in self.cpu_by_type.items()}
        return {
            # One cycle's calls, each at its call type's median: a load
            # burst that slows fewer than half the calls of each type
            # does not move it.
            "cycle_cpu_s": sum(cpu_p50[k] * len(xs) / cycles for k, xs in self.cpu_by_type.items()),
            # The spike a user waits for: the call type with the largest
            # median (merge, synchronize or copy, the build-heavy query).
            "slowest_op_cpu_s": max(cpu_p50.values()),
            "_cycle_s": sum(p50[k] * len(xs) / cycles for k, xs in self.by_type.items()),
            "_slowest_op_s": max(p50.values()),
            "_op_s": every,
            "_op_p50_s": p50,
            "_op_cpu_p50_s": cpu_p50,
            "_op_samples_s": self.by_type,
            "_op_cpu_samples_s": self.cpu_by_type,
            "_calls": every["n"],
            "_ops_per_s": every["n"] / self.total_s,
            "_cycles": cycles,
        }


# ---------------------------------------------------------------- tracing


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    def add(self, **counts) -> None:
        for k, v in counts.items():
            self.attrs[k] = self.attrs.get(k, 0) + v


class _NullSpan:
    """What ``Tracer.span`` yields when tracing is off."""

    def add(self, **counts) -> None:
        pass


class Tracer:
    """Spans kept in memory around each call into a layer.

    With tracing on, every span sets the Spark job group to its name
    and, at both boundaries, waits for the listener bus to drain and
    reads the newest job and stage ids from the status store (the
    ``AppStatusStore`` that ``bench.py`` and ``tools/qprofile.py`` read
    too). The jobs and stages a call launched are those with newer ids,
    so jobs fired from a call's own threads (compaction) count as well;
    their completed tasks and shuffle write bytes are summed from the
    stages' final records. The time the boundaries take, and the time of
    traced-only bookkeeping run inside ``overhead()``, is the tracing
    overhead."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        if enabled:
            self._sc = spark.sparkContext
            self._bus = self._sc._jsc.sc().listenerBus()
            self._store = self._sc._jsc.sc().statusStore()
            self._jvm = spark._jvm
            self._quant = self._sc._gateway.new_array(self._jvm.double, 1)
            self._quant[0] = 1.0

    def _stages(self):
        """Every stage in the store, newest first."""
        jvm = self._jvm
        return self._store.stageList(jvm.java.util.ArrayList(), False, False, self._quant, jvm.java.util.ArrayList())

    def _newest(self) -> tuple[int, int]:
        """(newest job id, newest stage id) once every event so far is in."""
        self._bus.waitUntilEmpty()
        jobs, stages = self._store.jobsList(None), self._stages()
        return (
            jobs.apply(0).jobId() if jobs.size() else -1,
            stages.apply(0).stageId() if stages.size() else -1,
        )

    def _counts_since(self, job0: int, stage0: int) -> dict:
        """Jobs, stages, completed tasks and shuffle write bytes newer
        than the given ids (both lists are newest first)."""
        self._bus.waitUntilEmpty()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0}
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            if jobs.apply(i).jobId() <= job0:
                break
            out["jobs"] += 1
        stages = self._stages()
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() <= stage0:
                break
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        return out

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield _NullSpan()
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        job0, stage0 = self._newest()
        self._sc.setJobGroup(name, name)
        sp = Span(len(self.spans), name, parent.id if parent else None, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.add(**self._counts_since(job0, stage0))
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.name, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - sp.end

    @contextmanager
    def overhead(self):
        """Time traced-only bookkeeping (work an untraced run skips) as
        tracing overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the time its children
        cover (children of one client run one after another)."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.dur
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.name] = out.get(sp.name, 0.0) + sp.dur - child[sp.id]
        return out

    def reset(self) -> None:
        """Forget the spans so far (set-up and warm-up)."""
        self.spans.clear()
        self.overhead_s = 0.0

    def median_s(self, name: str) -> float:
        """Median duration of the spans with this name (0 if none)."""
        durs = [sp.dur for sp in self.spans if sp.name == name]
        return statistics.median(durs) if durs else 0.0

    def values(self, name: str, key: str) -> list:
        """A count of each span with this name, in order."""
        return [sp.attrs.get(key, 0) for sp in self.spans if sp.name == name]

    def per_cycle(self, name: str, key: str, cycles: int) -> float:
        """A count summed over the spans with this name, per cycle."""
        return sum(sp.attrs.get(key, 0) for sp in self.spans if sp.name == name) / cycles

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "start": s.start, "end": s.end, **s.attrs}
            for s in self.spans
        ]


# ---------------------------------------------------------------- checks


class Checks:
    """Output checks. Each failure is kept with its message; one failed
    check makes the run incorrect and the command exit non-zero."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)
        return ok

    def equal(self, got, want, what: str) -> bool:
        return self.check(got == want, f"{what}: got {got!r}, want {want!r}")

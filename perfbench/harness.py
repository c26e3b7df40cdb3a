"""Benchmark plumbing shared by every workload: the hermetic sandbox,
the Spark session, spans around the benchmark's own calls into each
engine layer, per-operation job groups, the host record and the
resident-memory sampler.

Layers are measured from outside the engine: the benchmark times its
calls into public functions, reads the staging module's counters and
asks Spark's status tracker how many jobs each operation launched.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

# Engine layers a span can belong to. ``bench`` spans (passes and
# operations) group layer calls, ``client`` spans are the benchmark's
# own input preparation and ``session`` the session start.
ENGINE_LAYERS = ("registry", "operators", "txlog", "streaming")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory: name, layer, start, end and parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, parent, time.perf_counter(),
                 attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self, root_ids: set[int]) -> dict[str, float]:
        """Self time per layer over the subtrees rooted at ``root_ids``:
        each span's duration minus what its children cover."""
        inside: set[int] = set()
        for s in self.spans:
            if s.id in root_ids or s.parent in inside:
                inside.add(s.id)
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.id in inside and s.parent in inside:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + s.end - s.start
        out: dict[str, float] = {}
        for s in self.spans:
            if s.id in inside:
                out[s.layer] = out.get(s.layer, 0.0) + (
                    s.end - s.start - child_time.get(s.id, 0.0))
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({
                **extra,
                "spans": [s.__dict__ for s in self.spans],
            }, fh, indent=1, default=str)


@dataclass
class Op:
    """One timed operation of a pass."""
    name: str
    kind: str  # "query" (read or query) or "commit" (write)
    pass_no: int
    group: str
    start: float = 0.0
    end: float = 0.0
    ok: bool = True
    jobs: int = 0
    layer_jobs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Sandbox:
    """Scratch space under the checkout, removed at exit. Every path
    the run writes (staging root, tables, stream checkpoints, Spark's
    local dirs, the JVM's and Python's temp files) lives in it."""

    def __init__(self, root: str) -> None:
        self.base = os.path.join(root, ".perfbench")
        self.dir = os.path.join(self.base, f"tmp-{os.getpid()}")
        self.traces = os.path.join(self.base, "traces")

    def __enter__(self) -> "Sandbox":
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "spark-local", "staging", "eventlog", "warehouse"):
            os.makedirs(self.path(sub))
        os.environ["TMPDIR"] = self.path("tmp")
        import tempfile
        tempfile.tempdir = self.path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["SPARK_GRAFT_STAGING_DIR"] = self.path("staging")
        return self

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            os.rmdir(self.base)
        except OSError:
            pass  # traces or another run's sandbox remain


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass  # removed while walking
    return total


def cores() -> int:
    """Executor threads: the box's cores, at most 4 so that boxes of
    different sizes run the same plan shapes."""
    return max(1, min(4, os.cpu_count() or 1))


def start_spark(box: Sandbox, event_log: bool):
    from mapreduceapp_spark.session import get_spark

    n = cores()
    conf = {
        "spark.sql.warehouse.dir": box.path("warehouse"),
        "spark.local.dir": box.path("spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={box.path('tmp')} -XX:-UsePerfData",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": box.path("eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants() -> list[int]:
    """Pids of this process and all of its descendants."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = [os.getpid()], [os.getpid()]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        tree += kids
        frontier = kids
    return tree


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and every process it
    started (the Python workers) to end."""
    from pyspark import SparkContext

    children = [p for p in descendants() if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in children):
        time.sleep(0.1)


class Session:
    """One run's Spark session plus the benchmark's instrumentation."""

    def __init__(self, box: Sandbox, trace: bool) -> None:
        self.box = box
        self.trace = trace
        self.tracer = Tracer()
        self.ops: list[Op] = []
        self.spark = None
        self._op: Op | None = None

    def start(self) -> float:
        t0 = time.perf_counter()
        with self.tracer.span("session.start", "session"):
            self.spark = start_spark(self.box, self.trace)
        return time.perf_counter() - t0

    @contextmanager
    def op(self, name: str, kind: str, pass_no: int):
        """A timed operation under its own job group."""
        o = Op(name, kind, pass_no, f"pb{len(self.ops)}:{name}")
        sc = self.spark.sparkContext
        sc.setJobGroup(o.group, name)
        self._op = o
        with self.tracer.span(name, "bench", op=len(self.ops), kind=kind,
                              group=o.group, pass_no=pass_no):
            o.start = time.perf_counter()
            try:
                yield o
            except Exception:  # a failed operation counts; the run goes on
                o.ok = False
                traceback.print_exc(file=sys.stderr)
            finally:
                o.end = time.perf_counter()
                self._op = None
        o.jobs = len(sc.statusTracker().getJobIdsForGroup(o.group))
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.ops.append(o)

    @contextmanager
    def call(self, name: str, layer: str):
        """A call into one engine layer inside the current operation;
        the Spark jobs the call ran count for its layer."""
        o = self._op
        tracker = self.spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup(o.group))
        with self.tracer.span(name, layer):
            yield
        o.layer_jobs[layer] = (o.layer_jobs.get(layer, 0)
                               + len(tracker.getJobIdsForGroup(o.group)) - before)


class RssSampler:
    """Peak combined resident memory of this process and all of its
    descendants (the driver JVM and the Python workers)."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> int:
        total = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak = max(self.peak, total)
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop, best of three: a contended
    or throttled host reads slower at the start or end of the run."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the whole box since boot, in ticks.
    Steal is time the hypervisor gave the machine's CPUs to others."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks[:8])


def host_record(since: tuple[int, int] | None = None) -> dict:
    """Cores, load average and the CPU probe; with ``since`` (an earlier
    ``cpu_jiffies()``) also the share of CPU time stolen since then."""
    rec = {
        "nproc": os.cpu_count(),
        "executor_threads": cores(),
        "loadavg": list(os.getloadavg()),
        "cpu_probe_s": round(cpu_probe(), 6),
        "python": sys.version.split()[0],
    }
    if since is not None:
        steal, total = cpu_jiffies()
        rec["steal_share"] = round(
            (steal - since[0]) / max(1, total - since[1]), 4)
    return rec

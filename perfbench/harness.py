"""Shared plumbing for the crawl-engine benchmark: the Spark session sized
to this machine, spans around calls into the engine's layers, Spark job
counts per span, JVM GC time and peak resident memory.

Nothing here changes the engine: every measurement is taken from outside,
around calls into public functions.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from contextlib import contextmanager
from pathlib import Path


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    """Driver heap: a quarter of physical RAM, at most 4 GiB (the session's
    default is 20g, sized for a 32-core host)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return int(min(4096, phys // 4))


class Session:
    """One Spark session at local[nproc] whose shuffle, spill and warehouse
    directories live under `work`."""

    def __init__(self, work: Path, app: str):
        self.work, self.app = work, app
        self.spark = None
        self.start_s = 0.0
        self.warm_s = 0.0

    def start(self, warm: bool = True):
        """Start the session; with `warm`, also spin up the Python worker
        pool (every worker imports pandas and pyarrow), touching no engine
        table or plan."""
        from gsccca_tax_records_scraper_spark.session import get_spark

        mem, cores = driver_mem_mb(), n_cores()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.driver.memory": f"{mem}m",
            # fixed heap: adaptive heap growth makes the first reps of a run
            # slower than the rest by an amount that varies run to run
            "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Xms{mem}m",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
        }
        t0 = time.monotonic()
        self.spark = get_spark(app_name=self.app, cores=cores, extra_conf=conf)
        self.start_s = time.monotonic() - t0
        self.warm_s = 0.0
        if not warm:
            return self.spark
        t0 = time.monotonic()
        (
            self.spark.range(0, cores * 256, 1, cores)
            .selectExpr("id", "cast(id as double) as v")
            .mapInPandas(_identity, "id long, v double")
            .write.format("noop").mode("overwrite").save()
        )
        self.warm_s = time.monotonic() - t0
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def _identity(it):
    yield from it


def shutdown_jvm(timeout: float = 30.0) -> None:
    """Stop the py4j gateway JVM this process launched and wait until it and
    every process under it (the Python worker daemons) have exited."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    kids = _descendants(os.getpid())
    try:
        gw.shutdown()
    except Py4JError:  # the JVM is torn down below either way
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    for pid in kids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(") ", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _proc_table() -> dict[int, int]:
    """pid -> ppid for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                out[int(d)] = int(f.read().rsplit(") ", 1)[1].split()[1])
        except (OSError, IndexError):
            continue
    return out


def _descendants(root: int, table: dict | None = None) -> list[int]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, ppid in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _hwm_kib(pid: int) -> int:
    """The process's own peak resident set (VmHWM), kept by the kernel."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and everything under it (the
    driver JVM and the Python workers): the largest sum, over processes
    alive together, of each one's own kernel-kept peak. Sampling only finds
    which processes live together; the peaks themselves do not depend on
    when a sample lands."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_hwm_kib(p) for p in [me, *_descendants(me)])
            self.peak_kib = max(self.peak_kib, total)
            self._stop.wait(self.period)

    @property
    def peak_mb(self) -> float:
        return self.peak_kib / 1024.0


def gc_seconds(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def job_counts(sc, group: str) -> dict[str, int]:
    """Spark jobs, stages that ran, and tasks that completed in a job group."""
    tr = sc.statusTracker()
    jobs = tr.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tr.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            si = tr.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


class Tracer:
    """Spans around calls into the engine's layers. Each span records its
    name, parent, start, end and the Spark jobs it ran (through a job group
    set for the span's duration). Spans stay in memory until the run ends.
    A disabled tracer records nothing, so untraced runs pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # span bookkeeping: job groups and job counts
        self.sc = None
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None}
        group = f"perfbench-{rec['id']}"
        self.sc.setJobGroup(group, name)
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            t0 = time.monotonic()
            rec.update(job_counts(self.sc, group))
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.monotonic() - t0

    def wrap(self, name: str, fn):
        """`fn` with a span around every call."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # ------------------------------------------------------------ queries
    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def descendants(self, rec: dict) -> list[dict]:
        out, stack = [], [rec]
        while stack:
            for c in self.children(stack.pop()):
                out.append(c)
                stack.append(c)
        return out

    def self_s(self, rec: dict) -> float:
        """Span duration minus the part its child spans cover (spans nest
        strictly, so the children never overlap each other)."""
        return (rec["end"] - rec["start"]) - sum(
            c["end"] - c["start"] for c in self.children(rec)
        )

    def inclusive(self, rec: dict, key: str) -> int:
        return rec.get(key, 0) + sum(d.get(key, 0) for d in self.descendants(rec))

    def sum_named(self, rec: dict, prefix: str) -> float:
        """Total duration of the descendant spans whose name starts with
        `prefix` (outermost matches only)."""
        total, stack = 0.0, [rec]
        while stack:
            for c in self.children(stack.pop()):
                if c["name"].startswith(prefix):
                    total += c["end"] - c["start"]
                else:
                    stack.append(c)
        return total

    def overhead_frac(self) -> float:
        """Span bookkeeping as a share of the time the outermost spans
        cover: what tracing adds to the measured operations."""
        covered = sum(s["end"] - s["start"] for s in self.spans if s["parent"] is None)
        return self.overhead_s / covered if covered else 0.0

    def self_table(self) -> dict[str, dict]:
        """Per span name: calls, total time and self time."""
        out: dict[str, dict] = {}
        for s in self.spans:
            row = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["total_s"] += s["end"] - s["start"]
            row["self_s"] += self.self_s(s)
        return out


def file_sizes(root: Path) -> dict[str, int]:
    """path -> size of every regular file under root."""
    out = {}
    for dirpath, _dirnames, filenames in os.walk(root):
        for f in filenames:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out

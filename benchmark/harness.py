"""Benchmark plumbing: host facts, a host-sized Spark session, an RSS
sampler, spans around public calls, and the Spark event-log reader that
turns a traced run's log into per-span counters.

Nothing here imports ``networkx_graph_spark`` at module level, so the
event-log reader and its unit test run without Spark.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Optional

MB = 1024.0 * 1024.0


# ---------------------------------------------------------------- host
def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def driver_memory_mb() -> int:
    """Driver heap cap (``-Xmx``) sized from MemTotal: a sixteenth of RAM,
    512 MB to 1 GB. The workloads hold well under 100 MB, and the cap
    leaves the rest of a shared host alone. The heap starts small and
    grows with demand, so a change in allocation shows in peak RSS."""
    return max(512, min(1024, _meminfo_kb("MemTotal") // (16 * 1024)))


def host_facts() -> dict:
    import pyarrow
    import pyspark

    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": os.cpu_count(),
        "mem_total_gb": round(_meminfo_kb("MemTotal") / MB, 2),
        "driver_memory_mb": driver_memory_mb(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "loadavg": load,
    }


def session_conf(work_dir: str, event_log_dir: Optional[str]) -> dict:
    """``extra_conf`` for ``get_spark``: everything the session writes
    stays under ``work_dir``; the event log is on only for traced runs,
    uncompressed and non-rolling so it is one JSON-lines file.

    The Spark driver JVM uses the serial collector. It grows the heap by the live
    data left after each collection, where G1 grows it by measured GC
    time, so peak RSS follows memory demand and repeats from run to run
    (across ten seeds, road_queries' peak RSS had a quartile spread of
    0.086 of its median under G1 and 0.029 under the serial collector)."""
    tmp = os.path.join(work_dir, "tmp")
    heap = driver_memory_mb()
    conf = {
        "spark.driver.memory": f"{heap}m",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseSerialGC",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


# ---------------------------------------------------------------- memory
def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def descendant_pids(root: int) -> list[int]:
    """Every process below ``root``: in local mode the JVM is a child of
    the Python driver and the PySpark daemon and its workers are children
    of the JVM."""
    out, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            todo.extend(_children(pid))
        except OSError:
            pass
    return out


def descendants_rss(root: int) -> int:
    """RSS summed over every process below ``root``."""
    return sum(_rss_bytes(pid) for pid in descendant_pids(root))


def adopt_orphans() -> None:
    """Make this process the child subreaper of its descendants: a
    process whose parent exits is re-parented here rather than to init,
    so ``stop_spark`` can wait for it. The shell that ``spark-submit``
    forks to build the JVM command line is such a process; the JVM never
    reaps it."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def stop_spark(spark=None, grace: float = 30.0) -> None:
    """Stop the Spark session and end the JVM PySpark launched, with
    every process below it, waiting until each has exited.

    ``spark.stop()`` leaves the gateway JVM running; it exits only when
    its stdin closes, on its own time, after the Python driver may have
    gone. Here stdin is closed and the JVM waited for, then killed after
    ``grace`` seconds. Every process still below this one (the PySpark
    daemon and its workers, and those ``adopt_orphans`` re-parented here)
    is then terminated, killed after ``grace`` seconds, and reaped. Safe
    to call when the session never started or a start failed half-way."""
    import signal

    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=grace)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.time() + grace
        while True:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                return
            sig = signal.SIGKILL if time.time() > deadline else signal.SIGTERM
            for pid in descendant_pids(os.getpid()):
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            time.sleep(0.05)


class RssSampler:
    """One daemon thread sampling ``descendants_rss`` every ``period``
    seconds; ``peak`` is the largest sample seen."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss(me))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------- spans
@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around calls into the package, kept in memory. Once ``sc``
    is set, every Spark job started inside a span carries the job tag
    ``nxgb-<span id>`` (tags nest, so a job also carries its ancestors'
    tags), which ties event-log jobs to spans."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        sp = Span(len(self.spans), name, self._stack[-1].id if self._stack else None,
                  time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        tag = f"nxgb-{sp.id}"
        if self.sc is not None:
            self.sc.addJobTag(tag)
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.sc is not None:
                self.sc.removeJobTag(tag)
            self._stack.pop()

    def named(self, name: str, after: float = 0.0) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.start >= after]


# ---------------------------------------------------------------- event log
@dataclass
class Job:
    id: int
    start: float  # epoch seconds
    end: float
    tags: frozenset


@dataclass
class Task:
    stage: int
    run_s: float
    gc_s: float
    shuffle_read_mb: float
    shuffle_write_mb: float
    spill_mb: float


def read_event_log(path: str) -> tuple[dict[int, Job], list[Task], dict[int, int]]:
    """Parse an uncompressed, non-rolling Spark event log.

    Returns (jobs by id, tasks, stage id -> id of the first job that lists
    the stage). A stage that a later job reuses is skipped there and runs
    no tasks, so its tasks belong to the first job."""
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                tags = props.get("spark.job.tags") or ""
                jid = ev["Job ID"]
                jobs[jid] = Job(jid, ev["Submission Time"] / 1000.0, 0.0,
                                frozenset(t for t in tags.split(",") if t))
                for st in ev.get("Stage IDs") or []:
                    stage_job.setdefault(st, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    Task(
                        ev["Stage ID"],
                        m.get("Executor Run Time", 0) / 1000.0,
                        m.get("JVM GC Time", 0) / 1000.0,
                        (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB,
                        sw.get("Shuffle Bytes Written", 0) / MB,
                        (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB,
                    )
                )
    return jobs, tasks, stage_job


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_counters(span: Span, jobs: dict[int, Job], tasks_by_job: dict[int, list[Task]]) -> dict:
    """Counters of one span from the jobs tagged with its id.

    ``driver_gap_s`` is span wall minus the union of its job intervals
    (clipped to the span): broadcast and subquery jobs overlap their
    parent job, so a sum of durations would overcount. ``task_skew`` is
    max over median executor run time of the span's tasks."""
    tag = f"nxgb-{span.id}"
    mine = [j for j in jobs.values() if tag in j.tags]
    ts = [t for j in mine for t in tasks_by_job.get(j.id, [])]
    busy = union_length(
        [(max(j.start, span.start), min(j.end, span.end)) for j in mine
         if j.end > 0 and min(j.end, span.end) > max(j.start, span.start)]
    )
    runs = [t.run_s for t in ts]
    return {
        "s": span.s,
        "jobs": len(mine),
        "tasks": len(ts),
        "exec_run_s": sum(runs),
        "gc_s": sum(t.gc_s for t in ts),
        "shuffle_read_mb": sum(t.shuffle_read_mb for t in ts),
        "shuffle_write_mb": sum(t.shuffle_write_mb for t in ts),
        "spill_mb": sum(t.spill_mb for t in ts),
        "task_skew": (max(runs) / max(statistics.median(runs), 0.001)) if runs else 0.0,
        "driver_gap_s": max(0.0, span.s - busy),
    }


def all_span_counters(spans: list[Span], log_path: str) -> dict[int, dict]:
    jobs, tasks, stage_job = read_event_log(log_path)
    by_job: dict[int, list[Task]] = {}
    for t in tasks:
        jid = stage_job.get(t.stage)
        if jid is not None:
            by_job.setdefault(jid, []).append(t)
    return {sp.id: span_counters(sp, jobs, by_job) for sp in spans}

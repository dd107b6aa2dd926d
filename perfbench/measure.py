"""Measurement from outside the program: spans, Spark job groups, the Spark
event log, process memory from ``/proc``, and the environment stamp.

Nothing here reaches into ``imops_spark``; layers are timed at the calls the
benchmark makes into their public functions, and the engine's own numbers
come from Spark's event log (task metrics and SQL metrics).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    """What ``nproc`` prints: CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# Process memory
# ---------------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """``{pid: (ppid, comm, rss_bytes)}`` for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue
        lpar, rpar = raw.find("("), raw.rfind(")")
        rest = raw[rpar + 2:].split()
        out[int(name)] = (int(rest[1]), raw[lpar + 1:rpar], int(rest[21]) * _PAGE)
    return out


def _descendants(table, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class ProcSampler:
    """Samples, every ``interval`` seconds, the RSS of this (driver) Python
    process, of every Python process below the JVM (the worker daemon and
    its forked workers) and of the JVM itself.

    Peaks are kept only while ``active`` is set, so set-up and output checks
    do not count.  ``workers_seen`` collects the PIDs of Python workers
    observed while active; a worker that lives shorter than one interval
    can be missed.
    """

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.active = False
        self.peak_python = 0
        self.peak_jvm = 0
        self.workers_seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="proc-sampler", daemon=True)

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def python_workers(self) -> set[int]:
        table = _proc_table()
        return {p for p in _descendants(table, os.getpid())
                if table[p][1].startswith("python")}

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            if not self.active:
                continue
            table = _proc_table()
            below = _descendants(table, me)
            py = [p for p in below if table[p][1].startswith("python")]
            jvm = sum(table[p][2] for p in below if table[p][1] == "java")
            total = table.get(me, (0, "", 0))[2] + sum(table[p][2] for p in py)
            self.peak_python = max(self.peak_python, total)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.workers_seen.update(py)


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    job: str
    id: int
    group: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around the benchmark's calls into each layer.

    Every benchmark job runs under ``job(job_id)``, which tags its Spark
    jobs with a job group.  With ``enabled`` each ``span`` also gets its own
    job group, so jobs a call starts eagerly (plan-build collects,
    checkpoints) land on that call's layer, and ``force`` materialises a
    lazy layer's output at its boundary so that layer's execution is timed
    by its own span.  Disabled, ``span`` and ``force`` do nothing.
    """

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._job = ""

    def _set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    @contextmanager
    def _open(self, name: str, group: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        span = Span(name, time.perf_counter(), 0.0, parent, self._job, len(self.spans),
                    group, dict(attrs))
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(group)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1].group if self._stack else "idle")

    @contextmanager
    def job(self, job_id: str, record: bool):
        """One benchmark job; ``record`` keeps its span."""
        self._job = job_id
        n = len(self.spans)
        with self._open("job", job_id) as span:
            yield span
        if not record:
            del self.spans[n:]

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        with self._open(name, f"{self._job}/{name}", **attrs) as span:
            yield span

    @contextmanager
    def group(self, name: str):
        """Untraced runs: tag the Spark jobs started inside with the job
        group ``<job>/<name>`` (traced runs already tag them by span)."""
        if self.enabled:
            yield
            return
        self._set_group(f"{self._job}/{name}")
        try:
            yield
        finally:
            self._set_group(self._job)

    def force(self, df):
        """Materialise ``df`` now (traced runs only)."""
        return df.localCheckpoint(eager=True) if self.enabled else df

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the children's share."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.dur
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.dur - child.get(s.id, 0.0)
        return out

    def totals(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{"id": s.id, "name": s.name, "start": s.start, "end": s.end,
                        "parent": s.parent, "job": s.job, "group": s.group, **s.attrs}
                       for s in self.spans], f, indent=1)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_RUN = "time to run Python workers"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_write_ns: float = 0.0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    sql: dict = field(default_factory=dict)


def read_event_log(directory: str) -> dict[str, GroupStats]:
    """Aggregate task metrics and SQL metrics per Spark job group."""
    files = sorted(os.path.join(d, f) for d, _, names in os.walk(directory) for f in names
                   if not f.startswith("."))
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    stages_seen: set[int] = set()
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "idle")
                    g = groups.setdefault(group, GroupStats())
                    g.jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    g = groups.setdefault(stage_group.get(sid, "idle"), GroupStats())
                    if sid not in stages_seen:
                        stages_seen.add(sid)
                        g.stages += 1
                    g.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    g.run_ms += m.get("Executor Run Time", 0)
                    g.cpu_ns += m.get("Executor CPU Time", 0)
                    g.gc_ms += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    g.shuffle_write_ns += sw.get("Shuffle Write Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    g.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                             + sr.get("Local Bytes Read", 0))
                    g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    g.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name = acc.get("Name")
                        if name in (PY_SENT, PY_RECV, PY_RUN):
                            g.sql[name] = g.sql.get(name, 0) + int(acc.get("Update", 0))
    return groups


def merge(groups: dict[str, GroupStats], keep) -> GroupStats:
    """Sum the groups whose name satisfies ``keep``."""
    out = GroupStats()
    for name, g in groups.items():
        if not keep(name):
            continue
        for k in ("jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
                  "shuffle_write_bytes", "shuffle_write_ns", "shuffle_read_bytes",
                  "spill_bytes", "output_bytes"):
            setattr(out, k, getattr(out, k) + getattr(g, k))
        for k, v in g.sql.items():
            out.sql[k] = out.sql.get(k, 0) + v
    return out


# ---------------------------------------------------------------------------
# Statistics and environment
# ---------------------------------------------------------------------------


def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least 10 samples beyond it, as
    ``(percentile, value)``; None when there are too few samples."""
    n = len(values)
    xs = sorted(values)
    for p in range(99, 0, -1):
        k = int(n * p / 100)  # samples at or below the percentile
        if n - k >= 10 and k >= 1:
            return p, xs[k - 1]
    return None


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def cpu_probe() -> float:
    """Seconds for a fixed single-threaded Python loop (best of three): a
    stamp of how fast this box ran, for comparing runs on a shared host."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i
        best = min(best, time.perf_counter() - t)
    return best


def env_stamp(root: str, load_before: float, job_times: list[float], cpu_before: float) -> dict:
    """Where and on what the numbers were measured."""
    import numpy
    import pyarrow
    import pyspark

    import bench  # the repo's bench.py; only its contention check is used

    commit = "unknown"
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                    text=True, timeout=10).stdout.strip() or "unknown"
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "load1_before": round(load_before, 2),
        "load1_after": round(os.getloadavg()[0], 2),
        "cpu_probe_s_before": round(cpu_before, 4),
        "cpu_probe_s_after": round(cpu_probe(), 4),
        "contention": bench.contention_stats({"job": job_times}, load_before),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "commit": commit,
        "source_sha1": source_sha1(root),
    }


def source_sha1(root: str) -> str:
    """Hash of the program's Python sources (``imops_spark/``): identifies
    the code measured when the checkout carries no git metadata."""
    import hashlib

    h = hashlib.sha1()
    pkg = os.path.join(root, "imops_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()

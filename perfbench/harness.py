"""Process plumbing shared by the workloads: the checkout-local
environment, the Spark session's life cycle, spans, and memory.

Nothing here is imported by the program; the program only sees the
environment variables and the session this module prepares.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        # field 22 (starttime) counts after the ")" that closes comm
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    return up - start / os.sysconf("SC_CLK_TCK")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """An eighth of the machine's (or cgroup's) memory, 512m..2g: the
    program's own default is 16g, more than a shared small host has."""
    with open("/proc/meminfo") as f:
        total = int(next(l for l in f if l.startswith("MemTotal")).split()[1]) * 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw != "max":
            total = min(total, int(raw))
    except OSError:
        pass
    mb = max(512, min(2048, total // 8 // 2**20))
    return f"{mb}m"


def prepare_env(workload: str) -> str:
    """Make a private work directory under the checkout and point every
    place Spark, the JVM and Python would write to into it. Must run
    before pyspark starts its JVM, which inherits this environment and
    hands it to the Python workers: the streaming source and sink are
    Python data sources that import the package inside those workers,
    so the checkout root goes on PYTHONPATH, not only on sys.path."""
    work = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse", "inputs"):
        os.makedirs(os.path.join(work, sub))
    tmp = os.path.join(work, "tmp")
    pp = os.environ.get("PYTHONPATH")
    os.environ.update(
        PYTHONPATH=ROOT + (os.pathsep + pp if pp else ""),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_GRAFT_DRIVER_MEM=driver_memory(),
        SPARK_GRAFT_CPUS=str(cpu_count()),
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    tempfile.tempdir = None
    return work


def install_signal_exit() -> None:
    """Turn SIGTERM/SIGHUP into SystemExit so ``finally`` blocks stop
    the streaming queries and the JVM."""

    def bye(signum, _frame):
        raise SystemExit(128 + signum)

    for s in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(s, bye)


class Session:
    """The Spark session of one run, built by the program's own
    ``session.get_spark`` and torn down completely by :meth:`stop`."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None
        self.jvm = None

    def start(self, tracer: "Tracer"):
        from apache_iceberg_exploration_spark import session

        tmp = os.path.join(self.work, "tmp")
        with tracer.span("session.get_spark"):
            self.spark = session.get_spark(
                app_name="perfbench",
                cpus=cpu_count(),
                warehouse=os.path.join(self.work, "warehouse"),
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions":
                        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
                },
            )
        self.jvm = getattr(self.spark.sparkContext._gateway, "proc", None)
        return self.spark

    def stop(self) -> None:
        """Stop every streaming query, the session, then the JVM, and
        wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        try:
            for q in self.spark.streams.active:
                with contextlib.suppress(Exception):
                    q.stop()
        finally:
            try:
                self.spark.stop()
            finally:
                gw = SparkContext._gateway
                if gw is not None:
                    with contextlib.suppress(Exception):
                        gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
                if self.jvm is not None:
                    # the gateway JVM exits when its stdin reaches EOF
                    with contextlib.suppress(OSError):
                        self.jvm.stdin.close()
                    try:
                        self.jvm.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        self.jvm.kill()
                        self.jvm.wait()
                self.spark = None


def _children() -> dict[int, list[int]]:
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
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_bytes(jvm_pid: int | None) -> int:
    """Peak resident memory (VmHWM) of this Python driver plus the JVM
    and every live process under it (the Python workers)."""
    pids = {os.getpid()}
    if jvm_pid:
        kids = _children()
        todo = [jvm_pid]
        while todo:
            p = todo.pop()
            pids.add(p)
            todo.extend(kids.get(p, []))
    return sum(_hwm_kb(p) for p in pids) * 1024


def tree_bytes(*roots: str, only: str | None = None) -> int:
    """Bytes of regular files under ``roots``; with ``only``, just
    those under a directory of that name (e.g. ``snapshots``)."""
    total = 0
    for root in roots:
        for d, _, files in os.walk(root):
            if only and only not in d.split(os.sep):
                continue
            for f in files:
                with contextlib.suppress(OSError):
                    total += os.lstat(os.path.join(d, f)).st_size
    return total


class Written:
    """Bytes of files created under some directories since the last
    call: sizes of paths not seen before."""

    def __init__(self, *roots: str):
        self.roots = roots
        self.seen: set[str] = set()

    def new_bytes(self) -> int:
        total = 0
        for root in self.roots:
            for d, _, files in os.walk(root):
                for f in files:
                    p = os.path.join(d, f)
                    if p not in self.seen:
                        self.seen.add(p)
                        with contextlib.suppress(OSError):
                            total += os.lstat(p).st_size
        return total


# -- spans ------------------------------------------------------------------


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "attrs")

    def __init__(self, sid, name, parent, start, attrs):
        self.id, self.name, self.parent = sid, name, parent
        self.start, self.end, self.attrs = start, None, attrs

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around calls into the program, kept in memory and written
    out at the end. Disabled, a span still measures its own duration
    (the end-to-end metrics need it) but nothing is recorded and no
    program method is wrapped.

    Each span has a name, start, end, parent span and the run id. The
    outermost span of the ``sources.lakehouse`` layer sets a Spark job
    group around its call, so the jobs it caused can be counted."""

    JOB_LAYER = "sources.lakehouse."

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self.samples: dict[str, list[float]] = {}
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._spark = None
        self.timed = False  # inside the timed rounds

    def bind(self, spark) -> None:
        self._spark = spark

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        start = time.perf_counter()
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids) if self.enabled else 0, name, parent,
                 start, attrs)
        if not self.enabled:
            try:
                yield s
            finally:
                s.end = time.perf_counter()
            return
        s.attrs["timed"] = self.timed
        group = None
        if (self._spark is not None and name.startswith(self.JOB_LAYER)
                and not any(p.name.startswith(self.JOB_LAYER)
                            for p in self._stack)):
            group = f"{self.run_id}-{s.id}"
            self._spark.sparkContext.setJobGroup(group, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if group is not None:
                sc = self._spark.sparkContext
                s.attrs["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                for key in ("spark.jobGroup.id", "spark.job.description",
                            "spark.job.interruptOnCancel"):
                    sc.setLocalProperty(key, None)

    def sample(self, name: str, value: float, setup: bool = False) -> None:
        """Record a per-layer sample taken in the timed rounds (or, with
        ``setup``, one that only exists in the set-up phase)."""
        if self.enabled and (self.timed or setup):
            self.samples.setdefault(name, []).append(float(value))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a class method or module function) by
        a wrapper that records a span, so calls the program makes
        internally are traced too."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, traced)

    # -- summaries ----------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its child spans."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, edge = 0.0, s.start
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s.id] = s.dur - covered
        return out

    def layer_table(self) -> dict[str, dict]:
        selft = self.self_times()
        table: dict[str, dict] = {}
        for s in self.spans:
            row = table.setdefault(
                s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0}
            )
            row["calls"] += 1
            row["total_s"] += s.dur
            row["self_s"] += selft[s.id]
            row["jobs"] += s.attrs.get("jobs", 0)
        return table

    def median_self(self, names, parent_prefix: str | None = None) -> float:
        """Median self time of the timed-phase spans called ``names`` (a
        name or a tuple of names); with ``parent_prefix``, only those
        directly under a span whose name starts with it. Set-up spans
        count only where no timed span has the name."""
        names = (names,) if isinstance(names, str) else names
        selft = self.self_times()
        by_id = {s.id: s for s in self.spans}
        mine = [s for s in self.spans if s.name in names]
        if any(s.attrs.get("timed") for s in mine):
            mine = [s for s in mine if s.attrs.get("timed")]
        vals = [
            selft[s.id]
            for s in mine
            if (parent_prefix is None
                 or (s.parent in by_id
                     and by_id[s.parent].name.startswith(parent_prefix)))
        ]
        return statistics.median(vals) if vals else 0.0

    def jobs_per_call(self) -> float:
        calls = [s for s in self.spans if "jobs" in s.attrs and s.attrs.get("timed")]
        return sum(s.attrs["jobs"] for s in calls) / len(calls) if calls else 0.0

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selft = self.self_times()
        doc = {
            "run_id": self.run_id,
            "spans": [
                {"id": s.id, "name": s.name, "parent": s.parent,
                 "run": self.run_id, "start": s.start, "end": s.end,
                 "self_s": selft[s.id], **s.attrs}
                for s in sorted(self.spans, key=lambda s: s.start)
            ],
            "layers": self.layer_table(),
            "samples": self.samples,
            **extra,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)


LAKEHOUSE_CALLS = ("append", "merge_into", "overwrite", "read", "scan",
                   "rewrite_data_files", "expire_snapshots")


def trace_program(tracer: Tracer) -> None:
    """Span every ``LakehouseTable`` call, also those the program makes
    inside its own functions (the pipeline's appends and merges)."""
    from apache_iceberg_exploration_spark.sources.lakehouse import LakehouseTable

    for m in LAKEHOUSE_CALLS:
        tracer.wrap(LakehouseTable, m, f"sources.lakehouse.{m}")


def pending_deletes(manifest: dict) -> int:
    """Delete entries (equality/position files, deletion vectors) a
    snapshot manifest still applies at read time."""
    return (len(manifest.get("delete_files", []))
            + len(manifest.get("delete_vectors", {})))


def sample_table(tracer: Tracer, table) -> None:
    """Data files, pending delete entries and live snapshots of a
    table's current version, read through its public snapshot list."""
    snaps = table.snapshots()
    cur = snaps[-1]
    tracer.sample("sources.lakehouse.data_files", len(cur["files"]))
    tracer.sample("sources.lakehouse.pending_delete_entries",
                  pending_deletes(cur))
    tracer.sample("sources.lakehouse.snapshots", len(snaps))


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    with contextlib.suppress(OSError):
        os.rmdir(WORK_ROOT)


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)

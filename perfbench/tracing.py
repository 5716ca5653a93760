"""Tracing for the benchmark: spans around calls into the engine's
modules, per-op reads of Spark's in-process status store, a process-tree
CPU clock and a process-tree RSS sampler.

Everything here observes the engine from outside: public functions are
wrapped where the package's modules reference them, and Spark's own
status store is read after each op. Nothing inside the package changes.
"""

from __future__ import annotations

import functools
import importlib
import os
import re
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: Public functions timed in the traced run: (module, function, span name).
WRAPPED = (
    ("aw3d30_parquet_spark.session", "get_spark", "session.get_spark"),
    ("aw3d30_parquet_spark.session", "ship_package", "session.ship_package"),
    ("aw3d30_parquet_spark.session", "register_views", "session.register_views"),
    ("aw3d30_parquet_spark.session", "spread", "session.spread"),
    ("aw3d30_parquet_spark.scratch", "scratch_persist", "scratch.persist"),
    ("aw3d30_parquet_spark.scratch", "scratch_persist_eager", "scratch.eager_fill"),
    ("aw3d30_parquet_spark.scratch", "scratch_pin", "scratch.pin"),
    ("aw3d30_parquet_spark.scratch", "memo_touch", "scratch.memo_touch"),
    ("aw3d30_parquet_spark.scratch", "begin_query", "scratch.begin_query"),
    ("aw3d30_parquet_spark.sources.sink", "ingest_tiles", "sink.ingest_tiles"),
    ("aw3d30_parquet_spark.sources.sink", "existing_tiles", "sink.existing_tiles"),
    ("aw3d30_parquet_spark.sources.sink", "write_tiles", "sink.write_tiles"),
    ("aw3d30_parquet_spark.sources.geotiff", "read_tiles", "geotiff.read_tiles"),
)


class Tracer:
    """In-memory spans (name, start, end, parent, op) plus call counters.

    Spans nest by call order on one thread; ``op`` is the id of the
    benchmark op that was running. ``active`` switches recording on and
    off, so traced and untraced passes share one process."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, int] = defaultdict(int)
        self.active = False
        self.op: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "op": self.op}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add_span(self, name: str, start: float, end: float, parent: int | None) -> None:
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "op": self.op})

    def count(self, name: str, n: int = 1) -> None:
        if self.active:
            self.counts[name] += n

    def install(self) -> None:
        """Wrap every function in :data:`WRAPPED` wherever the package
        (or the driver contract) holds a reference to it, so callers that
        imported the name directly are traced too."""
        for modname, fname, label in WRAPPED:
            mod = importlib.import_module(modname)
            orig = getattr(mod, fname)
            wrapper = self._wrap(orig, label)
            for m in list(sys.modules.values()):
                mname = getattr(m, "__name__", "")
                if not (mname.startswith("aw3d30_parquet_spark") or mname == "__spark_entry__"):
                    continue
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, attr, wrapper)

    def _wrap(self, orig, label: str):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            tracer.count(label + "_calls")
            with tracer.span(label):
                out = orig(*args, **kwargs)
            if label == "session.spread" and args and out is not args[0]:
                tracer.count("session.spread_repartitions")
            return out

        return wrapper

    def self_times(self) -> dict[str, float]:
        """Per layer (span name): summed duration minus the part of each
        span's interval its children cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered = union_length(children.get(i, []), s["start"], s["end"])
            # "op:<name>" spans are the benchmark's own dispatch glue
            layer = "op" if s["name"].startswith("op:") else s["name"]
            out[layer] += (s["end"] - s["start"]) - covered
        return dict(out)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")


def parse_size(text: str) -> float:
    """Bytes from a SQL size metric string: either ``"5.8 MiB"`` or the
    per-task form whose second line starts with the total."""
    line = text.split("\n")[-1]
    m = _SIZE_RE.match(line.strip())
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


class SparkStatus:
    """Reads jobs, stages and SQL executions of one op (one job group)
    from Spark's in-process status stores."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def sql_count(self) -> int:
        return int(self._sql.executionsCount())

    def op_jobs(self, group: str) -> list[dict]:
        """Jobs of ``group`` with their spans and summed stage metrics."""
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty()
        jobs = []
        seen_stages: set[int] = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self._store.job(jid)
            if not (jd.submissionTime().isDefined() and jd.completionTime().isDefined()):
                continue
            job = {"start": jd.submissionTime().get().getTime() / 1000.0,
                   "end": jd.completionTime().get().getTime() / 1000.0,
                   "stages": 0, "tasks": 0, "failed_tasks": 0, "run_s": 0.0,
                   "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write": 0, "shuffle_read": 0,
                   "fetch_wait_s": 0.0, "spill": 0, "input": 0}
            it = jd.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                job["stages"] += 1
                job["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                job["failed_tasks"] += sd.numFailedTasks()
                job["run_s"] += sd.executorRunTime() / 1000.0
                job["cpu_s"] += sd.executorCpuTime() / 1e9
                job["gc_s"] += sd.jvmGcTime() / 1000.0
                job["shuffle_write"] += sd.shuffleWriteBytes()
                job["shuffle_read"] += sd.shuffleReadBytes()
                job["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1000.0
                job["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                job["input"] += sd.inputBytes()
            jobs.append(job)
        return jobs

    def python_bytes(self, since: int) -> tuple[float, float]:
        """(bytes sent to, bytes returned from) Python workers, summed
        over the SQL executions started after execution count ``since``."""
        n = self.sql_count()
        if n <= since:
            return 0.0, 0.0
        sent = returned = 0.0
        execs = self._sql.executionsList(since, n - since)
        for i in range(execs.size()):
            ex = execs.apply(i)
            values = self._sql.executionMetrics(ex.executionId())
            it = ex.metrics().iterator()
            while it.hasNext():
                m = it.next()
                name = m.name()
                if name not in ("data sent to Python workers",
                                "data returned from Python workers"):
                    continue
                v = values.get(m.accumulatorId())
                b = parse_size(v.get()) if v.isDefined() else 0.0
                if name.startswith("data sent"):
                    sent += b
                else:
                    returned += b
        return sent, returned

    def cached_bytes(self) -> int:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)


def descendants(root: int) -> set[int]:
    """Pids of every live descendant of ``root``, read from /proc."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        children[int(stat.rsplit(")", 1)[1].split()[1])].append(int(entry))
    found, frontier = set(), [root]
    while frontier:
        for child in children.get(frontier.pop(), []):
            if child not in found:
                found.add(child)
                frontier.append(child)
    return found


_CLK_TCK = os.sysconf("SC_CLK_TCK")

#: Thread names (``comm``, cut to 15 characters) of the JVM's JIT
#: compilers.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_ticks(path: str, reaped: bool) -> int:
    """utime + stime of one ``/proc/.../stat`` file, plus cutime + cstime
    (reaped children) with ``reaped``. A thread's file repeats its
    process's cutime and cstime, so a thread is read without them."""
    with open(path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return sum(int(v) for v in fields[11:15 if reaped else 13])


def cpu_s() -> float:
    """CPU seconds (user + system) spent so far by this process's calling
    thread and by every process it started: the JVM and the Python
    workers it forks, the reaped ones included. The JVM's JIT compiler
    threads are left out: compiling is warm-up, and with every query
    generating new code it goes on for the whole run, by an amount that
    differs from run to run.

    Unlike wall time this leaves out time the hypervisor steals from the
    virtual CPUs (the kernel's paravirt steal accounting takes it out of
    each task's run time), and time spent waiting for a CPU. It leaves out
    the benchmark's own sampler thread too."""
    ticks = 0
    for pid in descendants(os.getpid()):
        try:
            ticks += _stat_ticks(f"/proc/{pid}/stat", reaped=True)
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:  # the process has ended
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if fh.read().strip() in JIT_THREADS:
                        ticks -= _stat_ticks(f"/proc/{pid}/task/{tid}/stat", reaped=False)
            except OSError:  # the thread has ended; compiler threads do not
                continue
    return ticks / _CLK_TCK + time.thread_time()


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers it forks), sampled from /proc.

    Python processes count their proportional set size, so pages the
    forked workers share with their daemon count once; summing plain RSS
    would count them once per worker, and the worker count varies. The
    JVM shares no pages with the rest of the tree and its page map takes
    tens of milliseconds to read, so it counts its plain RSS."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> None:
        self.peak_bytes = 0

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.tree_rss())
            self._stop.wait(self.interval)

    def tree_rss(self) -> int:
        total = 0
        for pid in descendants(os.getpid()) | {os.getpid()}:
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    jvm = fh.read().strip() == "java"
                if jvm:
                    with open(f"/proc/{pid}/statm") as fh:
                        total += int(fh.read().split()[1]) * self._page
                    continue
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

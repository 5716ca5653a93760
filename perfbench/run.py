#!/usr/bin/env python3
"""Benchmark of the aw3d30_parquet_spark engine.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Runs one workload (see ``workloads.py``) in a closed loop from one client
on one ``local[nproc]`` SparkSession: one op is dispatched only after
the previous one returned, because ``scratch.begin_query`` supports
only sequential dispatch. A run sets the session up several times,
runs every op once untimed with its output checked against its oracle,
then dispatches whole passes over the ops, in a seeded order, until
``--seconds`` seconds have passed (at least two passes).

Each op is timed twice: wall time, and the CPU time of the process tree
(``tracing.cpu_s``). The end-to-end metrics that carry a bound are CPU
times, because hypervisor steal moves the wall times of identical runs
by more than any useful bound; the wall-time figures go to stderr.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, taken from the ops
that run traced (every other op, flipping each pass; the ops in between
run untraced and give the tracing overhead). Spans are written to
``.perfbench/<workload>/trace-seed<N>.json``. Human-readable detail goes
to stderr.

``--smoke`` runs the tiny variant the benchmark's tests use: sf0.001,
two small tiles, one set-up, one timed pass (two when traced).
``--corrupt NAME`` alters op NAME's checked output, so tests can see a
wrong output counted as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import (  # noqa: E402
    RssSampler, SparkStatus, Tracer, cpu_s, descendants, union_length,
)
from workloads import QUERY_MODULES, WORKLOADS, Workload  # noqa: E402

#: Session set-ups per run; ``setup_s`` is the median of their CPU times.
SETUP_REPEATS = 3

#: Driver heap, below the RAM of any host this runs on.
DRIVER_MEM = "3g"

#: Ops whose latency is not a query latency.
WRITE_OPS = ("ingest", "resume")

SPARK_FIELDS = (
    ("spark.jobs", None), ("spark.stages", "stages"), ("spark.tasks", "tasks"),
    ("spark.failed_tasks", "failed_tasks"), ("spark.task_run_s", "run_s"),
    ("spark.task_cpu_s", "cpu_s"), ("spark.gc_s", "gc_s"),
    ("spark.shuffle_write_bytes", "shuffle_write"),
    ("spark.shuffle_read_bytes", "shuffle_read"),
    ("spark.shuffle_fetch_wait_s", "fetch_wait_s"), ("spark.spill_bytes", "spill"),
    ("spark.input_bytes", "input"),
)

END_TO_END_UNITS = {
    "setup_s": "s", "query_cpu_s": "s", "ingest_rows_per_cpu_s": "rows/cpu_s",
    "resume_cpu_s": "s", "parquet_bytes_per_row": "B", "peak_rss_mb": "MB",
}

#: Wall-time figures, printed on stderr only.
WALL_UNITS = {
    "setup_wall_s": "s", "query_p50_s": "s", "query_p90_s": "s",
    "queries_per_s": "1/s", "ingest_rows_per_s": "rows/s", "resume_s": "s",
}

PER_LAYER_UNITS = {
    "session.get_spark_s": "s", "session.ship_package_s": "s",
    "session.register_views_s": "s", "session.spread_calls": "count",
    "session.spread_s": "s", "session.spread_repartitions": "count",
    **{f"{m}.{k}": u for m in QUERY_MODULES
       for k, u in (("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s"))},
    "scratch.persist_calls": "count", "scratch.eager_fill_s": "s",
    "scratch.memo_touches": "count", "scratch.evictions.scratch": "count",
    "scratch.evictions.memo_cap": "count", "scratch.evictions.memo_age": "count",
    "scratch.evictions.memo_bytes": "count", "scratch.cached_bytes_peak": "B",
    "tiff.decode_rows_per_s": "rows/s", "tiff.flatten_rows_per_s": "rows/s",
    "geotiff.python_bytes_sent": "B", "geotiff.python_bytes_returned": "B",
    "geotiff.decode_stage_cpu_s": "s",
    "sink.write_stage_s": "s", "sink.files_written": "count",
    "sink.bytes_written": "B", "sink.existing_tiles_s": "s",
    **{name: ("count" if name in ("spark.jobs", "spark.stages", "spark.tasks",
                                  "spark.failed_tasks")
              else "B" if name.endswith("_bytes") else "s")
       for name, _ in SPARK_FIELDS},
    "spark.cpu_frac": "1", "spark.driver_s": "s",
    "trace.overhead_frac": "1", "trace.collect_s": "s",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def pin_environment(work: str) -> dict[str, str]:
    """Pin what otherwise moves between identical runs, and keep every
    file the run writes inside ``work``."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    pinned = {
        "SPARK_GRAFT_CPUS": cpus,
        # the engine's own CPU probe sets fan-out; a noisy probe would
        # change partition counts between runs
        "SPARK_GRAFT_EFFECTIVE_CORES": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TZ": "UTC",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # a fixed set of JIT compiler threads, so none exits and takes
        # its CPU time out of reach of ``tracing.cpu_s``
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.driver.extraJavaOptions="
            f"'-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads'"
            " pyspark-shell"
        ),
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(pinned[key], exist_ok=True)
    os.environ.update(pinned)
    time.tzset()
    tempfile.tempdir = tmp
    return pinned


def proc_stat() -> tuple[int, int]:
    """(total, steal) CPU ticks from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def alive(pid: int) -> bool:
    """Whether ``pid`` still runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_jvm(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM it runs in, and wait until every
    process this run started (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    children = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        # the JVM exits when its stdin closes
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while any(alive(pid) for pid in children):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running: {sorted(children)}")
        time.sleep(0.05)


def percentile(values: list[float], q: int) -> float:
    """The ``q``-th percentile (``statistics.quantiles`` cut points)."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100)[q - 1]


class Run:
    """One benchmark run: set-up, check pass, timed window."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.wl = Workload(args.workload, work, args.seed, args.smoke)
        self.tracer = Tracer()
        self.sampler = RssSampler()
        self.spark = None
        self.attempted = 0
        self.failed: list[str] = []
        self.setup_s: list[float] = []  # CPU seconds of each set-up
        self.setup_wall_s: list[float] = []
        self.check_s: dict[str, float] = {}  # check-pass seconds per op
        self.samples: list[dict] = []  # one per op of the timed window
        self.op_records: list[dict] = []  # one per traced op
        self.n_ops = 0
        self.window_s = 0.0
        self.peak_rss_mb = 0.0
        self.passes = 0
        self.overhead_ops = 0

    # -- phases ---------------------------------------------------------

    def setup(self) -> None:
        import __spark_entry__ as contract
        from aw3d30_parquet_spark import session

        contract.queries()  # import every query module before wrapping
        if self.args.trace:
            self.tracer.install()
        self.tracer.active = bool(self.args.trace)
        for i in range(1 if self.args.smoke else SETUP_REPEATS):
            if self.spark is not None:
                self.spark.stop()
            self.tracer.op = f"setup{i}"
            t0, c0 = time.perf_counter(), cpu_s()
            with self.tracer.span("setup"):
                self.spark = session.get_spark(app_name="perfbench")
                session.ship_package(self.spark)
                session.register_views(self.spark, self.wl.sf_dir)
                queries, oracles = contract.queries(), contract.oracle_sql()
            self.setup_s.append(cpu_s() - c0)
            self.setup_wall_s.append(time.perf_counter() - t0)
        self.tracer.active = False
        self.spark.sparkContext.setLogLevel("ERROR")
        self.wl.bind(self.spark, queries, oracles)

    def check_pass(self, order: list[str]) -> None:
        """Every op once, untimed, with its output checked."""
        for op in order:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                ok = self.wl.execute(op, check=True, tracer=self.tracer,
                                     corrupt=op in self.args.corrupt)
            except Exception:  # a failing op is counted, not fatal
                log(f"check {op}: {traceback.format_exc()}")
                ok = False
            if not ok:
                self.failed.append(op)
                log(f"check {op}: output does not match its oracle")
            self.wl.after(op)
            self.check_s[op] = self.check_s.get(op, 0.0) + time.perf_counter() - t0

    def timed_window(self, order: list[str]) -> None:
        """Whole passes over ``order`` while ``--seconds`` have not run
        out, and at least two, so every op is timed equally often and,
        when tracing, both traced and untraced. The untraced smoke run
        makes one pass."""
        status = SparkStatus(self.spark) if self.args.trace else None
        min_passes = 1 if self.args.smoke and not self.args.trace else 2
        self.sampler.reset()
        start = time.perf_counter()
        n_pass = 0
        while n_pass < min_passes or (
                not self.args.smoke and time.perf_counter() - start < self.args.seconds):
            for i, op in enumerate(order):
                # every other op is traced, flipping each pass
                traced = bool(self.args.trace) and (i + n_pass) % 2 == 0
                self.samples.append(self.timed_op(op, status, traced))
            n_pass += 1
        self.window_s = time.perf_counter() - start
        self.peak_rss_mb = self.sampler.peak_bytes / 1e6
        self.passes = n_pass

    def timed_op(self, op: str, status, traced: bool) -> dict:
        """Dispatch one timed op and return its sample."""
        from aw3d30_parquet_spark import scratch

        sc = self.spark.sparkContext
        op_id = f"op{self.n_ops}"
        self.n_ops += 1
        if traced:
            sc.setJobGroup(op_id, op)
            sql0 = status.sql_count()
            ev0 = scratch.eviction_stats()
            self.tracer.op = op_id
            self.tracer.active = True
            wall0 = time.time()
        c0 = cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op:" + op):
                ok = self.wl.execute(op, check=False, tracer=self.tracer)
        except Exception:
            log(f"timed {op}: {traceback.format_exc()}")
            ok = False
        latency = time.perf_counter() - t0
        cpu = cpu_s() - c0
        self.tracer.active = False
        self.attempted += 1
        if not ok:
            self.failed.append(op)
        sample = {"op": op, "latency": latency, "cpu": cpu, "ok": ok, "traced": traced}
        if traced:
            c0 = time.perf_counter()
            self.record_op(status, op, op_id, wall0, time.time(), sql0, ev0)
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.op_records[-1]["collect_s"] = time.perf_counter() - c0
        self.wl.after(op)
        return sample

    def record_op(self, status, op, op_id, wall0, wall1, sql0, ev0) -> None:
        """Status-store record of one traced op; job spans join the trace
        as children of the innermost span they started in."""
        from aw3d30_parquet_spark import scratch

        jobs = status.op_jobs(op_id)
        spans = [(i, s) for i, s in enumerate(self.tracer.spans) if s["op"] == op_id]
        build_end = max((s["end"] for _, s in spans if s["name"].startswith("build:")),
                        default=wall0)
        for job in jobs:
            inner = [i for i, s in spans if s["start"] <= job["start"] <= s["end"]]
            self.tracer.add_span("spark.job", job["start"], job["end"],
                                 inner[-1] if inner else None)
        ev1 = scratch.eviction_stats()
        rec = {
            "op": op, "op_id": op_id, "layer": self.wl.layer(op),
            "wall_s": wall1 - wall0,
            "jobs": jobs,
            "build_jobs": sum(j["start"] <= build_end for j in jobs),
            "job_union_s": union_length([(j["start"], j["end"]) for j in jobs], wall0, wall1),
            "evictions": {k: ev1[k] - ev0[k] for k in ev0 if k != "dispatches"},
            "cached_bytes": status.cached_bytes(),
        }
        rec["driver_s"] = rec["wall_s"] - rec["job_union_s"]
        if op == "ingest":
            rec["python_bytes"] = status.python_bytes(sql0)
            rec["files"], rec["bytes"] = self.wl.parquet_output()
        self.op_records.append(rec)

    # -- metrics --------------------------------------------------------

    def by_op(self, key: str) -> dict[str, list[float]]:
        """``key`` ("latency" or "cpu") of every window sample, per op."""
        out: dict[str, list[float]] = {}
        for s in self.samples:
            out.setdefault(s["op"], []).append(s[key])
        return out

    def end_to_end(self) -> dict[str, float]:
        cpu = self.by_op("cpu")
        queries = [statistics.median(v) for op, v in cpu.items() if op not in WRITE_OPS]
        return {
            "setup_s": statistics.median(self.setup_s),
            # the CPU time of one pass over the queries, per query: every
            # op weighs the same however many passes fit
            "query_cpu_s": statistics.mean(queries),
            "ingest_rows_per_cpu_s": self.wl.n_points / statistics.median(cpu["ingest"]),
            "resume_cpu_s": statistics.median(cpu["resume"]),
            "parquet_bytes_per_row": statistics.median(self.wl.bytes_per_row),
            "peak_rss_mb": self.peak_rss_mb,
        }

    def wall_figures(self) -> dict[str, float]:
        """The wall-time counterparts, for stderr: query percentiles over
        the per-op medians, window ops per second, and medians over the
        timed ingests and resumes."""
        wall = self.by_op("latency")
        medians = [statistics.median(v) for op, v in wall.items() if op not in WRITE_OPS]
        return {
            "setup_wall_s": statistics.median(self.setup_wall_s),
            "query_p50_s": statistics.median(medians),
            "query_p90_s": percentile(medians, 90),
            "queries_per_s": sum(s["ok"] for s in self.samples) / self.window_s,
            "ingest_rows_per_s": self.wl.n_points / statistics.median(wall["ingest"]),
            "resume_s": statistics.median(wall["resume"]),
        }

    def per_layer(self) -> dict[str, float]:
        recs = self.op_records
        n = max(1, len(recs))
        spans = self.tracer.spans
        counts = self.tracer.counts

        def span_s(name: str, ops=None) -> float:
            return sum(s["end"] - s["start"] for s in spans
                       if s["name"] == name and (ops is None or s["op"] in ops))

        m: dict[str, float] = {}
        for name in ("get_spark", "ship_package", "register_views"):
            m[f"session.{name}_s"] = statistics.median(
                span_s(f"session.{name}", {f"setup{i}"}) for i in range(len(self.setup_s)))
        m["session.spread_calls"] = counts["session.spread_calls"] / n
        m["session.spread_s"] = span_s("session.spread") / n
        m["session.spread_repartitions"] = counts["session.spread_repartitions"] / n
        for mod in QUERY_MODULES:
            ids = {r["op_id"] for r in recs if r["layer"] == mod}
            k = max(1, len(ids))
            m[f"{mod}.build_s"] = span_s(f"build:{mod}", ids) / k
            m[f"{mod}.build_jobs"] = sum(r["build_jobs"] for r in recs if r["op_id"] in ids) / k
            m[f"{mod}.exec_s"] = span_s(f"exec:{mod}", ids) / k
        m["scratch.persist_calls"] = (counts["scratch.persist_calls"]
                                      + counts["scratch.pin_calls"]) / n
        m["scratch.eager_fill_s"] = span_s("scratch.eager_fill") / n
        m["scratch.memo_touches"] = counts["scratch.memo_touch_calls"] / n
        for cls in ("scratch", "memo_cap", "memo_age", "memo_bytes"):
            m[f"scratch.evictions.{cls}"] = sum(r["evictions"][cls] for r in recs) / n
        m["scratch.cached_bytes_peak"] = max((r["cached_bytes"] for r in recs), default=0)
        m.update(self.tiff_rates())
        ingests = [r for r in recs if r["op"] == "ingest"]
        k = max(1, len(ingests))
        main_job = [max(r["jobs"], key=lambda j: j["run_s"]) for r in ingests if r["jobs"]]
        m["geotiff.python_bytes_sent"] = sum(r["python_bytes"][0] for r in ingests) / k
        m["geotiff.python_bytes_returned"] = sum(r["python_bytes"][1] for r in ingests) / k
        m["geotiff.decode_stage_cpu_s"] = sum(j["cpu_s"] for j in main_job) / k
        m["sink.write_stage_s"] = sum(j["end"] - j["start"] for j in main_job) / k
        m["sink.files_written"] = sum(r["files"] for r in ingests) / k
        m["sink.bytes_written"] = sum(r["bytes"] for r in ingests) / k
        sink_ids = {r["op_id"] for r in recs if r["op"] in ("ingest", "resume")}
        m["sink.existing_tiles_s"] = span_s("sink.existing_tiles", sink_ids) / max(1, len(sink_ids))
        for name, key in SPARK_FIELDS:
            m[name] = sum(len(r["jobs"]) if key is None else sum(j[key] for j in r["jobs"])
                          for r in recs) / n
        run_s = sum(j["run_s"] for r in recs for j in r["jobs"])
        m["spark.cpu_frac"] = sum(j["cpu_s"] for r in recs for j in r["jobs"]) / run_s if run_s else 0.0
        m["spark.driver_s"] = sum(r["driver_s"] for r in recs) / n
        m["trace.overhead_frac"], self.overhead_ops = self.overhead()
        m["trace.collect_s"] = sum(r["collect_s"] for r in recs) / n
        return m

    def tiff_rates(self) -> dict[str, float]:
        """Single-thread decode and flatten rates on the workload's own
        tiles, called directly (no Spark)."""
        if not os.path.isdir(self.wl.tif_dir):
            return {"tiff.decode_rows_per_s": 0.0, "tiff.flatten_rows_per_s": 0.0}
        from aw3d30_parquet_spark.sources.tiff import decode_geotiff, flatten_raster

        rows = decode_s = flatten_s = 0.0
        for fname in sorted(os.listdir(self.wl.tif_dir)):
            with open(os.path.join(self.wl.tif_dir, fname), "rb") as fh:
                data = fh.read()
            t0 = time.perf_counter()
            band, gt = decode_geotiff(data)
            t1 = time.perf_counter()
            for lat, _lon, _elev in flatten_raster(band, gt):
                rows += len(lat)
            decode_s += t1 - t0
            flatten_s += time.perf_counter() - t1
        return {"tiff.decode_rows_per_s": rows / decode_s,
                "tiff.flatten_rows_per_s": rows / flatten_s}

    def overhead(self) -> tuple[float, int]:
        """Traced over untraced mean latency minus one, over the ops run
        both ways, and the number of those ops."""
        by: dict[tuple[str, bool], list[float]] = {}
        for s in self.samples:
            by.setdefault((s["op"], s["traced"]), []).append(s["latency"])
        both = [op for op, tr in by if tr and (op, False) in by]
        traced = sum(statistics.mean(by[(op, True)]) for op in both)
        plain = sum(statistics.mean(by[(op, False)]) for op in both)
        return (traced / plain - 1.0 if plain else 0.0), len(both)

    def write_trace(self, path: str) -> dict[str, float]:
        """Spans, per-op records and per-layer self time, as JSON."""
        self_times = self.tracer.self_times()
        with open(path, "w") as fh:
            json.dump({"workload": self.args.workload, "seed": self.args.seed,
                       "spans": self.tracer.spans, "ops": self.op_records,
                       "overhead_ops": self.overhead_ops,
                       "self_time_s": self_times}, fh)
        return self_times


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--smoke", action="store_true")
    parser.add_argument("--corrupt", action="append", default=[])
    args = parser.parse_args(argv)
    started = time.perf_counter()

    for needed in ("__spark_entry__.py", "aw3d30_parquet_spark"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            log(f"{needed} not found next to perfbench/: run from a checkout of the engine")
            return 2
    work = os.path.join(ROOT, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pinned = pin_environment(work)
    sys.path.insert(0, ROOT)
    import numpy as np

    stat0 = proc_stat()
    run = Run(args, work)
    run.sampler.start()
    try:
        t0 = time.perf_counter()
        run.wl.fabricate()
        fabricate_s = time.perf_counter() - t0
        run.setup()
        order = run.wl.dispatch_order(np.random.default_rng(args.seed))
        # the ingest once more: its write path runs JIT-compiled code only
        # from the third ingest of a JVM on, and the window times from there
        run.check_pass(order + ["ingest"])
        run.timed_window(order)
        e2e = run.end_to_end()
        wall = run.wall_figures()
        metrics = run.per_layer() if args.trace else e2e
        trace_path = os.path.join(work, f"trace-seed{args.seed}.json")
        self_times = run.write_trace(trace_path) if args.trace else {}
        with open(os.path.join(work, f"samples-seed{args.seed}.json"), "w") as fh:
            json.dump({"setup_s": run.setup_s, "setup_wall_s": run.setup_wall_s,
                       "samples": run.samples}, fh)
    finally:
        run.sampler.stop()
        run.wl.close()
        stop_jvm(run.spark)
    stat1 = proc_stat()
    steal = (stat1[1] - stat0[1]) / max(1, stat1[0] - stat0[0])

    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    n_op = {op: len(v) for op, v in run.by_op("cpu").items()}
    n_query = sum(n for op, n in n_op.items() if op not in WRITE_OPS)
    counts = {
        "query": f"(n={n_query} samples: {len(n_op) - len(WRITE_OPS)} ops x {run.passes} passes)",
        "ingest": f"(n={n_op['ingest']} ingests)",
        "resume": f"(n={n_op['resume']} resumes)",
    }
    log(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} smoke={args.smoke}")
    log("pinned: " + " ".join(f"{k}={v}" for k, v in sorted(pinned.items())
                              if k.startswith(("SPARK_GRAFT", "TZ", "SPARK_LOCAL"))))
    log(f"steal_frac={steal:.4f} fabricate_s={fabricate_s:.3f} "
        f"setup_cpu_s={['%.3f' % s for s in run.setup_s]} "
        f"setup_wall_s={['%.3f' % s for s in run.setup_wall_s]} "
        f"check_s={sum(run.check_s.values()):.3f} window_s={run.window_s:.3f}")
    log("end-to-end (CPU time, bounded):")
    for name, value in e2e.items():
        extra = next((c for k, c in counts.items() if name.startswith(k)), "")
        log(f"  {name} = {value:.6g} {END_TO_END_UNITS[name]}  {extra}".rstrip())
    log(f"  failed_frac = {len(run.failed) / run.attempted:.6g} 1  "
        f"({len(run.failed)}/{run.attempted}: {sorted(set(run.failed))})")
    log("end-to-end (wall time, not bounded):")
    for name, value in wall.items():
        extra = next((c for k, c in counts.items() if name.startswith(k)), "")
        log(f"  {name} = {value:.6g} {WALL_UNITS[name]}  {extra}".rstrip())
    for key in ("latency", "cpu"):
        log(f"per-op median {key} (s): " + ", ".join(
            f"{op}={statistics.median(v):.3f}x{len(v)}"
            for op, v in sorted(run.by_op(key).items())))
    log("check pass (s): " + ", ".join(f"{op}={v:.3f}" for op, v in run.check_s.items()))
    log(f"run wall {time.perf_counter() - started:.1f} s")
    if args.trace:
        log(f"trace: {trace_path}")
        for name, value in metrics.items():
            log(f"  {name} = {value:.6g} {units[name]}")
        log("self time per layer (s): " + ", ".join(
            f"{k}={v:.3f}" for k, v in sorted(self_times.items(), key=lambda kv: -kv[1])))
    result = {
        "correct": not run.failed,
        "attempted": run.attempted,
        "failed": len(run.failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python
"""Benchmark harness: run the declared query suite at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS]; print ONE JSON line.

Per query: 1 warm-up run, then median of N (default 3) timed runs.
Results are materialized through the noop sink — full execution, no
driver-side collect. ``value`` is the sum of per-query medians.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


def _materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _bench_ingest(spark, n_tiles: int = 32, size: int = 512) -> dict:
    """GeoTIFF→Parquet ingest throughput (BASELINE.md supplement).

    Fabricates n_tiles synthetic size×size tiles (network-free stand-in
    for the reference's S3 downloads), then times ``ingest_tiles`` —
    the shipped pipeline: listing → binaryFile scan → per-tile decode
    and Parquet write in each task → manifest collect — into a fresh
    output directory per run.
    """
    import shutil
    import tempfile

    from aw3d30_parquet_spark.sources.demo import ensure_demo_tiles
    from aw3d30_parquet_spark.sources.geotiff import tiles_for_set
    from aw3d30_parquet_spark.sources.sink import ingest_tiles

    coords = tiles_for_set("europe")[:n_tiles]  # one tile per core at 32
    scratch = tempfile.mkdtemp(prefix="aw3d30_bench_")
    tif_dir = os.path.join(scratch, "tif")
    out_dir = os.path.join(scratch, "parquet")
    try:
        ensure_demo_tiles(tif_dir, coords, size=size)
        # same protocol as the query loop: one warm-up run (codegen
        # compile + Python-worker spin-up), then time the steady state
        # — the number a long-running ingest job actually sustains
        ingest_tiles(spark, tif_dir, out_dir + "_warm", "europe")
        times = []
        for i in range(max(1, REPEATS)):
            t0 = time.perf_counter()
            ingest_tiles(spark, tif_dir, f"{out_dir}_{i}", "europe")
            times.append(time.perf_counter() - t0)
        elapsed = statistics.median(times)
        rows = n_tiles * size * size
        return {
            "tiles": n_tiles,
            "rows": rows,
            "sec": round(elapsed, 4),
            "tiles_per_sec": round(n_tiles / elapsed, 2),
            "rows_per_sec": round(rows / elapsed, 0),
        }
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _fit_stdout_line(result: dict, budget: int | None = None) -> str:
    """Serialize the one-line stdout result UNDER the driver's capture
    window. The driver's BENCH artifact captures the LAST 2000
    characters of stdout and json-parses the final line: r5–r7 emitted
    >2 KB lines and every artifact recorded ``"parsed": null``. Shed
    stdout-side detail progressively until the whole line (plus its
    preceding newline) fits — everything shed stays full-fidelity in
    bench_results.json / bench_history.jsonl. ``result`` is consumed
    (mutated) — callers pass their own copy.

    r13 (judge ask): the old last-resort tier shed the FAST tail of the
    per-query map (61 of 178 entries in r12), which PERF mis-read as 9
    queries "dropped from bench". The map is now re-encoded as INTEGER
    MILLISECONDS before any entry is shed: exactly the precision of the
    old 3-decimal seconds, minus the two-character ``0.`` prefix per
    entry — at 178 queries that is the difference between fitting the
    whole map and losing a third of it. ``queries_unit: "ms"`` marks
    the re-encoded map (``value`` stays in seconds); diagnostic
    envelope fields shed one by one after that; the slowest-first
    prefix tier remains as the guaranteed-fit fallback for
    environments slow enough to inflate every entry's digit count."""
    if budget is None:
        budget = int(os.environ.get("SPARK_GRAFT_BENCH_LINE_BUDGET", "1975"))
    line = json.dumps(result, separators=(",", ":"))
    if len(line) > budget and "queries" in result:
        # every query name's 3-char family code (q01, d04, v05, ...) is
        # unique by construction; full names live in bench_results.json
        result["queries"] = {k[:3]: v for k, v in result["queries"].items()}
        result["key_style"] = "3-char family codes (full names in bench_results.json)"
        line = json.dumps(result, separators=(",", ":"))
    if len(line) > budget:
        # derivable fields next: family subtotals and the mean recompute
        # from the on-disk map; the spread bands are diagnostic-only
        for k in ("spread_top5", "family_sec", "mean_sec"):
            result.pop(k, None)
        line = json.dumps(result, separators=(",", ":"))
    if len(line) > budget and "queries" in result:
        # integer milliseconds: same precision, ~2 chars/entry smaller
        result["queries"] = {
            k: int(round(v * 1000)) for k, v in result["queries"].items()
        }
        result["queries_unit"] = "ms"
        result["queries_omitted"] = 0
        line = json.dumps(result, separators=(",", ":"))
    if len(line) > budget:
        # diagnostic envelope fields, least adjudication-critical first
        # (all stay full-fidelity in bench_results.json; key_style goes
        # early — it is 77 chars of prose a reader can live without,
        # while stable_q01_q28_sec is the cross-round comparator)
        for k in ("key_style", "ingest", "host_load", "ivf_policy",
                  "host_cpu", "stable_q01_q28_sec"):
            result.pop(k, None)
            line = json.dumps(result, separators=(",", ":"))
            if len(line) <= budget:
                break
    if len(line) > budget and "queries" in result:
        # last resort: keep the SLOWEST-first prefix of queries that
        # fits — "value" stays the full-suite total, and the slow tail
        # is what a regression triage reads first anyway
        ranked = sorted(
            result["queries"].items(), key=lambda kv: (-kv[1], kv[0])
        )
        total_q = len(ranked)
        while ranked and len(line) > budget:
            ranked.pop()
            result["queries"] = dict(sorted(ranked))
            result["queries_omitted"] = total_q - len(ranked)
            line = json.dumps(result, separators=(",", ":"))
    return line


def family_subtotals(per_query: dict[str, float]) -> dict[str, float]:
    """Per-family (first letter) subtotals — the ONE definition, shared
    with tools/bench_snapshot.py so the committed min-over-rounds
    artifact can never drift from the per-run files."""
    families: dict[str, float] = {}
    for name, sec in per_query.items():
        families[name[0]] = families.get(name[0], 0.0) + sec
    return {k: round(v, 3) for k, v in sorted(families.items())}


def stable_subtotal(per_query: dict[str, float]) -> float:
    """Fixed declared set (SURVEY §2.3 Q1–Q28 ≙ q01–q28): the suite
    grows round over round, so this frozen subset is the ONE number
    comparable across BENCH_r*.json files. Single definition, shared
    with tools/bench_snapshot.py."""
    return round(
        sum(
            sec
            for name, sec in per_query.items()
            if name[0] == "q" and name[1:3].isdigit() and int(name[1:3]) <= 28
        ),
        4,
    )


def _loadavg() -> list[float]:
    """[1m, 5m, 15m] host load, or [] where unsupported. Recorded at
    suite start and end (judge ask r8): this host's CPU steal swings
    wall-clock up to ~4×, and the adjudication ("98.7 s driver run vs
    82.9 s quiet run — steal phase, not a regression") used to live
    only in bench_history notes. With the load figures in the JSON
    itself, a steal-phase run self-identifies."""
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return []


def _external_busy_frac(interval: float = 0.5) -> float | None:
    """Fraction of host CPU busy with OTHER work, measured from a
    /proc/stat delta while THIS process sleeps (r12 — why the quiet
    hunt kept failing): loadavg remembers our own 32-thread burst for
    ~a minute, so ``host_load.end`` after a ~100 s suite reads 8–15
    even on an externally idle host and a "load1m < 2 at both ends"
    quiet test can never pass. Sampling /proc/stat across a sleep
    counts only cycles we are NOT consuming (the JVM is idle or gone
    at both sample points), so this is a true external-load bracket.
    Includes steal time — exactly the contention the bench cares
    about. Returns None where /proc/stat is unavailable."""
    import time as _time

    a = _proc_stat_snap()
    if a is None:
        return None
    _time.sleep(interval)
    b = _proc_stat_snap()
    if b is None or b[0] <= a[0]:
        return None
    total = b[0] - a[0]
    return round(1.0 - (b[1] - a[1]) / total, 4)


def _proc_stat_snap() -> tuple[int, int, int] | None:
    """(total, idle+iowait, steal) ticks from /proc/stat's cpu line."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
    except OSError:
        return None
    if parts[:1] != ["cpu"]:
        return None
    vals = [int(v) for v in parts[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals), idle, steal


def _run_steal_frac(
    start: tuple[int, int, int] | None,
) -> float | None:
    """Hypervisor-steal fraction across the WHOLE run, from the
    cumulative /proc/stat steal counter (r12 — the round-1 lesson:
    both endpoint brackets read externally quiet while the run itself
    lost 56% wall to a mid-run steal wave; instantaneous sampling
    cannot see contention BETWEEN its samples, a cumulative counter
    by construction can)."""
    end = _proc_stat_snap()
    if start is None or end is None or end[0] <= start[0]:
        return None
    return round((end[2] - start[2]) / (end[0] - start[0]), 4)


def main() -> None:
    os.environ.setdefault("TZ", "UTC")
    from aw3d30_parquet_spark.session import get_spark

    import __spark_entry__ as contract

    load_start = _loadavg()
    cpu_start = _external_busy_frac()
    stat_start = _proc_stat_snap()
    spark = get_spark(app_name="aw3d30-bench")
    qs = contract.queries()

    # SPARK_GRAFT_BENCH_ONLY="k01,b01" (full names or 3-char codes):
    # time just those queries — the 10× scaling probe's per-operator
    # loop. Partial runs skip the ingest bench and write their file to
    # bench_results_partial.json so the full-suite artifact the driver
    # reads is never clobbered by a subset.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    if only:
        wanted = {w.strip() for w in only.split(",") if w.strip()}
        qs = {n: f for n, f in qs.items() if n in wanted or n[:3] in wanted}
        if not qs:
            # a typo'd probe must fail, not record an "instant" run
            raise SystemExit(
                f"SPARK_GRAFT_BENCH_ONLY matched no queries: {only!r}"
            )

    # the stdout copies key several maps by name[:3]; a future pair of
    # queries sharing a 3-char code would silently drop one measurement
    codes: dict[str, str] = {}
    for n in qs:
        if codes.setdefault(n[:3], n) != n:
            raise SystemExit(
                f"3-char code collision: {codes[n[:3]]!r} vs {n!r}"
            )

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    per_query: dict[str, float] = {}
    # {med,min,max} from the SAME timed runs: the median alone hides
    # host-steal variance (this host swings wall-clock up to ~4×), and
    # a wide min..max band is the mechanical "noise, not regression"
    # signal when comparing BENCH_r{N} files across rounds
    spread: dict[str, dict[str, float]] = {}
    for name in sorted(qs):
        fn = qs[name]
        _materialize(fn(spark, SF_DIR))  # warm-up
        times = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            _materialize(fn(spark, SF_DIR))
            times.append(time.perf_counter() - t0)
        per_query[name] = round(statistics.median(times), 4)
        spread[name] = {
            "med": round(statistics.median(times), 4),
            "min": round(min(times), 4),
            "max": round(max(times), 4),
        }

    # SPARK_GRAFT_BENCH_ISOLATED_TOP=N: after the suite pass, re-measure
    # the N most expensive queries ISOLATED — all scratch/memo artifacts
    # released and the storage pool cleared before each one — so the
    # file carries both numbers and in-suite cache contention can be
    # read off directly instead of re-derived by hand (SCALING.md's
    # "eviction-inflated vs isolated" adjudication, now mechanical).
    iso_top = int(os.environ.get("SPARK_GRAFT_BENCH_ISOLATED_TOP", "0"))
    isolated: dict[str, float] = {}
    if iso_top:
        from aw3d30_parquet_spark import scratch

        for name in sorted(
            per_query, key=lambda n: per_query[n], reverse=True
        )[:iso_top]:
            fn = qs[name]
            scratch.release_all()
            spark.catalog.clearCache()
            _materialize(fn(spark, SF_DIR))  # warm-up rebuilds own memos
            times = []
            for _ in range(REPEATS):
                t0 = time.perf_counter()
                _materialize(fn(spark, SF_DIR))
                times.append(time.perf_counter() - t0)
            isolated[name] = round(statistics.median(times), 4)

    total = round(sum(per_query.values()), 4)
    result = {
        "metric": "declared_suite_total_sec",
        "value": total,
        "unit": "sec",
        # the registered suite grows round over round — carry the
        # denominator so totals stay comparable across rounds
        "n_queries": len(per_query),
        "mean_sec": round(total / max(1, len(per_query)), 4),
        "stable_q01_q28_sec": stable_subtotal(per_query),
        # per-family subtotals (q relational, d dedup, v vectors,
        # t text, p pipeline, m multimodal, g raster, s streaming,
        # u UDF, a sketches) — where the time actually goes
        "family_sec": family_subtotals(per_query),
        "queries": {k: round(v, 3) for k, v in per_query.items()},
        # per-query {med,min,max} (full map in bench_results.json; the
        # stdout line carries the five widest bands — enough to
        # adjudicate "regression vs noise" without the file)
        "spread_top5": {
            k[:3]: spread[k]
            for k in sorted(
                spread,
                key=lambda n: spread[n]["max"] - spread[n]["min"],
                reverse=True,
            )[:5]
        },
        "sf": sf,
    }
    if isolated:
        result["isolated_top"] = {k[:3]: v for k, v in isolated.items()}
    # the v10 corpus-derived IVF policy (k, n_probe, salt_target)
    # changes the index layout and hence v-family timings — record the
    # knobs the run actually used so bench rows are self-describing
    # across environments; absent when the memo aged out before the end
    from aw3d30_parquet_spark import scratch as _scratch

    pol = _scratch.memo_peek(spark, "ivf_policy", SF_DIR)
    if pol is not None:
        result["ivf_policy"] = {
            "k": pol[0], "n_probe": pol[1], "salt_target": pol[2]
        }
    if not only:
        result["ingest"] = _bench_ingest(spark)
    # start/end [1m,5m,15m] host load, end captured AFTER the ingest
    # bench so the window brackets every timed measurement: lets any
    # reader adjudicate "steal phase vs quiet" from the artifact alone
    result["host_load"] = {"start": load_start, "end": _loadavg()}
    # external-CPU bracket (r12): /proc/stat busy fraction across a
    # sleep at each end — unlike loadavg it carries no memory of OUR
    # own burst, so it is the field the quiet-round test should read
    result["host_cpu"] = {
        "start": cpu_start,
        "end": _external_busy_frac(),
        # cumulative steal over the whole run — catches the mid-run
        # waves the endpoint brackets cannot see
        "steal_frac_run": _run_steal_frac(stat_start),
    }
    result_file = dict(result, spread=spread)
    if isolated:
        result_file["isolated_top"] = isolated  # full names on disk
    # eviction-policy counters (scratch.py): a "scratch" count far above
    # dispatches means interims were released before their consumer
    # action ran — the sequential-dispatch contract regression signal
    result_file["evictions"] = _scratch.eviction_stats()
    # Full-fidelity copy on disk (the driver's stdout capture keeps only
    # a bounded tail — round 1 lost the head of a 4.3 KB line).
    with open(
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "bench_results_partial.json" if only else "bench_results.json",
        ),
        "w",
    ) as fh:
        json.dump(result_file, fh, indent=1)
        fh.write("\n")
    # Labeled full-fidelity history (judge ask r7): the driver's BENCH
    # artifact keeps only a 2 KB stdout tail, and bench_results.json is
    # overwritten every run — so round-over-round per-query diffs
    # required git archaeology. With SPARK_GRAFT_BENCH_LABEL set (one
    # labeled full-suite run per round), the complete per-query record
    # appends to bench_history.jsonl, the durable in-repo map.
    label = os.environ.get("SPARK_GRAFT_BENCH_LABEL")
    if label and not only:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "bench_history.jsonl",
            ),
            "a",
        ) as fh:
            fh.write(
                json.dumps(
                    # ts disambiguates repeated same-label runs (r8: a
                    # mid-round surface and a steal-phase run preceded
                    # the committed one) — latest row per label wins
                    dict(result_file, label=label, ts=round(time.time(), 1)),
                    separators=(",", ":"),
                )
                + "\n"
            )
    sys.stdout.flush()
    print(_fit_stdout_line(result), flush=True)


if __name__ == "__main__":
    main()

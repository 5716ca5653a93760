"""Tests of the benchmark itself, on its smoke mode (sf0.001, two small
tiles, one pass).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from tracing import parse_size, union_length  # noqa: E402
from workloads import QUERY_MODULES, WORKLOADS, Workload  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def smoke(workload: str, *extra: str, trace: int = 0, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--smoke", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(res: dict, specs: list[dict]) -> None:
    assert set(res["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_print_with_units(workload):
    proc = smoke(workload)
    res = result(proc)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert_metrics(res, SPEC["end_to_end"])
    assert all(m["value"] > 0 for m in res["metrics"].values()), res["metrics"]
    assert "failed_frac = 0 1" in proc.stderr
    assert "(n=" in proc.stderr  # sample count next to the percentiles


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_per_layer_metrics_print_with_units(workload):
    proc = smoke(workload, trace=1)
    res = result(proc)
    assert res["correct"]
    assert_metrics(res, SPEC["per_layer"])
    trace_file = os.path.join(ROOT, ".perfbench", workload, "trace-seed7.json")
    with open(trace_file) as fh:
        trace = json.load(fh)
    assert trace["spans"] and trace["self_time_s"]
    for op in trace["ops"]:
        # driver time plus the union of job spans is the op's wall time
        assert op["driver_s"] >= -0.01
        assert op["driver_s"] + op["job_union_s"] == pytest.approx(op["wall_s"])
    # every op ran both traced and untraced, so each layer the workload
    # dispatches to has traced ops and the overhead covers every op
    assert trace["overhead_ops"] == len({op["op"] for op in trace["ops"]})
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    for layer in {op["layer"] for op in trace["ops"]} - {"sources.sink"}:
        assert metrics[f"{layer}.exec_s"] > 0, layer
    # both workloads ingest in every pass
    ingests = [op for op in trace["ops"] if op["op"] == "ingest"]
    assert ingests and all(op["files"] > 0 for op in ingests)
    for name in ("sink.files_written", "sink.bytes_written", "sink.write_stage_s",
                 "geotiff.python_bytes_sent", "geotiff.decode_stage_cpu_s"):
        assert metrics[name] > 0, name


def test_op_lists_cover_every_module_group():
    import __spark_entry__ as contract

    queries = contract.queries()
    layers = set()
    for name in WORKLOADS:
        wl = Workload(name, "unused", 0, smoke=True)
        wl.queries = queries
        assert set(wl.op_names()) <= set(queries), name
        layers |= {wl.layer(op) for op in wl.op_names()}
    assert layers >= set(QUERY_MODULES)


def test_corrupted_query_output_counts_as_failed():
    import __spark_entry__ as contract

    wl = Workload("query_mix", "unused", 0, smoke=True)
    wl.queries = contract.queries()
    # a dropped row must break the oracle hash
    target = next(op for op in wl.op_names() if op in contract.oracle_sql())
    proc = smoke("query_mix", "--corrupt", target)
    res = result(proc)
    assert not res["correct"] and res["failed"] == 1
    assert f"failed_frac = {1 / res['attempted']:.6g} 1" in proc.stderr
    assert target in proc.stderr


def test_corrupted_ingest_outputs_count_as_failed():
    proc = smoke("dem_ingest", "--corrupt", "ingest", "--corrupt", "box_query")
    res = result(proc)
    # the check pass runs the ingest twice and the box query once
    assert res["failed"] == 3
    assert "['box_query', 'ingest']" in proc.stderr


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "data"))
    proc = subprocess.run(
        SPEC["command"] + ["--workload", "query_mix", "--seed", "1",
                           "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(-5, 1), (9, 20)], 0, 10) == 2
    assert union_length([], 0, 10) == 0


def test_parse_size_reads_both_metric_forms():
    assert parse_size("5.0 MiB") == 5 * 2**20
    assert parse_size("total (min, med, max (stageId: taskId))\n"
                      "2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB (stage 5.0: task 20))") == 2048

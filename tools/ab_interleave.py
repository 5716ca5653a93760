"""Interleaved A/B bench harness (the SCALING.md t10 discipline,
mechanized): run the SAME query subset alternately from two checkouts
of the repo — arm A (e.g. a prior round's worktree) and arm B (the
current tree) — so both arms sample the same host-load phases, then
print per-arm per-query medians plus the loadavg band each run saw.

Usage:
    python tools/ab_interleave.py ARM_A_DIR ARM_B_DIR "m01,m02" [rounds]
    python tools/ab_interleave.py --perfbench WORKLOAD ARM_A_DIR ARM_B_DIR [pairs] [first_seed]

The ``--perfbench`` mode runs ``pairs`` (default 10) interleaved pairs of
``perfbench/run.py --seconds 10 --trace 0``: both arms of pair i use seed
``first_seed + i`` and the arm that runs first alternates. It then prints
each end-to-end metric's median and quartiles per arm and how many pairs
arm B won (direction from arm B's ``BENCHMARK.json``; ties count for
neither). It also parses each run's ``per-op median cpu (s)`` stderr
line and prints each op's median CPU per arm and how many pairs arm B
ran it in less CPU, so the op whose layer moved shows without a traced
run.

Each bench invocation is a fresh process/SparkSession (cold JVM for
both arms equally). Host steal on this box swings wall-clock up to
~4x; alternation + the recorded load band is what makes a drift
verdict defensible where two independent single runs are not.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _loadavg  # noqa: E402  (the ONE load-sampling idiom)


def run_arm(tree: str, only: str) -> tuple[dict[str, float], list]:
    # _loadavg() is [] where os.getloadavg is unsupported — substitute
    # None so the later load[0]/load[-1] prints and the band computation
    # degrade like bench.py does instead of crashing the whole
    # interleaved session (ADVICE r9)
    load = _loadavg() or [None]
    env = dict(
        os.environ,
        TZ="UTC",
        SPARK_GRAFT_BENCH_ONLY=only,
        SPARK_GRAFT_BENCH_REPEATS="3",
    )
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=tree, env=env, capture_output=True, text=True, timeout=900,
    )
    # a failed arm must surface its own stderr, not die later in a
    # JSON parse that discards the diagnosis (and lose the whole
    # interleaved session's collected rounds with it)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(
            f"bench failed in {tree} (exit {out.returncode}):\n"
            + out.stderr[-2000:]
        )
    try:
        queries = json.loads(lines[-1])["queries"]
    except (json.JSONDecodeError, KeyError) as exc:
        raise RuntimeError(
            f"unparseable bench stdout in {tree}: {lines[-1][:200]!r}"
        ) from exc
    # end-of-run load appended: a steal phase STARTING mid-run would
    # otherwise hide behind a quiet pre-run sample
    return queries, load + (_loadavg()[:1] or [None])


#: perfbench's stderr line of per-op CPU medians: ``op=0.123x4, ...``.
_PER_OP_CPU = re.compile(r"^per-op median cpu \(s\): (.*)$", re.M)


def perfbench_arm(tree: str, workload: str, seed: int) -> tuple[dict, dict]:
    """One perfbench run → (end-to-end metric values plus ``failed``,
    per-op median CPU seconds)."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "10", "--trace", "0"],
        cwd=tree, capture_output=True, text=True, timeout=1800,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(
            f"perfbench failed in {tree} (exit {out.returncode}):\n"
            + out.stderr[-2000:]
        )
    result = json.loads(lines[-1])
    values = {k: m["value"] for k, m in result["metrics"].items()}
    values["failed"] = result["failed"]
    line = _PER_OP_CPU.search(out.stderr)
    ops = {
        op: float(cpu)
        for op, cpu in re.findall(r"(\S+)=([\d.]+)x\d+", line.group(1) if line else "")
    }
    return values, ops


def perfbench_main(workload: str, arm_a: str, arm_b: str, pairs="10", seed0="1") -> None:
    with open(os.path.join(arm_b, "BENCHMARK.json")) as fh:
        lower = {m["name"]: m["better"] == "lower" for m in json.load(fh)["end_to_end"]}
    lower["failed"] = True
    runs: dict[str, list[dict[str, float]]] = {"A": [], "B": []}
    op_cpu: dict[str, list[dict[str, float]]] = {"A": [], "B": []}
    for i in range(int(pairs)):
        seed = int(seed0) + i
        arms = (("A", arm_a), ("B", arm_b))
        for arm, tree in arms if i % 2 == 0 else arms[::-1]:
            values, ops = perfbench_arm(tree, workload, seed)
            runs[arm].append(values)
            op_cpu[arm].append(ops)
            print(f"pair {i + 1} seed {seed} arm {arm}: "
                  + json.dumps(values, sort_keys=True)
                  + " per-op cpu: " + json.dumps(ops, sort_keys=True), flush=True)
    for name, low in lower.items():
        a = [r[name] for r in runs["A"]]
        b = [r[name] for r in runs["B"]]
        wins = sum(y < x if low else y > x for x, y in zip(a, b))
        qa, qb = statistics.quantiles(a, n=4), statistics.quantiles(b, n=4)
        print(f"{name}: A median {statistics.median(a):.4g} "
              f"[{qa[0]:.4g}, {qa[2]:.4g}]  B median {statistics.median(b):.4g} "
              f"[{qb[0]:.4g}, {qb[2]:.4g}]  B wins {wins}/{len(a)}")
    print("per-op median cpu (s):")
    for op in sorted({op for ops in op_cpu["A"] + op_cpu["B"] for op in ops}):
        pairs_op = [
            (x[op], y[op]) for x, y in zip(op_cpu["A"], op_cpu["B"]) if op in x and op in y
        ]
        if not pairs_op:
            continue
        a, b = zip(*pairs_op)
        wins = sum(y < x for x, y in pairs_op)
        print(f"  {op}: A median {statistics.median(a):.3f}  "
              f"B median {statistics.median(b):.3f}  B wins {wins}/{len(pairs_op)}")


def main() -> None:
    if sys.argv[1] == "--perfbench":
        perfbench_main(*sys.argv[2:])
        return
    arm_a, arm_b, only = sys.argv[1], sys.argv[2], sys.argv[3]
    rounds = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    results: dict[str, dict[str, list[float]]] = {"A": {}, "B": {}}
    loads: list[list[float]] = []
    for i in range(rounds):
        for arm, tree in (("A", arm_a), ("B", arm_b)):
            qs, load = run_arm(tree, only)
            loads.append(load)
            for name, sec in qs.items():
                results[arm].setdefault(name, []).append(sec)
            print(
                f"round {i + 1} arm {arm} "
                f"load1m={load[0]}→{load[-1]}: "
                + json.dumps(qs, sort_keys=True),
                flush=True,
            )
    summary = {
        arm: {
            name: {
                "med": round(statistics.median(v), 3),
                "min": round(min(v), 3),
                "max": round(max(v), 3),
            }
            for name, v in sorted(results[arm].items())
        }
        for arm in results
    }
    # band over BOTH the pre-run and post-run 1-min samples — a steal
    # phase arriving mid-run shows in the post sample (None samples from
    # loadavg-less platforms are excluded; band degrades to null)
    ones = [
        x for l in loads for x in (l[0], l[-1]) if x is not None
    ]
    summary["load1m_band"] = [min(ones), max(ones)] if ones else None
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()

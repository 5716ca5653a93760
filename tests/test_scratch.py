"""Session-wide scratch/memo eviction policy (scratch.py).

A suite session holds ONE query's working set in the executor storage
pool, not the whole session's history: begin_query releases every other
family's single-consumer scratch, and a shared build-once memo group is
released once it goes more than MEMO_AGE_CAP dispatches untouched.
Eviction must always be recompute-safe (results identical after any
release)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aw3d30_parquet_spark import scratch
from tests.conftest import SF_SMOKE


def test_family_extraction():
    assert scratch._family("d07") == "d07"
    assert scratch._family("d07_prefix") == "d07"
    assert scratch._family("d08.labels") == "d08"
    assert scratch._family("v09_cent") == "v09"
    assert scratch._family("l01_edge_deg") == "l01"
    assert scratch._family("q75_rolling_distinct_users") == "q75"


def test_begin_query_releases_foreign_scratch_only(spark):
    a = spark.range(10)
    b = spark.range(20)
    c = spark.range(30)
    scratch.scratch_persist("d04", a)
    scratch.scratch_persist("d07_prefix", b)
    scratch.scratch_pin("t09", c.persist())
    scratch.begin_query("d07_ngram_jaccard_prefix")
    keys = scratch.resident()["scratch"]
    assert "d07_prefix" in keys
    assert "d04" not in keys and "t09" not in keys
    assert not a.storageLevel.useMemory  # actually unpersisted
    assert not c.storageLevel.useMemory
    scratch.release_all()
    assert scratch.resident()["scratch"] == []


def test_scratch_persist_releases_previous_generation(spark):
    g1 = spark.range(5)
    scratch.scratch_persist("x01", g1)
    g2 = spark.range(6)
    scratch.scratch_persist("x01", g2)
    assert not g1.storageLevel.useMemory
    assert g2.storageLevel.useMemory
    scratch.release_all()


def test_eviction_is_recompute_safe(spark):
    """Releasing a memoized relation mid-flight only costs a rebuild:
    the d-family result is identical when its shared gram memo is
    force-released between build and consume."""
    from aw3d30_parquet_spark.functions.dedup import (
        editdist_candidate_metrics,
    )

    before = editdist_candidate_metrics(spark, SF_SMOKE).collect()
    scratch.release_all()  # drops the _ED_MEMO group via its callback
    after = editdist_candidate_metrics(spark, SF_SMOKE).collect()
    assert before == after


def test_queries_dispatch_wraps_with_eviction(spark):
    import __spark_entry__ as contract

    qs = contract.queries()
    name = next(iter(qs))
    assert hasattr(qs[name], "__wrapped__")
    # dispatching query A then query B leaves no A-family scratch
    scratch.scratch_persist("zz9", spark.range(3))
    qs[name](spark, SF_SMOKE)  # begin_query releases zz9
    assert "zz9" not in scratch.resident()["scratch"]


def test_memo_groups_release_by_age_only(spark):
    """Six memo groups touched inside one dispatch all stay resident
    (no group count cap), and each is released by begin_query exactly
    MEMO_AGE_CAP + 1 dispatches after its last touch."""
    scratch.release_all()
    released = []
    groups = [("age_only", i) for i in range(6)]
    scratch.begin_query("w00_noop")
    for g in groups:
        scratch.memo_touch(g, lambda g=g: released.append(g))
    assert released == []
    assert scratch.resident()["memo_groups"] == [repr(g) for g in groups]
    # group i is touched again i dispatches later, so the six age out
    # on six different dispatches
    last_touch = {groups[0]: 0}
    for step in range(1, len(groups)):
        scratch.begin_query(f"w{step:02d}_noop")
        scratch.memo_touch(groups[step], lambda: released.append("dup"))
        last_touch[groups[step]] = step
    assert released == []
    aged0 = scratch.eviction_stats()["memo_age"]
    released_at = {}
    step = len(groups) - 1
    while len(released_at) < len(groups) and step < 50:
        step += 1
        seen = len(released)
        scratch.begin_query(f"x{step:02d}_noop")
        released_at.update((g, step) for g in released[seen:])
    assert released_at == {
        g: t + scratch.MEMO_AGE_CAP + 1 for g, t in last_touch.items()
    }
    assert "dup" not in released  # a re-touch keeps the first callback
    assert scratch.eviction_stats()["memo_age"] == aged0 + len(groups)
    assert scratch.resident()["memo_groups"] == []


def test_memo_age_expiry(spark):
    """A memo group untouched for MEMO_AGE_CAP dispatches is expired by
    begin_query; touching it resets the clock."""
    released = []
    scratch.release_all()
    scratch.memo_touch(("age", 1), lambda: released.append(1))
    for i in range(scratch.MEMO_AGE_CAP):
        scratch.begin_query(f"x{i:02d}_noop")
        scratch.memo_touch(("age", 1), lambda: released.append("dup"))
    assert released == []  # touched every dispatch: never expires
    for i in range(scratch.MEMO_AGE_CAP):
        scratch.begin_query(f"y{i:02d}_noop")
    assert released == []  # exactly at the cap: still resident
    scratch.begin_query("z00_noop")
    assert released == [1]  # one past the cap: expired
    scratch.release_all()


def test_session_token_stable_and_gc_safe(spark, monkeypatch):
    """session_token: applicationId on classic Spark; on sessions with
    no sparkContext (the Connect shape) a weakly-held token that (a) is
    stable across calls for the same live object and (b) can never be
    served to a DIFFERENT object that lands on a recycled id() after
    the first is garbage-collected (an id()-keyed fallback could). The
    edit-distance memo (dedup._ed_memo) is keyed on it, so a new
    session never gets a dead session's memo either."""
    import gc

    from aw3d30_parquet_spark.functions import dedup
    from aw3d30_parquet_spark.session import session_token, session_width

    monkeypatch.setattr(dedup, "_ED_MEMO", {})
    monkeypatch.setattr(scratch, "memo_touch", lambda group, release: None)

    assert session_token(spark) == spark.sparkContext.applicationId

    class FakeConnectSession:
        @property
        def sparkContext(self):  # Connect: attribute access raises
            raise AttributeError("sparkContext is not available")

    a = FakeConnectSession()
    tok_a = session_token(a)
    assert tok_a == session_token(a)  # stable for the live object
    assert tok_a.startswith("connect_")
    assert session_width(a) == 32
    dedup._ed_memo(a, "sf")["docs"] = "a's relation"
    assert dedup._ed_memo(a, "sf") == {"docs": "a's relation"}
    seen = {tok_a}
    # churn allocations so a fresh session object reuses a's address
    del a
    gc.collect()
    for _ in range(50):
        b = FakeConnectSession()
        tok_b = session_token(b)
        assert tok_b not in seen  # never a dead session's token
        assert dedup._ed_memo(b, "sf") == {}  # nor its memo
        dedup._ed_memo(b, "sf")["docs"] = "b's relation"
        seen.add(tok_b)
        del b


def test_spread_is_size_derived_and_parallelism_capped(spark):
    """spread()'s fan-out is min(defaultParallelism, ceil(plan bytes /
    64 KiB)); dense=True (per-row codec kernels whose work the byte
    proxy underestimates ~100x) takes defaultParallelism; an explicit
    min_partitions overrides both."""
    import math

    from aw3d30_parquet_spark.session import (
        SPREAD_BYTES_PER_TASK,
        register_views,
        session_width,
        spread,
    )

    register_views(spark, "/root/testdata/sf0.1")
    dp = spark.sparkContext.defaultParallelism
    assert session_width(spark) == dp
    assert SPREAD_BYTES_PER_TASK == 64 * 1024

    def n_parts(df):
        return df._jdf.queryExecution().toRdd().getNumPartitions()

    def plan_bytes(df):
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )

    docs = spark.table("documents")  # ~580 KB in one split
    ids = docs.select("doc_id")  # a few KB: the byte term binds
    assert n_parts(docs) == n_parts(ids) == 1
    for df in (docs, ids):
        want = min(dp, math.ceil(plan_bytes(df) / SPREAD_BYTES_PER_TASK))
        assert n_parts(spread(df)) == max(1, want)
    assert n_parts(spread(docs, dense=True)) == dp
    assert n_parts(spread(ids, dense=True)) == dp
    assert n_parts(spread(docs, min_partitions=3)) == 3


#: Runs spread() in a fresh interpreter on a stub of the DataFrame
#: surface it reads, with every fork path of multiprocessing raising,
#: and prints each case's partition count twice.
_SPREAD_NO_PROBE = r"""
import json, multiprocessing, sys


def _no_fork(*args, **kwargs):
    raise RuntimeError("spread() must not start processes")


multiprocessing.get_context = _no_fork
multiprocessing.Pool = _no_fork

from aw3d30_parquet_spark.session import spread


class Plan:
    # the slice of a DataFrame spread() reads: session width, plan
    # size estimate, partition count, repartition
    def __init__(self, size, parts, width):
        self.size, self.parts, self.defaultParallelism = size, parts, width
        self.sparkSession = self.sparkContext = self._jdf = self

    def queryExecution(self):
        return self

    optimizedPlan = stats = toRdd = queryExecution

    def sizeInBytes(self):
        return self.size

    def getNumPartitions(self):
        return self.parts

    def repartition(self, n):
        return Plan(self.size, n, self.defaultParallelism)


out = []
for size, width, dense in json.loads(sys.argv[1]):
    out.append([
        spread(Plan(size, 1, width), dense=dense).getNumPartitions()
        for _ in range(2)
    ])
print(json.dumps(out))
"""


def test_spread_count_is_a_function_of_plan_and_width():
    """spread() runs no host probe: with multiprocessing unable to start
    a process and no SPARK_GRAFT_* variable set, every count is
    min(width, ceil(bytes / 64 KiB)) (width alone for dense=True) and
    the same on a repeat call, for widths above and below this host's
    core count."""
    import json
    import math
    import subprocess

    wide = 4 * (os.cpu_count() or 1) + 3
    cases = [
        (100 * 1024 * 1024, wide, False),  # width binds
        (100 * 1024 * 1024, 3, False),
        (200 * 1024, wide, False),  # bytes bind: 4 tasks
        (10, wide, False),  # never below one task
        (10, wide, True),  # dense: width
    ]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _SPREAD_NO_PROBE, json.dumps(cases)],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    want = [
        w if dense else min(w, max(1, math.ceil(size / (64 * 1024))))
        for size, w, dense in cases
    ]
    assert got == [[n, n] for n in want]

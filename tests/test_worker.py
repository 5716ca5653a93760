"""W-tests: what the package does to the Python workers that run its
kernels — the zip it ships them and the two hooks it installs in reused
workers: the import-cache hook
(``aw3d30_parquet_spark._install_worker_import_hook``) and the
between-task collection that freezes its survivors
(``aw3d30_parquet_spark._install_worker_gc_hook``).
"""

from __future__ import annotations

import gc
import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from types import SimpleNamespace

import pytest

import aw3d30_parquet_spark
from aw3d30_parquet_spark import session

needs_eager_zip_invalidation = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zipimport caches lazily; no hook installed",
)


@needs_eager_zip_invalidation
def test_reused_worker_skips_zip_rereads(spark):
    """A reused worker re-reads no zip archive directory between tasks.

    Job 1 makes every worker it runs in count ``zipimport._read_directory``
    calls; a later job reports, from each worker that ran an earlier one,
    the reads since its last task ended. Without the hook every task
    re-reads pyspark.zip once per importer (16 reads with Spark 4.1)."""

    def kernel(batches):
        import pandas as pd

        # referencing the package makes unpickling this kernel import it,
        # as every engine kernel does
        assert aw3d30_parquet_spark.__name__
        probe = getattr(sys, "_zip_read_probe", None)
        reads = None
        if probe is None:
            probe = sys._zip_read_probe = {"reads": 0, "mark": 0}
            read_directory = zipimport._read_directory

            def counting(archive):
                probe["reads"] += 1
                return read_directory(archive)

            zipimport._read_directory = counting
        else:
            reads = probe["reads"] - probe["mark"]
        for _ in batches:
            pass
        probe["mark"] = probe["reads"]
        yield pd.DataFrame(
            {"pid": [os.getpid()], "reads": pd.array([reads], dtype="Int64")}
        )

    def run():
        df = spark.range(0, 4, numPartitions=4)
        return df.mapInPandas(kernel, "pid long, reads long").collect()

    # Spark hands out idle workers first-in first-out, so with more idle
    # workers than tasks (left by earlier tests) job 2 can get only
    # workers job 1 never ran in; each round probes the next ones
    run()
    reported = []
    for _ in range(8):
        reported = [r.reads for r in run() if r.reads is not None]
        if reported:
            break
    assert reported, "no worker was reused between the jobs"
    assert reported == [0] * len(reported)


def test_reused_worker_collection_walks_only_new_objects(spark):
    """After each task the daemon's ``gc.collect()`` freezes what
    survives, so the next task starts with only the objects the last one
    left tracked (not the ~73k its imports hold), the frozen set stays
    the same size from task to task, and a cycle a task drops is still
    collected before the next task starts.

    Each task reports, from its worker, its task number there, the
    tracked and frozen object counts at its start, and whether the
    previous task's dropped cycle is gone. Jobs repeat until one worker
    has run 21 tasks."""

    def kernel(batches):
        import weakref

        import pandas as pd

        assert aw3d30_parquet_spark.__name__
        tracked = len(gc.get_objects())
        frozen = gc.get_freeze_count()
        probe = getattr(sys, "_gc_freeze_probe", None)
        if probe is None:
            probe = sys._gc_freeze_probe = {"tasks": 0, "cycle": None}
        cycle_ref = probe["cycle"]
        collected = None if cycle_ref is None else cycle_ref() is None
        probe["tasks"] += 1

        class Node:
            pass

        node = Node()
        node.self = node
        probe["cycle"] = weakref.ref(node)
        # a young collection ages the live cycle into the oldest
        # generation, and must not freeze it
        gc.collect(1)
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "task": [probe["tasks"]],
                "tracked": [tracked],
                "frozen": [frozen],
                "collected": pd.array([collected], dtype="boolean"),
            }
        )

    schema = "pid long, task long, tracked long, frozen long, collected boolean"
    by_worker: dict[int, list] = {}
    for _ in range(12):
        df = spark.range(0, 32, numPartitions=32)
        for row in df.mapInPandas(kernel, schema).collect():
            by_worker.setdefault(row.pid, []).append(row)
        if max(len(rows) for rows in by_worker.values()) >= 21:
            break
    rows = sorted(max(by_worker.values(), key=len), key=lambda r: r.task)
    assert len(rows) >= 21, "no worker ran 21 tasks"
    assert [r.task for r in rows] == list(range(1, len(rows) + 1))
    later = rows[1:]
    assert max(r.tracked for r in later) < 2_000
    assert len({r.frozen for r in later}) == 1
    assert all(r.collected for r in later)


_GC_HOOK_SCRIPT = textwrap.dedent(
    """
    import gc
    import os
    import weakref

    stock = gc.collect
    import aw3d30_parquet_spark

    if not os.environ.get("SPARK_REUSE_WORKER"):
        assert gc.collect is stock
        raise SystemExit(0)

    hooked = gc.collect
    assert hooked is not stock
    aw3d30_parquet_spark._install_worker_gc_hook()
    assert gc.collect is hooked  # idempotent


    class Node:
        pass


    def cycle():
        node = Node()
        node.self = node
        return node


    live = cycle()
    for young in (0, 1):
        gc.collect(young)
        gc.collect(generation=young)
        assert gc.get_freeze_count() == 0, young

    dropped = weakref.ref(cycle())
    assert gc.collect() >= 1
    assert dropped() is None
    frozen = gc.get_freeze_count()
    assert frozen > 0
    assert len(gc.get_objects()) < frozen

    # after a freeze, a full collection still frees a cycle dropped
    # since, and the frozen live cycle is intact
    dropped = weakref.ref(cycle())
    assert gc.collect(2) >= 1
    assert dropped() is None
    assert gc.get_freeze_count() >= frozen
    assert live.self is live
    """
)


@pytest.mark.parametrize("reuse", [True, False], ids=["reused", "one-task"])
def test_gc_hook_freezes_after_full_collections_only(reuse):
    """In a reused worker a full ``gc.collect()`` still frees cyclic
    garbage and then freezes the survivors; a young collection freezes
    nothing; installing twice keeps one hook. Without
    ``SPARK_REUSE_WORKER`` ``gc.collect`` is the stock function."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_REUSE_WORKER"}
    if reuse:
        env["SPARK_REUSE_WORKER"] = "1"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p
    )
    result = subprocess.run(
        [sys.executable, "-c", _GC_HOOK_SCRIPT],
        env=env,
        cwd=root,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert result.returncode == 0, result.stderr


def _write_zip(path, modules):
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)


@needs_eager_zip_invalidation
def test_import_hook_rereads_only_changed_zip(tmp_path, monkeypatch):
    """With the hook installed, ``importlib.invalidate_caches()`` reads no
    unchanged archive, whether imported from before the hook was installed
    or first opened after it, and a rewritten archive is still picked up."""
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["zmod_a"])
    late = tmp_path / "late.zip"
    _write_zip(late, ["zmod_c"])
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zmod_a", "zmod_b", "zmod_c"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    assert importlib.import_module("zmod_a").NAME == "zmod_a"

    monkeypatch.setenv("SPARK_REUSE_WORKER", "1")
    aw3d30_parquet_spark._install_worker_import_hook()
    hooked = zipimport.zipimporter.invalidate_caches
    aw3d30_parquet_spark._install_worker_import_hook()  # idempotent
    assert zipimport.zipimporter.invalidate_caches is hooked
    # the zip hook alone: a frozen pytest heap would keep cyclic garbage
    # that other tests wait on gc.collect() to free
    assert not getattr(gc.collect, "_freezes_survivors", False)

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or read_directory(a)
    )
    importlib.invalidate_caches()
    assert reads == []

    # an archive first opened after install (a worker's addPyFile zip)
    monkeypatch.syspath_prepend(str(late))
    assert importlib.import_module("zmod_c").NAME == "zmod_c"
    assert reads == [str(late)]
    importlib.invalidate_caches()
    assert reads == [str(late)]

    _write_zip(archive, ["zmod_a", "zmod_b"])
    importlib.invalidate_caches()
    assert str(archive) in reads
    try:
        assert importlib.import_module("zmod_b").NAME == "zmod_b"
    finally:
        sys.path_importer_cache.pop(str(archive), None)
        sys.path_importer_cache.pop(str(late), None)


def test_ship_package_builds_a_fresh_zip(tmp_path, monkeypatch):
    """A zip an earlier process left under this pid's old fixed name is
    never shipped: the zip is built from the current sources."""
    import tempfile

    stale = tmp_path / f"aw3d30_parquet_spark_pyfiles_{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w") as zf:
        zf.writestr("aw3d30_parquet_spark/__init__.py", "STALE = True\n")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(session, "_PACKAGE_ZIP", None, raising=False)
    monkeypatch.setattr(session, "_SHIPPED", set())
    shipped = []
    stub = SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId="stub-app", addPyFile=shipped.append)
    )

    session.ship_package(stub)
    session.ship_package(stub)  # once per application

    assert len(shipped) == 1
    with open(aw3d30_parquet_spark.__file__, "rb") as f:
        current = f.read()
    with zipfile.ZipFile(shipped[0]) as zf:
        assert zf.read("aw3d30_parquet_spark/__init__.py") == current

"""aw3d30_parquet_spark — a PySpark-native analytics engine.

Re-expresses the capabilities of the reference ETL pipeline
(``mbrobbel/aw3d30-parquet``, a single-binary Rust GeoTIFF→Parquet
converter) as an idiomatic Spark engine, and extends it with the
relational / LLM-data-pipeline / streaming operator surface declared in
``SURVEY.md §2``.

Layout:

- ``session``    — SparkSession factory + testdata view registration
- ``queries``    — DuckDB oracle SQL for the relational query family
- ``operators``  — relational queries + bucketing / skew / ranking ops
- ``sources``    — GeoTIFF ingest (tile codec, decoder, partitioned
  sink, object-store wiring, raster analytics demo queries)
- ``functions``  — text analysis, dedup, vectors, multimodal, pipeline
- ``streaming``  — Structured Streaming operators over the events table
- ``plans``      — plan inspection / optimization helpers

Importing the package in a reused PySpark worker also installs two
worker hooks: the between-task collection freezes its survivors
(:func:`_install_worker_gc_hook`), and on CPython < 3.13 the import
cache re-reads only changed zip archives
(:func:`_install_worker_import_hook`). The driver keeps stock behaviour.

The full registered surface (the q/a/d/v/t/p/m/g/s/u query families —
see SURVEY.md §2 for the authoritative inventory and counts) is
assembled by ``__spark_entry__.py`` at the repo root.
"""

import os
import sys

# Lazy re-exports (PEP 562): the package itself must import without a
# Spark installation so DuckDB-only tooling can load the oracle-SQL
# modules (``queries``, ``constants``) standalone; ``session`` (and
# with it pyspark) loads on first attribute access.
__all__ = ["get_spark", "register_views"]
__version__ = "0.1.0"


def __getattr__(name: str):
    if name in ("get_spark", "register_views"):
        from aw3d30_parquet_spark import session

        return getattr(session, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def _install_worker_import_hook() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    it changed on disk.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task. Up to CPython 3.12 each ``zipimporter`` answers by re-reading its
    whole archive directory, and a worker that imports pyspark from
    ``pyspark.zip`` holds one importer per sub-package: ~16 reads of a
    1,328-entry directory per task, most of a reused worker's fixed CPU
    cost. Here the directory zipimport caches for each archive carries the
    ``stat`` stamp taken before the read that filled it, whether that read
    was a re-read or the first read of an importer created after install
    (such as the one for the ``addPyFile`` package zip on a worker's path,
    which the worker may first open long after its first task); an
    importer whose archive still has that stamp takes the cached
    directory, which is what a re-read would return, and the original
    re-read runs only when the stamp changed or the ``stat`` failed. A rewritten archive is therefore
    still picked up on the next task. The archives already imported from
    are read once at install, so no later task pays for a first read.

    CPython 3.13 invalidates lazily by itself. The driver and workers that
    serve one task only (no ``SPARK_REUSE_WORKER``) keep the stock
    behaviour. Idempotent; stdlib only, so the package still imports
    without Spark.
    """
    if sys.version_info >= (3, 13) or not os.environ.get("SPARK_REUSE_WORKER"):
        return
    import zipimport

    zipimporter = zipimport.zipimporter
    original = zipimporter.invalidate_caches
    if getattr(original, "_stat_validated", False):
        return
    read_stamps: dict[str, tuple | None] = {}  # archive → stamp of its cached read
    read_directory = zipimport._read_directory

    def stamp_of(archive: str) -> tuple | None:
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)

    def stamped_read_directory(archive: str):
        # stamped before the read: a write racing the read leaves a stamp
        # that no longer matches, so the next call reads again
        stamp = stamp_of(archive)
        files = read_directory(archive)
        read_stamps[archive] = stamp
        return files

    def invalidate_caches(self) -> None:
        stamp = stamp_of(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        unchanged = stamp is not None and read_stamps.get(self.archive) == stamp
        if unchanged and cached is not None:
            self._files = cached
            return
        original(self)

    invalidate_caches._stat_validated = True
    zipimporter.invalidate_caches = invalidate_caches
    zipimport._read_directory = stamped_read_directory
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimporter):
            finder.invalidate_caches()


def _install_worker_gc_hook() -> None:
    """Make a full ``gc.collect()`` freeze what survives it.

    PySpark's daemon runs ``gc.collect()`` in a reused worker after every
    task. Without this hook that collection walks every object the
    worker's imports hold (pyspark, pandas, pyarrow, numpy, this package:
    ~73k objects, ~0.04 CPU-s), which is most of a small task's CPU.
    Here a full collection is followed by ``gc.freeze()``, which moves
    its survivors into the permanent generation, so the next one walks
    only what the last task left behind. Right after a full collection
    every remaining object is reachable, and a frozen object is still
    freed when its reference count drops to zero; only a frozen object
    that later becomes part of an unreachable cycle is never reclaimed.
    A young collection (``generation`` 0 or 1) does not freeze: older
    generations may still hold cyclic garbage.

    Workers that serve one task only (no ``SPARK_REUSE_WORKER``) and the
    driver keep the stock ``gc.collect``. Idempotent; stdlib only.
    """
    if not os.environ.get("SPARK_REUSE_WORKER"):
        return
    import gc

    original = gc.collect
    if getattr(original, "_freezes_survivors", False):
        return

    def collect(generation: int = 2) -> int:
        found = original(generation)
        if generation == 2:
            gc.freeze()
        return found

    collect._freezes_survivors = True
    gc.collect = collect


_install_worker_gc_hook()
_install_worker_import_hook()

"""Partitioned Parquet sink with idempotent (skip-if-exists) ingest.

The reference writes one Snappy Parquet file per tile, named after the
tile key, and skips tiles whose output already exists (``src/main.rs:
144-146`` for downloads, ``:171`` for conversions) — re-running the
pipeline only does new work.

Spark-first equivalent: Hive-style ``tile_lat=/tile_lon=`` layout (so
every downstream query gets partition pruning on tile coordinates for
free — strictly better than coordinates encoded in file names), and
idempotency at the *work-list* level: the batch ingest lists the tile
directory once, and the region predicate and the already-ingested tile
partitions prune that listing on the driver
(:func:`~aw3d30_parquet_spark.sources.geotiff.tile_paths`), so only the
pending tiles are ever fetched and a resume over a complete output runs
no Spark job. The pruning runs on metadata (≤ 64 800 tile keys for the
whole world — kilobytes), like the reference's skip check on local
paths.

The write is tile-native, like the reference's converter
(``src/main.rs:172-220``): a ``binaryFile`` scan feeds a ``mapInArrow``
kernel in which each task decodes its tiles and writes each tile's
Snappy Parquet file with pyarrow, then yields one manifest row
``(tile_lat, tile_lon, rows)``. No point row crosses back into the JVM,
and there is no shuffle. Each tile commits on its own — a dot-prefixed
temp file renamed onto a fixed per-tile name — so a failure late in a
backfill keeps every tile already converted, and a retried task attempt
replaces its file instead of adding a duplicate. Remote outputs
(``s3a://``) keep Spark's partitioned writer, committed as one job. The
streaming sinks keep Spark's file sink and have no up-front listing:
they prune by region in the plan, per micro-batch, after the scan has
fetched each arriving file.
"""

from __future__ import annotations

import os
import re
from typing import Iterable, Iterator, Sequence
from urllib.parse import urlparse

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from aw3d30_parquet_spark.sources.geotiff import (
    _decoded_tiles,
    _tile_files,
    check_on_corrupt,
    decode_tiles,
    tile_key,
    tile_paths,
)
from aw3d30_parquet_spark.sources.tiff import flatten_raster

_PART_RE = re.compile(r"^tile_lat=(-?\d+)$")


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any Hadoop-scheme URI — the listing layer
    that works identically on local paths, file://, and s3a:// (the
    ``os.path`` calls this replaces silently see object-store URIs as
    absent local paths, which breaks the idempotency contract there)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _fs_listdir(fs, hpath) -> list[str]:
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def _parquet_files_per_tile(
    spark: SparkSession, out_dir: str
) -> dict[tuple[int, int], int]:
    """Parquet data-file count of every ``tile_lat=N/tile_lon=M``
    partition under ``out_dir`` (0 for an empty partition directory).

    Reads only directory listings — the manifest is the partition tree
    itself, no data files are opened. The walk goes through the Hadoop
    FileSystem API, so local paths, ``file://`` and ``s3a://`` list the
    same way: one LIST for the root and two per lat on an object store.
    """
    out: dict[tuple[int, int], int] = {}
    fs, root = _hadoop_fs(spark, out_dir)
    if not fs.exists(root):
        return out
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    for lat_dir in _fs_listdir(fs, root):
        m = _PART_RE.match(lat_dir)
        if m is None:
            continue
        lat = int(m.group(1))
        lat_path = jvm_path(root, lat_dir)
        for lon_dir in _fs_listdir(fs, lat_path):
            if lon_dir.startswith("tile_lon="):
                files = _fs_listdir(fs, jvm_path(lat_path, lon_dir))
                out[(lat, int(lon_dir.split("=", 1)[1]))] = sum(
                    f.endswith(".parquet") for f in files
                )
    return out


def existing_tiles(out_dir: str, spark: SparkSession) -> set[tuple[int, int]]:
    """Tile coordinates already present in the partitioned output layout:
    the partitions that hold at least one Parquet data file."""
    return {t for t, n in _parquet_files_per_tile(spark, out_dir).items() if n}


def write_tiles(df: DataFrame, out_dir: str, mode: str = "append") -> None:
    """Point DataFrame → Hive-partitioned Snappy Parquet through Spark's
    writer — the path for remote outputs, and for point DataFrames that
    do not come from a tile scan.

    Snappy is Spark's default codec, matching the reference's writer
    properties (``src/main.rs:294-296``). One output file per (tile,
    task) — for a binaryFile-scanned input that is one file per tile,
    the reference's layout (``src/main.rs:195``).
    """
    df.write.mode(mode).partitionBy("tile_lat", "tile_lon").parquet(out_dir)


#: One manifest row per tile file committed by :func:`_write_tile_partition`.
MANIFEST_SCHEMA = "tile_lat int, tile_lon int, rows long"


def _local_dir(out_dir: str) -> str | None:
    """``out_dir`` as an absolute local path, or None for a remote URI
    (``s3a://`` and any other non-``file`` scheme)."""
    uri = urlparse(out_dir)
    if uri.scheme == "file":
        return uri.path
    if "://" in out_dir:
        return None
    return os.path.abspath(out_dir)


def _write_tile_partition(
    batches: Iterable, out_dir: str, chunk_rows: int, on_corrupt: str
) -> Iterator:
    """mapInArrow kernel: (path, content) record batches → one Snappy
    Parquet file per tile under the local ``out_dir``, and one manifest
    row ``(tile_lat, tile_lon, rows)`` per file committed.

    Each tile commits on its own: the decoded raster streams in
    ``flatten_raster`` chunks into a dot-prefixed temp file (a name that
    Spark, DuckDB and :func:`existing_tiles` all skip), which is then
    ``os.replace``-d onto ``part-<tile key>.snappy.parquet``. That name
    is fixed per tile, so a retried or speculative task attempt replaces
    the file instead of adding a duplicate. The tile directory is created
    only after the decode succeeded, so a failing task leaves every tile
    it finished before the failure in place, and nothing for the failing
    one.
    """
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    # the reference's REQUIRED group (src/main.rs:273-293), which is also
    # what Spark's writer stores for POINT_SCHEMA minus the partition columns
    schema = pa.schema([
        pa.field("lat", pa.float64(), nullable=False),
        pa.field("lon", pa.float64(), nullable=False),
        pa.field("elevation", pa.int32(), nullable=False),
    ])
    manifest = pa.schema(
        [("tile_lat", pa.int32()), ("tile_lon", pa.int32()), ("rows", pa.int64())]
    )
    for batch in batches:
        paths, contents = batch.column("path"), batch.column("content")
        rows = ((paths[i].as_py(), contents[i].as_py()) for i in range(len(batch)))
        for (lat, lon), band, gt in _decoded_tiles(rows, on_corrupt):
            tile_dir = os.path.join(out_dir, f"tile_lat={lat}", f"tile_lon={lon}")
            os.makedirs(tile_dir, exist_ok=True)
            name = f"part-{tile_key(lat, lon)}.snappy.parquet"
            tmp = os.path.join(tile_dir, f".{name}.{uuid.uuid4().hex}.tmp")
            try:
                with pq.ParquetWriter(tmp, schema, compression="snappy") as writer:
                    for la, lo, elev in flatten_raster(band, gt, chunk_rows):
                        writer.write_batch(pa.record_batch(
                            [la, lo, elev.astype(np.int32, copy=False)], schema=schema
                        ))
                os.replace(tmp, os.path.join(tile_dir, name))
            except BaseException:
                if os.path.exists(tmp):
                    os.remove(tmp)
                raise
            yield pa.record_batch([[lat], [lon], [band.size]], schema=manifest)


def _write_via_spark(df: DataFrame, out_dir: str) -> tuple[list[tuple[int, int]], int]:
    """Remote ``out_dir``: Spark's partitioned writer, with the written
    tiles and row count observed exactly on the executing plan."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("ingest")
    write_tiles(
        df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.collect_set(F.struct("tile_lat", "tile_lon")).alias("tiles"),
        ),
        out_dir,
    )
    got = obs.get
    return sorted(tuple(t) for t in got["tiles"]), got["rows"]


def ingest_tiles(
    spark: SparkSession,
    tif_dir: str,
    out_dir: str,
    set_name: str = "world",
    chunk_rows: int = 512_000,
    metrics: dict | None = None,
    on_corrupt: str = "fail",
) -> Sequence[tuple[int, int]]:
    """Idempotent region ingest: decode + write only not-yet-done tiles.

    Returns the tile coordinates ingested this run (empty on a re-run —
    the G2 idempotency contract, mirroring ``src/main.rs:144-146,171``).
    The work list is the listed in-region tiles minus those already in
    ``out_dir``; when it is empty the call runs no Spark job at all.

    Tile-native write, like the reference's one-file-per-tile converter
    (``src/main.rs:172-220``): the ``binaryFile`` scan of the work list
    feeds a ``mapInArrow`` kernel (:func:`_write_tile_partition`) in
    which each task decodes its tiles and writes each one's Parquet file
    with pyarrow, committing it on its own by rename; only a one-row
    manifest per tile crosses back to the JVM, and the driver collects
    it. A failure therefore loses only the tiles not yet committed, and
    the next run resumes from the rest. A remote ``out_dir`` (``s3a://``
    and other non-``file`` schemes, which pyarrow cannot open with the
    Hadoop s3a settings) goes through Spark's partitioned writer
    instead, committed as one job.

    Observability (the reference's R8: ``tracing`` spans with per-
    operator instrumentation, ``src/main.rs:135,163,229-231``): pass a
    dict as ``metrics`` and it is filled with exact ``rows_written`` /
    ``tiles_written`` counts — from the manifest, or for a remote
    ``out_dir`` observed on the executing plan — and ``skipped_tiles``.
    """
    check_on_corrupt(on_corrupt)
    done = existing_tiles(out_dir, spark)
    paths = tile_paths(spark, tif_dir, set_name, exclude=done)
    if not paths:
        if metrics is not None:
            metrics.update(rows_written=0, tiles_written=0, skipped_tiles=len(done))
        return []
    local = _local_dir(out_dir)
    if local is None:
        tiles, rows = _write_via_spark(
            decode_tiles(spark, paths, chunk_rows, on_corrupt), out_dir
        )
    else:
        manifest = (
            _tile_files(spark, paths)
            .mapInArrow(
                lambda it: _write_tile_partition(it, local, chunk_rows, on_corrupt),
                schema=MANIFEST_SCHEMA,
            )
            .collect()
        )
        tiles = sorted((r.tile_lat, r.tile_lon) for r in manifest)
        rows = sum(r.rows for r in manifest)
    if metrics is not None:
        metrics.update(
            rows_written=rows, tiles_written=len(tiles), skipped_tiles=len(done)
        )
    return tiles


def _stream_points(
    spark: SparkSession,
    tif_dir: str,
    set_name: str,
    chunk_rows: int,
    on_corrupt: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Shared streaming source for both streaming sinks: binaryFile
    arrivals → region filter in the plan → mapInPandas decode. ONE
    definition so the glob, schema, and corrupt-handling cannot
    silently diverge between ingest and rollup. A streaming file source
    has no up-front listing to prune, so the region filter runs after
    the scan has read each arriving file's bytes."""
    from aw3d30_parquet_spark.session import ship_package
    from aw3d30_parquet_spark.sources.geotiff import (
        POINT_SCHEMA,
        TILE_GLOB,
        _decode_partition,
        _region_pruned_files,
    )

    check_on_corrupt(on_corrupt)
    ship_package(spark)
    # binaryFile's fixed schema, stated explicitly (streaming file
    # sources cannot infer)
    binary_file_schema = (
        "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"
    )
    reader = (
        spark.readStream.format("binaryFile")
        .schema(binary_file_schema)
        .option("pathGlobFilter", TILE_GLOB)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    files = reader.load(tif_dir).select("path", "content")
    return _region_pruned_files(files, set_name).mapInPandas(
        lambda it: _decode_partition(it, chunk_rows, on_corrupt),
        schema=POINT_SCHEMA,
    )


def stream_ingest_tiles(
    spark: SparkSession,
    tif_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    set_name: str = "world",
    chunk_rows: int = 512_000,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    on_corrupt: str = "skip",
):
    """Continuous tile ingest: new ``.tif`` arrivals → partitioned
    Parquet, exactly once.

    The batch pipeline as a Structured Streaming query — the file
    source's checkpoint replaces the partition-tree manifest as the
    idempotency mechanism (the reference's skip-if-exists,
    ``src/main.rs:144-146``, upgraded to transactional exactly-once: a
    tile is decoded and committed exactly once even across restarts
    and mid-batch crashes). Region pruning runs in the plan per
    micro-batch, so out-of-region arrivals are still fetched (only the
    batch ingest prunes at the listing); the data plane stays the same
    shuffle-free scan → mapInPandas decode → partitioned write.

    ``on_corrupt`` matters MORE here than in batch: the file source's
    checkpoint marks a file processed even when the decode skipped it,
    and re-uploading the same path is never re-read — so ``"skip"``
    (the default, keeps the stream alive) drops a corrupt tile
    PERMANENTLY (watch executor logs), while ``"fail"`` stops the query
    and re-attempts the batch on restart until the bytes are fixed
    in place. Choose per pipeline: availability vs completeness.

    ``available_now=True`` drains everything currently in the
    directory then stops (incremental backfill); ``False`` keeps
    watching for new tiles (a live feed off an object-store landing
    prefix). Returns the started StreamingQuery — callers own
    ``awaitTermination()``.
    """
    pts = _stream_points(
        spark, tif_dir, set_name, chunk_rows, on_corrupt, max_files_per_trigger
    )
    writer = (
        pts.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("tile_lat", "tile_lon")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_tiles(
    spark: SparkSession,
    out_dir: str,
    target_rows_per_file: int = 13_000_000,
    tiles: Sequence[tuple[int, int]] | None = None,
    zorder: bool = False,
    zorder_bits: int = 12,
) -> dict:
    """Small-file compaction of the partitioned point tree (OPTIMIZE).

    Incremental ingests (especially the streaming sink, which commits
    one file per tile per micro-batch, and chunked decodes, which emit
    one file per Arrow batch) fragment tile partitions; parquet scan
    cost at 100 TB is dominated by file count long before byte count
    (task scheduling, footer reads, object-store GETs). This rewrites
    fragmented partitions into ~``target_rows_per_file``-row files —
    one file per 3600² AW3D30 tile at the default.

    Spark-first mechanics, safe against partial failure:
    - only partitions with >1 file (or more files than needed) are
      rewritten — ``tiles=None`` selects them by listing the partition
      tree, metadata only;
    - the rewrite is one job: read ONLY those partitions (partition
      pruning on tile_lat/tile_lon), ``maxRecordsPerFile`` bounds
      output file size, and **dynamic partition overwrite** swaps each
      partition atomically at commit — readers never see a partial
      partition, untouched partitions are never rewritten.

    ``zorder=True`` additionally rewrites each tile's ROWS in Morton
    order of the in-tile cell (lat/lon quantized to ``zorder_bits``
    each, interleaved by ``operators.zorder.zvalue``): parquet writes
    row groups in row order, so a z-ordered file's row-group min/max
    stats are tight on BOTH coordinates and a lat- OR lon-box query
    skips most row groups — the OPTIMIZE ZORDER maintenance step on
    the tile tree, from stock primitives (sortWithinPartitions; no
    extra shuffle beyond the compaction's own repartition).

    Returns ``{"compacted_tiles": n, "files_before": a, "files_after": b}``.
    """
    from pyspark.sql import functions as F

    before = _parquet_files_per_tile(spark, out_dir)
    wanted = None if tiles is None else set(tiles)
    victims = [
        t
        for t, n in sorted(before.items())
        if n > 1 and (wanted is None or t in wanted)
    ]
    if not victims:
        return {"compacted_tiles": 0, "files_before": sum(before.values()),
                "files_after": sum(before.values())}
    df = spark.read.parquet(out_dir)
    # victim selection as a broadcast semi-join, not an IN-list of
    # struct literals: at fleet scale (thousands of fragmented tiles)
    # the literal list bloats the plan; the join prunes partitions at
    # runtime via dynamic partition pruning under AQE
    vdf = spark.createDataFrame(
        list(victims), "tile_lat INT, tile_lon INT"
    )
    frag = df.join(F.broadcast(vdf), ["tile_lat", "tile_lon"], "left_semi")
    old_conf = {
        "spark.sql.sources.partitionOverwriteMode": spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        ),
        "spark.sql.files.maxRecordsPerFile": spark.conf.get(
            "spark.sql.files.maxRecordsPerFile", "0"
        ),
    }
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        spark.conf.set(
            "spark.sql.files.maxRecordsPerFile", str(target_rows_per_file)
        )
        rewrite = frag.repartition("tile_lat", "tile_lon")
        if zorder:
            from aw3d30_parquet_spark.operators.zorder import zvalue

            scale = float(1 << zorder_bits)
            yq = F.least(
                F.lit((1 << zorder_bits) - 1),
                F.floor(
                    (F.col("tile_lat") + 1 - F.col("lat")) * scale
                ).cast("long"),
            )
            xq = F.least(
                F.lit((1 << zorder_bits) - 1),
                F.floor((F.col("lon") - F.col("tile_lon")) * scale).cast(
                    "long"
                ),
            )
            # partition cols lead the sort: the partitioned writer
            # requires ordering by them and would otherwise re-sort
            # (unstably), destroying the z-order it can instead inherit
            rewrite = (
                rewrite.withColumn("_z", zvalue([yq, xq], zorder_bits))
                .sortWithinPartitions("tile_lat", "tile_lon", "_z")
                .drop("_z")
            )
        (
            rewrite.write.mode("overwrite")
            .partitionBy("tile_lat", "tile_lon")
            .parquet(out_dir)
        )
    finally:
        for k, v in old_conf.items():
            spark.conf.set(k, v)
    after = _parquet_files_per_tile(spark, out_dir)
    return {
        "compacted_tiles": len(victims),
        "files_before": sum(before.values()),
        "files_after": sum(after.values()),
    }


#: Mergeable per-tile statistics kept by the continuous rollup —
#: count/sum/min/max merge associatively across micro-batches (mean is
#: derived at read time), so maintenance is O(affected tiles) per batch.
_ROLLUP_COLS = ("n_points", "sum_elev", "min_elev", "max_elev")


def tile_rollup_read(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """The rollup table with the derived mean — the read-side view."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(rollup_dir)
    return df.withColumn(
        "mean_elev",
        F.col("sum_elev").cast("double") / F.col("n_points").cast("double"),
    )


def stream_tile_rollup(
    spark: SparkSession,
    tif_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    set_name: str = "world",
    chunk_rows: int = 512_000,
    on_corrupt: str = "skip",
):
    """Continuously-maintained per-tile elevation rollup (the
    "hypertable continuous aggregate" pattern, Spark-first).

    A Structured Streaming query over the tile landing directory keeps
    a small per-tile stats table (count/sum/min/max elevation) up to
    date incrementally: each micro-batch aggregates only its own new
    tiles' points, merges them with the existing rows for exactly the
    affected tiles, and commits via dynamic partition overwrite — an
    upsert with plain Parquet, atomic per partition. Untouched tiles
    are never read or rewritten, so maintenance cost is O(new data),
    not O(table): the incremental-view shape that makes a 64 800-tile
    world rollup cheap to keep fresh forever.

    foreachBatch is the right tool (not a windowed agg): the combine
    is keyed by tile, not time, and needs a read-merge-write against an
    external table. foreachBatch alone is AT-LEAST-ONCE — a replayed
    micro-batch would double-merge its delta — so the merge records
    each applied ``batch_id`` as a ``_applied/batch-N`` marker inside
    the rollup dir and skips batches it has already applied. The
    residual window is a crash exactly between the data commit and the
    marker commit (plain Parquet cannot close it; a table format with
    transactions — Delta/Iceberg — is the upgrade path at scale).
    """
    from pyspark.sql import functions as F

    pts = _stream_points(spark, tif_dir, set_name, chunk_rows, on_corrupt)
    # batch ids restart at 0 under a NEW checkpoint, so the replay
    # marker is scoped to the checkpoint identity — a fresh pipeline
    # reusing an existing rollup dir must not be suppressed by a stale
    # run's batch-0 marker
    import hashlib

    ckpt_tag = hashlib.sha256(checkpoint_dir.encode()).hexdigest()[:12]

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        fs, root = _hadoop_fs(s, rollup_dir)
        jvm_path = s._jvm.org.apache.hadoop.fs.Path
        marker = jvm_path(rollup_dir + f"/_applied/{ckpt_tag}-batch-{batch_id}")
        if fs.exists(marker):
            return  # replayed micro-batch: already merged
        delta = (
            batch_df.groupBy("tile_lat", "tile_lon")
            .agg(
                F.count("*").alias("n_points"),
                F.sum("elevation").alias("sum_elev"),
                F.min("elevation").alias("min_elev"),
                F.max("elevation").alias("max_elev"),
            )
        )
        has_data = fs.exists(root) and any(
            not n.startswith(("_", ".")) for n in _fs_listdir(fs, root)
        )
        if has_data:
            existing = s.read.parquet(rollup_dir)
            # the dynamic overwrite below swaps WHOLE tile_lat
            # partitions, so prior rows must be carried for every lat
            # BAND the batch touches — semi-joining on (lat, lon) would
            # drop same-band sibling tiles' rows from the rewrite
            bands = delta.select("tile_lat").distinct()
            prior = existing.join(F.broadcast(bands), ["tile_lat"], "left_semi")
            merged = (
                prior.unionByName(delta)
                .groupBy("tile_lat", "tile_lon")
                .agg(
                    F.sum("n_points").alias("n_points"),
                    F.sum("sum_elev").alias("sum_elev"),
                    F.min("min_elev").alias("min_elev"),
                    F.max("max_elev").alias("max_elev"),
                )
            )
        else:
            merged = delta
        old = s.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        try:
            s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            (
                # one row per tile: co-locate rows of a lat band so the
                # dynamic overwrite writes one file per partition dir
                merged.repartition("tile_lat")
                .write.mode("overwrite")
                .partitionBy("tile_lat")
                .parquet(rollup_dir)
            )
        finally:
            s.conf.set("spark.sql.sources.partitionOverwriteMode", old)
        fs.mkdirs(marker)  # commit the replay guard

    return (
        pts.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

"""GeoTIFF tile ingest: the reference's entire capability, Spark-first.

Reference pipeline (``src/main.rs``): list S3 keys (R1, ``:265-331``) →
regex-parse tile coordinate from key (R2, ``:298``, ``:108-133``) → region
predicate (R3, ``:68-88``) → download (R4, ``:136-161``) → flatten raster
to ``(lat, lon, elevation)`` rows (R5, ``:172-191``) → one Parquet file
per tile (R6, ``:193-225``).

Spark mapping (SURVEY §1.3/§3.4): the *work list* is metadata (≤ 64 800
one-degree tiles for the whole world — kilobytes, never data-plane), so
it is built on the driver by :func:`tile_paths`: one listing of the tile
directory, key parse, region predicate and skip set applied in plain
Python, like the reference filtering keys while it lists the bucket
(``src/main.rs:298,316-321``). Every metadata listing (this work list,
the sink's done set, the ``aw3d30`` DataSource's partitions) is
:func:`list_matching`: ``os.scandir`` for a local dir, which never
touches the JVM, or one Hadoop ``globStatus`` call for a remote one, so
its py4j cost does not grow with the tile count. The data plane is a
``binaryFile`` scan of exactly those paths (one Spark task per tile, no
shuffle anywhere in the pipeline), fused with a ``mapInArrow`` kernel.
The ingest's kernel decodes each tile and writes that tile's Parquet
file in the task (:mod:`~aw3d30_parquet_spark.sources.sink`);
:func:`read_tiles`' kernel yields bounded Arrow batches of points.
Every tile kernel (ingest, decode, halo, gradient, the ``aw3d30``
DataSource) takes Arrow in and gives Arrow out: :func:`_tile_rows`
reads the scan's batches, :func:`_decoded_tiles` is the one per-tile
decode loop, and :func:`_point_batches` builds every output table from
:func:`~aw3d30_parquet_spark.sources.tiff.flatten_raster` chunks. At
100 TB (~31 000 real tiles × 13M rows) the ingest is a single
embarrassingly-parallel stage: scan → decode → write, with partition
pruning on ``tile_lat``/``tile_lon`` replacing the reference's
filename-encoded partitioning.
"""

from __future__ import annotations

import glob
import os
import re
from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from aw3d30_parquet_spark.sources.tiff import decode_geotiff, flatten_raster

#: Key regex — byte-for-byte the reference's (``src/main.rs:298``); the
#: anchored stem variant below is what :func:`parse_tile_key` enforces,
#: so mutated keys ("ALPSMLC30_X051E004_DSM", truncations, suffixed
#: stems) reject exactly like the reference's TryFrom parse
#: (``src/main.rs:131``).
TILE_KEY_RE = re.compile(r"ALPSMLC30_(?P<y>[NS])(?P<lat>\d{3})(?P<x>[EW])(?P<lon>\d{3})_DSM")
_TILE_STEM_RE = re.compile(r"^ALPSMLC30_(?P<y>[NS])(?P<lat>\d{3})(?P<x>[EW])(?P<lon>\d{3})_DSM$")

#: File-name glob every tile scan applies, so non-tile files never load.
TILE_GLOB = "ALPSMLC30_*_DSM.tif"

#: Output schema of the flatten — the reference's fixed REQUIRED Parquet
#: group schema (``src/main.rs:273-293``), plus the two tile partition
#: columns (strictly better than the reference's name-encoded partitioning).
POINT_SCHEMA = StructType(
    [
        StructField("tile_lat", IntegerType(), False),
        StructField("tile_lon", IntegerType(), False),
        StructField("lat", DoubleType(), False),
        StructField("lon", DoubleType(), False),
        StructField("elevation", IntegerType(), False),
    ]
)

#: Region predicates over signed tile degrees — transliteration of
#: ``Set::filter`` (``src/main.rs:68-88``). Signed form is equivalent to
#: the reference's hemisphere-tagged ranges: Netherlands/France/Europe all
#: require Lat::North, and "West(x) if x <= k OR East(x) if x <= m"
#: is exactly lon ∈ [-k, m].
REGION_SETS: dict[str, tuple[tuple[int, int], tuple[int, int]]] = {
    "netherlands": ((50, 53), (3, 7)),
    "france": ((42, 51), (-6, 9)),
    "europe": ((23, 80), (-25, 49)),
    "world": ((-90, 89), (-180, 179)),
}


def tile_key(lat: int, lon: int) -> str:
    """Signed tile degrees → AW3D30 object-key stem (``N``/``E`` at 0)."""
    if not (-90 <= lat <= 89 and -180 <= lon <= 179):
        raise ValueError(f"tile out of range: ({lat}, {lon})")
    ns = "N" if lat >= 0 else "S"
    ew = "E" if lon >= 0 else "W"
    return f"ALPSMLC30_{ns}{abs(lat):03d}{ew}{abs(lon):03d}_DSM"


def parse_tile_key(key: str) -> tuple[int, int] | None:
    """Key (or path ending in one) → signed (lat, lon); None if malformed.

    Mirrors the reference's parse-reject behavior (``src/main.rs:131``):
    the BASENAME stem must match the anchored pattern exactly, so
    mutated names (``..._DSM_old``, ``..._DSMX_DSM``) and tile-key-
    shaped DIRECTORY components reject rather than mis-parse.
    """
    stem = os.path.basename(key)
    if stem.endswith(".tif"):
        stem = stem[: -len(".tif")]
    m = _TILE_STEM_RE.match(stem)
    if m is None:
        return None
    lat = int(m["lat"])
    lon = int(m["lon"])
    if lat > 90 or lon > 180:
        return None
    return (-lat if m["y"] == "S" else lat, -lon if m["x"] == "W" else lon)


def in_region(set_name: str, lat: int, lon: int) -> bool:
    """``Set::filter`` (``src/main.rs:68-88``) over signed tile degrees."""
    (lat0, lat1), (lon0, lon1) = REGION_SETS[set_name]
    return lat0 <= lat <= lat1 and lon0 <= lon <= lon1


def tiles_for_set(set_name: str) -> list[tuple[int, int]]:
    """Region → every tile coordinate of its 1°×1° grid.

    ``world`` enumerates the full grid (64 800 keys), while the actual
    AW3D30 catalog is land-only (~24 000 objects) — which is why the
    ingest's work list is the listed tiles (:func:`tile_paths`), not
    this enumeration.
    """
    (lat0, lat1), (lon0, lon1) = REGION_SETS[set_name]
    return [(lat, lon) for lat in range(lat0, lat1 + 1) for lon in range(lon0, lon1 + 1)]


def _tile_rows(batches: Iterable) -> Iterator[tuple[str, bytes]]:
    """Arrow batches of a ``binaryFile`` scan → ``(path, content)`` pairs
    for :func:`_decoded_tiles`, copying out one tile's bytes at a time."""
    for batch in batches:
        paths, contents = batch.column("path"), batch.column("content")
        for i in range(batch.num_rows):
            yield paths[i].as_py(), contents[i].as_py()


def _decoded_tiles(rows: Iterable, on_corrupt: str) -> Iterator:
    """The per-tile loop every tile kernel shares: ``(path, content)``
    pairs → ``(coord, band, geotransform)`` for each decodable tile. The
    only caller of :func:`~aw3d30_parquet_spark.sources.tiff.decode_geotiff`
    in the engine.

    A malformed key is rejected like the reference's parse
    (``src/main.rs:131``). ``on_corrupt``: 'fail' raises on undecodable
    bytes (the reference's behavior — errors propagate and abort the
    pipeline, ``src/main.rs:337-345``); 'skip' drops the tile and keeps
    going (preferable for a 31 000-tile backfill where one bad object
    must not kill hours of work — re-runs pick up skipped tiles for free
    via the idempotent sink).
    """
    for path, content in rows:
        coord = parse_tile_key(os.path.basename(str(path)))
        if coord is None:
            continue
        try:
            band, gt = decode_geotiff(bytes(content))
        except Exception:
            if on_corrupt == "fail":
                raise
            continue
        yield coord, band, gt


#: :data:`POINT_SCHEMA` as the Arrow schema of the point kernels' batches.
POINT_ARROW = to_arrow_schema(POINT_SCHEMA)


def _point_batches(
    coord: tuple[int, int], band, gt, chunk_rows: int, schema: pa.Schema = POINT_ARROW
) -> Iterator[pa.RecordBatch]:
    """One decoded tile → Arrow batches of ``schema``: the tile key, the
    cell's ``lat``/``lon`` and one value column per plane of ``band``
    (``(h, w)`` for elevation, ``(h, w, k)`` for k values per cell).

    The rows are :func:`flatten_raster`'s chunks: at most ``chunk_rows``
    rows a batch, or one raster row when a row is wider, so a 3600² tile
    (13M rows ≈ 260 MB) never materializes at once (SURVEY §7.3 item 2).
    All math is vectorized numpy; only columnar Arrow buffers cross the
    JVM↔Python boundary.
    """
    for lat, lon, vals in flatten_raster(band, gt, chunk_rows):
        n = len(lat)
        key = [np.full(n, coord[0], np.int32), np.full(n, coord[1], np.int32)]
        yield pa.record_batch([*key, lat, lon, *vals.reshape(n, -1).T], schema=schema)


def _decode_partition(batches: Iterable, chunk_rows: int, on_corrupt: str) -> Iterator:
    """mapInArrow kernel: ``binaryFile`` batches → point-table batches
    (:func:`_point_batches`) of every decodable tile."""
    for coord, band, gt in _decoded_tiles(_tile_rows(batches), on_corrupt):
        yield from _point_batches(coord, band, gt, chunk_rows)


#: Schema of the per-cell terrain-gradient table (g03): elevation
#: derivative per pixel step in x (east) and y (south→north negative),
#: computed tile-locally — the raster analytics layer the reference's
#: point table feeds into (slope/aspect are the first derived products
#: of any DEM pipeline).
GRADIENT_SCHEMA = StructType(
    [
        StructField("tile_lat", IntegerType(), False),
        StructField("tile_lon", IntegerType(), False),
        StructField("lat", DoubleType(), False),
        StructField("lon", DoubleType(), False),
        StructField("dzdx", DoubleType(), False),
        StructField("dzdy", DoubleType(), False),
    ]
)
_GRADIENT_ARROW = to_arrow_schema(GRADIENT_SCHEMA)


def _key_coord_cols() -> tuple:
    """JVM-side (key_lat, key_lon, key_valid) metadata columns parsed
    from the file path — Java-regex variant of _TILE_STEM_RE (positional
    groups; Java lacks ``(?P<name>)``), ANCHORED to the path's basename:
    matching anywhere in the full path would let a tile-key-shaped
    directory component hijack the coordinates the streaming region
    filter keys on (and disagree with the Python kernel, which parses
    the basename)."""
    jpat = r"^ALPSMLC30_([NS])(\d{3})([EW])(\d{3})_DSM\.tif$"
    fname = F.element_at(F.split(F.col("path"), "/"), -1)
    sign_lat = F.when(F.regexp_extract(fname, jpat, 1) == "S", -1).otherwise(1)
    sign_lon = F.when(F.regexp_extract(fname, jpat, 3) == "W", -1).otherwise(1)
    key_lat = sign_lat * F.regexp_extract(fname, jpat, 2).cast("int")
    key_lon = sign_lon * F.regexp_extract(fname, jpat, 4).cast("int")
    return key_lat, key_lon, F.regexp_extract(fname, jpat, 0) != ""


def _region_pruned_files(files: DataFrame, set_name: str) -> DataFrame:
    """Key-parse + region predicate as a plan ``Filter`` over a
    ``binaryFile`` source — for the streaming source only, which has no
    up-front listing to prune (batch readers prune at the listing, see
    :func:`tile_paths`). The filter runs after the scan has read each
    file's ``content``, so every out-of-region file in a micro-batch is
    still fetched."""
    key_lat, key_lon, valid = _key_coord_cols()
    (lat0, lat1), (lon0, lon1) = REGION_SETS[set_name]
    return files.filter(
        valid & key_lat.between(lat0, lat1) & key_lon.between(lon0, lon1)
    )


#: Spark's ``DataSource.GLOB_PATHS_KEY``: set to "false", ``load()``
#: takes its path literally instead of as a Hadoop glob.
GLOB_PATHS_KEY = "__globPaths__"


def _glob_escape(path: str) -> str:
    """Backslash-escape the Hadoop glob metacharacters ``[]{}*?\\`` in
    ``path``, so a globbing ``load()`` matches it literally."""
    return re.sub(r"([\[\]{}*?\\])", r"\\\1", path)


def _local_dir(root: str) -> str | None:
    """``root`` as an absolute local path, or None for a remote URI
    (``s3a://`` and any other non-``file`` scheme). A ``file:`` URI's
    path is read as written, as Hadoop's ``Path`` reads it: ``%``, ``?``
    and ``#`` are plain characters there."""
    if root.startswith("file:"):
        path = root[len("file:"):]
        return path[path.index("/", 2):] if path.startswith("//") else path
    return None if "://" in root else os.path.abspath(root)


def _scandir_glob(root: str, pattern: str) -> list[str]:
    """:func:`list_matching` for a local ``root``: ``glob``'s
    ``os.scandir`` walk, where ``*`` matches dot names, as Hadoop's does."""
    return sorted(glob.glob(pattern, root_dir=root, include_hidden=True))


def _hadoop_glob(spark: SparkSession, root: str, pattern: str) -> list[str]:
    """:func:`list_matching` for any Hadoop URI: one ``globStatus`` call,
    whose matches cross py4j as one newline-joined string."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(f"{_glob_escape(root.rstrip('/'))}/{pattern}")
    statuses = hpath.getFileSystem(spark._jsc.hadoopConfiguration()).globStatus(hpath)
    n = 0 if statuses is None else len(statuses)
    if n == 0:
        return []
    # py4j finds no Arrays.asList for a Path[], but finds it for an Object[]
    paths = spark.sparkContext._gateway.new_array(jvm.java.lang.Object, n)
    jvm.java.lang.System.arraycopy(
        jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(statuses), 0, paths, 0, n
    )
    joined = jvm.org.apache.hadoop.util.StringUtils.join(
        "\n", jvm.java.util.Arrays.asList(paths)
    )
    depth = pattern.count("/") + 1
    return sorted("/".join(p.split("/")[-depth:]) for p in joined.split("\n"))


def list_matching(spark: SparkSession | None, root: str, pattern: str) -> list[str]:
    """Sorted paths under ``root``, relative to it, that match
    ``pattern`` (``/``-separated name globs; ``[]{}*?`` in ``root``
    match themselves). A local ``root`` (a plain path or ``file://``
    URI) is read with ``os.scandir``, never the JVM, so ``spark`` may be
    None; any other URI (``s3a://``) with one Hadoop ``globStatus``: a
    fixed number of py4j round trips, however many paths match."""
    local = _local_dir(root)
    if local is not None:
        return _scandir_glob(local, pattern)
    return _hadoop_glob(spark, root, pattern)


def tile_paths(
    spark: SparkSession | None,
    tif_dir: str,
    set_name: str = "world",
    exclude: Iterable[tuple[int, int]] = (),
) -> list[str]:
    """The batch work list: sorted paths of the tiles at the top level of
    ``tif_dir`` whose key parses, lies in ``set_name`` and is not in
    ``exclude`` — built from metadata alone.

    ``tif_dir`` is listed once by :func:`list_matching`, with no Spark
    job and no partition discovery, so subdirectories (an output tree
    inside ``tif_dir``, say) are not read. The key parse, region
    predicate and skip set run on the driver, so no byte of an
    out-of-region or done tile is fetched — the reference's
    filter-while-listing (``src/main.rs:298,316-321``) and
    skip-if-exists (``:144-146,171``).
    """
    skip = set(exclude)
    paths = []
    for name in list_matching(spark, tif_dir, TILE_GLOB):
        coord = parse_tile_key(name)
        if coord is not None and in_region(set_name, *coord) and coord not in skip:
            paths.append(os.path.join(tif_dir, name))
    return paths


def _tile_files(spark: SparkSession, paths: list[str]) -> DataFrame:
    """``binaryFile`` scan of explicit tile paths → ``(path, content)``;
    ``[]{}*?`` in a path match themselves.

    A lone path loads literally (:data:`GLOB_PATHS_KEY`): Spark also
    looks it up as a streaming sink's metadata directory, literally, and
    an escaped glob there logs a FileNotFoundException warning. Several
    paths are glob-escaped instead, because with globbing off Spark
    (``DataSource.checkAndGlobPathIfNecessary``) returns every path once
    per glob-looking path, which would scan each tile N times. Loading
    more than ``spark.sql.sources.parallelPartitionDiscovery.threshold``
    (32) paths makes Spark resolve them with a parallel listing job
    before the scan; below it the resolution is driver-side.
    """
    from aw3d30_parquet_spark.session import ship_package

    ship_package(spark)
    reader = spark.read.format("binaryFile").option("pathGlobFilter", TILE_GLOB)
    if len(paths) == 1:
        files = reader.option(GLOB_PATHS_KEY, "false").load(paths[0])
    else:
        files = reader.load([_glob_escape(p) for p in paths])
    return files.select("path", "content")


def check_on_corrupt(on_corrupt: str) -> None:
    """Reject an ``on_corrupt`` policy other than 'fail' or 'skip'."""
    if on_corrupt not in ("fail", "skip"):
        raise ValueError(f"on_corrupt must be 'fail' or 'skip', got {on_corrupt!r}")


def decode_tiles(
    spark: SparkSession,
    paths: list[str],
    chunk_rows: int = 512_000,
    on_corrupt: str = "fail",
) -> DataFrame:
    """Explicit tile paths (from :func:`tile_paths`) → point DataFrame:
    ``binaryFile`` scan fused with the ``mapInArrow`` decode. No
    shuffle; the scan packs whole tiles into tasks by file size and
    never splits one."""
    check_on_corrupt(on_corrupt)
    return _tile_files(spark, paths).mapInArrow(
        lambda it: _decode_partition(it, chunk_rows, on_corrupt),
        schema=POINT_SCHEMA,
    )


def read_tile_gradients(
    spark: SparkSession,
    tif_dir: str,
    set_name: str = "world",
    chunk_rows: int = 512_000,
) -> DataFrame:
    """Tile scan → per-cell elevation gradient DataFrame (slope layer).

    Same plan shape as :func:`read_tiles` — a binaryFile scan of the
    region's listed tiles fused with a mapInArrow kernel, one task per
    tile, zero Exchanges. Tile-local: cells on a tile border take
    one-sided differences (:func:`read_tile_gradients_seamless` stitches
    the seams)."""
    files = _tile_files(spark, tile_paths(spark, tif_dir, set_name))
    return files.mapInArrow(
        lambda it: _gradient_partition(it, chunk_rows, {}),
        schema=GRADIENT_SCHEMA,
    )


#: One halo edge: the receiving tile, the side it pads and the border
#: samples as raw little-endian int32 bytes.
_HALO_ARROW = pa.schema(
    [("dla", pa.int32()), ("dlo", pa.int32()), ("side", pa.string()), ("vals", pa.binary())]
)


def _halo_partition(batches: Iterable, listed: set) -> Iterator:
    """mapInArrow kernel: tile files → border rows/cols addressed to
    each edge-neighbor tile in ``listed`` (4 B per sample). Per tile: 2
    rows + 2 cols ≈ 0.11% of a 3600² raster — the halos are
    metadata-sized next to the mosaic."""
    for (la, lo), band, _gt in _decoded_tiles(_tile_rows(batches), "fail"):
        # row 0 is the tile's TOP (north) edge: it is the north
        # neighbor's bottom halo, and so on around the compass
        edges = [
            (dla, dlo, side, vals.astype("<i4").tobytes())
            for dla, dlo, side, vals in (
                (la + 1, lo, "bottom", band[0, :]),
                (la - 1, lo, "top", band[-1, :]),
                (la, lo - 1, "right", band[:, 0]),
                (la, lo + 1, "left", band[:, -1]),
            )
            if (dla, dlo) in listed
        ]
        if edges:
            yield pa.record_batch([list(c) for c in zip(*edges)], schema=_HALO_ARROW)


def _collect_halos(files: DataFrame, listed: set) -> dict:
    """The halo pass over ``files`` (one Spark job), collected on the
    driver → ``{(lat, lon): {side: int32 array}}`` holding only edges
    addressed to the tile coordinates in ``listed``."""
    edges = files.mapInArrow(
        lambda it: _halo_partition(it, listed), schema=from_arrow_schema(_HALO_ARROW)
    )
    halos: dict = {}
    for r in edges.collect():
        halos.setdefault((r.dla, r.dlo), {})[r.side] = np.frombuffer(r.vals, "<i4")
    return halos


#: The four tile edges.
_HALO_SIDES = ("top", "bottom", "left", "right")


def _padded_gradients(coord, band, halos: dict) -> np.ndarray:
    """``(dzdx, dzdy)`` of ``band`` in elevation units per pixel step,
    stacked as an ``(h, w, 2)`` array: padded with whichever neighbor
    borders ``halos`` holds (side → int32 array; a missing side has no
    neighbor) and cut back to the band's own cells."""
    h, w = band.shape
    pads = {s: halos.get(s) for s in _HALO_SIDES}
    # A neighbor's halo arrives at the NEIGHBOR's resolution: real
    # AW3D30 narrows tiles at high latitude (a 60°N tile is 1800 px wide
    # against its 3600 px south neighbor; ref src/main.rs:172-180 ingests
    # whatever dims GDAL reports), so mismatched lengths can be a
    # legitimate mosaic. Both edges span the same 1° of geography, so a
    # plausible mismatch is resampled nearest-neighbor via the pixel-
    # CENTER index map (receiver pixel i ↔ donor pixel
    # floor((i+0.5)·got/need)); a [:need] truncation would misalign every
    # sample. Plausible means an integer factor (2, 3, 6) or the
    # 1800:1200 tier adjacency (3:2) between the AW3D30 tiers
    # 3600/1800/1200/600 px per degree, with ≥2 samples. Anything else —
    # above all the off-by-one 3599-vs-3600 shape of a truncated halo —
    # is corruption that resampling would smear into the seam gradients,
    # so it fails loudly.
    for side, need in (("top", w), ("bottom", w), ("left", h), ("right", h)):
        got = pads[side]
        if got is not None and len(got) != need:
            lo, hi = sorted((len(got), need))
            plausible = lo >= 2 and (hi % lo == 0 or hi * 2 == lo * 3)
            if not plausible:
                raise ValueError(
                    f"tile {coord}: {side} halo has "
                    f"{len(got)} samples against a {need}-px "
                    "edge — not a known AW3D30 resolution "
                    "ratio; refusing to resample a likely "
                    "corrupt halo"
                )
            centers = (np.arange(need, dtype=np.float64) + 0.5) * (len(got) / need)
            idx = np.minimum(centers.astype(np.int64), len(got) - 1)
            pads[side] = got[idx]
    top = 1 if pads["top"] is not None else 0
    bot = 1 if pads["bottom"] is not None else 0
    left = 1 if pads["left"] is not None else 0
    right = 1 if pads["right"] is not None else 0
    padded = np.zeros((h + top + bot, w + left + right), np.float64)
    padded[top : top + h, left : left + w] = band
    if top:
        padded[0, left : left + w] = pads["top"]
    if bot:
        padded[-1, left : left + w] = pads["bottom"]
    if left:
        padded[top : top + h, 0] = pads["left"]
    if right:
        padded[top : top + h, -1] = pads["right"]
    # np.gradient needs ≥2 samples per axis; a degenerate 1-wide/1-tall
    # raster has zero slope along that axis
    dzdy = np.gradient(padded, axis=0) if padded.shape[0] > 1 else np.zeros_like(padded)
    dzdx = np.gradient(padded, axis=1) if padded.shape[1] > 1 else np.zeros_like(padded)
    core = (slice(top, top + h), slice(left, left + w))
    return np.stack([dzdx[core], dzdy[core]], axis=-1)


def _gradient_partition(batches: Iterable, chunk_rows: int, halos: dict) -> Iterator:
    """mapInArrow kernel: ``binaryFile`` batches → per-cell gradient.

    ``np.gradient`` runs over each decoded band padded with whichever
    neighbor borders ``halos`` (:func:`_collect_halos`) holds for the
    tile's coordinate (:func:`_padded_gradients`), so interior-of-mosaic
    seams get true CENTRAL differences while edges without a halo keep
    the standard one-sided form — exactly what a single global raster
    would produce. An empty map (:func:`read_tile_gradients`) is the
    tile-local slope layer."""
    for coord, band, gt in _decoded_tiles(_tile_rows(batches), "fail"):
        grad = _padded_gradients(coord, band, halos.get(coord, {}))
        yield from _point_batches(coord, grad, gt, chunk_rows, _GRADIENT_ARROW)


def read_tile_gradients_seamless(
    spark: SparkSession,
    tif_dir: str,
    set_name: str = "world",
    chunk_rows: int = 512_000,
) -> DataFrame:
    """Cross-tile SEAMLESS gradient via halo exchange — the distributed
    raster pattern the per-tile form (:func:`read_tile_gradients`)
    leaves out: every tile receives its 4 edge-neighbors'
    border rows/cols, so seam cells get true central differences and
    the mosaic differentiates as ONE raster.

    Plan shape (the 100 TB argument): two passes over the file scan,
    two Spark jobs, no Exchange and no join. Pass 1 runs here, when the
    query is built: it decodes each tile and emits only its borders
    (2 rows + 2 cols, ~0.11% of a 3600² raster) addressed to listed
    neighbors, collected on the driver as a ``{(lat, lon): {side: int32
    array}}`` map (:func:`_collect_halos`). Pass 2 captures that map in
    its ``mapInArrow`` closure, re-decodes each tile and looks up its
    ≤4 halos by the coordinate the kernel parses from the path, so tile
    bytes NEVER shuffle — the binaryFile scan streams in place. PySpark
    broadcasts a pickled command larger than
    ``spark.broadcast.UDFCompressionThreshold`` (1 MiB), so a large
    mosaic's map ships once per executor, not once per task. World
    mosaic: 64 800 tiles × ~56 KB ≈ 3.6 GB of halos; past what the
    driver should hold, run per lat-band — halos within a band cover
    all north/south seams, and each band's map stays driver-sized.
    Decoding twice trades ~2× decode CPU for zero raster shuffle; at
    AW3D30 scale the decode is minutes, the shuffle would be the job."""
    paths = tile_paths(spark, tif_dir, set_name)
    files = _tile_files(spark, paths)
    halos = _collect_halos(files, {parse_tile_key(p) for p in paths})
    return files.mapInArrow(
        lambda it: _gradient_partition(it, chunk_rows, halos),
        schema=GRADIENT_SCHEMA,
    )


def read_tiles(
    spark: SparkSession,
    tif_dir: str,
    set_name: str = "world",
    chunk_rows: int = 512_000,
    on_corrupt: str = "fail",
) -> DataFrame:
    """Scan a directory of ``ALPSMLC30_*.tif`` tiles → point DataFrame.

    Region pruning happens at the listing (:func:`tile_paths`: R2+R3
    applied while listing, like the reference, ``src/main.rs:316-321``),
    so the ``binaryFile`` scan reads only in-region tiles; it is fused
    with the ``mapInArrow`` decode (:func:`decode_tiles`).
    """
    return decode_tiles(
        spark, tile_paths(spark, tif_dir, set_name), chunk_rows, on_corrupt
    )

"""Deterministic demo tiles + the driver-checkable ingest query (g01).

DuckDB cannot read GeoTIFF, but the demo tiles carry a pure elevation
ramp (``1000*y + x`` on a 64×64 grid), so every aggregate of the decoded
point table is computable in closed form — the oracle is a constant
``VALUES`` relation. This gives the GeoTIFF pipeline (binaryFile scan →
key parse/region filter → mapInArrow decode → aggregate) a full
hash-checked entry in the driver contract instead of a rows-only check.

Tile fabrication replaces the reference's S3 download (``src/main.rs:
136-161``) — same skip-if-exists semantics, network-free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aw3d30_parquet_spark.numeric import round_half_up
from aw3d30_parquet_spark.sources.geotiff import read_tiles, tile_key

DEMO_SIZE = 64
DEMO_COORDS = ((51, 4), (52, 5))  # netherlands tiles (src/main.rs:71-74)
#: Root of every demo fixture dir. Hidden itself, but each fixture's
#: LEAF name must not start with "." or "_": Spark ignores such root
#: paths as hidden (WARN DataSource: All paths were ignored).
_DEMO_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".demo",
)
_DEMO_DIR = os.path.join(_DEMO_ROOT, "tiles")


def demo_band(size: int = DEMO_SIZE):
    """The ``size``² int32 elevation ramp ``1000*y + x``."""
    import numpy as np

    y = np.arange(size, dtype=np.int32)[:, None]
    x = np.arange(size, dtype=np.int32)[None, :]
    return 1000 * y + x


def demo_geotransform(lat: int, lon: int, size: int = DEMO_SIZE):
    """North-up 1°×1° tile scaled to ``size`` px; gt3 = top edge."""
    return (float(lon), 1.0 / size, 0.0, float(lat + 1), 0.0, -1.0 / size)


def ensure_demo_tiles(
    tif_dir: str = _DEMO_DIR,
    coords=DEMO_COORDS,
    size: int = DEMO_SIZE,
    **encode_kwargs,
) -> str:
    """Write demo tiles if absent (idempotent, like src/main.rs:144-146).

    ``encode_kwargs`` pass through to :func:`encode_geotiff` so fixtures
    can fabricate any supported on-disk layout (g12: tiled + LZW)."""
    from aw3d30_parquet_spark.sources.tiff import encode_geotiff

    os.makedirs(tif_dir, exist_ok=True)
    band = demo_band(size)
    for lat, lon in coords:
        path = os.path.join(tif_dir, f"{tile_key(lat, lon)}.tif")
        if not os.path.exists(path):
            gt = demo_geotransform(lat, lon, size)
            with open(path, "wb") as f:
                f.write(encode_geotiff(band, gt, **encode_kwargs))
    return tif_dir


def g01_geotiff_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile aggregate of the decoded demo tiles (ignores sf_dir —
    the input is the raster fixture, not the relational testdata)."""
    ensure_demo_tiles()
    pts = read_tiles(spark, _DEMO_DIR, "netherlands")
    return (
        pts.groupBy("tile_lat", "tile_lon")
        .agg(
            F.count("*").alias("points"),
            F.sum("elevation").alias("sum_elev"),
            round_half_up(F.min("lat"), 2).alias("min_lat"),
            round_half_up(F.max("lat"), 2).alias("max_lat"),
            round_half_up(F.min("lon"), 2).alias("min_lon"),
            round_half_up(F.max("lon"), 2).alias("max_lon"),
        )
        .orderBy("tile_lat", "tile_lon")
    )


# ramp sum: Σ(1000y+x) over 64×64 = 1000·2016·64 + 2016·64 = 129_153_024
_G01_ROWS = ",\n".join(
    f"  (CAST({la} AS INTEGER), CAST({lo} AS INTEGER), CAST(4096 AS BIGINT),"
    f" CAST(129153024 AS BIGINT), CAST({la}.02 AS DOUBLE), CAST({la + 1}.0 AS DOUBLE),"
    f" CAST({lo}.0 AS DOUBLE), CAST({lo}.98 AS DOUBLE))"
    for la, lo in DEMO_COORDS
)

def g02_spatial_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level spatial box query over the decoded points (SURVEY §2.2
    "Spatial box join": the R3 region predicate applied at point level,
    reference ``src/main.rs:68-88``). Box [51.25,51.75]×[4.25,4.75]
    intersects only tile (51,4); on the ramp grid the intersection is
    the 33×33 pixel block y,x ∈ [16,48], so count and sum are
    closed-form."""
    ensure_demo_tiles()
    pts = read_tiles(spark, _DEMO_DIR, "netherlands")
    return pts.filter(
        (F.col("lat") >= 51.25)
        & (F.col("lat") <= 51.75)
        & (F.col("lon") >= 4.25)
        & (F.col("lon") <= 4.75)
    ).agg(
        F.count("*").alias("points"),
        F.sum("elevation").alias("sum_elev"),
        F.count_distinct("tile_lat", "tile_lon").alias("tiles"),
    )


# box block: y,x ∈ [16,48] ⇒ 33² points; Σ(1000y+x) = 1056·33·1001
_G02_POINTS = 33 * 33
_G02_SUM = 1000 * 33 * sum(range(16, 49)) + 33 * sum(range(16, 49))


def g03_slope_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile terrain-gradient statistics over the decoded slope layer
    (SURVEY §2.2 raster analytics: slope/aspect are the first derived
    products of any DEM pipeline). The gradient is computed inside the
    decode kernel — tile-local, zero shuffles before this aggregate —
    and the ramp fixture makes every statistic closed-form: the band is
    ``1000·y + x``, so ``dz/dx ≡ 1`` and ``dz/dy ≡ 1000`` everywhere,
    including the one-sided borders (the ramp is linear)."""
    from aw3d30_parquet_spark.sources.geotiff import read_tile_gradients

    ensure_demo_tiles()
    g = read_tile_gradients(spark, _DEMO_DIR, "netherlands")
    return (
        g.groupBy("tile_lat", "tile_lon")
        .agg(
            F.count("*").alias("points"),
            F.sum(F.col("dzdx").cast("bigint")).alias("sum_dzdx"),
            F.sum(F.col("dzdy").cast("bigint")).alias("sum_dzdy"),
            F.max("dzdx").alias("max_dzdx"),
            F.max("dzdy").alias("max_dzdy"),
        )
        .orderBy("tile_lat", "tile_lon")
    )


# linear ramp ⇒ constant gradient: Σdzdx = 64², Σdzdy = 1000·64²
_G03_ROWS = ",\n".join(
    f"  (CAST({la} AS INTEGER), CAST({lo} AS INTEGER),"
    f" CAST({DEMO_SIZE * DEMO_SIZE} AS BIGINT),"
    f" CAST({DEMO_SIZE * DEMO_SIZE} AS BIGINT),"
    f" CAST({1000 * DEMO_SIZE * DEMO_SIZE} AS BIGINT),"
    f" CAST(1.0 AS DOUBLE), CAST(1000.0 AS DOUBLE))"
    for la, lo in DEMO_COORDS
)

def g04_overview_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overview-pyramid level (the raster downsample every GIS stack
    materializes): aggregate the point table into 8×8-pixel blocks per
    tile — count/sum/min/max elevation per block — expressed as a pure
    relational groupBy over the decoded points, so it partition-prunes
    on tile and pushes down like any other query (no raster-library
    resample kernel needed for reduction overviews).

    Block keys derive from lat/lon via the affine inverse; the fixture
    pixel size 1/64° is a power of two, so the arithmetic is exact and
    the oracle recomputes the identical blocks from the ramp formula."""
    ensure_demo_tiles()
    pts = read_tiles(spark, _DEMO_DIR, "netherlands")
    by = F.floor((F.col("tile_lat") + 1 - F.col("lat")) * 8).cast("int")
    bx = F.floor((F.col("lon") - F.col("tile_lon")) * 8).cast("int")
    return (
        pts.groupBy(
            "tile_lat", "tile_lon", by.alias("by"), bx.alias("bx")
        )
        .agg(
            F.count("*").alias("cnt"),
            F.sum("elevation").alias("sum_elev"),
            F.min("elevation").alias("min_elev"),
            F.max("elevation").alias("max_elev"),
        )
        .orderBy("tile_lat", "tile_lon", "by", "bx")
    )


#: Standard hillshade illumination parameters (GDAL defaults) and the
#: vertical-exaggeration factor (z units per pixel step → slope scale;
#: 0.001 keeps the ramp's 1000/px cliff inside the informative range).
_HS_AZIMUTH_DEG = 315.0
_HS_ALTITUDE_DEG = 45.0
_HS_Z_FACTOR = 0.001


def g05_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hillshade (the classic DEM visualization product) over the
    gradient layer, entirely JVM-side trig — slope/aspect from
    (dz/dx, dz/dy), Lambertian illumination at the GDAL-default
    315°/45° sun. On the linear-ramp fixture the gradient (and hence
    the shade) is one constant per cell, so per-tile aggregates are
    closed-form; the oracle recomputes the same formula from the known
    gradient (libm-ulp differences absorbed by round(4))."""
    from aw3d30_parquet_spark.sources.geotiff import read_tile_gradients

    ensure_demo_tiles()
    g = read_tile_gradients(spark, _DEMO_DIR, "netherlands")
    zen = F.radians(F.lit(90.0 - _HS_ALTITUDE_DEG))
    az = F.radians(F.lit(_HS_AZIMUTH_DEG))
    slope = F.atan(
        F.lit(_HS_Z_FACTOR)
        * F.sqrt(F.col("dzdx") * F.col("dzdx") + F.col("dzdy") * F.col("dzdy"))
    )
    aspect = F.atan2(F.col("dzdy"), -F.col("dzdx"))
    shade = F.lit(255.0) * (
        F.cos(zen) * F.cos(slope)
        + F.sin(zen) * F.sin(slope) * F.cos(az - aspect)
    )
    shade = F.greatest(shade, F.lit(0.0))
    return (
        g.groupBy("tile_lat", "tile_lon")
        .agg(
            F.count("*").alias("cnt"),
            round_half_up(F.avg(shade), 4).alias("mean_shade"),
            round_half_up(F.min(shade), 4).alias("min_shade"),
            round_half_up(F.max(shade), 4).alias("max_shade"),
        )
        .orderBy("tile_lat", "tile_lon")
    )


def g06_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics — the raster-×-vector workhorse (mean elevation
    per watershed/adm region): aggregate the decoded points into
    quarter-degree latitude zones spanning BOTH tiles. Zone assignment
    is a pure codegen floor over lat (the general polygon case swaps in
    a point-in-polygon predicate; the aggregate shape — partial per
    tile, final per zone — is identical), so nothing but (zone, partial
    aggregates) ever shuffles. On the ramp fixture each zone is 16 full
    pixel rows of each tile, so every statistic is closed-form."""
    ensure_demo_tiles()
    pts = read_tiles(spark, _DEMO_DIR, "netherlands")
    zone = F.floor(F.col("lat") * 4).cast("int")
    return (
        pts.groupBy(zone.alias("zone"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum("elevation").alias("sum_elev"),
            F.min("elevation").alias("min_elev"),
            F.max("elevation").alias("max_elev"),
        )
        .orderBy("zone")
    )


WARP_SIZE = 50  # target grid: 50×50 per 1° tile (1/50° cells)


def g07_warp_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor warp to a coarser target grid (the gdalwarp
    regrid every raster stack runs when harmonizing resolutions).

    Relational formulation: the target→source index map (which source
    pixel each of the 50×50 target cells samples: sy = ty·64 DIV 50)
    is a tiny per-geometry relation built with ``spark.range`` and
    BROADCAST to the decoded points; source pixel indices are recovered
    from lat/lon by the exact affine inverse (pixel size 1/64° — exact
    in doubles). The points table never shuffles for the join; the only
    shuffle is the final per-tile aggregate. Per-tile output: cell
    count (= 50²) and the warped elevation sum (closed-form on the
    ramp)."""
    ensure_demo_tiles()
    pts = read_tiles(spark, _DEMO_DIR, "netherlands")
    n, w = DEMO_SIZE, WARP_SIZE
    tgt = spark.range(w).select(F.col("id").alias("t"))
    # distinct source indices sampled by any target cell, with the
    # number of target cells sampling each (multiplicity)
    src = (
        tgt.select(F.expr(f"CAST(t * {n} DIV {w} AS INT)").alias("s"))
        .groupBy("s")
        .agg(F.count("*").alias("mult"))
    )
    sy = F.floor((F.col("tile_lat") + 1 - F.col("lat")) * n + 0.5).cast("int")
    sx = F.floor((F.col("lon") - F.col("tile_lon")) * n + 0.5).cast("int")
    indexed = pts.select(
        "tile_lat", "tile_lon", "elevation", sy.alias("sy"), sx.alias("sx")
    )
    warped = (
        indexed.join(F.broadcast(src.select(F.col("s").alias("sy"),
                                            F.col("mult").alias("my"))), "sy")
        .join(F.broadcast(src.select(F.col("s").alias("sx"),
                                     F.col("mult").alias("mx"))), "sx")
    )
    return (
        warped.groupBy("tile_lat", "tile_lon")
        .agg(
            F.sum(F.col("my") * F.col("mx")).alias("cells"),
            F.sum(
                F.col("my") * F.col("mx") * F.col("elevation").cast("bigint")
            ).alias("sum_elev"),
        )
        .orderBy("tile_lat", "tile_lon")
    )


#: 2×2 edge-adjacent mosaic fixture for the halo-exchange gradient
#: (separate dir: adding tiles to _DEMO_DIR would shift g01–g07's
#: closed-form oracles).
MOSAIC_COORDS = ((51, 4), (51, 5), (52, 4), (52, 5))
_MOSAIC_DIR = os.path.join(_DEMO_ROOT, "mosaic")


#: g12 fixture: the same ramp band stored in the TILED + LZW +
#: predictor-2 layout (the common real-world GDAL GeoTIFF shape, which
#: the reference reads via GDAL — src/main.rs:172-180). Separate dir
#: and coords so g01–g07's closed-form oracles never shift; france
#: coords keep the region filter exercised on a different REGION_SET.
TILED_COORDS = ((45, 2), (43, 7))
_TILED_DIR = os.path.join(_DEMO_ROOT, "tiled")


def g12_tiled_lzw_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g12: full ingest over tiled+LZW+predictor-2 tiles — the identical
    binaryFile scan → key parse/region filter → mapInArrow decode →
    aggregate pipeline as g01, with the bytes in the OTHER on-disk
    layout GDAL commonly writes. Hash match against the same
    closed-form ramp aggregates proves the pure-python fallback's
    tiled/LZW path end-to-end under the driver contract (without
    rasterio installed, the fallback IS the decode path)."""
    ensure_demo_tiles(
        _TILED_DIR,
        TILED_COORDS,
        compression="lzw",
        predictor=2,
        tile_size=(32, 32),
    )
    pts = read_tiles(spark, _TILED_DIR, "france")
    return (
        pts.groupBy("tile_lat", "tile_lon")
        .agg(
            F.count("*").alias("points"),
            F.sum("elevation").alias("sum_elev"),
            round_half_up(F.min("lat"), 2).alias("min_lat"),
            round_half_up(F.max("lat"), 2).alias("max_lat"),
            round_half_up(F.min("lon"), 2).alias("min_lon"),
            round_half_up(F.max("lon"), 2).alias("max_lon"),
        )
        .orderBy("tile_lat", "tile_lon")
    )


# same ramp closed forms as g01, over the tiled fixture's coords
_G12_ROWS = ",\n".join(
    f"  (CAST({la} AS INTEGER), CAST({lo} AS INTEGER), CAST(4096 AS BIGINT),"
    f" CAST(129153024 AS BIGINT), CAST({la}.02 AS DOUBLE), CAST({la + 1}.0 AS DOUBLE),"
    f" CAST({lo}.0 AS DOUBLE), CAST({lo}.98 AS DOUBLE))"
    for la, lo in TILED_COORDS
)


def g08_seamless_gradient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile aggregate of the HALO-EXCHANGE gradient over a 2×2
    mosaic of adjacent ramp tiles. The per-tile ramp restarts at every
    tile edge, so the seam columns/rows see a jump central differencing
    must straddle: dz/dx = −(N−2)/2 = −31 at the two seam columns
    (1 elsewhere), dz/dy = −31000 at the seam rows (1000 elsewhere) —
    hence per-tile Σdzdx = 32·N = 2048 where the seam-blind per-tile
    form (g03) would give N² = 4096. The oracle pins those closed
    forms; the pytest twin checks per-cell equality against a global
    numpy gradient of the stitched mosaic."""
    from aw3d30_parquet_spark.sources.geotiff import (
        read_tile_gradients_seamless,
    )

    ensure_demo_tiles(_MOSAIC_DIR, MOSAIC_COORDS)
    g = read_tile_gradients_seamless(spark, _MOSAIC_DIR, "netherlands")
    return (
        g.groupBy("tile_lat", "tile_lon")
        .agg(
            F.count("*").alias("points"),
            F.sum(F.col("dzdx").cast("bigint")).alias("sum_dzdx"),
            F.sum(F.col("dzdy").cast("bigint")).alias("sum_dzdy"),
            F.min("dzdx").alias("min_dzdx"),
            F.min("dzdy").alias("min_dzdy"),
        )
        .orderBy("tile_lat", "tile_lon")
    )


# every tile of the 2×2 ramp mosaic: Σdzdx = 32N, Σdzdy = 32000N,
# min = the seam jump −(N−2)/2 (×1000 in y)
_G08_ROWS = ",\n".join(
    f"  (CAST({la} AS INTEGER), CAST({lo} AS INTEGER),"
    f" CAST({DEMO_SIZE * DEMO_SIZE} AS BIGINT),"
    f" CAST({32 * DEMO_SIZE} AS BIGINT),"
    f" CAST({32000 * DEMO_SIZE} AS BIGINT),"
    f" CAST(-31.0 AS DOUBLE), CAST(-31000.0 AS DOUBLE))"
    for la, lo in MOSAIC_COORDS
)


def g09_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tile ingest through the ``format("aw3d30")`` Python Data
    Source (DataSource V2 surface: per-tile InputPartitions, Arrow-
    batch reads, pushFilters tile pruning). The tile_lat predicate is
    consumed by the source's file listing — the pruned tile is never
    opened — and the aggregate pins the decoded content equals the
    closed-form ramp, i.e. the custom source and the mapInArrow path
    (g01) read identical bytes identically."""
    from aw3d30_parquet_spark.sources.datasource import register

    ensure_demo_tiles()
    register(spark)
    df = (
        spark.read.format("aw3d30")
        .option("set", "netherlands")
        .load(_DEMO_DIR)
    )
    return (
        df.filter(F.col("tile_lat") == 51)
        .groupBy("tile_lat", "tile_lon")
        .agg(
            F.count("*").alias("points"),
            F.sum("elevation").alias("sum_elev"),
            round_half_up(F.min("lon"), 6).alias("min_lon"),
            round_half_up(F.max("lat"), 6).alias("max_lat"),
        )
        .orderBy("tile_lat", "tile_lon")
    )


# tile (51,4), 64²: Σ(1000y+x) = 1001·64·Σ(0..63) = 1001·64·2016;
# pixel-corner coords: min lon = 4.0, max lat = gt3 = 52.0 exactly
# (row y=0 sits ON the tile's north edge)
_G09_SUM = 1001 * DEMO_SIZE * (DEMO_SIZE * (DEMO_SIZE - 1) // 2)

#: 7×7 fixture grid for the partition-parallel stress read (g10):
#: 49 tiles on disk; the query's pushed box keeps the inner 6×6 = 36.
GRID_COORDS = tuple(
    (la, lo) for la in range(40, 47) for lo in range(10, 17)
)
GRID_BOX = {"lat": (41, 46), "lon": (11, 16)}  # inclusive survivors
_GRID_DIR = os.path.join(_DEMO_ROOT, "grid")


def g10_datasource_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g10: the aw3d30 Python Data Source under real partition
    parallelism — 49 tiles on disk, four pushed range predicates
    (>=, <=, >, <) prune the listing to the inner 36, and each
    surviving tile is its own InputPartition/Arrow-batch decode (so
    local[32] actually schedules a wave of concurrent tile tasks,
    unlike g09's 1-tile read). Per-tile aggregates pin every decoded
    cell against the closed-form ramp."""
    from aw3d30_parquet_spark.sources.datasource import register

    ensure_demo_tiles(_GRID_DIR, GRID_COORDS)
    register(spark)
    (la0, la1), (lo0, lo1) = GRID_BOX["lat"], GRID_BOX["lon"]
    df = spark.read.format("aw3d30").option("set", "world").load(_GRID_DIR)
    return (
        df.filter(
            (F.col("tile_lat") >= la0)
            & (F.col("tile_lat") <= la1)
            & (F.col("tile_lon") > lo0 - 1)
            & (F.col("tile_lon") < lo1 + 1)
        )
        .groupBy("tile_lat", "tile_lon")
        .agg(
            F.count("*").alias("points"),
            F.sum("elevation").alias("sum_elev"),
            round_half_up(F.min("lon"), 6).alias("min_lon"),
            round_half_up(F.max("lat"), 6).alias("max_lat"),
        )
        .orderBy("tile_lat", "tile_lon")
    )


_G10_ROWS = ",\n".join(
    f"  (CAST({la} AS INTEGER), CAST({lo} AS INTEGER),"
    f" CAST({DEMO_SIZE * DEMO_SIZE} AS BIGINT), CAST({_G09_SUM} AS BIGINT),"
    f" CAST({lo}.0 AS DOUBLE), CAST({la + 1}.0 AS DOUBLE))"
    for la in range(GRID_BOX["lat"][0], GRID_BOX["lat"][1] + 1)
    for lo in range(GRID_BOX["lon"][0], GRID_BOX["lon"][1] + 1)
)


#: mixed-resolution mosaic fixture: a 64² tile beside a 32² tile —
#: the real-AW3D30 high-latitude width reduction (a 60°N tile is half
#: the width of its south neighbor; ref src/main.rs:172-180 ingests
#: whatever dims GDAL reports). Exercises the nearest-neighbor halo
#: resample branch (geotiff.py) under the driver contract, not just
#: pytest.
MIXED_COORDS = (((52, 4), 64), ((52, 5), 32))
_MIXED_DIR = os.path.join(_DEMO_ROOT, "mixedres")


def _ensure_mixed_tiles(tif_dir: str = _MIXED_DIR) -> str:
    for coord, size in MIXED_COORDS:
        ensure_demo_tiles(tif_dir, [coord], size)
    return tif_dir


def g11_mixed_resolution_gradient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g11: halo-exchange gradient over a MIXED-RESOLUTION mosaic —
    the 64² west tile and 32² east tile exchange seam columns at
    DIFFERENT lengths, so each receiver nearest-neighbor resamples its
    neighbor's edge to its own grid (pixel-center index map) before
    central differencing. Every gradient value is an exact integer
    (ramp bands), so the per-tile sums/min hash-check against an
    oracle derived by an INDEPENDENT numpy stitch (np.gradient of each
    tile concatenated with its separately-resampled neighbor column —
    no engine code involved)."""
    from aw3d30_parquet_spark.sources.geotiff import (
        read_tile_gradients_seamless,
    )

    _ensure_mixed_tiles()
    g = read_tile_gradients_seamless(spark, _MIXED_DIR, "netherlands")
    return (
        g.groupBy("tile_lat", "tile_lon")
        .agg(
            F.count("*").alias("points"),
            F.sum(F.col("dzdx").cast("bigint")).alias("sum_dzdx"),
            F.sum(F.col("dzdy").cast("bigint")).alias("sum_dzdy"),
            F.min(F.col("dzdx").cast("bigint")).alias("min_dzdx"),
        )
        .orderBy("tile_lat", "tile_lon")
    )


def _g11_rows() -> str:
    """Expected g11 relation from first principles: stitch each ramp
    tile with its neighbor's resampled edge column in plain numpy and
    np.gradient it — the same construction as the pytest twin
    (tests/test_geotiff.py), sharing nothing with the engine's
    binaryFile → halo-exchange → mapInArrow pipeline."""
    import numpy as np

    def ramp(n):
        y = np.arange(n, dtype=np.float64)[:, None]
        x = np.arange(n, dtype=np.float64)[None, :]
        return 1000.0 * y + x

    def nn(v, need):
        idx = np.minimum(
            ((np.arange(need) + 0.5) * len(v) / need).astype(np.int64),
            len(v) - 1,
        )
        return v[idx]

    ((_, _), na), ((_, _), nb) = MIXED_COORDS
    fa, fb = ramp(na), ramp(nb)
    ga_x = np.gradient(
        np.concatenate([fa, nn(fb[:, 0], na)[:, None]], axis=1), axis=1
    )[:, :na]
    ga_y = np.gradient(fa, axis=0)
    gb_x = np.gradient(
        np.concatenate([nn(fa[:, -1], nb)[:, None], fb], axis=1), axis=1
    )[:, 1:]
    gb_y = np.gradient(fb, axis=0)
    rows = []
    for ((la, lo), _n), gx, gy in (
        (MIXED_COORDS[0], ga_x, ga_y),
        (MIXED_COORDS[1], gb_x, gb_y),
    ):
        rows.append(
            f"  (CAST({la} AS INTEGER), CAST({lo} AS INTEGER),"
            f" CAST({gx.size} AS BIGINT),"
            f" CAST({int(round(gx.sum()))} AS BIGINT),"
            f" CAST({int(round(gy.sum()))} AS BIGINT),"
            f" CAST({int(round(gx.min()))} AS BIGINT))"
        )
    return ",\n".join(rows)


QUERIES = {
    "g01_geotiff_ingest": g01_geotiff_ingest,
    "g02_spatial_box": g02_spatial_box,
    "g03_slope_stats": g03_slope_stats,
    "g04_overview_downsample": g04_overview_downsample,
    "g05_hillshade": g05_hillshade,
    "g06_zonal_stats": g06_zonal_stats,
    "g07_warp_resample": g07_warp_resample,
    "g08_seamless_gradient": g08_seamless_gradient,
    "g09_python_datasource": g09_python_datasource,
    "g10_datasource_grid": g10_datasource_grid,
    "g11_mixed_resolution_gradient": g11_mixed_resolution_gradient,
    "g12_tiled_lzw_ingest": g12_tiled_lzw_ingest,
}
ORACLE_SQL = {
    "g12_tiled_lzw_ingest": f"""
SELECT * FROM (VALUES
{_G12_ROWS}
) AS t(tile_lat, tile_lon, points, sum_elev, min_lat, max_lat, min_lon, max_lon)
ORDER BY tile_lat, tile_lon
""",
    "g01_geotiff_ingest": f"""
SELECT * FROM (VALUES
{_G01_ROWS}
) AS t(tile_lat, tile_lon, points, sum_elev, min_lat, max_lat, min_lon, max_lon)
ORDER BY tile_lat, tile_lon
""",
    "g02_spatial_box": f"""
SELECT CAST({_G02_POINTS} AS BIGINT) AS points,
       CAST({_G02_SUM} AS BIGINT) AS sum_elev,
       CAST(1 AS BIGINT) AS tiles
""",
    "g03_slope_stats": f"""
SELECT * FROM (VALUES
{_G03_ROWS}
) AS t(tile_lat, tile_lon, points, sum_dzdx, sum_dzdy, max_dzdx, max_dzdy)
ORDER BY tile_lat, tile_lon
""",
    # g04: recompute the ramp grid (v = 1000·y + x) and its 8×8 blocks
    "g04_overview_downsample": f"""
WITH tiles AS (
  SELECT * FROM (VALUES {", ".join(f"({la}, {lo})" for la, lo in DEMO_COORDS)})
    AS t(tile_lat, tile_lon)
), grid AS (
  SELECT tile_lat, tile_lon,
         CAST(y.y // 8 AS INTEGER) AS by, CAST(x.x // 8 AS INTEGER) AS bx,
         1000 * y.y + x.x AS v
  FROM tiles, range({DEMO_SIZE}) y(y), range({DEMO_SIZE}) x(x)
)
SELECT tile_lat, tile_lon, by, bx, count(*) AS cnt,
       CAST(sum(v) AS BIGINT) AS sum_elev,
       CAST(min(v) AS INTEGER) AS min_elev,
       CAST(max(v) AS INTEGER) AS max_elev
FROM grid GROUP BY tile_lat, tile_lon, by, bx
ORDER BY tile_lat, tile_lon, by, bx
""",
    # g05: constant gradient (1, 1000) on the ramp ⇒ one shade value;
    # same Lambertian formula, libm ulps absorbed by round(4)
    "g05_hillshade": f"""
WITH hs AS (
  SELECT greatest(0.0,
           255.0 * (cos(radians(45.0))
                      * cos(atan(0.001 * sqrt(1.0*1.0 + 1000.0*1000.0)))
                    + sin(radians(45.0))
                      * sin(atan(0.001 * sqrt(1.0*1.0 + 1000.0*1000.0)))
                      * cos(radians(315.0) - atan2(1000.0, -1.0)))) AS v
)
SELECT * FROM (
  SELECT t.tile_lat, t.tile_lon,
         CAST({DEMO_SIZE * DEMO_SIZE} AS BIGINT) AS cnt,
         CAST(floor(v * 10000 + 0.5) AS BIGINT) / 10000.0 AS mean_shade,
         CAST(floor(v * 10000 + 0.5) AS BIGINT) / 10000.0 AS min_shade,
         CAST(floor(v * 10000 + 0.5) AS BIGINT) / 10000.0 AS max_shade
  FROM (VALUES {", ".join(f"({la}, {lo})" for la, lo in DEMO_COORDS)})
    AS t(tile_lat, tile_lon), hs
) ORDER BY tile_lat, tile_lon
""",
    # g06: regenerate the ramp grid with its edge-anchored latitudes
    # (lat = la+1 − y/64, exact in doubles) and aggregate per zone —
    # zones crossing tile boundaries exercise the cross-tile merge
    "g06_zonal_stats": f"""
WITH tiles AS (
  SELECT * FROM (VALUES {", ".join(f"({la})" for la, lo in DEMO_COORDS)}) t(la)
), grid AS (
  SELECT la + 1 - y.y / {DEMO_SIZE}.0 AS lat, 1000 * y.y + x.x AS v
  FROM tiles, range({DEMO_SIZE}) y(y), range({DEMO_SIZE}) x(x)
)
SELECT CAST(floor(lat * 4) AS INTEGER) AS zone, count(*) AS cnt,
       CAST(sum(v) AS BIGINT) AS sum_elev,
       CAST(min(v) AS INTEGER) AS min_elev,
       CAST(max(v) AS INTEGER) AS max_elev
FROM grid GROUP BY zone ORDER BY zone
""",
    # g07: regenerate the warped 50×50 grid per tile; v = ramp value of
    # the nearest-neighbor source pixel (sy = ty·64 // 50)
    "g07_warp_resample": f"""
WITH tiles AS (
  SELECT * FROM (VALUES {", ".join(f"({la}, {lo})" for la, lo in DEMO_COORDS)})
    AS t(tile_lat, tile_lon)
), tgt AS (
  SELECT y.t AS ty, x.t AS tx
  FROM range({WARP_SIZE}) y(t), range({WARP_SIZE}) x(t)
), w AS (
  SELECT tile_lat, tile_lon,
         1000 * (ty * {DEMO_SIZE} // {WARP_SIZE})
              + (tx * {DEMO_SIZE} // {WARP_SIZE}) AS v
  FROM tiles, tgt
)
SELECT tile_lat, tile_lon, count(*) AS cells,
       CAST(sum(v) AS BIGINT) AS sum_elev
FROM w GROUP BY tile_lat, tile_lon ORDER BY tile_lat, tile_lon
""",
    # g09: the pushdown-pruned tile (51,4) ramp aggregate, closed form
    "g09_python_datasource": f"""
SELECT CAST(51 AS INTEGER) AS tile_lat, CAST(4 AS INTEGER) AS tile_lon,
       CAST({DEMO_SIZE * DEMO_SIZE} AS BIGINT) AS points,
       CAST({_G09_SUM} AS BIGINT) AS sum_elev,
       CAST(4.0 AS DOUBLE) AS min_lon,
       CAST(52.0 AS DOUBLE) AS max_lat
""",
    # g10: closed-form per-tile ramp aggregates for the 36 box
    # survivors (every tile carries the same 64² ramp; min lon / max
    # lat are the tile's west/north pixel-corner edges exactly)
    "g10_datasource_grid": f"""
SELECT * FROM (VALUES
{_G10_ROWS}
) AS t(tile_lat, tile_lon, points, sum_elev, min_lon, max_lat)
ORDER BY tile_lat, tile_lon
""",
    # g08: closed-form seamless-gradient sums (see _G08_ROWS derivation)
    "g08_seamless_gradient": f"""
SELECT * FROM (VALUES
{_G08_ROWS}
) AS t(tile_lat, tile_lon, points, sum_dzdx, sum_dzdy, min_dzdx, min_dzdy)
ORDER BY tile_lat, tile_lon
""",
    # g11: independent numpy stitch of the mixed-resolution mosaic
    # (see _g11_rows derivation)
    "g11_mixed_resolution_gradient": f"""
SELECT * FROM (VALUES
{_g11_rows()}
) AS t(tile_lat, tile_lon, points, sum_dzdx, sum_dzdy, min_dzdx)
ORDER BY tile_lat, tile_lon
""",
}

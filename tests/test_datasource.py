"""format("aw3d30") Python Data Source: parity, pushdown, planning."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    LessThanOrEqual,
    StringContains,
)

from aw3d30_parquet_spark.sources import demo
from aw3d30_parquet_spark.sources.datasource import AW3D30Reader, register
from aw3d30_parquet_spark.sources.geotiff import read_tiles


@pytest.fixture(scope="module")
def demo_dir():
    return demo.ensure_demo_tiles()


def test_datasource_matches_mapinpandas_path(spark, demo_dir):
    """Row-for-row parity between the custom source and read_tiles (the
    ``binaryFile`` + ``mapInArrow`` path)."""
    register(spark)
    via_source = (
        spark.read.format("aw3d30")
        .option("set", "netherlands")
        .load(demo_dir)
    )
    via_mip = read_tiles(spark, demo_dir, "netherlands")
    key = ["tile_lat", "tile_lon", "lat", "lon", "elevation"]
    a = sorted(map(tuple, via_source.select(*key).collect()))
    b = sorted(map(tuple, via_mip.select(*key).collect()))
    assert a == b
    assert len(a) == 2 * demo.DEMO_SIZE**2


def test_partition_planning_one_per_tile(demo_dir):
    r = AW3D30Reader({"path": demo_dir, "set": "netherlands"})
    parts = r.partitions()
    assert {(p.tile_lat, p.tile_lon) for p in parts} == set(demo.DEMO_COORDS)


def test_pushdown_prunes_file_listing(demo_dir):
    r = AW3D30Reader({"path": demo_dir, "set": "netherlands"})
    unhandled = list(
        r.pushFilters(
            [
                EqualTo(("tile_lat",), 51),
                GreaterThan(("elevation",), 100),  # per-cell: not ours
                StringContains(("lon",), "x"),  # nonsense: not ours
            ]
        )
    )
    # exactly the two non-tile filters come back to Spark
    assert len(unhandled) == 2
    parts = r.partitions()
    assert [(p.tile_lat, p.tile_lon) for p in parts] == [(51, 4)]


def test_pushdown_range_filters(demo_dir):
    r = AW3D30Reader({"path": demo_dir, "set": "netherlands"})
    assert list(r.pushFilters([LessThanOrEqual(("tile_lat",), 51)])) == []
    assert [(p.tile_lat, p.tile_lon) for p in r.partitions()] == [(51, 4)]


def test_contradictory_pushdown_yields_no_partitions(demo_dir):
    r = AW3D30Reader({"path": demo_dir, "set": "netherlands"})
    list(r.pushFilters([EqualTo(("tile_lat",), 51), EqualTo(("tile_lat",), 52)]))
    assert r.partitions() == []


def test_bad_options_raise():
    with pytest.raises(ValueError):
        AW3D30Reader({"path": "/tmp", "set": "atlantis"})
    with pytest.raises(ValueError):
        AW3D30Reader({"set": "world"})


def test_g09_oracle(spark, duck_t2):
    from aw3d30_parquet_spark.oracle import compare

    df = demo.g09_python_datasource(spark, "/root/testdata/sf0.01")
    ok, h1, h2 = compare(df, duck_t2, demo.ORACLE_SQL["g09_python_datasource"])
    assert ok, (h1, h2)


def test_source_filter_consumed_in_plan(spark, demo_dir):
    """The tile_lat EqualTo must be consumed by the source: the Spark-
    side residual filter may keep the null guard but not the
    comparison itself."""
    register(spark)
    df = (
        spark.read.format("aw3d30")
        .option("set", "netherlands")
        .load(demo_dir)
        .filter(F.col("tile_lat") == 51)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan aw3d30" in plan
    filters = [ln for ln in plan.splitlines() if "Filter " in ln]
    assert all("= 51" not in ln for ln in filters), filters
    assert df.count() == demo.DEMO_SIZE**2


def test_stream_reader_incremental_exactly_once(spark, tmp_path):
    """readStream.format("aw3d30"): each arriving tile is decoded in
    exactly one micro-batch; a checkpoint restart replays nothing."""
    tif_dir = str(tmp_path / "tifs")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    demo.ensure_demo_tiles(tif_dir, [(51, 4)])
    register(spark)

    def run_available():
        q = (
            spark.readStream.format("aw3d30")
            .option("set", "netherlands")
            .load(tif_dir)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_available()
    assert spark.read.parquet(out).count() == demo.DEMO_SIZE**2
    # second tile arrives; only it is processed
    demo.ensure_demo_tiles(tif_dir, [(51, 4), (52, 5)])
    run_available()
    df = spark.read.parquet(out)
    assert df.count() == 2 * demo.DEMO_SIZE**2
    assert df.select("tile_lat").distinct().count() == 2
    # restart with nothing new: no duplicates
    run_available()
    assert spark.read.parquet(out).count() == 2 * demo.DEMO_SIZE**2


def test_empty_read_returns_no_rows(spark, tmp_path):
    """Zero surviving tiles (empty dir, or filters pruning everything)
    must yield an empty DataFrame, not a None-partition crash."""
    import os

    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    register(spark)
    df = (
        spark.read.format("aw3d30")
        .option("set", "netherlands")
        .load(empty)
    )
    assert df.count() == 0
    demo_dir = demo.ensure_demo_tiles()
    pruned = (
        spark.read.format("aw3d30")
        .option("set", "netherlands")
        .load(demo_dir)
        .filter(F.col("tile_lat") == 60)
    )
    assert pruned.count() == 0


def test_writer_roundtrip(spark, demo_dir, tmp_path):
    """Point DF → GeoTIFF export → re-read: byte-level raster parity
    (the export inverse of ingest; the reference's own input format)."""
    from aw3d30_parquet_spark.sources.datasource import write_geotiff_tiles
    from aw3d30_parquet_spark.sources.tiff import decode_geotiff

    out = str(tmp_path / "export")
    pts = read_tiles(spark, demo_dir, "netherlands")
    write_geotiff_tiles(pts, out)
    import os

    names = sorted(os.listdir(out))
    assert names == [
        "ALPSMLC30_N051E004_DSM.tif",
        "ALPSMLC30_N052E005_DSM.tif",
    ]
    # decoded export equals the original fixture raster + transform
    with open(os.path.join(out, names[0]), "rb") as fh:
        band, gt = decode_geotiff(fh.read())
    import numpy as np

    np.testing.assert_array_equal(band, demo.demo_band())
    assert gt == demo.demo_geotransform(51, 4)
    # and the full relational round trip matches row-for-row
    back = read_tiles(spark, out, "netherlands")
    key = ["tile_lat", "tile_lon", "lat", "lon", "elevation"]
    assert sorted(map(tuple, back.select(*key).collect())) == sorted(
        map(tuple, pts.select(*key).collect())
    )


def test_writer_rejects_partial_tiles(spark, tmp_path):
    from aw3d30_parquet_spark.sources.datasource import write_geotiff_tiles

    df = spark.createDataFrame(
        [(51, 4, 51.5, 4.5, 7), (51, 4, 51.25, 4.25, 9), (51, 4, 51.75, 4.75, 1)],
        "tile_lat INT, tile_lon INT, lat DOUBLE, lon DOUBLE, elevation INT",
    )
    with pytest.raises(Exception, match="not a full|grid"):
        write_geotiff_tiles(df, str(tmp_path / "bad"))


def test_writer_overwrite_removes_stale_tiles(spark, demo_dir, tmp_path):
    from aw3d30_parquet_spark.sources.datasource import write_geotiff_tiles

    out = str(tmp_path / "exp")
    pts = read_tiles(spark, demo_dir, "netherlands")
    write_geotiff_tiles(pts, out)
    import os

    assert len(os.listdir(out)) == 2
    # overwrite with only one tile: the other must be removed
    register(spark)
    (
        pts.filter("tile_lat = 51")
        .repartition("tile_lat", "tile_lon")
        .write.format("aw3d30")
        .mode("overwrite")
        .save(out)
    )
    assert sorted(os.listdir(out)) == ["ALPSMLC30_N051E004_DSM.tif"]


def test_writer_failed_job_leaves_previous_tiles_intact(
    spark, demo_dir, tmp_path
):
    from aw3d30_parquet_spark.sources.datasource import write_geotiff_tiles

    out = str(tmp_path / "exp")
    pts = read_tiles(spark, demo_dir, "netherlands")
    write_geotiff_tiles(pts, out)
    import glob
    import os

    before = {
        f: os.path.getmtime(f) for f in glob.glob(f"{out}/*_DSM.tif")
    }
    assert len(before) == 2
    # partial tile -> the write job fails; staged tmps are aborted and
    # the prior export stays byte-for-byte in place
    bad = spark.createDataFrame(
        [(51, 4, 51.5, 4.5, 7), (51, 4, 51.25, 4.25, 9), (51, 4, 51.75, 4.75, 1)],
        "tile_lat INT, tile_lon INT, lat DOUBLE, lon DOUBLE, elevation INT",
    )
    with pytest.raises(Exception):
        write_geotiff_tiles(bad, out)
    after = {f: os.path.getmtime(f) for f in glob.glob(f"{out}/*_DSM.tif")}
    assert after == before
    assert glob.glob(f"{out}/*.tmp-*") == []


def test_writer_southern_western_tile(spark, tmp_path):
    """The writer's packed (lat*1000+lon) grouping must round-trip
    negative coordinates (southern/western hemisphere tiles)."""
    import os

    import numpy as np

    from aw3d30_parquet_spark.sources.datasource import write_geotiff_tiles
    from aw3d30_parquet_spark.sources.tiff import decode_geotiff

    s, la, lo = 8, -30, -5
    rows = [
        (
            la,
            lo,
            float(la + 1) - y / s,
            float(lo) + x / s,
            100 * y + x,
        )
        for y in range(s)
        for x in range(s)
    ]
    df = spark.createDataFrame(
        rows, "tile_lat INT, tile_lon INT, lat DOUBLE, lon DOUBLE, elevation INT"
    )
    out = str(tmp_path / "sw")
    write_geotiff_tiles(df, out)
    assert os.listdir(out) == ["ALPSMLC30_S030W005_DSM.tif"]
    with open(os.path.join(out, "ALPSMLC30_S030W005_DSM.tif"), "rb") as fh:
        band, gt = decode_geotiff(fh.read())
    expect = np.arange(s)[:, None] * 100 + np.arange(s)[None, :]
    np.testing.assert_array_equal(band, expect)
    assert gt == (float(lo), 1.0 / s, 0.0, float(la + 1), 0.0, -1.0 / s)


def test_g10_grid_prunes_to_36_partitions():
    """The 7x7 grid fixture under g10's four pushed range predicates
    plans exactly one InputPartition per surviving tile (36 of 49) —
    per-tile-pruned listing, asserted at the planning surface."""
    from pyspark.sql.datasource import (
        GreaterThanOrEqual,
        LessThan,
    )

    grid_dir = demo.ensure_demo_tiles(demo._GRID_DIR, demo.GRID_COORDS)
    r = AW3D30Reader({"path": grid_dir, "set": "world"})
    (la0, la1), (lo0, lo1) = demo.GRID_BOX["lat"], demo.GRID_BOX["lon"]
    unhandled = list(
        r.pushFilters(
            [
                GreaterThanOrEqual(("tile_lat",), la0),
                LessThanOrEqual(("tile_lat",), la1),
                GreaterThan(("tile_lon",), lo0 - 1),
                LessThan(("tile_lon",), lo1 + 1),
            ]
        )
    )
    assert unhandled == []
    parts = r.partitions()
    assert len(parts) == 36
    assert {(p.tile_lat, p.tile_lon) for p in parts} == {
        (la, lo)
        for la in range(la0, la1 + 1)
        for lo in range(lo0, lo1 + 1)
    }


def test_g10_reads_one_spark_partition_per_tile(spark):
    """End-to-end: the scan RDD schedules 36 concurrent tile tasks."""
    demo.ensure_demo_tiles(demo._GRID_DIR, demo.GRID_COORDS)
    register(spark)
    (la0, la1), (lo0, lo1) = demo.GRID_BOX["lat"], demo.GRID_BOX["lon"]
    scan = (
        spark.read.format("aw3d30")
        .option("set", "world")
        .load(demo._GRID_DIR)
        .filter(
            (F.col("tile_lat") >= la0)
            & (F.col("tile_lat") <= la1)
            & (F.col("tile_lon") > lo0 - 1)
            & (F.col("tile_lon") < lo1 + 1)
        )
    )
    assert scan.rdd.getNumPartitions() == 36


def test_g10_oracle(spark, duck_t2):
    from aw3d30_parquet_spark.oracle import compare

    df = demo.g10_datasource_grid(spark, "/root/testdata/sf0.01")
    ok, h1, h2 = compare(df, duck_t2, demo.ORACLE_SQL["g10_datasource_grid"])
    assert ok, (h1, h2)


def test_nonexistent_path_raises_descriptive_error():
    with pytest.raises(ValueError, match="not a readable directory"):
        AW3D30Reader({"path": "/no/such/dir/anywhere", "set": "world"})

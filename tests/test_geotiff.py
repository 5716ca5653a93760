"""G-tests: GeoTIFF ingest (SURVEY §5.2) + codec/affine property tests.

Oracle is analytic: fixture tiles carry a deterministic elevation ramp
(``1000*y + x`` with pinned extremes — FIXTURES.md §B), so every output
row ``(lat, lon, elevation)`` is computable in closed form with numpy.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from aw3d30_parquet_spark.sources.geotiff import (
    REGION_SETS,
    _tile_files,
    in_region,
    parse_tile_key,
    read_tiles,
    tile_key,
    tile_paths,
    tiles_for_set,
)
from aw3d30_parquet_spark.sources.sink import existing_tiles, ingest_tiles, write_tiles
from aw3d30_parquet_spark.sources.tiff import (
    decode_geotiff,
    encode_geotiff,
    flatten_raster,
)

SIZE = 64  # 64×64 fixture tiles (FIXTURES.md §B), not 3600² — speed


def _fixture_band() -> np.ndarray:
    band = (1000 * np.arange(SIZE)[:, None] + np.arange(SIZE)[None, :]).astype(np.int32)
    band[0, 0] = -9999  # pinned extremes: void value and a high peak
    band[SIZE - 1, SIZE - 1] = 8848
    return band


def _gt(lat: int, lon: int):
    # north-up 1° tile scaled to SIZE px; gt3 is the tile's top edge
    return (float(lon), 1.0 / SIZE, 0.0, float(lat + 1), 0.0, -1.0 / SIZE)


def _write_fixture_tiles(tif_dir, coords):
    band = _fixture_band()
    for lat, lon in coords:
        path = os.path.join(tif_dir, f"{tile_key(lat, lon)}.tif")
        with open(path, "wb") as f:
            f.write(encode_geotiff(band, _gt(lat, lon)))


FIXTURE_COORDS = [(51, 4), (52, 5), (-10, -60), (0, 0)]


@pytest.fixture(scope="module")
def tif_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("tiles")
    _write_fixture_tiles(str(d), FIXTURE_COORDS)
    # decoys that must be ignored by pathGlobFilter / key parse
    (d / "README.txt").write_text("not a tile")
    (d / "ALPSMLC30_X051E004_DSM.tif").write_bytes(b"malformed key, bad magic")
    return str(d)


def _run_in_group(spark, group, fn):
    """Run ``fn`` under Spark job group ``group`` → (its result, job ids
    of the group, input bytes summed over those jobs' stages)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    jvm_sc = sc._jsc.sc()
    jvm_sc.listenerBus().waitUntilEmpty()
    store = jvm_sc.statusStore()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    stages = {
        sid for jid in jobs for sid in sc.statusTracker().getJobInfo(jid).stageIds
    }
    return out, jobs, sum(store.lastStageAttempt(sid).inputBytes() for sid in stages)


def _tile_bytes(tif_dir, coords):
    return sum(
        os.path.getsize(os.path.join(tif_dir, f"{tile_key(la, lo)}.tif"))
        for la, lo in coords
    )


# ---------------------------------------------------------------- G1: decode golden


def test_g1_decode_golden(spark, tif_dir):
    """Full analytic check of one decoded tile: every (lat, lon, elevation)."""
    df = read_tiles(spark, tif_dir, "netherlands").filter("tile_lat = 51")
    pdf = df.toPandas().sort_values(["lat", "lon"], ignore_index=True)
    assert len(pdf) == SIZE * SIZE

    band = _fixture_band()
    y, x = np.mgrid[0:SIZE, 0:SIZE]
    exp_lon = 4.0 + x / SIZE
    exp_lat = 52.0 - y / SIZE  # gt3 = lat+1, negative y step
    exp = np.rec.fromarrays(
        [exp_lat.ravel(), exp_lon.ravel(), band.ravel()], names="lat,lon,elevation"
    )
    exp.sort(order=["lat", "lon"])
    np.testing.assert_array_equal(pdf["lat"].to_numpy(), exp.lat)
    np.testing.assert_array_equal(pdf["lon"].to_numpy(), exp.lon)
    np.testing.assert_array_equal(pdf["elevation"].to_numpy(), exp.elevation)
    # pinned extremes: void at (0,0); ramp max at (63,62) since (63,63)=8848
    assert pdf["elevation"].min() == -9999 and pdf["elevation"].max() == 63062


def test_g1_schema_non_null(spark, tif_dir):
    df = read_tiles(spark, tif_dir, "netherlands")
    assert [f.name for f in df.schema.fields] == [
        "tile_lat",
        "tile_lon",
        "lat",
        "lon",
        "elevation",
    ]
    assert df.filter("lat IS NULL OR lon IS NULL OR elevation IS NULL").count() == 0


# ---------------------------------------------------------------- G2: idempotent sink


def test_g2_idempotent_ingest(spark, tif_dir, tmp_path):
    out = str(tmp_path / "points")
    first = ingest_tiles(spark, tif_dir, out, "netherlands")
    assert sorted(first) == [(51, 4), (52, 5)]
    assert existing_tiles(out, spark) == {(51, 4), (52, 5)}

    snapshot = {
        os.path.join(r, f): os.path.getmtime(os.path.join(r, f))
        for r, _, fs in os.walk(out)
        for f in fs
        if f.endswith(".parquet")
    }
    second, jobs, _ = _run_in_group(
        spark, "g2-resume", lambda: ingest_tiles(spark, tif_dir, out, "netherlands")
    )
    assert second == []  # zero new work, mirrors src/main.rs:144-146,171
    assert jobs == []  # the work list is empty before any scan is planned
    after = {
        os.path.join(r, f): os.path.getmtime(os.path.join(r, f))
        for r, _, fs in os.walk(out)
        for f in fs
        if f.endswith(".parquet")
    }
    assert after == snapshot  # no file rewritten
    with pytest.raises(ValueError):  # checked even with no work left
        ingest_tiles(spark, tif_dir, out, "netherlands", on_corrupt="bogus")

    # partition pruning works on the produced layout
    got = spark.read.parquet(out).filter("tile_lat = 51 AND tile_lon = 4")
    assert got.count() == SIZE * SIZE


def test_g2_partial_resume(spark, tif_dir, tmp_path):
    """Pre-existing partition is skipped; only missing tiles are decoded."""
    out = str(tmp_path / "points")
    df = read_tiles(spark, tif_dir, "netherlands").filter("tile_lat = 51")
    write_tiles(df, out)
    assert existing_tiles(out, spark) == {(51, 4)}
    ingested, _, read = _run_in_group(
        spark, "g2-partial", lambda: ingest_tiles(spark, tif_dir, out, "netherlands")
    )
    assert sorted(ingested) == [(52, 5)]
    # only the missing tile's bytes are fetched: neither the done tile nor
    # the out-of-region ones
    assert read == _tile_bytes(tif_dir, [(52, 5)])
    assert spark.read.parquet(out).count() == 2 * SIZE * SIZE


@pytest.mark.parametrize("name", ["tiles a%41b", "tiles[1]{a}"])
def test_g2_escaped_dir_name(spark, tif_dir, tmp_path, name):
    """A tile dir whose name needs percent-encoding in a URI (a space, a
    literal ``%41``) or holds Hadoop glob characters ingests, resumes and
    reads like a plain one."""
    import shutil

    odd = tmp_path / name
    shutil.copytree(tif_dir, odd)
    out_plain, out_odd = str(tmp_path / "plain"), str(tmp_path / "odd")
    assert sorted(ingest_tiles(spark, tif_dir, out_plain, "netherlands")) == [
        (51, 4), (52, 5)
    ]
    assert sorted(ingest_tiles(spark, str(odd), out_odd, "netherlands")) == [
        (51, 4), (52, 5)
    ]
    assert ingest_tiles(spark, str(odd), out_odd, "netherlands") == []
    written = spark.read.parquet(out_odd)
    assert written.exceptAll(spark.read.parquet(out_plain)).count() == 0
    assert written.count() == 2 * SIZE * SIZE
    got = read_tiles(spark, str(odd), "netherlands")
    assert got.exceptAll(read_tiles(spark, tif_dir, "netherlands")).count() == 0
    assert got.count() == 2 * SIZE * SIZE


# ---------------------------------------------------------------- G3: region filter


def test_g3_region_filter(spark, tif_dir):
    """Netherlands predicate keeps exactly the 2 in-region fixture tiles,
    and prunes at the listing: the out-of-region tiles and the
    malformed-key decoy are never fetched."""
    df = read_tiles(spark, tif_dir, "netherlands").select("tile_lat", "tile_lon")
    tiles, _, read = _run_in_group(spark, "g3-region", df.distinct().collect)
    assert sorted((r.tile_lat, r.tile_lon) for r in tiles) == [(51, 4), (52, 5)]
    assert read == _tile_bytes(tif_dir, [(51, 4), (52, 5)])


def test_g3_world_reads_all_valid(spark, tif_dir):
    tiles = (
        read_tiles(spark, tif_dir, "world").select("tile_lat", "tile_lon").distinct().collect()
    )
    assert sorted((r.tile_lat, r.tile_lon) for r in tiles) == sorted(FIXTURE_COORDS)


def test_region_set_semantics():
    """Transliteration check against Set::filter (src/main.rs:68-88)."""
    assert in_region("netherlands", 51, 4) and not in_region("netherlands", 51, 8)
    assert in_region("france", 45, -6) and in_region("france", 45, 9)
    assert not in_region("france", 45, -7) and not in_region("france", 41, 0)
    assert in_region("europe", 23, -25) and in_region("europe", 80, 49)
    assert not in_region("europe", 22, 0) and not in_region("europe", 50, 50)
    assert in_region("world", -90, -180)
    # netherlands = 4 lats × 5 lons
    assert len(tiles_for_set("netherlands")) == 20
    assert all(in_region("netherlands", la, lo) for la, lo in tiles_for_set("netherlands"))


def test_g1_chunk_invariance(spark, tif_dir):
    """Result is identical whatever the Arrow chunking: tiny chunk_rows
    forces many batches per tile, must equal the single-batch default."""
    a = read_tiles(spark, tif_dir, "netherlands", chunk_rows=1000)
    b = read_tiles(spark, tif_dir, "netherlands")
    assert a.count() == b.count() == 2 * SIZE * SIZE
    assert a.exceptAll(b).count() == 0


def test_corrupt_tile_policy(spark, tmp_path):
    """on_corrupt='fail' aborts (reference behavior, src/main.rs:337);
    'skip' drops the bad tile and keeps the good ones."""
    d = str(tmp_path / "mixed")
    os.makedirs(d)
    _write_fixture_tiles(d, [(51, 4)])
    # valid key, garbage bytes
    with open(os.path.join(d, f"{tile_key(52, 5)}.tif"), "wb") as f:
        f.write(b"II*\0 not really a tiff")
    with pytest.raises(Exception):
        read_tiles(spark, d, "netherlands", on_corrupt="fail").count()
    good = read_tiles(spark, d, "netherlands", on_corrupt="skip")
    tiles = {(r.tile_lat, r.tile_lon) for r in good.select("tile_lat", "tile_lon").distinct().collect()}
    assert tiles == {(51, 4)}
    with pytest.raises(ValueError):
        read_tiles(spark, d, "netherlands", on_corrupt="bogus")


def test_g2_duckdb_reads_partitioned_sink(spark, tif_dir, tmp_path):
    """Interop: DuckDB consumes the engine's Hive-partitioned output
    (partition columns recovered from the directory layout)."""
    import duckdb

    out = str(tmp_path / "points")
    ingest_tiles(spark, tif_dir, out, "netherlands")
    con = duckdb.connect()
    n, tiles = con.execute(
        f"SELECT count(*), count(DISTINCT tile_lat*1000 + tile_lon) "
        f"FROM read_parquet('{out}/*/*/*.parquet', hive_partitioning=true)"
    ).fetchone()
    assert n == 2 * SIZE * SIZE
    assert tiles == 2


def test_g2_observe_metrics(spark, tif_dir, tmp_path, monkeypatch):
    """R8 parity: ingest reports exact row/tile counts, taken from the
    tile-native write's manifest (reference: tracing spans,
    src/main.rs:135,163) or, for a remote output through Spark's writer,
    observed on the executing plan."""
    from aw3d30_parquet_spark.sources import sink

    out = str(tmp_path / "points")
    metrics: dict = {}
    ingest_tiles(spark, tif_dir, out, "netherlands", metrics=metrics)
    assert metrics["rows_written"] == 2 * SIZE * SIZE
    assert metrics["tiles_written"] == 2  # one manifest row per committed file
    assert metrics["skipped_tiles"] == 0
    again: dict = {}
    ingest_tiles(spark, tif_dir, out, "netherlands", metrics=again)
    assert again == {"rows_written": 0, "tiles_written": 0, "skipped_tiles": 2}

    # on_corrupt="skip": a corrupt in-region tile is neither returned nor
    # counted, on the tile-native path and on the Spark-writer path
    d = str(tmp_path / "mixed")
    os.makedirs(d)
    _write_fixture_tiles(d, [(51, 4), (52, 5)])
    with open(os.path.join(d, f"{tile_key(53, 6)}.tif"), "wb") as f:
        f.write(b"II*\0 not really a tiff")
    for branch in ("tile-native", "spark-writer"):
        if branch == "spark-writer":
            monkeypatch.setattr(sink, "_local_dir", lambda _out: None)
        skipped: dict = {}
        got = ingest_tiles(
            spark, d, str(tmp_path / branch), "netherlands",
            metrics=skipped, on_corrupt="skip",
        )
        assert sorted(got) == [(51, 4), (52, 5)], branch
        assert skipped == {
            "rows_written": 2 * SIZE * SIZE, "tiles_written": 2, "skipped_tiles": 0
        }, branch
        assert spark.read.parquet(str(tmp_path / branch)).count() == 2 * SIZE * SIZE


def test_g2_per_tile_commit_survives_failure(spark, tmp_path):
    """A tile that fails late in an ingest keeps every tile committed
    before it, and the resume writes exactly the one missing tile."""
    d = str(tmp_path / "tif")
    os.makedirs(d)
    good = [(50, 3), (51, 4), (52, 5)]
    _write_fixture_tiles(d, good)
    with open(os.path.join(d, f"{tile_key(53, 6)}.tif"), "wb") as f:
        f.write(b"II*\0 not really a tiff")
    out = str(tmp_path / "points")
    # one task for all four tiles: Spark packs files largest first, so the
    # tiny corrupt file is decoded last
    confs = {
        "spark.sql.files.openCostInBytes": "0",
        "spark.sql.files.maxPartitionBytes": str(1 << 30),
        "spark.sql.files.minPartitionNum": "1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        paths = tile_paths(spark, d, "netherlands")
        assert _tile_files(spark, paths).rdd.getNumPartitions() == 1
        with pytest.raises(Exception):
            ingest_tiles(spark, d, out, "netherlands", on_corrupt="fail")
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert existing_tiles(out, spark) == set(good)
    counts = spark.read.parquet(out).groupBy("tile_lat", "tile_lon").count().collect()
    assert {(r.tile_lat, r.tile_lon): r["count"] for r in counts} == {
        t: SIZE * SIZE for t in good
    }

    _write_fixture_tiles(d, [(53, 6)])  # fix the bytes in place
    assert ingest_tiles(spark, d, out, "netherlands") == [(53, 6)]
    clean = str(tmp_path / "clean")
    ingest_tiles(spark, d, clean, "netherlands")
    got, want = spark.read.parquet(out), spark.read.parquet(clean)
    assert got.count() == want.count() == 4 * SIZE * SIZE
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_g2_tile_write_retry_safe(spark, tif_dir, tmp_path, monkeypatch):
    """Two attempts of the write kernel on the same tile leave one file;
    a crashed attempt's dot-temp file is invisible to every reader."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aw3d30_parquet_spark.sources.sink import _write_tile_partition, compact_tiles

    path = os.path.join(tif_dir, f"{tile_key(51, 4)}.tif")
    with open(path, "rb") as f:
        batch = pa.record_batch(
            [pa.array([path]), pa.array([f.read()], pa.binary())],
            names=["path", "content"],
        )
    out = str(tmp_path / "points")
    staged = []  # the kernel's temp names, as it renames them
    real_replace = os.replace

    def recording_replace(src, dst):
        staged.append(src)
        real_replace(src, dst)

    with monkeypatch.context() as patch:
        patch.setattr(os, "replace", recording_replace)
        for _attempt in range(2):
            manifest = list(_write_tile_partition([batch], out, 1000, "fail"))
            assert [m.to_pylist() for m in manifest] == [
                [{"tile_lat": 51, "tile_lon": 4, "rows": SIZE * SIZE}]
            ]
    tile_dir = os.path.join(out, "tile_lat=51", "tile_lon=4")
    files = os.listdir(tile_dir)
    assert len(files) == 1 and files[0].endswith(".parquet")
    assert pq.read_metadata(os.path.join(tile_dir, files[0])).num_rows == SIZE * SIZE

    # a crashed attempt's torn temp file, beside the committed one and
    # alone in a tile dir
    leftover = os.path.basename(staged[0])
    for d in (tile_dir, os.path.join(out, "tile_lat=52", "tile_lon=5")):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, leftover), "wb") as f:
            f.write(b"PAR1 torn write")
    assert existing_tiles(out, spark) == {(51, 4)}
    assert compact_tiles(spark, out) == {
        "compacted_tiles": 0, "files_before": 1, "files_after": 1
    }
    assert spark.read.parquet(out).count() == SIZE * SIZE


@pytest.mark.parametrize("set_name", ["europe", "world"])
def test_g2_tile_native_rows_match_decode(spark, tmp_path, set_name):
    """The tile-native write stores exactly the decoded point rows, with
    the reference's REQUIRED Parquet schema (src/main.rs:273-293)."""
    import glob

    import pyarrow.parquet as pq

    coords = FIXTURE_COORDS + [(45, -6), (60, 20)]
    d = str(tmp_path / "tif")
    os.makedirs(d)
    _write_fixture_tiles(d, coords)
    out = str(tmp_path / "points")
    expected = sorted(c for c in coords if in_region(set_name, *c))
    assert sorted(ingest_tiles(spark, d, out, set_name)) == expected

    cols = ["tile_lat", "tile_lon", "lat", "lon", "elevation"]
    written = spark.read.parquet(out).select(*cols)
    decoded = read_tiles(spark, d, set_name).select(*cols)
    assert written.exceptAll(decoded).count() == 0
    assert decoded.exceptAll(written).count() == 0
    files = glob.glob(os.path.join(out, "*", "*", "*.parquet"))
    assert len(files) == len(expected)
    for f in files:
        assert [(x.name, str(x.type), x.nullable) for x in pq.read_schema(f)] == [
            ("lat", "double", False),
            ("lon", "double", False),
            ("elevation", "int32", False),
        ]


# ---------------------------------------------------------------- g01 contract


def test_g01_ingest_oracle(spark, duck_t2):
    """Driver-contract ingest query hash-matches its constant oracle."""
    from aw3d30_parquet_spark.oracle import compare
    from aw3d30_parquet_spark.sources import demo

    df = demo.g01_geotiff_ingest(spark, "/root/testdata/sf0.01")
    ok, h1, h2 = compare(df, duck_t2, demo.ORACLE_SQL["g01_geotiff_ingest"])
    assert ok, (h1, h2)


def test_demo_dirs_are_not_hidden():
    """Spark treats a root path whose leaf name starts with "." or "_"
    as hidden and logs "All paths were ignored" on every listing of it;
    no demo fixture dir may have such a leaf."""
    from aw3d30_parquet_spark.sources import demo

    dirs = [demo._DEMO_DIR, demo._MOSAIC_DIR, demo._TILED_DIR, demo._GRID_DIR, demo._MIXED_DIR]
    assert len(set(dirs)) == 5
    for d in dirs:
        assert not os.path.basename(d).startswith((".", "_")), d


def test_g12_tiled_lzw_ingest_oracle(spark, duck_t2):
    """The tiled+LZW+predictor-2 ingest query (g12) hash-matches the
    same closed-form ramp aggregates as g01 — the driver-contract
    witness that the fallback codec's tiled/LZW path is end-to-end
    correct inside the Spark pipeline."""
    from aw3d30_parquet_spark.oracle import compare
    from aw3d30_parquet_spark.sources import demo

    df = demo.g12_tiled_lzw_ingest(spark, "/root/testdata/sf0.01")
    ok, h1, h2 = compare(df, duck_t2, demo.ORACLE_SQL["g12_tiled_lzw_ingest"])
    assert ok, (h1, h2)


def test_g02_spatial_box_oracle(spark, duck_t2):
    from aw3d30_parquet_spark.oracle import compare
    from aw3d30_parquet_spark.sources import demo

    df = demo.g02_spatial_box(spark, "/root/testdata/sf0.01")
    ok, h1, h2 = compare(df, duck_t2, demo.ORACLE_SQL["g02_spatial_box"])
    assert ok, (h1, h2)


def test_g5_full_size_tile(spark, tmp_path):
    """A real AW3D30-sized tile (3600², 12.96M rows ≈ 52 MB file)
    decodes through chunked Arrow batches; count and sum are analytic."""
    d = str(tmp_path / "big")
    os.makedirs(d)
    band = (np.arange(3600 * 3600, dtype=np.int64) % 8848).astype(np.int32)
    gt = (4.0, 1 / 3600, 0.0, 52.0, 0.0, -1 / 3600)
    with open(os.path.join(d, f"{tile_key(51, 4)}.tif"), "wb") as f:
        f.write(encode_geotiff(band.reshape(3600, 3600), gt))
    from pyspark.sql import functions as F

    df = read_tiles(spark, d, "netherlands")
    row = df.groupBy().agg(
        F.count("*").alias("n"), F.sum("elevation").alias("s")
    ).collect()[0]
    assert row.n == 3600 * 3600
    assert row.s == int(band.astype(np.int64).sum())


def test_g2_partition_pruning_on_sink(spark, tif_dir, tmp_path):
    """Queries over the partitioned output prune at the directory level
    (PartitionFilters in the scan, not post-scan filters)."""
    from aw3d30_parquet_spark.plans import formatted_plan

    out = str(tmp_path / "points")
    ingest_tiles(spark, tif_dir, out, "netherlands")
    q = spark.read.parquet(out).filter("tile_lat = 51 AND tile_lon = 4")
    plan = formatted_plan(q)
    assert "PartitionFilters" in plan
    assert "(tile_lat#" in plan.split("PartitionFilters", 1)[1][:200]


# ---------------------------------------------------------------- property tests


@given(lat=st.integers(-90, 89), lon=st.integers(-180, 179))
def test_key_codec_roundtrip(lat, lon):
    assert parse_tile_key(tile_key(lat, lon)) == (lat, lon)


@given(st.text(min_size=0, max_size=40))
def test_key_parse_rejects_garbage(s):
    got = parse_tile_key(s)
    if got is not None:  # anything accepted must be a valid in-range tile
        la, lo = got
        assert -90 <= la <= 90 and -180 <= lo <= 180


@pytest.mark.parametrize(
    "bad",
    ["ALPSMLC30_X051E004_DSM", "ALPSMLC30_N51E004_DSM", "ALPSMLC30_N051E004", "N051E004"],
)
def test_key_parse_rejects_malformed(bad):
    assert parse_tile_key(bad) is None


@settings(deadline=None, max_examples=25)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    lat=st.integers(-90, 89),
    lon=st.integers(-180, 179),
    seed=st.integers(0, 2**31 - 1),
)
def test_tiff_roundtrip_and_affine_inverse(h, w, lat, lon, seed):
    rng = np.random.default_rng(seed)
    band = rng.integers(-(2**31), 2**31 - 1, size=(h, w), dtype=np.int32)
    gt = _gt(lat, lon)
    got_band, got_gt = decode_geotiff(encode_geotiff(band, gt))
    np.testing.assert_array_equal(band, got_band)
    assert np.allclose(got_gt, gt)
    # forward affine then inverse recovers integer pixel indices exactly
    lats, lons, elevs = (np.concatenate(c) for c in zip(*flatten_raster(band, gt, 128)))
    x_back = np.rint((lons - gt[0]) / gt[1]).astype(int)
    y_back = np.rint((lats - gt[3]) / gt[5]).astype(int)
    np.testing.assert_array_equal(elevs, band[y_back, x_back])
    np.testing.assert_array_equal(y_back, np.repeat(np.arange(h), w))
    np.testing.assert_array_equal(x_back, np.tile(np.arange(w), h))


# ------------------------------------------------- DEFLATE codec (real tiles)


def test_deflate_decodes_byte_identical():
    """A DEFLATE-compressed tile (Compression=8, what GDAL writes for
    real AW3D30) decodes to exactly the same raster + geotransform as
    its uncompressed twin — mirrors reference src/main.rs:172-180
    reading real tiles."""
    band, gt = _fixture_band(), _gt(51, 4)
    plain = decode_geotiff(encode_geotiff(band, gt))
    deflated = decode_geotiff(encode_geotiff(band, gt, compression="deflate"))
    np.testing.assert_array_equal(plain[0], deflated[0])
    assert plain[1] == deflated[1]
    # and the compressed encoding is actually smaller (it really deflated)
    assert len(encode_geotiff(band, gt, compression="deflate")) < len(
        encode_geotiff(band, gt)
    )


def test_deflate_predictor_and_multistrip():
    """DEFLATE + horizontal differencing (Predictor=2) + multi-strip —
    the full GDAL AW3D30 layout — round-trips byte-identically."""
    band, gt = _fixture_band(), _gt(0, 0)
    data = encode_geotiff(
        band, gt, compression="deflate", predictor=2, rows_per_strip=7
    )
    out, ogt = decode_geotiff(data)
    np.testing.assert_array_equal(out, band)
    assert ogt == gt


def test_multistrip_uncompressed_roundtrip():
    band, gt = _fixture_band(), _gt(52, 5)
    out, ogt = decode_geotiff(encode_geotiff(band, gt, rows_per_strip=13))
    np.testing.assert_array_equal(out, band)
    assert ogt == gt


def test_negative_elevations_survive_predictor():
    """Predictor deltas use wraparound arithmetic; deep negative voids
    (-9999) next to peaks must reconstruct exactly."""
    band = _fixture_band()
    band[5, :] = -9999
    band[6, :] = 8848
    out, _ = decode_geotiff(
        encode_geotiff(band, _gt(51, 4), compression="deflate", predictor=2)
    )
    np.testing.assert_array_equal(out, band)


# ------------------------------------------------------- g03 slope layer


def test_gradient_kernel_values(spark, tif_dir):
    """Per-cell gradients of the fixture ramp: dz/dx ≡ 1 (+ the two
    pinned-extreme cells' neighborhoods), dz/dy ≡ 1000 — spot-check via
    the non-extreme interior."""
    import numpy as np

    from aw3d30_parquet_spark.sources.geotiff import read_tile_gradients

    g = read_tile_gradients(spark, tif_dir, "netherlands").toPandas()
    assert len(g) == 2 * SIZE * SIZE  # two netherlands fixture tiles
    # interior far from the pinned extremes: exact constants
    mid = g[(g["lat"] % 1 > 0.3) & (g["lat"] % 1 < 0.7)]
    assert np.allclose(mid["dzdx"], 1.0)
    assert np.allclose(mid["dzdy"], 1000.0)


def test_g03_oracle_closed_form(spark, duck_t2):
    from aw3d30_parquet_spark.oracle import compare
    from aw3d30_parquet_spark.sources import demo

    df = demo.g03_slope_stats(spark, "/root/testdata/sf0.01")
    ok, h1, h2 = compare(df, duck_t2, demo.ORACLE_SQL["g03_slope_stats"])
    assert ok, (h1, h2)


def test_gradient_scan_shuffle_free(spark, tif_dir):
    from aw3d30_parquet_spark.plans import formatted_plan
    from aw3d30_parquet_spark.sources.geotiff import read_tile_gradients

    plan = formatted_plan(read_tile_gradients(spark, tif_dir, "netherlands"))
    assert "Exchange" not in plan
    assert "mapinpandas" in plan.lower()


# ------------------------------------------------- streaming tile ingest


def test_stream_ingest_exactly_once(spark, tmp_path):
    """File-arrival streaming ingest: drain the directory, then drop a
    new tile and resume from the checkpoint — only the new tile's rows
    are appended (exactly-once via the stream checkpoint, the
    transactional upgrade of the reference's skip-if-exists)."""
    from aw3d30_parquet_spark.sources.sink import stream_ingest_tiles

    tif = tmp_path / "tiles"
    tif.mkdir()
    _write_fixture_tiles(str(tif), [(51, 4)])
    out = str(tmp_path / "pts")
    ckpt = str(tmp_path / "ckpt")

    q = stream_ingest_tiles(spark, str(tif), out, ckpt, "netherlands")
    q.awaitTermination()
    assert spark.read.parquet(out).count() == SIZE * SIZE

    # second tile arrives; restart drains ONLY the new file
    _write_fixture_tiles(str(tif), [(52, 5)])
    q = stream_ingest_tiles(spark, str(tif), out, ckpt, "netherlands")
    q.awaitTermination()
    df = spark.read.parquet(out)
    assert df.count() == 2 * SIZE * SIZE
    assert {tuple(r) for r in df.select("tile_lat", "tile_lon").distinct().collect()} == {
        (51, 4),
        (52, 5),
    }

    # idempotent no-op restart: nothing new, nothing re-emitted
    q = stream_ingest_tiles(spark, str(tif), out, ckpt, "netherlands")
    q.awaitTermination()
    assert spark.read.parquet(out).count() == 2 * SIZE * SIZE


@pytest.mark.parametrize("which", ["ingest", "rollup"])
def test_stream_rejects_bad_on_corrupt(spark, tif_dir, tmp_path, which):
    """Both streaming tile sinks reject an unknown ``on_corrupt`` before
    any query starts."""
    from aw3d30_parquet_spark.sources.sink import stream_ingest_tiles, stream_tile_rollup

    start = stream_ingest_tiles if which == "ingest" else stream_tile_rollup
    with pytest.raises(ValueError, match="on_corrupt"):
        start(
            spark, tif_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"),
            "netherlands", on_corrupt="bogus",
        )
    assert spark.streams.active == []


# ------------------------------------------------------- sink compaction


def test_compact_tiles_merges_fragments(spark, tif_dir, tmp_path):
    """Fragmented tile partitions (one file per streaming micro-batch /
    Arrow chunk) compact to one file each; rows and values unchanged;
    untouched single-file partitions are not rewritten."""
    import duckdb

    from aw3d30_parquet_spark.sources.sink import compact_tiles, write_tiles

    out = str(tmp_path / "pts")
    # fragment tile (51,4) by writing it in 3 chunked appends
    pts = read_tiles(spark, tif_dir, "netherlands")
    t51 = pts.filter("tile_lat = 51")
    for i in range(3):
        write_tiles(t51.filter(f"pmod(elevation, 3) = {i}"), out)
    write_tiles(pts.filter("tile_lat = 52"), out)  # single clean write

    def rows_and_sum():
        return duckdb.sql(
            f"SELECT count(*), sum(elevation), count(DISTINCT tile_lat) "
            f"FROM read_parquet('{out}/*/*/*.parquet')"
        ).fetchone()

    before = rows_and_sum()
    import glob

    frag_files = glob.glob(f"{out}/tile_lat=51/tile_lon=4/*.parquet")
    assert len(frag_files) >= 3
    clean_files_before = set(glob.glob(f"{out}/tile_lat=52/*/*.parquet"))

    stats = compact_tiles(spark, out, target_rows_per_file=1_000_000)
    assert stats["compacted_tiles"] >= 1
    assert stats["files_after"] < stats["files_before"]
    assert len(glob.glob(f"{out}/tile_lat=51/tile_lon=4/*.parquet")) == 1
    # values identical after compaction
    assert rows_and_sum() == before
    # clean partition untouched (same physical files)
    assert set(glob.glob(f"{out}/tile_lat=52/*/*.parquet")) == clean_files_before

    # idempotent: second run is a no-op
    stats2 = compact_tiles(spark, out)
    assert stats2["compacted_tiles"] == 0


# ------------------------------------------------- continuous tile rollup


def test_stream_tile_rollup_incremental(spark, tmp_path):
    """The continuous per-tile aggregate equals a batch recompute after
    each incremental arrival, and later batches only touch the new
    tiles' partitions."""
    from pyspark.sql import functions as F

    from aw3d30_parquet_spark.sources.sink import (
        stream_tile_rollup,
        tile_rollup_read,
    )

    tif = tmp_path / "tiles"
    tif.mkdir()
    _write_fixture_tiles(str(tif), [(51, 4)])
    roll = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    q = stream_tile_rollup(spark, str(tif), roll, ckpt, "netherlands")
    q.awaitTermination()
    got1 = {
        (r.tile_lat, r.tile_lon): (r.n_points, r.sum_elev, r.min_elev, r.max_elev)
        for r in spark.read.parquet(roll).collect()
    }
    band = _fixture_band()
    want_tile = (
        SIZE * SIZE,
        int(band.sum()),
        int(band.min()),
        int(band.max()),
    )
    assert got1 == {(51, 4): want_tile}

    # the second tile arrives; rollup gains one row, first row unchanged
    _write_fixture_tiles(str(tif), [(52, 5)])
    q = stream_tile_rollup(spark, str(tif), roll, ckpt, "netherlands")
    q.awaitTermination()
    got2 = {
        (r.tile_lat, r.tile_lon): (r.n_points, r.sum_elev, r.min_elev, r.max_elev)
        for r in spark.read.parquet(roll).collect()
    }
    assert got2 == {(51, 4): want_tile, (52, 5): want_tile}
    # derived mean on the read view
    means = {
        (r.tile_lat, r.tile_lon): r.mean_elev
        for r in tile_rollup_read(spark, roll).collect()
    }
    assert abs(means[(51, 4)] - band.mean()) < 1e-9


def test_stream_tile_rollup_same_lat_band(spark, tmp_path):
    """Regression: a later batch in the SAME lat band must not lose the
    band's earlier tiles — the dynamic overwrite swaps whole tile_lat
    partitions, so prior rows of every affected band ride along."""
    from aw3d30_parquet_spark.sources.sink import stream_tile_rollup

    tif = tmp_path / "tiles"
    tif.mkdir()
    _write_fixture_tiles(str(tif), [(51, 4)])
    roll = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    q = stream_tile_rollup(spark, str(tif), roll, ckpt, "netherlands")
    q.awaitTermination()

    # second arrival: tile (51, 5) — same tile_lat=51 partition
    _write_fixture_tiles(str(tif), [(51, 5)])
    q = stream_tile_rollup(spark, str(tif), roll, ckpt, "netherlands")
    q.awaitTermination()
    band = _fixture_band()
    want_tile = (SIZE * SIZE, int(band.sum()), int(band.min()), int(band.max()))
    got = {
        (r.tile_lat, r.tile_lon): (r.n_points, r.sum_elev, r.min_elev, r.max_elev)
        for r in spark.read.parquet(roll).collect()
    }
    assert got == {(51, 4): want_tile, (51, 5): want_tile}


@settings(deadline=None, max_examples=25)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
    predictor=st.sampled_from([1, 2]),
    rps=st.integers(1, 41),
)
def test_deflate_roundtrip_property(h, w, seed, predictor, rps):
    """Any int32 raster × any strip height × either predictor survives
    the DEFLATE encode/decode round trip bit-exactly (wraparound deltas
    included — full-range values stress the modular arithmetic)."""
    rng = np.random.default_rng(seed)
    band = rng.integers(-(2**31), 2**31 - 1, size=(h, w), dtype=np.int32)
    gt = _gt(10, 10)
    data = encode_geotiff(
        band, gt, compression="deflate", predictor=predictor, rows_per_strip=rps
    )
    got_band, got_gt = decode_geotiff(data)
    np.testing.assert_array_equal(band, got_band)
    assert np.allclose(got_gt, gt)


# ------------------------------------------- tiled layout + LZW (GDAL parity)
# The reference ingests via GDAL (src/main.rs:172-180), which reads any
# TIFF layout; real-world GeoTIFFs are commonly tiled + LZW + predictor-2.
# These pin the pure-python fallback's coverage of that layout — rasterio
# is absent from this container, so the fallback IS the decode path.


def test_lzw_known_answer_bitstream():
    """Encoder output matches a hand-derived TIFF-LZW bitstream
    (codes [Clear, 7, 258, 8, 8, 7, EOI] for input 7,7,7,8,8,7 at
    9 bits, MSB-first) — pins the code assignment and bit packing
    against the spec, independent of the decoder."""
    from aw3d30_parquet_spark.sources.tiff import _lzw_decode, _lzw_encode

    def pack9(codes):
        acc = nb = 0
        out = bytearray()
        for c in codes:
            acc = (acc << 9) | c
            nb += 9
            while nb >= 8:
                nb -= 8
                out.append((acc >> nb) & 0xFF)
        if nb:
            out.append((acc << (8 - nb)) & 0xFF)
        return bytes(out)

    data = bytes([7, 7, 7, 8, 8, 7])
    expected = pack9([256, 7, 258, 8, 8, 7, 257])
    assert _lzw_encode(data) == expected
    assert _lzw_decode(expected) == data


def test_lzw_roundtrip_width_boundaries():
    """Streams whose final flush lands on and around the 9→10-bit
    early-change boundary (the libtiff phantom-entry case, sizes
    240..270 of incompressible bytes), plus deeper widths and the
    4094-entry table reset, all round-trip exactly."""
    from aw3d30_parquet_spark.sources.tiff import _lzw_decode, _lzw_encode

    rng = np.random.default_rng(0)
    for n in list(range(240, 271)) + [1600, 5000, 40000]:
        raw = rng.bytes(n)
        assert _lzw_decode(_lzw_encode(raw)) == raw, n
    for raw in (b"", b"x", b"a" * 50_000, bytes([1, 2]) * 20_000,
                bytes(range(256)) * 200):
        assert _lzw_decode(_lzw_encode(raw)) == raw, len(raw)


def _naive_lzw_decode(data: bytes) -> bytes:
    """Reference TIFF-LZW decoder: one code at a time, no vectorized
    run extraction — structurally independent of the production
    decoder's fast path, so a refactor of the run/rewind logic that
    breaks width accounting diverges from this instead of silently
    round-tripping."""
    CLEAR, EOI, FIRST = 256, 257, 258
    pos = acc = nbits = 0

    def read(width):
        nonlocal pos, acc, nbits
        while nbits < width:
            if pos >= len(data):
                return EOI
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        return (acc >> nbits) & ((1 << width) - 1)

    out = bytearray()
    table = [bytes([i]) for i in range(256)] + [b"", b""]
    width, prev = 9, b""
    while True:
        code = read(width)
        if code == EOI:
            break
        if code == CLEAR:
            del table[FIRST:]
            width, prev = 9, b""
            continue
        entry = table[code] if code < len(table) else prev + prev[:1]
        out += entry
        if prev:
            table.append(prev + entry[:1])
        if len(table) == (1 << width) - 2 and width < 12:
            width += 1
        prev = entry
    return bytes(out)


def test_lzw_fast_decoder_equals_naive_reference():
    """The production decoder (vectorized fixed-width-run extraction
    with bit-cursor rewinds) must agree byte-for-byte with the naive
    per-code reference on streams crossing every width boundary and
    the table-reset cycle."""
    from aw3d30_parquet_spark.sources.tiff import _lzw_decode, _lzw_encode

    rng = np.random.default_rng(11)
    cases = [rng.bytes(n) for n in (250, 253, 260, 1700, 60_000)]
    cases += [bytes([1, 2, 3]) * 15_000, b"z" * 30_000]
    for raw in cases:
        enc = _lzw_encode(raw)
        assert _naive_lzw_decode(enc) == raw, len(raw)
        assert _lzw_decode(enc) == _naive_lzw_decode(enc), len(raw)


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_lzw_decode_total_on_garbage(data):
    """Totality: arbitrary bytes either decode or raise ValueError —
    never hang, never raise anything else (index errors from table
    lookups, struct errors from width accounting). The codec is the
    first consumer of untrusted tile payloads."""
    from aw3d30_parquet_spark.sources.tiff import _lzw_decode

    try:
        out = _lzw_decode(data)
    except ValueError:
        return
    assert isinstance(out, bytes)


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=400), st.integers(1, 512))
def test_lzw_decode_total_on_garbage_with_expectation(data, expected):
    """Totality with the r10 expected_bytes parameter: arbitrary bytes
    either decode to AT MOST expected_bytes (the early-stop contract —
    never an oversized buffer) or raise ValueError."""
    from aw3d30_parquet_spark.sources.tiff import _lzw_decode

    try:
        out = _lzw_decode(data, expected_bytes=expected)
    except ValueError:
        return
    assert isinstance(out, bytes) and len(out) <= expected


def test_lzw_truncated_stream_raises_at_codec_layer():
    """A stream cut short of its EOI code must raise ValueError in the
    decoder itself — not decode to a short buffer that later fails in
    np.frombuffer/reshape with a misleading shape error (TIFF 6.0 §13
    requires EOI to terminate every strip/tile stream)."""
    from aw3d30_parquet_spark.sources.tiff import _lzw_decode, _lzw_encode

    rng = np.random.default_rng(7)
    for n in (40, 300, 5000):
        enc = _lzw_encode(rng.bytes(n))
        for cut in (1, 2, len(enc) // 2):
            with pytest.raises(ValueError, match="truncated LZW"):
                _lzw_decode(enc[: len(enc) - cut])
    # intact streams still decode (EOI present)
    raw = rng.bytes(1000)
    assert _lzw_decode(_lzw_encode(raw)) == raw


@pytest.mark.parametrize("compression", ["none", "deflate", "lzw"])
@pytest.mark.parametrize("predictor", [1, 2])
def test_tiled_layout_roundtrip(compression, predictor):
    """Tiled layout (TIFF 6.0 §15) with non-divisible raster dims:
    edge-tile padding is cropped, predictor differencing resets per
    tile row, every codec round-trips bit-exactly."""
    band, gt = _fixture_band(), _gt(51, 4)
    band = band[: SIZE - 7, : SIZE - 3]  # force padded edge tiles
    data = encode_geotiff(
        band, gt, compression=compression, predictor=predictor, tile_size=(32, 16)
    )
    out, ogt = decode_geotiff(data)
    np.testing.assert_array_equal(out, band)
    assert ogt == gt


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 70),
    w=st.integers(1, 70),
    seed=st.integers(0, 2**31 - 1),
    predictor=st.sampled_from([1, 2]),
    tw=st.sampled_from([16, 32, 48]),
    tl=st.sampled_from([16, 32]),
)
def test_tiled_roundtrip_property(h, w, seed, predictor, tw, tl):
    """Any int32 raster × any 16-multiple tile grid × either predictor
    survives the tiled LZW encode/decode round trip bit-exactly."""
    rng = np.random.default_rng(seed)
    band = rng.integers(-(2**31), 2**31 - 1, size=(h, w), dtype=np.int32)
    gt = _gt(10, 10)
    data = encode_geotiff(
        band, gt, compression="lzw", predictor=predictor, tile_size=(tw, tl)
    )
    got_band, got_gt = decode_geotiff(data)
    np.testing.assert_array_equal(band, got_band)
    assert np.allclose(got_gt, gt)


def test_tile_dimensions_must_be_multiples_of_16():
    with pytest.raises(ValueError, match="multiples of 16"):
        encode_geotiff(_fixture_band(), _gt(51, 4), tile_size=(20, 16))


def test_tiled_lzw_ingest_end_to_end(spark, tmp_path):
    """The full Spark ingest path (binaryFile scan → mapInPandas decode
    → flatten) reads a tiled+LZW+predictor-2 tile — the common GDAL
    real-world layout — without rasterio, producing exactly the
    closed-form ramp rows the strip-based fixtures produce."""
    from aw3d30_parquet_spark.sources.geotiff import tile_key

    d = tmp_path / "tiled_tiles"
    d.mkdir()
    band, coords = _fixture_band(), [(51, 4), (52, 5)]
    for lat, lon in coords:
        (d / f"{tile_key(lat, lon)}.tif").write_bytes(
            encode_geotiff(
                band, _gt(lat, lon), compression="lzw", predictor=2,
                tile_size=(32, 32),
            )
        )
    rows = read_tiles(spark, str(d), "netherlands").toPandas()
    assert len(rows) == 2 * SIZE * SIZE
    # closed-form check: elevation at integer pixel (x, y) is 1000y + x
    for (lat, lon) in coords:
        sub = rows[(rows.lon >= lon) & (rows.lon < lon + 1)]
        x = np.rint((sub.lon.to_numpy() - lon) * SIZE).astype(int)
        y = np.rint(((lat + 1) - sub.lat.to_numpy()) * SIZE).astype(int)
        np.testing.assert_array_equal(sub.elevation.to_numpy(), band[y, x])


def test_decode_prefers_rasterio_when_present(monkeypatch):
    """Fallback ordering: when rasterio is importable the codec routes
    through it (tiled/exotic layouts come for free); the pure-python
    path is only the no-rasterio fallback."""
    from aw3d30_parquet_spark.sources import tiff as tiff_mod

    sentinel_band = np.full((4, 4), 7, dtype=np.int32)

    class _FakeDS:
        transform = type(
            "T", (), {"a": 1.0, "b": 0.0, "c": 5.0, "d": 0.0, "e": -1.0, "f": 9.0}
        )()

        def read(self, _band):
            return sentinel_band

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    class _FakeMem:
        def __init__(self, _data):
            pass

        def open(self):
            return _FakeDS()

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    fake = type("R", (), {"io": type("IO", (), {"MemoryFile": _FakeMem})})
    monkeypatch.setattr(tiff_mod, "rasterio", fake, raising=False)
    monkeypatch.setattr(tiff_mod, "_HAVE_RASTERIO", True)
    band, gt = tiff_mod.decode_geotiff(b"ignored by the fake")
    np.testing.assert_array_equal(band, sentinel_band)
    assert gt == (5.0, 1.0, 0.0, 9.0, 0.0, -1.0)


def test_g04_overview_oracle(spark, duck_t2):
    from aw3d30_parquet_spark.oracle import compare
    from aw3d30_parquet_spark.sources import demo

    df = demo.g04_overview_downsample(spark, "/root/testdata/sf0.01")
    ok, h1, h2 = compare(df, duck_t2, demo.ORACLE_SQL["g04_overview_downsample"])
    assert ok, (h1, h2)


def test_g05_hillshade_oracle(spark, duck_t2):
    from aw3d30_parquet_spark.oracle import compare
    from aw3d30_parquet_spark.sources import demo

    df = demo.g05_hillshade(spark, "/root/testdata/sf0.01")
    # non-degenerate: the z-scaled ramp shade sits strictly inside (0, 255)
    row = df.collect()[0]
    assert 0.0 < row.mean_shade < 255.0
    ok, h1, h2 = compare(df, duck_t2, demo.ORACLE_SQL["g05_hillshade"])
    assert ok, (h1, h2)


def test_g06_zonal_stats_oracle(spark, duck_t2):
    from aw3d30_parquet_spark.oracle import compare
    from aw3d30_parquet_spark.sources import demo

    df = demo.g06_zonal_stats(spark, "/root/testdata/sf0.01")
    rows = df.collect()
    # quarter-degree zones across two 1° tiles, sharing the boundary
    # zone (tile 51's top edge lands in tile 52's bottom zone): 9 zones
    assert len(rows) == 9
    ok, h1, h2 = compare(df, duck_t2, demo.ORACLE_SQL["g06_zonal_stats"])
    assert ok, (h1, h2)


def test_g07_warp_resample_oracle(spark, duck_t2):
    from aw3d30_parquet_spark.oracle import compare
    from aw3d30_parquet_spark.sources import demo

    df = demo.g07_warp_resample(spark, "/root/testdata/sf0.01")
    rows = {(r.tile_lat, r.tile_lon): r for r in df.collect()}
    assert all(r.cells == demo.WARP_SIZE**2 for r in rows.values())
    ok, h1, h2 = compare(df, duck_t2, demo.ORACLE_SQL["g07_warp_resample"])
    assert ok, (h1, h2)


def test_g08_seamless_gradient_oracle(spark, duck_t2):
    from aw3d30_parquet_spark.oracle import compare
    from aw3d30_parquet_spark.sources import demo

    df = demo.g08_seamless_gradient(spark, "/root/testdata/sf0.01")
    ok, h1, h2 = compare(df, duck_t2, demo.ORACLE_SQL["g08_seamless_gradient"])
    assert ok, (h1, h2)


def test_g08_matches_global_numpy_gradient(spark):
    """Per-CELL equality: the halo-exchange gradient over the 2×2
    mosaic must equal np.gradient of the stitched 128×128 raster —
    seams get central differences, mosaic borders one-sided, exactly
    as if the mosaic were one tile."""
    from aw3d30_parquet_spark.sources import demo
    from aw3d30_parquet_spark.sources.geotiff import (
        read_tile_gradients_seamless,
    )

    demo.ensure_demo_tiles(demo._MOSAIC_DIR, demo.MOSAIC_COORDS)
    got = read_tile_gradients_seamless(
        spark, demo._MOSAIC_DIR, "netherlands"
    ).collect()
    n = demo.DEMO_SIZE
    tile = demo.demo_band().astype(np.float64)
    mosaic = np.block([[tile, tile], [tile, tile]])  # 2×2 stitched
    gy = np.gradient(mosaic, axis=0)
    gx = np.gradient(mosaic, axis=1)
    assert len(got) == 4 * n * n
    for r in got:
        # global pixel indices: row 0 of the mosaic is the NORTH edge
        # (lat 53), tiles are 1°×1° at 1/n° pixels, lat/lon are
        # pixel-corner coordinates (north-up geotransform)
        gx_idx = round((r.lon - 4.0) * n)
        gy_idx = round((53.0 - r.lat) * n)
        assert gx[gy_idx, gx_idx] == r.dzdx, (r, gx[gy_idx, gx_idx])
        assert gy[gy_idx, gx_idx] == r.dzdy, (r, gy[gy_idx, gx_idx])


def test_compact_tiles_zorder_layout(spark, tif_dir, tmp_path):
    """compact_tiles(zorder=True): rewritten tile files hold rows in
    Morton order of the in-tile cell — row-group min/max becomes tight
    on BOTH lat and lon — and values are unchanged."""
    import glob

    import duckdb
    import pyarrow.parquet as pq

    from aw3d30_parquet_spark.sources.sink import compact_tiles, write_tiles

    out = str(tmp_path / "pts")
    pts = read_tiles(spark, tif_dir, "netherlands")
    t51 = pts.filter("tile_lat = 51")
    for i in range(2):
        write_tiles(t51.filter(f"pmod(elevation, 2) = {i}"), out)

    before = duckdb.sql(
        f"SELECT count(*), sum(elevation) FROM read_parquet('{out}/*/*/*.parquet')"
    ).fetchone()
    stats = compact_tiles(spark, out, zorder=True, zorder_bits=12)
    assert stats["compacted_tiles"] == 1
    [f] = glob.glob(f"{out}/tile_lat=51/tile_lon=4/*.parquet")
    tbl = pq.read_table(f, columns=["lat", "lon"])
    lat = tbl["lat"].to_numpy()
    lon = tbl["lon"].to_numpy()

    def morton(y, x, bits=12):
        z = 0
        for i in range(bits):
            z |= ((y >> i) & 1) << (2 * i)
            z |= ((x >> i) & 1) << (2 * i + 1)
        return z

    scale = 1 << 12
    zs = [
        morton(
            min(scale - 1, int((51 + 1 - la) * scale)),
            min(scale - 1, int((lo - 4) * scale)),
        )
        for la, lo in zip(lat, lon)
    ]
    assert zs == sorted(zs)
    after = duckdb.sql(
        f"SELECT count(*), sum(elevation) FROM read_parquet('{out}/*/*/*.parquet')"
    ).fetchone()
    assert after == before


def test_g08_mixed_resolution_halo_resample(spark, tmp_path):
    """Mixed-resolution mosaic (64² west tile, 32² east tile — the
    real-AW3D30 high-latitude width reduction): each receiver's seam
    halo is nearest-neighbor resampled to ITS grid via the
    pixel-center index map, and every cell equals np.gradient of the
    tile stitched with its independently-resampled neighbor column.
    Round 3 raised on this layout; the reference ingests it
    transparently (src/main.rs:172-180)."""
    from aw3d30_parquet_spark.sources.geotiff import (
        read_tile_gradients_seamless,
    )

    na, nb = 64, 32
    yy, xx = np.mgrid[0:na, 0:na]
    band_a = ((3 * yy + 7 * xx) % 251).astype(np.int32)
    yy, xx = np.mgrid[0:nb, 0:nb]
    band_b = ((5 * yy + 11 * xx) % 241).astype(np.int32)
    tdir = str(tmp_path / "mixed")
    os.makedirs(tdir)
    for (lat, lon), band, n in (
        ((52, 4), band_a, na),
        ((52, 5), band_b, nb),
    ):
        gt = (float(lon), 1.0 / n, 0.0, float(lat + 1), 0.0, -1.0 / n)
        with open(os.path.join(tdir, f"{tile_key(lat, lon)}.tif"), "wb") as f:
            f.write(encode_geotiff(band, gt))

    got = read_tile_gradients_seamless(spark, tdir, "netherlands").collect()
    assert len(got) == na * na + nb * nb

    def nn(v, need):
        idx = np.minimum(
            ((np.arange(need) + 0.5) * len(v) / need).astype(np.int64),
            len(v) - 1,
        )
        return v[idx]

    fa, fb = band_a.astype(np.float64), band_b.astype(np.float64)
    # west tile: right halo is B's left column upsampled 32→64
    ga_x = np.gradient(
        np.concatenate([fa, nn(fb[:, 0], na)[:, None]], axis=1), axis=1
    )[:, :na]
    ga_y = np.gradient(fa, axis=0)
    # east tile: left halo is A's right column downsampled 64→32
    gb_x = np.gradient(
        np.concatenate([nn(fa[:, -1], nb)[:, None], fb], axis=1), axis=1
    )[:, 1:]
    gb_y = np.gradient(fb, axis=0)
    for r in got:
        if r.tile_lon == 4:
            x, y = round((r.lon - 4.0) * na), round((53.0 - r.lat) * na)
            assert ga_x[y, x] == r.dzdx, (r, ga_x[y, x])
            assert ga_y[y, x] == r.dzdy
        else:
            x, y = round((r.lon - 5.0) * nb), round((53.0 - r.lat) * nb)
            assert gb_x[y, x] == r.dzdx, (r, gb_x[y, x])
            assert gb_y[y, x] == r.dzdy


def test_mixed_resolution_halo_rejects_offbyone(spark, tmp_path):
    """An off-by-one neighbor edge (63 px against a 64-px tile) is NOT
    a known AW3D30 resolution tier ratio — it is the signature of a
    truncated or mis-exchanged halo, and resampling it would smear the
    corruption into the seam gradients silently. The ingest must fail
    loudly instead (only integer ratios and the 1800:1200 ≡ 3:2 tier
    adjacency are resampled)."""
    from aw3d30_parquet_spark.sources.geotiff import (
        read_tile_gradients_seamless,
    )

    na, nb = 64, 63
    yy, xx = np.mgrid[0:na, 0:na]
    band_a = ((3 * yy + 7 * xx) % 251).astype(np.int32)
    yy, xx = np.mgrid[0:nb, 0:nb]
    band_b = ((5 * yy + 11 * xx) % 241).astype(np.int32)
    tdir = str(tmp_path / "offbyone")
    os.makedirs(tdir)
    for (lat, lon), band, n in (
        ((52, 4), band_a, na),
        ((52, 5), band_b, nb),
    ):
        gt = (float(lon), 1.0 / n, 0.0, float(lat + 1), 0.0, -1.0 / n)
        with open(os.path.join(tdir, f"{tile_key(lat, lon)}.tif"), "wb") as f:
            f.write(encode_geotiff(band, gt))

    with pytest.raises(Exception, match="resolution ratio"):
        read_tile_gradients_seamless(spark, tdir, "netherlands").collect()


def test_mixed_resolution_halo_accepts_tier_adjacency(spark, tmp_path):
    """The 3:2 ratio (real AW3D30's 1800:1200 tier adjacency at 70°N,
    scaled down to 48:32 for the fixture) IS plausible and must
    resample cleanly rather than raise."""
    from aw3d30_parquet_spark.sources.geotiff import (
        read_tile_gradients_seamless,
    )

    na, nb = 48, 32
    yy, xx = np.mgrid[0:na, 0:na]
    band_a = ((3 * yy + 7 * xx) % 251).astype(np.int32)
    yy, xx = np.mgrid[0:nb, 0:nb]
    band_b = ((5 * yy + 11 * xx) % 241).astype(np.int32)
    tdir = str(tmp_path / "tiers")
    os.makedirs(tdir)
    for (lat, lon), band, n in (
        ((52, 4), band_a, na),
        ((52, 5), band_b, nb),
    ):
        gt = (float(lon), 1.0 / n, 0.0, float(lat + 1), 0.0, -1.0 / n)
        with open(os.path.join(tdir, f"{tile_key(lat, lon)}.tif"), "wb") as f:
            f.write(encode_geotiff(band, gt))

    got = read_tile_gradients_seamless(spark, tdir, "netherlands").collect()
    assert len(got) == na * na + nb * nb


def test_lzw_missing_eoi_tolerated_when_output_complete():
    """TIFF 6.0 requires EOI, but some real-world encoders omit it —
    a stream that already produced the full chunk (expected_bytes from
    the IFD) decodes; a genuinely short stream still raises, with or
    without the expectation (ADVICE r9)."""
    from aw3d30_parquet_spark.sources.tiff import _lzw_decode

    def pack9(codes):  # 9-bit big-endian bit packing, no EOI
        acc = nbits = 0
        out = bytearray()
        for c in codes:
            acc = (acc << 9) | c
            nbits += 9
            while nbits >= 8:
                out.append((acc >> (nbits - 8)) & 0xFF)
                nbits -= 8
        if nbits:
            out.append((acc << (8 - nbits)) & 0xFF)
        return bytes(out)

    no_eoi = pack9([256, 65, 66, 67])  # CLEAR 'A' 'B' 'C', no EOI
    # full output produced → missing EOI is a padding quirk
    assert _lzw_decode(no_eoi, expected_bytes=3) == b"ABC"
    # trailing byte padding after the last code must NOT decode into
    # spurious bytes (padding zeros parse as code 0 → b"\x00"): the
    # decoder stops the moment expected_bytes is reached, so the
    # output is exactly the chunk — never an oversized buffer that
    # breaks np.frombuffer downstream
    assert _lzw_decode(no_eoi + b"\x00\x00", expected_bytes=3) == b"ABC"
    # no expectation → strict spec behavior, codec-layer error
    with pytest.raises(ValueError, match="truncated LZW"):
        _lzw_decode(no_eoi)
    # short output → truncation even with the expectation
    with pytest.raises(ValueError, match="truncated LZW"):
        _lzw_decode(no_eoi, expected_bytes=4)

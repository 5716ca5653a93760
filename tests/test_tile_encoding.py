"""The tile encoding rule (``sink.TILE_ENCODING``): every tile writer
stores ``elevation`` as DELTA_BINARY_PACKED with no dictionary and keeps
dictionary-encoded ``lat``/``lon``, the written rows do not change, and
files of the old all-dictionary layout read back beside the new ones.
"""

from __future__ import annotations

import glob
import hashlib
import os

import numpy as np
import pytest

from aw3d30_parquet_spark.sources import sink
from aw3d30_parquet_spark.sources.geotiff import in_region, read_tiles, tile_key
from aw3d30_parquet_spark.sources.sink import (
    compact_tiles,
    ingest_tiles,
    stream_ingest_tiles,
    write_tiles,
)
from aw3d30_parquet_spark.sources.tiff import encode_geotiff
from tests.test_geotiff import FIXTURE_COORDS, SIZE, _gt, _write_fixture_tiles

COLS = ["tile_lat", "tile_lon", "lat", "lon", "elevation"]
DICTIONARY = {"PLAIN_DICTIONARY", "RLE_DICTIONARY"}

#: Six tiles: two in the Netherlands, two more in Europe, two outside it.
SEEDED_COORDS = FIXTURE_COORDS + [(45, -6), (60, 20)]

#: sha256 of the sorted rows an ingest of :func:`_write_seeded_tiles`
#: wrote before the encoding rule, when every column was
#: dictionary-encoded (see :func:`_rows_digest`).
ROWS_DIGEST = {
    "europe": "57476c5dd5c22412aa3a851212e823f6abe1a2f2ed503b642a9bd6096c0798a3",
    "world": "70a19e43dc4f97eafce180bfb3c39adbead5e82d4b2a5fd19f4952f727bb68a7",
}


def _terrain(rng: np.random.Generator, size: int) -> np.ndarray:
    """Seeded int32 random-walk surface in metres, the shape of a DEM."""
    steps = rng.integers(-2, 3, size=(size, size), dtype=np.int32)
    surface = np.cumsum(np.cumsum(steps, axis=0, dtype=np.int64), axis=1)
    return (surface // 2 + 1500).astype(np.int32)


def _write_seeded_tiles(tif_dir: str, coords=SEEDED_COORDS) -> None:
    """DEFLATE, Predictor=2, one row per strip: GDAL's AW3D30 layout."""
    rng = np.random.default_rng(14)
    for lat, lon in coords:
        data = encode_geotiff(
            _terrain(rng, SIZE), _gt(lat, lon),
            compression="deflate", predictor=2, rows_per_strip=1,
        )
        with open(os.path.join(tif_dir, f"{tile_key(lat, lon)}.tif"), "wb") as f:
            f.write(data)


def _rows_digest(cols: dict) -> str:
    """sha256 over the point rows sorted by (tile, lat, lon), column by
    column at the schema's widths; rows are unique by that key."""
    arrays = [
        np.asarray(cols[c]).astype(t)
        for c, t in zip(COLS, ("int32", "int32", "float64", "float64", "int32"))
    ]
    order = np.lexsort(arrays[3::-1])
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.ascontiguousarray(a[order]).tobytes())
    return h.hexdigest()


def _digests(spark, out: str) -> dict[str, str]:
    """The rows of the tree at ``out`` as Spark, DuckDB and pyarrow read
    them."""
    import duckdb
    import pyarrow.dataset as ds

    spark_pdf = spark.read.parquet(out).select(*COLS).toPandas()
    duck = duckdb.connect().execute(
        f"SELECT {', '.join(COLS)} FROM "
        f"read_parquet('{out}/*/*/*.parquet', hive_partitioning=true)"
    ).df()
    arrow = ds.dataset(out, format="parquet", partitioning="hive").to_table()
    return {
        "spark": _rows_digest(spark_pdf),
        "duckdb": _rows_digest(duck),
        "pyarrow": _rows_digest(arrow.to_pydict()),
    }


def _tile_files(out: str) -> list[str]:
    return sorted(glob.glob(os.path.join(out, "tile_lat=*", "tile_lon=*", "*.parquet")))


def _encodings(path: str) -> list[dict[str, set[str]]]:
    """Per row group: column name → the encodings its pages use."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    return [
        {
            md.row_group(i).column(j).path_in_schema: set(md.row_group(i).column(j).encodings)
            for j in range(md.num_columns)
        }
        for i in range(md.num_row_groups)
    ]


def _assert_tile_encoding(out: str) -> None:
    files = _tile_files(out)
    assert files, out
    for f in files:
        for cols in _encodings(f):
            assert "DELTA_BINARY_PACKED" in cols["elevation"], (f, cols)
            assert not cols["elevation"] & DICTIONARY, (f, cols)
            assert cols["lat"] & DICTIONARY and cols["lon"] & DICTIONARY, (f, cols)


@pytest.fixture(scope="module")
def seeded_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("seeded")
    _write_seeded_tiles(str(d))
    return str(d)


# ------------------------------------------------------------ every tile writer


def test_kernel_writes_delta_elevation(spark, seeded_dir, tmp_path):
    out = str(tmp_path / "points")
    assert sorted(ingest_tiles(spark, seeded_dir, out, "europe")) == sorted(
        c for c in SEEDED_COORDS if in_region("europe", *c)
    )
    _assert_tile_encoding(out)


def test_spark_writer_writes_delta_elevation(spark, seeded_dir, tmp_path, monkeypatch):
    """``write_tiles``, the remote-output branch of ``ingest_tiles``."""
    monkeypatch.setattr(sink, "_local_dir", lambda _out: None)
    out = str(tmp_path / "points")
    ingest_tiles(spark, seeded_dir, out, "netherlands")
    _assert_tile_encoding(out)
    assert spark.read.parquet(out).count() == 2 * SIZE * SIZE


@pytest.mark.parametrize("zorder", [False, True])
def test_compaction_writes_delta_elevation(spark, seeded_dir, tmp_path, zorder):
    """A fragmented tree compacts to one delta-encoded file per tile,
    with the same rows. In raster order it does not grow; Morton order
    breaks the raster's row runs, so a z-ordered tile may."""
    out = str(tmp_path / "points")
    points = read_tiles(spark, seeded_dir, "netherlands")
    for half in ("lat < tile_lat + 0.5", "lat >= tile_lat + 0.5"):
        write_tiles(points.filter(half), out)
    before = sum(os.path.getsize(f) for f in _tile_files(out))
    stats = compact_tiles(spark, out, zorder=zorder)
    assert stats["compacted_tiles"] == 2 and stats["files_after"] == 2
    _assert_tile_encoding(out)
    after = sum(os.path.getsize(f) for f in _tile_files(out))
    assert zorder or after <= before
    written = spark.read.parquet(out).select(*COLS)
    decoded = points.select(*COLS)
    assert written.exceptAll(decoded).count() == 0
    assert decoded.exceptAll(written).count() == 0


def test_stream_sink_writes_delta_elevation(spark, seeded_dir, tmp_path):
    out = str(tmp_path / "points")
    q = stream_ingest_tiles(
        spark, seeded_dir, out, str(tmp_path / "ckpt"), "netherlands"
    )
    q.awaitTermination()
    _assert_tile_encoding(out)
    assert spark.read.parquet(out).count() == 2 * SIZE * SIZE
    # the writer settings were the sink's alone, not left on the session
    assert spark.conf.get("parquet.writer.version", None) is None


# ------------------------------------------------------------ rows and size


@pytest.mark.parametrize("set_name", ["europe", "world"])
def test_rows_match_dictionary_layout(spark, seeded_dir, tmp_path, set_name):
    """The ingest writes the same rows as the all-dictionary layout did,
    and Spark, DuckDB and pyarrow all read exactly those rows."""
    out = str(tmp_path / "points")
    ingest_tiles(spark, seeded_dir, out, set_name)
    assert _digests(spark, out) == dict.fromkeys(
        ("spark", "duckdb", "pyarrow"), ROWS_DIGEST[set_name]
    )


@pytest.mark.parametrize("tiles", ["ramp", "terrain"])
def test_delta_file_not_larger_than_dictionary(spark, tmp_path, tiles):
    """Each tile file is no larger than the same rows written with
    pyarrow's default (all-dictionary) encoding."""
    import pyarrow.parquet as pq

    tif = str(tmp_path / "tif")
    os.makedirs(tif)
    if tiles == "ramp":
        _write_fixture_tiles(tif, [(51, 4), (52, 5)])
    else:
        _write_seeded_tiles(tif, [(51, 4)])
    out = str(tmp_path / "points")
    ingest_tiles(spark, tif, out, "netherlands")
    for f in _tile_files(out):
        dictionary = str(tmp_path / "dictionary.parquet")
        pq.write_table(
            pq.read_table(f, partitioning=None), dictionary, compression="snappy"
        )
        assert os.path.getsize(f) <= os.path.getsize(dictionary), f


def test_resume_over_dictionary_tree(spark, seeded_dir, tmp_path):
    """A resume over a tree written with the old all-dictionary encoding
    adds delta-encoded tiles, and the mixed tree reads back as one table
    with the rows of a fresh ingest."""
    import pyarrow.parquet as pq

    fresh = str(tmp_path / "fresh")
    ingest_tiles(spark, seeded_dir, fresh, "world")
    mixed = str(tmp_path / "mixed")
    old = [(51, 4), (-10, -60)]
    for lat, lon in old:
        part = os.path.join(f"tile_lat={lat}", f"tile_lon={lon}")
        (name,) = os.listdir(os.path.join(fresh, part))
        os.makedirs(os.path.join(mixed, part))
        pq.write_table(
            pq.read_table(os.path.join(fresh, part, name), partitioning=None),
            os.path.join(mixed, part, name), compression="snappy",
        )
    assert sorted(ingest_tiles(spark, seeded_dir, mixed, "world")) == sorted(
        set(SEEDED_COORDS) - set(old)
    )
    layouts = {
        "DELTA_BINARY_PACKED" in _encodings(f)[0]["elevation"] for f in _tile_files(mixed)
    }
    assert layouts == {True, False}
    assert _digests(spark, mixed) == dict.fromkeys(
        ("spark", "duckdb", "pyarrow"), ROWS_DIGEST["world"]
    )
    assert _digests(spark, fresh)["spark"] == ROWS_DIGEST["world"]

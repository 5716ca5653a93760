"""Object-store wiring (s3a) — network-free: conf plumbing + the URI
scan path over file:// (same binaryFile code path as s3a://)."""

from __future__ import annotations

import os

from aw3d30_parquet_spark.sources.geotiff import read_tiles
from aw3d30_parquet_spark.sources.objectstore import (
    DEFAULT_PREFIX,
    configure_s3a,
    tile_source_uri,
)
from aw3d30_parquet_spark.plans import formatted_plan


def test_tile_source_uri():
    assert tile_source_uri("raster") == "s3a://raster/AW3D30/AW3D30_global/"
    assert tile_source_uri("b", "p") == "s3a://b/p/"
    assert DEFAULT_PREFIX.endswith("/")


def test_configure_s3a_sets_hadoop_confs(spark):
    configure_s3a(
        spark,
        endpoint="http://localstack:4566",
        anonymous=True,
        path_style_access=True,
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.endpoint") == "http://localstack:4566"
    assert "Anonymous" in hconf.get("fs.s3a.aws.credentials.provider")
    assert hconf.get("fs.s3a.path.style.access") == "true"
    assert hconf.get("fs.s3a.experimental.input.fadvise") == "sequential"


def test_uri_scan_prunes_like_local_path(spark, tmp_path):
    """read_tiles over a file:// URI must produce the identical pruned
    listing and rows as the plain local path. A file:// URI is listed
    by the local branch, like the plain path; its scan is the same
    binaryFile URI scan an s3a:// prefix takes."""
    from tests.test_geotiff import FIXTURE_COORDS, _write_fixture_tiles

    d = tmp_path / "tiles"
    d.mkdir()
    _write_fixture_tiles(str(d), FIXTURE_COORDS)
    (d / "README.txt").write_text("not a tile")

    plain = read_tiles(spark, str(d), "netherlands")
    via_uri = read_tiles(spark, f"file://{d}", "netherlands")
    assert via_uri.count() == plain.count() > 0
    # same plan shape as the local path: shuffle-free scan → decode
    plan = formatted_plan(via_uri)
    assert "Exchange" not in plan
    assert "MapInArrow" in plan


def test_configure_s3a_keyed_resets_anonymous(spark):
    """Keys imply keyed access: a previously-set anonymous provider is
    cleared so real credentials are honored, and asking for both at
    once is rejected."""
    import pytest

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    configure_s3a(spark, anonymous=True)
    assert "Anonymous" in hconf.get("fs.s3a.aws.credentials.provider")
    configure_s3a(spark, access_key="AK", secret_key="SK")
    assert hconf.get("fs.s3a.aws.credentials.provider") is None
    assert hconf.get("fs.s3a.access.key") == "AK"
    assert hconf.get("fs.s3a.secret.key") == "SK"
    with pytest.raises(ValueError):
        configure_s3a(spark, anonymous=True, access_key="AK")


def test_existing_tiles_over_uri(spark, tmp_path):
    """The done set of a file:// URI output agrees with the plain
    local path's. Both take the local listing branch; the Hadoop
    branch an s3a:// output takes is checked against it on one tree by
    tests/test_geotiff.py::test_listing_branches_agree."""
    from aw3d30_parquet_spark.sources.demo import ensure_demo_tiles
    from aw3d30_parquet_spark.sources.geotiff import read_tiles
    from aw3d30_parquet_spark.sources.sink import existing_tiles, write_tiles

    tif = ensure_demo_tiles(str(tmp_path / "tiles"))
    out = str(tmp_path / "pts")
    write_tiles(read_tiles(spark, tif, "netherlands"), out)
    local = existing_tiles(out, spark)
    via_uri = existing_tiles(f"file://{out}", spark)
    assert local == via_uri == {(51, 4), (52, 5)}

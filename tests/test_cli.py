"""CLI shim (python -m aw3d30_parquet_spark) — mirrors the reference
binary's option surface (src/main.rs:42-66: tif dir, parquet dir, set)."""

from __future__ import annotations

import os

import duckdb

from aw3d30_parquet_spark.__main__ import main

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cli_ingest_demo_writes_partition_tree(spark, tmp_path, capsys):
    tif = str(tmp_path / "tif")
    out = str(tmp_path / "parquet")
    capsys.readouterr()
    rc = main(
        [
            "ingest",
            "--set",
            "netherlands",
            "--demo",
            "--tif-dir",
            tif,
            "--parquet-dir",
            out,
        ]
    )
    assert rc == 0
    got = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out}/*/*/*.parquet')"
    ).fetchone()[0]
    assert got > 0
    # the four demo tiles, none skipped
    assert " tiles=4 skipped=0 corrupt=0 " in capsys.readouterr().err
    # re-run is a no-op (skip-if-exists, reference src/main.rs:144-146)
    assert main(
        ["ingest", "--set", "netherlands", "--demo", "--tif-dir", tif,
         "--parquet-dir", out]
    ) == 0
    assert " tiles=0 skipped=4 corrupt=0 " in capsys.readouterr().err
    again = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out}/*/*/*.parquet')"
    ).fetchone()[0]
    assert again == got


def test_cli_query_unknown_name_errors(spark):
    assert main(["query", "--name", "nope", "--repo-root", ROOT]) == 2


def test_cli_optimize_compacts(spark, tmp_path):
    from aw3d30_parquet_spark.sources.sink import write_tiles
    from tests.test_geotiff import FIXTURE_COORDS, _write_fixture_tiles
    from aw3d30_parquet_spark.sources.geotiff import read_tiles

    import glob

    tif = tmp_path / "tif"
    tif.mkdir()
    _write_fixture_tiles(str(tif), [(51, 4)])
    out = str(tmp_path / "pts")
    pts = read_tiles(spark, str(tif), "netherlands")
    for i in range(2):
        write_tiles(pts.filter(f"pmod(elevation, 2) = {i}"), out)
    assert len(glob.glob(f"{out}/*/*/*.parquet")) >= 2
    assert main(["optimize", "--parquet-dir", out]) == 0
    assert len(glob.glob(f"{out}/*/*/*.parquet")) == 1


def test_cli_explain_prints_plan(spark, capsys):
    rc = main(
        [
            "explain",
            "--name",
            "q06_star_join",
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--repo-root",
            ROOT,
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out
    assert "BroadcastHashJoin" in out


def test_cli_explain_unknown_name_errors(spark):
    assert main(["explain", "--name", "nope", "--repo-root", ROOT]) == 2


def test_cli_analyze_prints_metrics(spark, capsys):
    rc = main(
        [
            "analyze",
            "--name",
            "q11_group_agg",
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--repo-root",
            ROOT,
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "Scan parquet" in out
    assert "numOutputRows=" in out
    assert "HashAggregate" in out


def test_cli_export_roundtrip(spark, tmp_path):
    """ingest --demo then export: the exported tiles decode to the
    fixture raster (full inverse pipeline at the CLI surface)."""
    import os

    from aw3d30_parquet_spark.sources.demo import demo_band
    from aw3d30_parquet_spark.sources.tiff import decode_geotiff

    tif_in = str(tmp_path / "in")
    pq = str(tmp_path / "pq")
    tif_out = str(tmp_path / "out")
    assert (
        main(
            [
                "ingest",
                "--set",
                "netherlands",
                "--tif-dir",
                tif_in,
                "--parquet-dir",
                pq,
                "--demo",
                "--demo-tiles",
                "2",
            ]
        )
        == 0
    )
    assert (
        main(
            [
                "export",
                "--parquet-dir",
                pq,
                "--tif-dir",
                tif_out,
                "--set",
                "netherlands",
            ]
        )
        == 0
    )
    names = sorted(os.listdir(tif_out))
    assert len(names) == 2 and all(n.endswith("_DSM.tif") for n in names)
    import numpy as np

    with open(os.path.join(tif_out, names[0]), "rb") as fh:
        band, _gt = decode_geotiff(fh.read())
    np.testing.assert_array_equal(band, demo_band())

"""CLI shim mirroring the reference binary's surface (``src/main.rs:42-66``):

    aw3d30-parquet [-t TIF_DIR] [-p PARQUET_DIR] <netherlands|france|europe|world>

spelled Spark-side as::

    python -m aw3d30_parquet_spark ingest --set netherlands \\
        [--tif-dir DIR | --source-uri s3a://bucket/prefix/] \\
        [--parquet-dir DIR] [--demo] [--on-corrupt fail|skip]

    python -m aw3d30_parquet_spark query --name q06_star_join \\
        [--sf-dir /root/testdata/sf0.01] [--limit 20]

``ingest`` runs the reference pipeline (R1–R8): enumerate/scan tiles for
the set, decode, flatten, write the partitioned Parquet tree — skipping
tiles whose partitions already exist, like the reference's
skip-if-exists (``src/main.rs:144-146``). ``--demo`` fabricates
deterministic fixture tiles first (this container has no network; the
reference's S3 download is the ``--source-uri s3a://...`` path on a
cluster with hadoop-aws jars — see README).

``query`` runs any registered engine query by name and prints rows —
the smallest useful REPL for the 99-query surface.
"""

from __future__ import annotations

import argparse
import sys
import time


def _cmd_ingest(args: argparse.Namespace) -> int:
    from aw3d30_parquet_spark.session import get_spark
    from aw3d30_parquet_spark.sources.demo import ensure_demo_tiles
    from aw3d30_parquet_spark.sources.geotiff import tiles_for_set
    from aw3d30_parquet_spark.sources.sink import ingest_tiles

    spark = get_spark(app_name=f"aw3d30-ingest-{args.set}")
    tif_dir = args.source_uri or args.tif_dir
    if args.demo:
        coords = [
            c
            for c in tiles_for_set(args.set)
            if args.set != "world" or abs(c[0]) <= 52 and 0 <= c[1] <= 6
        ][: args.demo_tiles]
        ensure_demo_tiles(args.tif_dir, coords)
    metrics: dict = {}
    t0 = time.perf_counter()
    tiles = ingest_tiles(
        spark,
        tif_dir,
        args.parquet_dir,
        set_name=args.set,
        metrics=metrics,
        on_corrupt=args.on_corrupt,
    )
    elapsed = time.perf_counter() - t0
    print(
        f"ingested set={args.set} from {tif_dir} -> {args.parquet_dir} "
        f"rows={metrics['rows_written']} tiles={len(tiles)} "
        f"skipped={metrics['skipped_tiles']} corrupt={metrics['corrupt_tiles']} "
        f"in {elapsed:.1f}s",
        file=sys.stderr,
    )
    return 0


def _cmd_optimize(args: argparse.Namespace) -> int:
    from aw3d30_parquet_spark.session import get_spark
    from aw3d30_parquet_spark.sources.sink import compact_tiles

    spark = get_spark(app_name="aw3d30-optimize")
    stats = compact_tiles(
        spark,
        args.parquet_dir,
        target_rows_per_file=args.target_rows,
        zorder=args.zorder,
    )
    print(
        f"compacted {stats['compacted_tiles']} tiles: "
        f"{stats['files_before']} -> {stats['files_after']} files",
        file=sys.stderr,
    )
    return 0


def _cmd_export(args: argparse.Namespace) -> int:
    from aw3d30_parquet_spark.session import get_spark
    from aw3d30_parquet_spark.sources.datasource import write_geotiff_tiles

    spark = get_spark(app_name="aw3d30-export")
    df = spark.read.parquet(args.parquet_dir)
    if args.set != "world":
        from aw3d30_parquet_spark.sources.geotiff import REGION_SETS

        (la0, la1), (lo0, lo1) = REGION_SETS[args.set]
        df = df.filter(
            df.tile_lat.between(la0, la1) & df.tile_lon.between(lo0, lo1)
        )
    write_geotiff_tiles(df, args.tif_dir, compression=args.compression)
    print(f"exported {args.parquet_dir} -> {args.tif_dir}", file=sys.stderr)
    return 0


def _build_query_df(args: argparse.Namespace, verb: str):
    """Shared query/explain/analyze front half: resolve the registered
    query by name (rc 2 + the name list on stderr when unknown) and
    build its DataFrame on a fresh session. Returns (df, rc)."""
    from aw3d30_parquet_spark.session import get_spark

    sys.path.insert(0, args.repo_root)
    import __spark_entry__ as contract

    qs = contract.queries()
    if args.name not in qs:
        print(
            f"unknown query {args.name!r}; choose from: "
            + " ".join(sorted(qs)),
            file=sys.stderr,
        )
        return None, 2
    spark = get_spark(app_name=f"aw3d30-{verb}-{args.name}")
    return qs[args.name](spark, args.sf_dir), 0


def _cmd_query(args: argparse.Namespace) -> int:
    df, rc = _build_query_df(args, "query")
    if rc:
        return rc
    df.show(args.limit, truncate=False)
    return 0


def _cmd_explain(args: argparse.Namespace) -> int:
    df, rc = _build_query_df(args, "explain")
    if rc:
        return rc
    df.explain(args.mode)
    return 0


def _cmd_analyze(args: argparse.Namespace) -> int:
    from aw3d30_parquet_spark.plans.analyze import analyze

    df, rc = _build_query_df(args, "analyze")
    if rc:
        return rc
    print(analyze(df))
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="python -m aw3d30_parquet_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_ing = sub.add_parser("ingest", help="tile ingest (reference pipeline)")
    p_ing.add_argument(
        "--set",
        default="netherlands",
        choices=["netherlands", "france", "europe", "world"],
        help="region set (reference subcommand)",
    )
    p_ing.add_argument("--tif-dir", default="/tmp/aw3d30/tif", help="local tile dir")
    p_ing.add_argument(
        "--source-uri",
        default=None,
        help="object-store prefix (s3a://bucket/AW3D30/AW3D30_global/)",
    )
    p_ing.add_argument(
        "--parquet-dir", default="/tmp/aw3d30/parquet", help="output tree"
    )
    p_ing.add_argument(
        "--demo", action="store_true", help="fabricate fixture tiles first"
    )
    p_ing.add_argument("--demo-tiles", type=int, default=4)
    p_ing.add_argument("--on-corrupt", default="fail", choices=["fail", "skip"])
    p_ing.set_defaults(fn=_cmd_ingest)

    p_opt = sub.add_parser(
        "optimize", help="compact fragmented tile partitions (small files)"
    )
    p_opt.add_argument("--parquet-dir", default="/tmp/aw3d30/parquet")
    p_opt.add_argument("--target-rows", type=int, default=13_000_000)
    p_opt.add_argument(
        "--zorder",
        action="store_true",
        help="rewrite rows in Morton order of the in-tile cell "
        "(tight row-group stats on lat AND lon; the files can grow, "
        "~7%% on seeded terrain, since Morton order breaks the row runs "
        "that the elevation delta and lat/lon dictionary encodings exploit)",
    )
    p_opt.set_defaults(fn=_cmd_optimize)

    p_q = sub.add_parser("query", help="run a registered query by name")
    p_q.add_argument("--name", required=True)
    p_q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_q.add_argument("--limit", type=int, default=20)
    p_q.add_argument("--repo-root", default=".")
    p_q.set_defaults(fn=_cmd_query)

    p_ex = sub.add_parser(
        "explain", help="print a registered query's physical plan"
    )
    p_ex.add_argument("--name", required=True)
    p_ex.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_ex.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "formatted", "cost", "codegen"],
    )
    p_ex.add_argument("--repo-root", default=".")
    p_ex.set_defaults(fn=_cmd_explain)

    p_an = sub.add_parser(
        "analyze",
        help="execute a registered query and print its plan with "
        "ACTUAL per-operator metrics (EXPLAIN ANALYZE)",
    )
    p_an.add_argument("--name", required=True)
    p_an.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_an.add_argument("--repo-root", default=".")
    p_an.set_defaults(fn=_cmd_analyze)

    p_exp = sub.add_parser(
        "export",
        help="point-table partition tree -> one GeoTIFF per tile "
        "(the ingest's inverse)",
    )
    p_exp.add_argument("--parquet-dir", default="/tmp/aw3d30/parquet")
    p_exp.add_argument("--tif-dir", default="/tmp/aw3d30/export")
    p_exp.add_argument(
        "--set",
        default="world",
        choices=["netherlands", "france", "europe", "world"],
        help="export only this region's tiles (partition-pruned read)",
    )
    p_exp.add_argument(
        "--compression", default="deflate", choices=["deflate", "none"]
    )
    p_exp.set_defaults(fn=_cmd_export)

    args = parser.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())

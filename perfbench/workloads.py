"""The benchmark's workloads: the ops each one dispatches, the inputs it
makes from the seed, and the checks on every output.

Every pass of both workloads starts as the reference pipeline does:
seeded-terrain DEFLATE tiles are ingested into a fresh Parquet directory
and the ingest is re-run (it must skip every tile). ``dem_ingest`` then
reads the Parquet back with a box aggregate and runs g-family raster
queries. ``query_mix`` then runs registered relational and LLM-pipeline
queries over the bundled relational fixtures. Queries are dispatched
through ``__spark_entry__.queries()`` so ``scratch.begin_query`` evicts
as it does in real use.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")

WORKLOADS = ("dem_ingest", "query_mix")

#: Module groups of the package that implement registered queries; each
#: gets its own ``<group>.build_s/build_jobs/exec_s`` per-layer metrics.
QUERY_MODULES = ("operators", "functions", "streaming", "sources.demo", "sources.files")

#: Registered queries each workload dispatches. Two passes over all 178
#: do not fit a run's time budget, so each workload takes a chosen
#: subset: one query per distinct code path, and together at least one
#: query of every module group, the query that builds the heavy
#: build-once pair-graph memo, and both kinds of output check (DuckDB
#: oracle and rows-only).
QUERY_OPS = {
    # raster queries over the package's demo tiles
    "dem_ingest": (
        "g01_geotiff_ingest",  # GeoTIFF DataSource over DEFLATE strips
        "g08_seamless_gradient",  # gradients, halo exchange across tile borders
        "g09_python_datasource",  # Python DataSource
    ),
    "query_mix": (
        # operators, relational: JVM-side planning, AQE and shuffles
        "q05_inner_join",  # shuffle join
        "q11_group_agg",  # hash aggregate
        "a01_approx_count_distinct",  # rows-only check
        # streaming and file sources
        "s05_stream_static_enrich",
        "f01_csv_json_roundtrip",
        # functions, LLM pipeline: scratch, memos, the Python/Arrow boundary
        "d08_neardup_components",  # scratch persists, build-once pair-graph memo
        "t04_lang_id",  # Python UDF
    ),
}

#: Ops of one pass that precede its queries, in order. The resume runs
#: twice: it is short, and its time varies most between passes.
INGEST_OPS = {
    "dem_ingest": ("ingest", "resume", "resume", "box_query"),
    "query_mix": ("ingest", "resume", "resume"),
}

#: Tile edge in pixels for timed runs and for the smoke mode.
TILE_SIZE = 900
SMOKE_TILE_SIZE = 256

#: Queries with no DuckDB oracle: the output must be non-empty and have
#: this schema.
ROWS_ONLY_SCHEMAS = {
    "a01_approx_count_distinct": "struct<event_type:string,approx_users:bigint>",
    "a02_approx_percentile": "struct<event_type:string,p50:double,p90:double,p99:double>",
    "a03_hll_sketch_rollup": "struct<week:date,approx_users:bigint,n_days:bigint>",
    "a04_quantile_sketch_rollup": "struct<week:date,n_days:bigint,p50:double,p90:double,p99:double>",
    "a05_kll_quantile_rollup": "struct<week:date,n_days:bigint,p50:double,p90:double,p99:double>",
    "a06_theta_audience_rollup":
        "struct<week:date,active:bigint,retained:bigint,churned:bigint,new_users:bigint>",
    "v05_ann_topk_ivf": "struct<query_id:bigint,rank:int,neighbor_id:bigint,cos:double>",
    "v06_ann_topk_pq": "struct<query_id:bigint,rank:int,neighbor_id:bigint,cos:double>",
}

def layer_of(fn) -> str:
    """Module group that implements a registered query function."""
    mod = getattr(getattr(fn, "__wrapped__", fn), "__module__", "")
    for group in QUERY_MODULES:
        if mod.startswith("aw3d30_parquet_spark." + group):
            return group
    return mod


def tile_coords(n: int) -> list[tuple[int, int]]:
    """``n`` tiles in a near-square block from N51 E004, row-major."""
    cols = math.ceil(math.sqrt(n))
    return [(51 + i // cols, 4 + i % cols) for i in range(n)]


def terrain(rng: np.random.Generator, size: int) -> np.ndarray:
    """Seeded int32 elevations in metres: a random-walk surface whose
    statistics (and so its compressibility) do not depend on the seed."""
    steps = rng.integers(-2, 3, size=(size, size), dtype=np.int32)
    surface = np.cumsum(np.cumsum(steps, axis=0, dtype=np.int64), axis=1)
    return (surface // 2 + 1500).astype(np.int32)


def geotransform(lat: int, lon: int, size: int) -> tuple:
    return (float(lon), 1.0 / size, 0.0, float(lat + 1), 0.0, -1.0 / size)


class Workload:
    """One workload's inputs, op list and checks, bound to a session."""

    def __init__(self, name: str, work_dir: str, seed: int, smoke: bool) -> None:
        if name not in WORKLOADS:
            raise ValueError(f"unknown workload {name!r}; choose from {WORKLOADS}")
        self.name = name
        self.work_dir = work_dir
        self.seed = seed
        self.sf_dir = os.path.join(DATA_DIR, "sf0.001" if smoke else "sf0.01")
        self.n_tiles = 2 if smoke else len(os.sched_getaffinity(0))
        self.tile_size = SMOKE_TILE_SIZE if smoke else TILE_SIZE
        self.coords = tile_coords(self.n_tiles)
        self.tif_dir = os.path.join(work_dir, "tif")
        self.out_root = os.path.join(work_dir, "out")
        self.spark = None
        self.queries: dict = {}
        self.oracles: dict = {}
        self._duck = None
        self._out: str | None = None
        self._n_out = 0
        self.box = None
        self.box_expected = None
        # Parquet bytes on disk per point, one per ingest
        self.bytes_per_row: list[float] = []

    @property
    def n_points(self) -> int:
        return self.n_tiles * self.tile_size * self.tile_size

    # -- inputs ---------------------------------------------------------

    def fabricate(self) -> None:
        """Write the seeded tiles and the box expected from numpy over
        the same bands."""
        from aw3d30_parquet_spark.sources.geotiff import tile_key
        from aw3d30_parquet_spark.sources.tiff import encode_geotiff

        shutil.rmtree(self.tif_dir, ignore_errors=True)
        os.makedirs(self.tif_dir)
        la0, lo0 = self.coords[0]
        # crosses the tile borders of the first 2x2 block (one border
        # when only two tiles exist)
        self.box = ((la0 + 0.5, la0 + 1.5), (lo0 + 0.5, lo0 + 1.5))
        (lat_lo, lat_hi), (lon_lo, lon_hi) = self.box
        rng = np.random.default_rng(self.seed)
        count, total, lo, hi = 0, 0, None, None
        for lat, lon in self.coords:
            band = terrain(rng, self.tile_size)
            gt = geotransform(lat, lon, self.tile_size)
            data = encode_geotiff(band, gt, compression="deflate", predictor=2,
                                  rows_per_strip=1)
            with open(os.path.join(self.tif_dir, f"{tile_key(lat, lon)}.tif"), "wb") as fh:
                fh.write(data)
            # the engine's flatten: lat = gt3 + y*gt5, lon = gt0 + x*gt1
            idx = np.arange(self.tile_size, dtype=np.float64)
            lats = gt[3] + idx * gt[5]
            lons = gt[0] + idx * gt[1]
            rows = (lats >= lat_lo) & (lats <= lat_hi)
            cols = (lons >= lon_lo) & (lons <= lon_hi)
            sel = band[np.ix_(rows, cols)]
            if sel.size:
                count += int(sel.size)
                total += int(sel.sum(dtype=np.int64))
                lo = int(sel.min()) if lo is None else min(lo, int(sel.min()))
                hi = int(sel.max()) if hi is None else max(hi, int(sel.max()))
        self.box_expected = (count, total, lo, hi)

    # -- session --------------------------------------------------------

    def bind(self, spark, queries: dict, oracles: dict) -> None:
        self.spark = spark
        self.queries = queries
        self.oracles = oracles

    def op_names(self) -> list[str]:
        return sorted(QUERY_OPS[self.name])

    def dispatch_order(self, rng: np.random.Generator) -> list[str]:
        """A seeded permutation of the sorted query names, behind the
        ingest ops in their pipeline order."""
        names = self.op_names()
        return list(INGEST_OPS[self.name]) + [names[i] for i in rng.permutation(len(names))]

    def layer(self, op: str) -> str:
        if op in INGEST_OPS[self.name]:
            return "sources.sink"
        return layer_of(self.queries[op])

    # -- ops ------------------------------------------------------------

    def execute(self, op: str, check: bool, tracer, corrupt: bool = False) -> bool:
        """Run one op. Timed runs materialize queries through the noop
        sink; with ``check`` the output is collected and compared with
        its oracle instead. Returns whether the output is correct
        (``True`` for an unchecked query that completed)."""
        if op == "ingest":
            return self._ingest(corrupt)
        if op == "resume":
            return self._resume(corrupt)
        if op == "box_query":
            return self._box_query(tracer, corrupt)
        layer = self.layer(op)
        with tracer.span("build:" + layer):
            df = self.queries[op](self.spark, self.sf_dir)
        with tracer.span("exec:" + layer):
            if not check:
                df.write.mode("overwrite").format("noop").save()
                return True
            pdf = df.toPandas()
        if corrupt:
            pdf = pdf.iloc[1:] if len(pdf) else pdf.iloc[:0]
        return self._matches(op, df, pdf) and not (corrupt and len(pdf) == 0)

    def _matches(self, op: str, df, pdf) -> bool:
        from aw3d30_parquet_spark.oracle import canonical_hash, duckdb_connection

        if op not in self.oracles:
            return len(pdf) > 0 and df.schema.simpleString() == ROWS_ONLY_SCHEMAS.get(op)
        if self._duck is None:
            self._duck = duckdb_connection(self.sf_dir)
        expected = self._duck.execute(self.oracles[op]).df()
        return canonical_hash(pdf) == canonical_hash(expected)

    def _ingest(self, corrupt: bool) -> bool:
        from aw3d30_parquet_spark.sources import sink

        self._n_out += 1
        self._out = os.path.join(self.out_root, f"ingest-{self._n_out}")
        metrics: dict = {}
        tiles = sink.ingest_tiles(self.spark, self.tif_dir, self._out, "europe",
                                  metrics=metrics)
        rows = int(metrics.get("rows_written", 0)) + int(corrupt)
        return sorted(tiles) == sorted(self.coords) and rows == self.n_points

    def _resume(self, corrupt: bool) -> bool:
        from aw3d30_parquet_spark.sources import sink

        tiles = sink.ingest_tiles(self.spark, self.tif_dir, self._out, "europe")
        return list(tiles) == [] and not corrupt

    def _box_query(self, tracer, corrupt: bool) -> bool:
        from pyspark.sql import functions as F

        (lat_lo, lat_hi), (lon_lo, lon_hi) = self.box
        with tracer.span("build:sources.sink"):
            df = (
                self.spark.read.parquet(self._out)
                .where(F.col("lat").between(lat_lo, lat_hi)
                       & F.col("lon").between(lon_lo, lon_hi))
                .agg(F.count(F.lit(1)), F.sum("elevation"),
                     F.min("elevation"), F.max("elevation"))
            )
        with tracer.span("exec:sources.sink"):
            row = tuple(df.collect()[0])
        if corrupt:
            row = (row[0] + 1,) + row[1:]
        return row == self.box_expected

    def after(self, op: str) -> None:
        """Untimed bookkeeping after an op: after an ingest, record its
        bytes on disk per point and delete the older output trees."""
        if op != "ingest" or self._out is None:
            return
        self.bytes_per_row.append(self.parquet_output()[1] / self.n_points)
        for entry in os.listdir(self.out_root):
            path = os.path.join(self.out_root, entry)
            if path != self._out:
                shutil.rmtree(path, ignore_errors=True)

    def parquet_output(self) -> tuple[int, int]:
        """(files, bytes) of Parquet in the current ingest output."""
        files = [os.path.join(root, f) for root, _dirs, names in os.walk(self._out)
                 for f in names if f.endswith(".parquet")]
        return len(files), sum(os.path.getsize(f) for f in files)

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()
            self._duck = None

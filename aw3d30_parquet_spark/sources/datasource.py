"""``spark.read.format("aw3d30")`` — the tile ingest as a first-class
Python Data Source (Spark 4 `pyspark.sql.datasource` API).

Where :func:`~aw3d30_parquet_spark.sources.geotiff.read_tiles` composes
the pipeline from ``binaryFile`` + ``mapInArrow``, this source IS the
pipeline at the DataSource V2 surface, with the three properties a
scan source owes the engine:

- **partition planning**: one ``InputPartition`` per tile file — the
  natural split (a tile is one row group's worth of points and one
  decode unit), so a world-scale read schedules 64 800 independent
  tasks with no skew;
- **filter pushdown** (``pushFilters``): range/equality predicates on
  ``tile_lat``/``tile_lon`` are consumed into the FILE LISTING — pruned
  tiles are never opened, the exact analogue of the reference filtering
  during its S3 list (``src/main.rs:316-321``). All other filters are
  returned to Spark unhandled (lat/lon/elevation are per-cell);
- **Arrow-batch reads**: ``read`` decodes its tile through the tile
  kernels' per-tile loop and yields the same bounded
  ``pyarrow.RecordBatch``es as the ``mapInArrow`` decode
  (:func:`~aw3d30_parquet_spark.sources.geotiff._point_batches`), so a
  3600² tile (13 M rows) never materializes as Python objects.

Registration (per session)::

    from aw3d30_parquet_spark.sources.datasource import AW3D30DataSource
    spark.dataSource.register(AW3D30DataSource)
    df = (spark.read.format("aw3d30")
          .option("set", "netherlands").load("/path/to/tifs"))

Paths are local directories, listed with ``os.scandir`` like the batch
readers'; object stores go through the binaryFile path
(`objectstore.py`), which lists with one Hadoop ``globStatus``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from aw3d30_parquet_spark.sources.geotiff import (
    POINT_SCHEMA,
    REGION_SETS,
    _decoded_tiles,
    _point_batches,
    parse_tile_key,
    tile_key,
    tile_paths,
)


@dataclass
class TilePartition(InputPartition):
    path: str
    tile_lat: int
    tile_lon: int


class AW3D30Reader(DataSourceReader):
    def __init__(self, options):
        self.tif_dir = options.get("path")
        if not self.tif_dir:
            raise ValueError("aw3d30 source needs a path: .load(tif_dir)")
        if not os.path.isdir(self.tif_dir):
            # fail at load() with the option named, not as a raw
            # FileNotFoundError from inside partition planning
            raise ValueError(
                f"aw3d30 source path {self.tif_dir!r} is not a readable "
                "directory — .load() expects a directory of *_DSM.tif tiles"
            )
        self.set_name = options.get("set", "world")
        if self.set_name not in REGION_SETS:
            raise ValueError(
                f"unknown set {self.set_name!r} (one of {sorted(REGION_SETS)})"
            )
        self.chunk_rows = int(options.get("chunk_rows", 512_000))
        (lat0, lat1), (lon0, lon1) = REGION_SETS[self.set_name]
        # mutable bounds: pushFilters tightens them before partitions()
        self.bounds = {
            "tile_lat": [lat0, lat1],
            "tile_lon": [lon0, lon1],
        }

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Consume tile-coordinate range/equality filters into the file
        listing bounds; everything else goes back to Spark. Conservative
        by construction: tightening a bound can only drop whole tiles
        whose every row fails the predicate."""
        for f in filters:
            handled = False
            attr = getattr(f, "attribute", None)
            if isinstance(attr, tuple) and len(attr) == 1:
                col = attr[0]
                if col in self.bounds and isinstance(
                    getattr(f, "value", None), int
                ):
                    lo_hi = self.bounds[col]
                    v = f.value
                    if isinstance(f, EqualTo):
                        lo_hi[0] = max(lo_hi[0], v)
                        lo_hi[1] = min(lo_hi[1], v)
                        handled = True
                    elif isinstance(f, GreaterThan):
                        lo_hi[0] = max(lo_hi[0], v + 1)
                        handled = True
                    elif isinstance(f, GreaterThanOrEqual):
                        lo_hi[0] = max(lo_hi[0], v)
                        handled = True
                    elif isinstance(f, LessThan):
                        lo_hi[1] = min(lo_hi[1], v - 1)
                        handled = True
                    elif isinstance(f, LessThanOrEqual):
                        lo_hi[1] = min(lo_hi[1], v)
                        handled = True
            if not handled:
                yield f

    def partitions(self) -> Sequence[TilePartition]:
        """One InputPartition per tile of the batch work list
        (:func:`~aw3d30_parquet_spark.sources.geotiff.tile_paths`: a
        metadata-only listing and key/region rule) inside the pushed
        bounds; no tile byte is read here."""
        (la0, la1) = self.bounds["tile_lat"]
        (lo0, lo1) = self.bounds["tile_lon"]
        parts = [
            TilePartition(p, *parse_tile_key(p))
            for p in tile_paths(None, self.tif_dir, self.set_name)
        ]
        return [t for t in parts if la0 <= t.tile_lat <= la1 and lo0 <= t.tile_lon <= lo1]

    def read(self, partition: TilePartition) -> Iterator:
        """Decode one tile, yield bounded Arrow RecordBatches."""
        if partition is None:
            # zero surviving tiles: pyspark represents an empty
            # partitions() list as a single None partition — emit
            # nothing instead of dereferencing it
            return
        with open(partition.path, "rb") as fh:
            rows = [(partition.path, fh.read())]
        for coord, band, gt in _decoded_tiles(rows, "fail"):
            yield from _point_batches(coord, band, gt, self.chunk_rows)


class AW3D30StreamReader(DataSourceStreamReader):
    """Streaming half of the format: tile ARRIVALS as a structured
    stream, exactly-once via the engine's offset log.

    Offsets are the sorted list of claimed tile basenames (the same
    design as Spark's own FileStreamSource file log; production
    compaction of a 64 800-entry offset is the engine's checkpoint
    compaction, not ours). ``latestOffset`` lists the directory —
    metadata only; ``partitions(start, end)`` plans one InputPartition
    per newly-arrived tile; ``read`` is the batch reader's decode, so
    batch and streaming cannot diverge."""

    def __init__(self, options):
        self._r = AW3D30Reader(options)

    def initialOffset(self) -> dict:
        return {"files": []}

    def _current_files(self) -> list[str]:
        return sorted(p.path for p in self._r.partitions())

    def latestOffset(self) -> dict:
        return {"files": self._current_files()}

    def partitions(self, start: dict, end: dict) -> Sequence[TilePartition]:
        new = sorted(set(end["files"]) - set(start["files"]))
        parts = []
        for path in new:
            coord = parse_tile_key(os.path.basename(path))
            if coord is None:
                continue
            parts.append(TilePartition(path, coord[0], coord[1]))
        return parts

    def read(self, partition: TilePartition) -> Iterator:
        return self._r.read(partition)

    def commit(self, end: dict) -> None:
        pass  # nothing external to clean up; the offset log is the state


@dataclass
class TileCommit(WriterCommitMessage):
    #: (staged temp name, final name) per tile written by one task
    files: tuple


class AW3D30Writer(DataSourceArrowWriter):
    """Writing half of the format: point DataFrame → one GeoTIFF per
    tile (the EXPORT inverse of the ingest — what the reference
    consumes as input, our sink can now produce).

    Arrow path (`DataSourceArrowWriter`): each task receives
    RecordBatches — columns stay numpy end-to-end, a 3600² tile never
    materializes as Python objects (the read path's contract, kept on
    the write side). Per tile the task inverts the pixel-corner affine
    (``x = round((lon − lo)·s)``, ``y = round((la+1 − lat)·s)``,
    ``s = √n``) to rebuild the raster, validates the grid is complete
    and collision-free, and encodes via the repo codec. Tiles must be
    complete within a task — repartition by (tile_lat, tile_lon) first
    (:func:`write_geotiff_tiles` does).

    Transactional: ``write`` stages ``*.tif.tmp-<uuid>`` files; only
    job-level ``commit`` renames them into place (and, under
    ``mode("overwrite")``, removes stale tiles this job did not
    produce); ``abort`` unlinks the stage files — a failed job leaves
    the previous tile set untouched (orphaned ``.tmp-*`` from killed
    tasks are inert: the reader's glob matches only ``*_DSM.tif``)."""

    def __init__(self, options, overwrite: bool):
        self.out_dir = options.get("path")
        if not self.out_dir:
            raise ValueError("aw3d30 writer needs a path: .save(out_dir)")
        self.compression = options.get("compression", "deflate")
        self.overwrite = overwrite

    def write(self, batches) -> TileCommit:
        import os
        import uuid

        import numpy as np

        from aw3d30_parquet_spark.sources.tiff import encode_geotiff

        cols: dict = {}
        for rb in batches:
            tab = rb
            la_arr = tab.column(tab.schema.get_field_index("tile_lat")).to_numpy(zero_copy_only=False)
            lo_arr = tab.column(tab.schema.get_field_index("tile_lon")).to_numpy(zero_copy_only=False)
            lat = tab.column(tab.schema.get_field_index("lat")).to_numpy(zero_copy_only=False)
            lon = tab.column(tab.schema.get_field_index("lon")).to_numpy(zero_copy_only=False)
            elev = tab.column(tab.schema.get_field_index("elevation")).to_numpy(zero_copy_only=False)
            tiles = la_arr.astype(np.int64) * 1000 + lo_arr
            for t in np.unique(tiles):
                m = tiles == t
                cols.setdefault(int(t), []).append(
                    (lat[m], lon[m], elev[m])
                )
        os.makedirs(self.out_dir, exist_ok=True)
        staged = []
        for t, chunks in cols.items():
            la, lo = t // 1000, t % 1000
            if lo > 500:  # negative lon encoded mod 1000
                lo -= 1000
                la += 1
            lat = np.concatenate([c[0] for c in chunks])
            lon = np.concatenate([c[1] for c in chunks])
            elev = np.concatenate([c[2] for c in chunks])
            n = len(lat)
            s = int(round(n**0.5))
            if s * s != n:
                raise ValueError(
                    f"tile ({la},{lo}): {n} points is not a full s×s grid"
                )
            y = np.rint((la + 1 - lat) * s).astype(np.intp)
            x = np.rint((lon - lo) * s).astype(np.intp)
            if (
                y.min() < 0 or y.max() >= s or x.min() < 0 or x.max() >= s
                or len(np.unique(y * s + x)) != n
            ):
                raise ValueError(
                    f"tile ({la},{lo}): points do not form the 1°×1° "
                    f"pixel-corner grid at size {s}"
                )
            band = np.zeros((s, s), np.int32)
            band[y, x] = elev.astype(np.int32)
            gt = (float(lo), 1.0 / s, 0.0, float(la + 1), 0.0, -1.0 / s)
            data = encode_geotiff(band, gt, compression=self.compression)
            name = f"{tile_key(int(la), int(lo))}.tif"
            tmp = f"{name}.tmp-{uuid.uuid4().hex[:12]}"
            with open(os.path.join(self.out_dir, tmp), "wb") as fh:
                fh.write(data)
            staged.append((tmp, name))
        return TileCommit(tuple(staged))

    def commit(self, messages) -> None:
        import os

        final = set()
        for m in messages:
            if m is None:
                continue
            for tmp, name in m.files:
                os.replace(
                    os.path.join(self.out_dir, tmp),
                    os.path.join(self.out_dir, name),
                )
                final.add(name)
        if self.overwrite:
            for entry in os.listdir(self.out_dir):
                if entry.endswith("_DSM.tif") and entry not in final:
                    try:
                        os.unlink(os.path.join(self.out_dir, entry))
                    except OSError:
                        pass

    def abort(self, messages) -> None:
        import os

        for m in messages:
            if m is None:
                continue
            for tmp, _name in m.files:
                try:
                    os.unlink(os.path.join(self.out_dir, tmp))
                except OSError:
                    pass


def write_geotiff_tiles(df, out_dir: str, compression: str = "deflate") -> None:
    """Point DataFrame → one GeoTIFF per tile under ``out_dir`` via the
    aw3d30 format's writer. Repartitions by tile first so every tile is
    complete within one task."""
    register(df.sparkSession)
    (
        df.select("tile_lat", "tile_lon", "lat", "lon", "elevation")
        .repartition("tile_lat", "tile_lon")
        .write.format("aw3d30")
        .option("compression", compression)
        .mode("append")
        .save(out_dir)
    )


class AW3D30DataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "aw3d30"

    def schema(self):
        return POINT_SCHEMA

    def reader(self, schema) -> AW3D30Reader:
        return AW3D30Reader(self.options)

    def streamReader(self, schema) -> AW3D30StreamReader:
        return AW3D30StreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> AW3D30Writer:
        return AW3D30Writer(self.options, overwrite)


def register(spark) -> None:
    """Idempotent per-session registration of the ``aw3d30`` format.

    Applies the engine's runtime confs too (not just the package ship):
    the reader's pushFilters needs ``spark.sql.python.filterPushdown.
    enabled``, and an externally-created session (the driver's) has not
    set it — a query using this source must work as the FIRST call on
    a bare session."""
    from aw3d30_parquet_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    spark.dataSource.register(AW3D30DataSource)

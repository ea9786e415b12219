"""The benchmark's workloads, written as chains of calls into the engine's
public module functions.

A query is a list of stages. Each stage is one call into one module and
names the span it is traced under (``<module>`` or ``<module>.<op>``).
Untraced, the stages compose into the single DataFrame an engine user
would build and force. Traced, every stage boundary is forced and cached
in turn (``spans.py``), so each stage's span covers only its own module's
work.

A chunked job (the shape of ``tools/run_pipeline.py``) commits a fixed
set of chunks through ``TableIO`` and then compacts and reads the table
back. The point-sample pass ends with a small one (``PASS_CHUNKS``); the
``chunked-commit`` workload is a whole job (``JOB_CHUNKS``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasters_spark import cells, fixtures, npref
from rasters_spark.operators import joins, knn, point_join, resample, sample, stats
from rasters_spark.tiles import open_tiles, tiles_with_cells

LEVEL = fixtures.CELL_LEVEL
PARENT_LEVEL = 3          # chunk key of tools/run_pipeline.py
JOB_CHUNKS = 32           # chunks of a chunked-commit job: the two northern chunk rows
PASS_CHUNKS = 2           # chunks committed at the end of every point-sample pass
TARGET = dict(x_origin=-180.0, y_origin=90.0, cell_width=0.25, cell_height=-0.25,
              rows=720, cols=1440, crs="EPSG:4326")
FLAGSHIP_COLS = ("point_id", "image_id", "prow", "pcol", "value", "caption")


@dataclass
class Inputs:
    """The generated tables, opened through the engine's loaders."""

    spark: object
    dir: str

    def tiles(self) -> DataFrame:
        return open_tiles(self.spark, f"{self.dir}/tiles.parquet")

    def raw_tiles(self) -> DataFrame:
        return self.tiles().filter("fmt = 'raw'")

    def points(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.dir}/points.parquet")

    def polygons(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.dir}/polygons.parquet")


@dataclass
class Stage:
    span: str
    # receives the outputs of the earlier stages of the same query
    run: Callable[[list], DataFrame]


@dataclass
class Query:
    name: str
    stages: list[Stage]

    def build(self) -> DataFrame:
        outs: list = []
        for st in self.stages:
            outs.append(st.run(outs))
        return outs[-1]


def point_sample(inp: Inputs) -> list[Query]:
    tiles = Stage("tiles", lambda o: inp.tiles())
    tiles_cells = Stage("cells", lambda o: tiles_with_cells(o[-1]))
    return [
        Query("flagship", [
            tiles, tiles_cells,
            Stage("point_join", lambda o: point_join.point_in_tile_join(inp.points(), o[1])),
            Stage("sample.nearest", lambda o: sample.sample_nearest(o[2]).select(*FLAGSHIP_COLS)),
        ]),
        Query("grouped", [
            tiles,
            Stage("point_join", lambda o: point_join.point_in_tile_join(inp.points(), o[0], payload_cols=())),
            Stage("sample.grouped", lambda o: sample.sample_nearest_grouped(o[1], o[0])
                  .select("point_id", "image_id", "value")),
        ]),
        Query("knn", [tiles, Stage("knn", lambda o: knn.knn_tiles(inp.points(), o[0], k=3, ring=2))]),
    ]


def raster_vector(inp: Inputs) -> list[Query]:
    raw = Stage("tiles", lambda o: inp.raw_tiles())
    return [
        Query("pip", [Stage("joins.pip", lambda o: joins.points_in_polygons(inp.points(), inp.polygons())
                            .select("point_id", "poly_id"))]),
        Query("zonal", [raw, Stage("stats.zonal", lambda o: stats.zonal_stats(o[0], inp.polygons())
                                   .select("poly_id", "n_valid", "vsum", "vmin", "vmax", "vmean"))]),
        Query("rasterize", [Stage("joins.rasterize", lambda o: joins.rasterize(inp.polygons(), TARGET, merge_alg="add"))]),
        Query("bilinear", [raw, Stage("resample.bilinear", lambda o: resample.to_grid_bilinear(o[0], TARGET))]),
    ]


def chunk_points(inp: Inputs) -> DataFrame:
    """Points tagged with their chunk: the level-3 parent of their cell."""
    return inp.points().withColumn(
        "chunk", cells.parent(cells.cell_id(F.col("x"), F.col("y"), LEVEL), LEVEL, PARENT_LEVEL))


def _pack(level: int, iy, ix):
    return (np.int64(level) << cells.LEVEL_SHIFT) | (np.asarray(iy, dtype=np.int64) << cells.IY_SHIFT) | ix


def job_chunks(n: int) -> list[int]:
    """The chunks a job of ``n`` commits: the first ``n`` level-3 chunk ids
    in id order (north to south, west to east). The first row holds the
    tile band, the second the hot footprint."""
    k = 1 << PARENT_LEVEL
    iy, ix = np.divmod(np.arange(2 * k * k, dtype=np.int64), 2 * k)
    return sorted(int(c) for c in _pack(PARENT_LEVEL, iy, ix))[:n]


def np_chunk_of(x, y) -> np.ndarray:
    """numpy twin of the chunk key, for the reference side."""
    cid = npref.np_cell_id(x, y, LEVEL)
    shift = LEVEL - PARENT_LEVEL
    ix = (cid & ((1 << cells.IY_SHIFT) - 1)) >> shift
    iy = ((cid >> cells.IY_SHIFT) & ((1 << (cells.LEVEL_SHIFT - cells.IY_SHIFT)) - 1)) >> shift
    return _pack(PARENT_LEVEL, iy, ix)


def chunk_query(inp: Inputs, pts: DataFrame, chunk: int) -> Query:
    """One chunk of the chunked job, up to the DataFrame it commits."""
    return Query(f"chunk-{chunk}", [
        Stage("tiles", lambda o: inp.tiles()),
        Stage("point_join", lambda o: point_join.point_in_tile_join(
            pts.filter(F.col("chunk") == chunk).drop("chunk"), o[0])),
        Stage("sample.nearest", lambda o: sample.sample_nearest(o[1]).select(*FLAGSHIP_COLS)),
    ])


# workload -> (query list, chunks its chunked job commits per pass)
WORKLOADS = {
    "point-sample": (point_sample, PASS_CHUNKS),
    "raster-vector": (raster_vector, 0),
    "chunked-commit": (lambda inp: [], JOB_CHUNKS),
}

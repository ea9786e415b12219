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
one cell), and the exact ray-cast refinement is one SQL expression
(``ray_cast_inside_sql``) filtering the candidates in the JVM: no Python
worker, no refinement shuffle. The numpy ``ray_cast_inside`` is its
bit-identical twin for kernels that already hold decoded pixels (the
zonal family).

PIP boundary semantics: even-odd ray casting with half-open edges — for
an axis-aligned rectangle this is exactly ``xmin ≤ x < xmax ∧
ymin ≤ y < ymax``, which is what the DuckDB oracle asserts.
"""

from __future__ import annotations

import numpy as np
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


def ray_cast_inside_sql(px: str, py: str, ring: str) -> str:
    """SQL text of ``ray_cast_inside`` for one point against one ring
    (``array<struct<x,y>>``): a boolean expression.

    The same IEEE operations in the same order as the numpy kernel —
    ``(x2 - x1) * (py - y1) / (y2 - y1) + x1``, each rounded, no FMA in
    either engine — so both agree bit for bit. The CASE keeps the
    division off horizontal edges (the numpy ``continue``; ANSI mode
    raises on x/0.0), and a ring of fewer than 2 vertices is outside
    (``sequence(1, 0)`` would count DOWN)."""
    a, b = f"{ring}[_rc_i - 1]", f"{ring}[_rc_i]"
    crossing = (
        f"CASE WHEN ({a}.y > {py}) != ({b}.y > {py}) "
        f"THEN {px} < ({b}.x - {a}.x) * ({py} - {a}.y) / ({b}.y - {a}.y) + {a}.x ELSE false END")
    return (f"CASE WHEN size({ring}) < 2 THEN false ELSE aggregate(sequence(1, size({ring}) - 1), "
            f"false, (_rc_acc, _rc_i) -> _rc_acc != {crossing}) END")


def points_in_polygons(
    points: DataFrame,
    polygons: DataFrame,
    level: int = fixtures.CELL_LEVEL,
    bbox_only: bool = False,
) -> DataFrame:
    """Inner PIP join → (point columns, poly_id, burn_value).

    ``bbox_only=True`` reproduces the swath bbox-subset quirk
    (raster_geolocation.py:145-172): containment in the geometry's bbox.

    A wrapped (antimeridian) polygon's ring in raw coordinates describes
    the COMPLEMENT region, so its ring and its candidate points are
    shifted into continuous 0..360 space before the ray-cast (the
    reference's RasterGeolocation.resize shift trick,
    raster_geolocation.py:319-330, applied to PIP). The ring shifts once
    on the polygon side, before the broadcast.

    MultiPolygon inputs carry a ``part`` column (one row per member
    ring, wrap_geometry.py:76-79); refinement is per row, so membership
    in ANY part is the caller's distinct over (point, poly).
    """
    pbox = grid.bbox_struct_sql("xmin", "ymin", "xmax", "ymax")
    # antimeridian-aware registration: wrapped bboxes (xmin > xmax, the
    # reference's crossing convention) register both seam sides
    polys = polygons.drop("crs").withColumns({
        "ring": F.expr(
            "CASE WHEN xmin > xmax THEN transform(ring, v -> named_struct("
            "'x', CASE WHEN v.x < 0 THEN v.x + 360.0D ELSE v.x END, 'y', v.y)) ELSE ring END"),
        "pcell": F.expr(f"explode({cells.cells_for_bbox_am_sql(pbox, level)})"),
    })
    pts = points.drop("crs").withColumn("pcell", cells.cell_id("x", "y", level))
    cand = pts.join(F.broadcast(polys), "pcell")
    # bbox prefilter (cheap SQL residual before the exact ray-cast);
    # wrapped x-range = the OR of the two seam sides
    cand = cand.filter(
        "((CASE WHEN xmin > xmax THEN x >= xmin OR x < xmax ELSE x >= xmin AND x < xmax END)"
        " AND y >= ymin) AND y < ymax")
    if not bbox_only:
        px = "CASE WHEN xmin > xmax AND x < 0 THEN x + 360.0D ELSE x END"
        cand = cand.filter(ray_cast_inside_sql(px, "y", "ring"))
    return cand.drop("ring", "is_rect", "pcell")


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
    ``ray_cast_inside_sql`` filter; the (row, col) merge is the plan's
    only shuffle.
    """
    g = grid.grid_struct_sql(**target)
    w = grid.window_for_bbox_sql(g, grid.bbox_struct_sql("xmin", "ymin", "xmax", "ymax"))
    burned = (
        polygons.withColumn("win", F.expr(w))
        # guard BOTH oob and empty windows: Spark sequence(a, b) with a > b
        # silently generates a DESCENDING sequence, not an empty one
        .filter("(NOT win.oob AND win.row_end > win.row_start) AND win.col_end > win.col_start")
        .withColumn("row", F.expr("explode(sequence(win.row_start, win.row_end - 1))"))
        .withColumn("col", F.expr("explode(sequence(win.col_start, win.col_end - 1))"))
        .filter(ray_cast_inside_sql(
            grid.cell_center_x_sql(g, "col"), grid.cell_center_y_sql(g, "row"), "ring"))
        .select("poly_id", "burn_value", "row", "col")
    )
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

"""Grid-descriptor struct + closed-form cell math as pure Spark SQL.

The reference's ``RasterGrid`` (rasters/raster_grid.py:37-78) is a
north-oriented uniform grid: 6-param affine ``(cw, 0, x0, 0, ch, y0)``
with ``cell_width > 0``, ``cell_height < 0``, plus ``rows, cols, crs``.
Here it is a plain ``StructType`` column — pure data, no class
hierarchy — and every indexing rule is a closed-form column expression,
so Catalyst folds/pushes it and whole-stage codegen executes it
JVM-side with zero Python.

Correctness-critical transcriptions (cited against /root/reference):

- cell assignment = inverse *center* affine + banker's rounding
  (raster_grid.py:717-735; affine_center at :380-387):
      col = round_half_even((x - x0)/cw - 0.5)
      row = round_half_even((y - y0)/ch - 0.5)
  Spark ``bround`` is HALF_EVEN, matching Python/NumPy ``round``.
  (DuckDB oracle side uses ``round_even`` — see __spark_entry__.py.)
- window from bbox (raster_grid.py:737-815): start index from
  ``(xmin, ymax)``, end from ``(xmax, ymin)`` then ``+1``; optional
  ±buffer; clamp to ``[0, rows/cols]``; *disjoint* → OutOfBounds,
  surfaced here as an ``oob`` boolean column instead of an
  executor-side exception (engine decision, SURVEY §4.2(4)).
- subset origin shift: ``x0 + col_off*cw, y0 + row_off*ch``
  (raster_grid.py:80-113; pinned by tests/test_subsetting.py:38-41).
"""

from __future__ import annotations

import math
import numbers

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

GRID_FIELDS = ("x_origin", "y_origin", "cell_width", "cell_height", "rows", "cols", "crs")
_GRID_TYPES = ("double", "double", "double", "double", "int", "int", "string")


def _col(c) -> Column:
    return c if isinstance(c, Column) else (F.col(c) if isinstance(c, str) else F.lit(c))


# --- SQL text ------------------------------------------------------------------
#
# The grid and cell math is written once, as SQL text builders (``*_sql``:
# SQL text in, SQL text out; a column name is valid SQL text). The public
# Column functions are one ``F.expr`` over them: building a plan from text
# costs one JVM call per expression, where the Column DSL costs one py4j
# round trip (plus call-site capture) per operator -- ``cells.cell_id``
# measured 19 ms as DSL and 0.22 ms as text, with the same optimized plan.

def _lambda_syntax(text: str) -> str:
    """Rewrite Catalyst's rendering of a lambda, ``lambdafunction(body,
    x, y)``, into SQL lambda syntax ``(x, y) -> body``."""
    key = "lambdafunction("
    i = text.find(key)
    while i >= 0:
        args, depth, quote, start, j = [], 0, None, i + len(key), i + len(key)
        while True:
            ch = text[j]
            if quote:
                if ch == "\\":
                    j += 1
                elif ch == quote:
                    quote = None
            elif ch in "'`":
                quote = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break
                depth -= 1
            elif ch == "," and depth == 0:
                args.append(text[start:j].strip())
                start = j + 1
            j += 1
        args.append(text[start:j].strip())
        body, params = args[0], args[1:]
        lam = f"{params[0]} -> {body}" if len(params) == 1 else f"({', '.join(params)}) -> {body}"
        text = text[:i] + lam + text[j + 1:]
        i = text.find(key)
    return text


def _sql(x) -> str:
    """SQL text for a builder argument: ``str`` is SQL text already,
    numbers become typed literals (doubles as ``1.0D`` -- a bare ``1.0``
    parses as DECIMAL), and a Column is rendered by Catalyst (one JVM
    call) -- pass column names or text where plan-building time matters."""
    if isinstance(x, str):
        return x
    if isinstance(x, (bool, np.bool_)):
        return "true" if x else "false"
    if isinstance(x, numbers.Real):
        if isinstance(x, numbers.Integral):
            text = str(int(x))
        elif math.isfinite(x):
            text = f"{float(x)!r}D"
        else:
            return f"cast('{float(x)!r}' as double)"  # Spark casts 'nan'/'inf'/'-inf'
        return f"({text})" if text.startswith("-") else text
    if isinstance(x, Column):
        from pyspark.sql import SparkSession

        return _lambda_syntax(SparkSession.active()._jsparkSession.expression(x._jc).sql())
    raise TypeError(f"no SQL text for {type(x).__name__}: {x!r}")


def _str_lit(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _field(struct: str, name: str) -> str:
    return f"({struct}).{name}"


def grid_struct_sql(x_origin, y_origin, cell_width, cell_height, rows, cols, crs="EPSG:4326") -> str:
    """Grid-descriptor struct. ``crs`` given as a string is a LITERAL when
    it looks like a CRS identifier ("EPSG:4326", proj4 with spaces) --
    otherwise a column name, like every other string argument."""
    if isinstance(crs, str) and (":" in crs or " " in crs):
        crs = _str_lit(crs)
    vals = (x_origin, y_origin, cell_width, cell_height, rows, cols, crs)
    fields = ", ".join(f"cast({_sql(v)} as {t}) as {n}"
                       for v, t, n in zip(vals, _GRID_TYPES, GRID_FIELDS))
    return f"struct({fields})"


def grid_struct(x_origin, y_origin, cell_width, cell_height, rows, cols, crs="EPSG:4326") -> Column:
    """Build a grid-descriptor struct column from scalar/column inputs."""
    return F.expr(grid_struct_sql(x_origin, y_origin, cell_width, cell_height, rows, cols, crs))


# --- cell assignment (raster_grid.py:717-735) --------------------------------
#
# ``rint`` is IEEE round-half-even via Math.rint -- identical results to
# bround(x, 0)/np.round/DuckDB round_even at scale 0, but pure FP: bround
# constructs a java BigDecimal (through Double.toString!) per row and
# dominated the join hot path in profiles.

def point_col_sql(grid: str, x: str) -> str:
    """Point x -> col via inverse center affine, banker's-rounded."""
    return (f"cast(rint((({x}) - {_field(grid, 'x_origin')}) / {_field(grid, 'cell_width')}"
            f" - 0.5D) as bigint)")


def point_row_sql(grid: str, y: str) -> str:
    return (f"cast(rint((({y}) - {_field(grid, 'y_origin')}) / {_field(grid, 'cell_height')}"
            f" - 0.5D) as bigint)")


def in_bounds_sql(grid: str, row: str, col: str) -> str:
    # explicit left-nesting: the SQL parser builds a BALANCED tree for a
    # flat AND/OR chain, a different (if equivalent) plan
    return (f"(((({row}) >= 0 AND ({row}) < {_field(grid, 'rows')})"
            f" AND ({col}) >= 0) AND ({col}) < {_field(grid, 'cols')})")


def point_col(grid, x) -> Column:
    return F.expr(point_col_sql(_sql(grid), _sql(x)))


def point_row(grid, y) -> Column:
    return F.expr(point_row_sql(_sql(grid), _sql(y)))


def in_bounds(grid, row, col) -> Column:
    return F.expr(in_bounds_sql(_sql(grid), _sql(row), _sql(col)))


# --- cell centers (affine_center × index, raster_grid.py:687-715) ------------

def cell_center_x_sql(grid: str, col: str) -> str:
    return (f"({_field(grid, 'x_origin')} + {_field(grid, 'cell_width')}"
            f" * (cast({col} as double) + 0.5D))")


def cell_center_y_sql(grid: str, row: str) -> str:
    return (f"({_field(grid, 'y_origin')} + {_field(grid, 'cell_height')}"
            f" * (cast({row} as double) + 0.5D))")


def cell_center_x(grid, col) -> Column:
    return F.expr(cell_center_x_sql(_sql(grid), _sql(col)))


def cell_center_y(grid, row) -> Column:
    return F.expr(cell_center_y_sql(_sql(grid), _sql(row)))


# --- cell size / metric radius (raster_geometry.py:667-693, kdtree.py:27) -----

EQUATOR_CIRCUMFERENCE = 40075017.0


def is_geographic(grid: Column) -> Column:
    """Geographic-CRS test on the descriptor's crs string (the reference
    delegates to pyproj's CRS.is_geographic; here: EPSG:4326 or a
    +proj=longlat proj4)."""
    return (F.upper(grid["crs"]) == "EPSG:4326") | F.upper(grid["crs"]).contains("+PROJ=LONGLAT")


def cell_size(grid: Column) -> Column:
    """MIN(cell_width, |cell_height|) — raster_geometry.py:667-668
    (min, not max — transcribed as written)."""
    return F.least(grid["cell_width"], F.abs(grid["cell_height"]))


def cell_size_meters(grid: Column) -> Column:
    """raster_geometry.py:683-693 transcribed VERBATIM, including the
    ``cell_size / 180 * 40,075,017`` factor (2× the physical
    meters-per-degree — copy the code, not the physics, SURVEY §1.3(7)).
    Non-geographic grids return cell_size unchanged (projected units
    are already meters)."""
    return F.when(
        is_geographic(grid),
        cell_size(grid) / F.lit(180.0) * F.lit(EQUATOR_CIRCUMFERENCE),
    ).otherwise(cell_size(grid))


def _cell_size_meters_py(g: dict) -> float:
    """Driver-side twin of cell_size_meters for grid dicts."""
    cs = min(g["cell_width"], abs(g["cell_height"]))
    crs = str(g.get("crs", "")).upper()
    if crs == "EPSG:4326" or "+PROJ=LONGLAT" in crs:
        return cs / 180.0 * EQUATOR_CIRCUMFERENCE
    return cs


def kdtree_radius_meters(source: dict | None, target: dict | None) -> float:
    """Default KD-tree radius of influence (kdtree.py:27,168-179):
    CELL_SIZE_TO_SEARCH_DISTANCE_FACTOR (= 2.0) × nanmax of the
    geometries' cell_size_meters."""
    vals = [_cell_size_meters_py(g) for g in (source, target) if g is not None]
    if not vals:
        raise ValueError("kdtree_radius_meters: need at least one geometry")
    return 2.0 * max(vals)


def meters_to_crs_units(meters: float, g: dict) -> float:
    """Invert the cell_size_meters quirk so metric radii can bound the
    engine's CRS-unit Euclidean distances: degrees = m · 180 / C for
    geographic grids, identity otherwise."""
    crs = str(g.get("crs", "")).upper()
    if crs == "EPSG:4326" or "+PROJ=LONGLAT" in crs:
        return meters * 180.0 / EQUATOR_CIRCUMFERENCE
    return meters


# --- extent -------------------------------------------------------------------

def grid_bbox_sql(grid: str) -> str:
    """Grid extent as struct<xmin,ymin,xmax,ymax> (raster_grid.py:519-552)."""
    x0, y0 = _field(grid, "x_origin"), _field(grid, "y_origin")
    return (f"struct({x0} as xmin, "
            f"({y0} + {_field(grid, 'cell_height')} * cast({_field(grid, 'rows')} as double)) as ymin, "
            f"({x0} + {_field(grid, 'cell_width')} * cast({_field(grid, 'cols')} as double)) as xmax, "
            f"{y0} as ymax)")


def bbox_struct_sql(xmin, ymin, xmax, ymax) -> str:
    return (f"struct(cast({_sql(xmin)} as double) as xmin, cast({_sql(ymin)} as double) as ymin, "
            f"cast({_sql(xmax)} as double) as xmax, cast({_sql(ymax)} as double) as ymax)")


def grid_bbox(grid) -> Column:
    return F.expr(grid_bbox_sql(_sql(grid)))


def bbox_struct(xmin, ymin, xmax, ymax) -> Column:
    return F.expr(bbox_struct_sql(xmin, ymin, xmax, ymax))


# --- window from bbox (raster_grid.py:737-815) --------------------------------

def window_for_bbox_sql(grid: str, bbox: str, buffer=None) -> str:
    """bbox → struct<row_start,col_start,row_end,col_end,oob>.

    Start from (xmin, ymax), end from (xmax, ymin) + 1, optional ±buffer,
    clamp to [0, rows/cols]. ``oob`` true iff the geometry is disjoint
    from the grid (reference raises OutOfBoundsError, raster_grid.py:757).
    Buffer is applied BEFORE the disjoint test in `window` but the
    reference tests disjointness pre-buffer (raster_grid.py:790-801):
    we replicate: oob computed on unbuffered indices.
    """
    row_start = point_row_sql(grid, _field(bbox, "ymax"))
    col_start = point_col_sql(grid, _field(bbox, "xmin"))
    row_end = f"({point_row_sql(grid, _field(bbox, 'ymin'))} + 1)"
    col_end = f"({point_col_sql(grid, _field(bbox, 'xmax'))} + 1)"
    rows = f"cast({_field(grid, 'rows')} as bigint)"
    cols = f"cast({_field(grid, 'cols')} as bigint)"
    oob = (f"((({row_end} < 0 OR {col_end} < 0) OR {row_start} > {rows})"
           f" OR {col_start} > {cols})")
    if buffer is not None:
        b = f"cast({_sql(buffer)} as bigint)"
        row_start, col_start = f"({row_start} - {b})", f"({col_start} - {b})"
        row_end, col_end = f"({row_end} + {b})", f"({col_end} + {b})"
    return (f"struct(greatest({row_start}, 0L) as row_start, greatest({col_start}, 0L) as col_start, "
            f"least({row_end}, {rows}) as row_end, least({col_end}, {cols}) as col_end, "
            f"{oob} as oob)")


def window_for_bbox(grid, bbox, buffer=None) -> Column:
    return F.expr(window_for_bbox_sql(_sql(grid), _sql(bbox), buffer))


# --- grid transforms (struct arithmetic, no data movement) --------------------

def subset_grid(grid: Column, window: Column) -> Column:
    """Window → sub-grid: origin shift + new shape (raster_grid.py:80-113)."""
    return grid_struct(
        grid["x_origin"] + window["col_start"].cast("double") * grid["cell_width"],
        grid["y_origin"] + window["row_start"].cast("double") * grid["cell_height"],
        grid["cell_width"],
        grid["cell_height"],
        (window["row_end"] - window["row_start"]).cast("int"),
        (window["col_end"] - window["col_start"]).cast("int"),
        grid["crs"],
    )


def buffer_grid(grid: Column, pixels) -> Column:
    """Expand by ±pixels on every side (raster_grid.py:835-852)."""
    p = _col(pixels)
    return grid_struct(
        grid["x_origin"] - p.cast("double") * grid["cell_width"],
        grid["y_origin"] - p.cast("double") * grid["cell_height"],
        grid["cell_width"],
        grid["cell_height"],
        grid["rows"] + (p * 2).cast("int"),
        grid["cols"] + (p * 2).cast("int"),
        grid["crs"],
    )


def shift_xy_grid(grid: Column, x_shift, y_shift) -> Column:
    """Translate origin by CRS units (raster_grid.py:854-866)."""
    return grid_struct(
        grid["x_origin"] + _col(x_shift).cast("double"),
        grid["y_origin"] + _col(y_shift).cast("double"),
        grid["cell_width"], grid["cell_height"], grid["rows"], grid["cols"], grid["crs"],
    )


def resize_grid_shape(grid: Column, rows, cols, keep_square: bool = True) -> Column:
    """RasterGrid.resize (raster_grid.py:602-630): scale cell sizes to a
    new shape; with ``keep_square`` the reference FORCES
    ``cell_height = -cell_width`` whenever they disagree — i.e. the
    height is overwritten by the width-derived size (transcribed
    verbatim; note the extent is NOT preserved in that branch)."""
    r, c = _col(rows).cast("double"), _col(cols).cast("double")
    ch = grid["cell_height"] * (grid["rows"].cast("double") / r)
    cw = grid["cell_width"] * (grid["cols"].cast("double") / c)
    if keep_square:
        ch = F.when(F.abs(ch) != cw, -cw).otherwise(ch)
    return grid_struct(grid["x_origin"], grid["y_origin"], cw, ch,
                       _col(rows).cast("int"), _col(cols).cast("int"), grid["crs"])


def shift_distance_grid(grid: Column, distance, direction) -> Column:
    """RasterGrid.shift_distance (raster_grid.py:851-866): polar →
    cartesian translation, direction in degrees."""
    d = _col(distance).cast("double")
    a = F.radians(_col(direction).cast("double"))
    return shift_xy_grid(grid, d * F.cos(a), d * F.sin(a))


def rescale_grid(grid: Column, cell_size) -> Column:
    """New cell size, same extent; shape = ceil(extent/cell)
    (raster_grid.py:576-615 `resolution`)."""
    cs = _col(cell_size).cast("double")
    width = grid["cell_width"] * grid["cols"].cast("double")
    height = -grid["cell_height"] * grid["rows"].cast("double")
    return grid_struct(
        grid["x_origin"], grid["y_origin"], cs, -cs,
        F.ceil(height / cs).cast("int"), F.ceil(width / cs).cast("int"), grid["crs"],
    )


def geographic_grid_from_bbox(bbox: Column, cell_size, snap: bool = True, crs="EPSG:4326") -> Column:
    """Target-grid derivation from a bbox (raster_geometry.py:758-796):
    rows/cols = max(trunc(extent/cs), 1); with ``snap`` the origin is
    pulled onto the cell lattice via trunc-toward-ZERO (the reference
    uses Python int(), NOT floor — negative origins differ,
    raster_geometry.py:779-782)."""
    cs = _col(cell_size).cast("double")
    width = bbox["xmax"] - bbox["xmin"]
    height = bbox["ymax"] - bbox["ymin"]
    rows = F.greatest((height / cs).cast("long"), F.lit(1).cast("long")).cast("int")
    cols = F.greatest((width / cs).cast("long"), F.lit(1).cast("long")).cast("int")
    if snap:
        y0 = (bbox["ymax"] / cs).cast("long").cast("double") * cs
        x0 = (bbox["xmin"] / cs).cast("long").cast("double") * cs
    else:
        y0, x0 = bbox["ymax"], bbox["xmin"]
    return grid_struct(x0, y0, cs, -cs, rows, cols, crs)


GRID_JSON_SCHEMA = ("struct<x_origin:double, y_origin:double, cell_width:double, "
                    "cell_height:double, rows:int, cols:int, crs:string>")


def grid_to_json(grid: Column) -> Column:
    """RasterGrid.to_dict serialization (raster_grid.py:1044-1072) as a
    JSON string column."""
    return F.to_json(grid)


def grid_from_json(js) -> Column:
    """RasterGeometry.from_dict parse (raster_geometry.py:943-1044,
    'grid' variant) — fixed StructType, malformed input → NULL struct."""
    return F.from_json(_col(js), GRID_JSON_SCHEMA)


def merge_grids_agg(grid: Column) -> list[Column]:
    """Aggregate expressions for RasterGrid.merge (raster_grid.py:324-348):
    union bbox + min cell size. Use inside .agg(*merge_grids_agg(col))
    then rebuild with ``merged_grid_from_agg``."""
    bb = grid_bbox(grid)
    return [
        F.min(bb["xmin"]).alias("_xmin"), F.min(bb["ymin"]).alias("_ymin"),
        F.max(bb["xmax"]).alias("_xmax"), F.max(bb["ymax"]).alias("_ymax"),
        F.min(grid["cell_width"]).alias("_cw"), F.max(grid["cell_height"]).alias("_ch"),
        F.first(grid["crs"]).alias("_crs"),
    ]


def merged_grid_from_agg() -> Column:
    cw, ch = F.col("_cw"), F.col("_ch")
    return grid_struct(
        F.col("_xmin"), F.col("_ymax"), cw, ch,
        F.ceil((F.col("_ymax") - F.col("_ymin")) / -ch).cast("int"),
        F.ceil((F.col("_xmax") - F.col("_xmin")) / cw).cast("int"),
        F.col("_crs"),
    )

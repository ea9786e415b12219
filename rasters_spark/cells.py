"""Hierarchical global cell index — the engine's spatial join key.

H3/S2-style but hand-rolled on a lat/lon quad hierarchy so that the whole
index is closed-form integer math: pure Spark SQL (codegen'd JVM-side,
foldable, pushdown-friendly) and byte-for-byte reproducible in the DuckDB
oracle. No UDFs anywhere in this module.

Scheme: at level ``L`` the cell size is ``180/2**L`` degrees; the world is
``2·2**L × 2**L`` cells. A cell id packs ``(level, iy, ix)`` into an
int64: ``(L << 56) | (iy << 28) | ix`` (valid for L ≤ 26).

Scale notes (100 TB / 10^12 tiles):
- the id is the shuffle/partition key for every spatial join; parent/child
  arithmetic gives a free two-level coarse/fine scheme for skew splitting;
- tiles *register* into every cell their footprint bbox covers
  (``cells_for_bbox`` — `sequence`+`transform`+`flatten`, exploded), so a
  point↔tile join is a pure equi-join on ``cell_id`` plus a residual bbox
  refinement — the idiomatic Spark reduction of a spatial theta-join;
- hot cells (the fixture injects 20% of tiles into one footprint per
  FIXTURES.md) are handled by ``salted``: the big side takes
  ``pmod(hash(id), S)``, the small side explodes all S salts. AQE
  skew-join splitting is ALSO enabled in session.py; salting covers the
  pathological single-key case AQE can't split below task granularity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from rasters_spark.grid import _col, _field, _sql, bbox_struct_sql

LEVEL_SHIFT = 56
IY_SHIFT = 28

# Every formula below is a SQL text builder (``*_sql``: SQL text in, SQL
# text out -- see grid.py); the public Column functions are one ``F.expr``
# over it. Builders whose text a DuckDB oracle also runs (``cell_id_sql``,
# ``z_cell_id_sql``) write their decimals bare (``180.0``): both engines
# coerce them to double against the double operand, and the Spark
# wrappers cast their inputs to double so integer inputs do not turn the
# arithmetic DECIMAL.


def cell_size_deg(level: int) -> float:
    return 180.0 / (1 << level)


def cell_ix_sql(lon: str, level: int) -> str:
    """lon → x cell index, clamped to [0, 2·2^L − 1]."""
    size = repr(cell_size_deg(level))
    nx = 2 * (1 << level)
    return f"greatest(0, least({nx - 1}, cast(floor((({lon}) + 180.0) / {size}) as bigint)))"


def cell_iy_sql(lat: str, level: int) -> str:
    """lat → y cell index (north→south, like raster rows), clamped."""
    size = repr(cell_size_deg(level))
    ny = 1 << level
    return f"greatest(0, least({ny - 1}, cast(floor((90.0 - ({lat})) / {size}) as bigint)))"


def pack_sql(level: int, iy: str, ix: str) -> str:
    return f"({level} * {1 << LEVEL_SHIFT} + ({iy}) * {1 << IY_SHIFT} + ({ix}))"


def cell_id_sql(lon_expr: str, lat_expr: str, level: int) -> str:
    """(lon, lat) → int64 cell id at ``level`` -- the same text serves the
    Spark plan and the DuckDB oracles."""
    return pack_sql(level, cell_iy_sql(lat_expr, level), cell_ix_sql(lon_expr, level))


def _dbl(x) -> str:
    return f"cast({_sql(x)} as double)"


def cell_ix(lon, level: int) -> Column:
    return F.expr(cell_ix_sql(_dbl(lon), level))


def cell_iy(lat, level: int) -> Column:
    return F.expr(cell_iy_sql(_dbl(lat), level))


def pack(level: int, iy, ix) -> Column:
    return F.expr(pack_sql(level, _sql(iy), _sql(ix)))


def cell_id(lon, lat, level: int) -> Column:
    """(lon, lat) → int64 cell id at ``level``. Pure SQL."""
    return F.expr(cell_id_sql(_dbl(lon), _dbl(lat), level))


def unpack_ix_sql(cid: str) -> str:
    # pure integer ops — ids exceed 2^53, double division would lose bits
    return f"pmod({cid}, {1 << IY_SHIFT})"


def unpack_iy_sql(cid: str) -> str:
    return f"pmod(shiftright({cid}, {IY_SHIFT}), {1 << (LEVEL_SHIFT - IY_SHIFT)})"


def parent_sql(cid: str, level: int, parent_level: int) -> str:
    """Coarser ancestor — two-level partitioning for skew splitting."""
    shift = level - parent_level
    return pack_sql(parent_level, f"shiftright({unpack_iy_sql(cid)}, {shift})",
                    f"shiftright({unpack_ix_sql(cid)}, {shift})")


def parent(cid, level: int, parent_level: int) -> Column:
    return F.expr(parent_sql(_sql(cid), level, parent_level))


def cells_for_bbox_sql(bbox: str, level: int) -> str:
    """All cell ids whose footprint intersects bbox → array<long>.

    Pure higher-order-function SQL (sequence → transform → flatten):
    no UDF, no explode yet — caller explodes. Cost is O(cells covered);
    choose ``level`` so typical footprints cover O(1..10) cells.
    ``xmin > xmax`` (a wrapped bbox) is NOT handled here: Spark's
    ``sequence(a, b)`` counts down when a > b, so the range would span
    the world -- register wrapped bboxes with ``cells_for_bbox_am``.
    """
    ix0, ix1 = cell_ix_sql(_field(bbox, "xmin"), level), cell_ix_sql(_field(bbox, "xmax"), level)
    # y axis is north→south: ymax → smaller iy
    iy0, iy1 = cell_iy_sql(_field(bbox, "ymax"), level), cell_iy_sql(_field(bbox, "ymin"), level)
    return (f"flatten(transform(sequence({iy0}, {iy1}), _iy -> "
            f"transform(sequence({ix0}, {ix1}), _ix -> {pack_sql(level, '_iy', '_ix')})))")


def cells_for_bbox_am_sql(bbox: str, level: int) -> str:
    """Antimeridian-aware cell registration: a WRAPPED bbox (the
    reference's crossing convention, raster_geometry.py:512-516 —
    ``x_min`` on the east side of the seam is positive, ``x_max``
    negative, so ``xmin > xmax``) splits into [xmin, 180] ∪ [-180, xmax]
    instead of spanning the world. A seam-straddling footprint thus
    registers O(1) cells, not O(world) (VERDICT r01 missing #6).
    Non-wrapped bboxes pass through to ``cells_for_bbox``."""
    xmin, ymin, xmax, ymax = (_field(bbox, f) for f in ("xmin", "ymin", "xmax", "ymax"))
    east = bbox_struct_sql(xmin, ymin, 180.0, ymax)
    west = bbox_struct_sql(-180.0, ymin, xmax, ymax)
    return (f"CASE WHEN {xmin} > {xmax} THEN array_distinct(concat("
            f"{cells_for_bbox_sql(east, level)}, {cells_for_bbox_sql(west, level)})) "
            f"ELSE {cells_for_bbox_sql(bbox, level)} END")


def cells_for_bbox(bbox, level: int) -> Column:
    return F.expr(cells_for_bbox_sql(_sql(bbox), level))


def cells_for_bbox_am(bbox, level: int) -> Column:
    return F.expr(cells_for_bbox_am_sql(_sql(bbox), level))


def ring_cells_sql(cid: str, level: int, ring: int) -> str:
    """Chebyshev-ring neighborhood of a cell (incl. itself) → array<long>.

    Longitude wraps (pmod); latitude clamps then dedups via array_distinct.
    Drives kNN candidate generation (cell-ring expansion, SURVEY §2.3).
    """
    nx, ny = 2 * (1 << level), 1 << level
    ix, iy = unpack_ix_sql(cid), unpack_iy_sql(cid)
    cell = pack_sql(level, f"greatest(0, least({ny - 1}, {iy} + _dy))", f"pmod({ix} + _dx, {nx})")
    return (f"array_distinct(flatten(transform(sequence({-ring}, {ring}), _dy -> "
            f"transform(sequence({-ring}, {ring}), _dx -> {cell}))))")


def ring_cells_bbox_sql(bbox: str, level: int, ring: int) -> str:
    """Union of Chebyshev-``ring`` neighborhoods around EVERY cell a
    bbox covers → array<long> of DISTINCT cells, generated directly as
    the padded index rectangle (round-6 kNN optimization).

    ``cells_for_bbox`` covers the contiguous clamped range
    [iy0..iy1]×[ix0..ix1]; the union of rings around those cells is
    exactly [iy0−R..iy1+R]×[ix0−R..ix1+R] with latitude clamped and
    longitude wrapped — so generating the padded rectangle yields the
    identical candidate set as exploding per-cell rings, WITHOUT the
    ~4× duplicate rows a multi-cell footprint produces (adjacent cells'
    rings overlap). Distinctness is by construction: each iy appears
    once, and the ix sequence is capped at nx values before the pmod
    wrap. Like ``cells_for_bbox`` it takes an unwrapped bbox (xmin ≤
    xmax); a wrapped one must be split at the seam by the caller."""
    nx, ny = 2 * (1 << level), 1 << level
    ix0, ix1 = cell_ix_sql(_field(bbox, "xmin"), level), cell_ix_sql(_field(bbox, "xmax"), level)
    iy0, iy1 = cell_iy_sql(_field(bbox, "ymax"), level), cell_iy_sql(_field(bbox, "ymin"), level)
    lo_y = f"greatest(0, {iy0} - {ring})"
    hi_y = f"least({ny - 1}, {iy1} + {ring})"
    lo_x = f"({ix0} - {ring})"
    hi_x = f"least({ix1} + {ring}, {lo_x} + {nx} - 1)"  # never wrap past a full circle
    return (f"flatten(transform(sequence({lo_y}, {hi_y}), _iy -> "
            f"transform(sequence({lo_x}, {hi_x}), _ix -> {pack_sql(level, '_iy', f'pmod(_ix, {nx})')})))")


def ring_cells(cid, level: int, ring: int) -> Column:
    return F.expr(ring_cells_sql(_sql(cid), level, ring))


def ring_cells_bbox(bbox, level: int, ring: int) -> Column:
    return F.expr(ring_cells_bbox_sql(_sql(bbox), level, ring))


def salted(cid, n_salts: int) -> Column:
    """Composite skew key: cell_id scaled + deterministic per-row salt.

    Big side: ``salted(cell_id, S)`` with salt from a row-unique column;
    small side: explode ``sequence(0, S-1)`` and add. Keeps the join an
    equi-join while spreading one hot cell over S reducers.
    """
    return _col(cid) * n_salts


def salt_of(unique_col, n_salts: int) -> Column:
    return F.pmod(F.xxhash64(_col(unique_col)), F.lit(n_salts))


# --- Z-order (Morton) ids: file-level spatial clustering ----------------------
#
# The (level, iy, ix) packing above is the JOIN key; its row-major layout
# gives contiguous id ranges only along x. For DATA LAYOUT at 10^12 rows
# — sorting/bucketing the tile table so parquet/Iceberg min-max stats
# prune spatial range scans — interleave the bits instead: Morton order
# keeps any 2-D neighborhood inside O(1) short id ranges (the same
# trick as Delta/Iceberg Z-ORDER clustering). Pure integer magic-mask
# math → identical in Spark SQL and the DuckDB oracle, no UDFs.

_SPREAD_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def z_cell_id_sql(lon_expr: str, lat_expr: str, level: int) -> str:
    """(lon, lat) → Morton-interleaved cell id at ``level``:
    ``(level << 57) | interleave(iy, ix)`` (x in even bits, y in odd;
    56 interleaved bits + 5 level bits fit a signed int64). The low 28
    bits of each index spread into the even bit positions (classic
    magic-mask bit dilation, public domain). Shared by Spark and the
    DuckDB oracle."""

    def spread(e: str) -> str:
        for shift, mask in _SPREAD_MASKS:
            e = f"((({e}) << {shift} | ({e})) & {mask})"
        return e

    ix, iy = cell_ix_sql(lon_expr, level), cell_iy_sql(lat_expr, level)
    return f"({level} * {1 << 57} + (({spread(iy)}) << 1 | {spread(ix)}))"


def z_cell_id(lon, lat, level: int) -> Column:
    return F.expr(z_cell_id_sql(_dbl(lon), _dbl(lat), level))


# --- XYZ (slippy-map) tiles: the Web-Mercator pyramid scheme ------------------
#
# The de-facto web tiling standard (OSM/Google "z/x/y"): zoom z splits
# the EPSG:3857 square into 2^z × 2^z tiles. Pairs with the
# functions.crs Web-Mercator kernel for rendering pyramids; as a JOIN
# key it is an alternative quad hierarchy whose y axis is conformal
# (Mercator) instead of equirectangular. Pure SQL — the formula TEXT is
# shared verbatim between the Spark expression and the DuckDB oracle
# (CLAUDE.md parity rule for transcendental-bearing expressions).

#: Web-Mercator clip latitude: atan(sinh(pi)) — tiles exist only inside
WEBMERC_LAT_MAX = 85.05112877980659


def xyz_tile_sql(lon_expr: str, lat_expr: str, z: int) -> tuple[str, str]:
    """SQL text for ``struct/row (xtile, ytile)`` at zoom ``z`` —
    identical characters fed to Spark and DuckDB so both engines
    evaluate the same ln/tan expression tree."""
    n = 1 << z
    x = f"cast(floor((({lon_expr}) + 180.0) / 360.0 * {n}) as bigint)"
    mercfrac = (f"(1.0 - ln(tan(radians({lat_expr})) + 1.0 / cos(radians({lat_expr}))) "
                f"/ pi()) / 2.0")
    y = f"cast(floor({mercfrac} * {n}) as bigint)"
    # the +180/-180 seam and the poles clamp into the edge tiles
    xc = f"least(greatest({x}, 0), {n - 1})"
    yc = f"least(greatest({y}, 0), {n - 1})"
    return xc, yc


def xyz_tile(lon, lat, z: int) -> tuple[Column, Column]:
    """(xtile, ytile) columns at zoom ``z`` (OSM slippy-map scheme)."""
    assert isinstance(lon, str) and isinstance(lat, str), \
        "xyz_tile takes column NAMES so the SQL text can be shared with the oracle"
    xs, ys = xyz_tile_sql(lon, lat, z)
    return F.expr(xs), F.expr(ys)

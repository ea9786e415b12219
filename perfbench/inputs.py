"""Benchmark inputs, generated from the seed and cached per (scale, seed).

Tiles, points and polygons come from the engine's own fixture
generators (``rasters_spark.fixtures``); the benchmark adds convex and
concave rings so that polygon joins always see non-rectangular
geometry. Tile footprints are closed-form in the tile index, so the seed
varies pixel values, point positions and polygons while the skew (20% of
tiles on one hot footprint) and the tile density stay fixed.

The decoded ``pixels`` table exists only for the reference side
(``reference.py``); the engine never reads it.
"""

from __future__ import annotations

import math
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from rasters_spark import codec, fixtures

N_RECT = 24          # random rectangles from fixtures.make_polygons
N_CONVEX = 4         # benchmark-generated convex rings
N_CONCAVE = 4        # benchmark-generated star-shaped (concave) rings


def _ring_rows(seed: int, first_id: int, n_tiles: int) -> list[tuple]:
    """Convex n-gons and concave stars. Half are centred inside the tile
    band (so zonal statistics and rasterization meet pixels), half over
    the whole point extent."""
    rng = np.random.default_rng(seed)
    band_rows = max(1, math.ceil(n_tiles / 360))  # tile i sits in row i // 360 below 80°N
    rows = []
    for j in range(N_CONVEX + N_CONCAVE):
        in_band = j % 2 == 0
        cx = float(rng.uniform(-170, 170))
        cy = float(rng.uniform(80 - band_rows, 80)) if in_band else float(rng.uniform(-70, 70))
        r = float(rng.uniform(1.5, 5.0))
        if j < N_CONVEX:
            k = int(rng.integers(5, 10))
            ang = np.sort(rng.uniform(0, 2 * np.pi, k))
            rad = np.full(k, r)
        else:
            k = int(rng.integers(5, 9)) * 2
            ang = np.linspace(0, 2 * np.pi, k, endpoint=False) + rng.uniform(0, np.pi)
            rad = np.where(np.arange(k) % 2 == 0, r, r * float(rng.uniform(0.3, 0.6)))
        pts = [(cx + float(a) * math.cos(t), cy + float(a) * math.sin(t)) for t, a in zip(ang, rad)]
        rows.append((first_id + j, pts + [pts[0]], False, float(first_id + j + 1)))
    return rows


def _polygons(seed: int, n_tiles: int) -> pa.Table:
    base = fixtures.make_polygons(seed, n_rect=N_RECT)
    extra = _ring_rows(seed + 1, int(max(base.column("poly_id").to_pylist())) + 1, n_tiles)
    cols = {name: base.column(name).to_pylist() for name in base.column_names}
    for pid, ring, rect, burn in extra:
        xs = [x for x, _ in ring]
        ys = [y for _, y in ring]
        cols["poly_id"].append(pid)
        cols["ring"].append([{"x": x, "y": y} for x, y in ring])
        cols["is_rect"].append(rect)
        cols["burn_value"].append(burn)
        cols["xmin"].append(min(xs))
        cols["ymin"].append(min(ys))
        cols["xmax"].append(max(xs))
        cols["ymax"].append(max(ys))
        cols["crs"].append("EPSG:4326")
    return pa.table(cols, schema=base.schema)


def _pixels(tiles: pa.Table) -> pa.Table:
    """Decoded pixels (image_id, prow, pcol, value) via the numpy codec."""
    ids, rows, cols, vals = [], [], [], []
    t = tiles.select(["image_id", "bytes", "w", "h", "fmt"]).to_pydict()
    for img, blob, w, h, fmt in zip(t["image_id"], t["bytes"], t["w"], t["h"], t["fmt"]):
        arr = codec.decode_tile(blob, w, h, fmt)
        rr, cc = np.indices((h, w))
        ids.append(np.full(h * w, img, dtype=object))
        rows.append(rr.ravel())
        cols.append(cc.ravel())
        vals.append(arr.ravel().astype(np.float32))
    return pa.table({
        "image_id": pa.array(np.concatenate(ids), pa.string()),
        "prow": pa.array(np.concatenate(rows).astype(np.int32)),
        "pcol": pa.array(np.concatenate(cols).astype(np.int32)),
        "value": pa.array(np.concatenate(vals), pa.float32()),
    })


def ensure(cache: Path, scale: float, seed: int) -> Path:
    """Directory holding ``<table>.parquet`` for every table; generated on
    first use, reused afterwards."""
    out = cache / f"sf{scale:g}-seed{seed}"
    marker = out / ".complete"
    if marker.exists():
        return out
    out.mkdir(parents=True, exist_ok=True)
    n_tiles = fixtures.n_tiles_for(scale)
    tiles, pixels = fixtures.make_tiles(n_tiles, seed)
    pq.write_table(tiles, out / "tiles.parquet", row_group_size=fixtures.TILE_ROW_GROUP)
    pq.write_table(pixels if pixels is not None else _pixels(tiles), out / "pixels.parquet",
                   row_group_size=fixtures.PIXEL_ROW_GROUP)
    pq.write_table(fixtures.make_points(fixtures.n_points_for(scale), seed + 1),
                   out / "points.parquet", row_group_size=65_536)
    pq.write_table(_polygons(seed + 2, n_tiles), out / "polygons.parquet")
    marker.touch()
    return out

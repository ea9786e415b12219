"""Expected outputs, computed without Spark from the same generated files.

Each query's reference is its DuckDB twin from ``__spark_entry__.oracle_sql()``
with the fixture paths pointed at the benchmark's inputs, or a numpy
brute force where the twin only covers rectangles (point-in-polygon,
rasterize and zonal statistics over non-rectangular rings) or is a cross
join too slow to rerun per seed (the nearest-pixel sample, whose twin
joins every point with every tile). Results are reduced to a row count and the order-insensitive
digest of ``tools/check_contract.py`` and cached next to the inputs.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pandas as pd

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

from check_contract import frame_hash  # noqa: E402

from rasters_spark import npref  # noqa: E402

from . import workloads as wl  # noqa: E402

# query -> oracle_sql() entry it is checked against
ORACLE = {
    "knn": "knn_tiles",
    "bilinear": "to_grid_bilinear",
}


def _inside(px, py, rx, ry) -> np.ndarray:
    """Even-odd rule, every point against one closed ring."""
    inside = np.zeros(len(px), dtype=bool)
    for i in range(len(rx) - 1):
        x1, y1, x2, y2 = rx[i], ry[i], rx[i + 1], ry[i + 1]
        if y1 == y2:
            continue
        crosses = (y1 > py) != (y2 > py)
        xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= crosses & (px < xint)
    return inside


def _rings(polys: pd.DataFrame):
    for r in polys.itertuples(index=False):
        rx = np.array([v["x"] for v in r.ring])
        ry = np.array([v["y"] for v in r.ring])
        yield r, rx, ry


class Reference:
    """Per-query expected (rows, digest) for one input directory."""

    def __init__(self, input_dir: Path):
        import duckdb

        self.dir = Path(input_dir)
        self.con = duckdb.connect()
        self._oracle = None
        self._frames: dict[str, pd.DataFrame] = {}

    def _sql(self, name: str) -> pd.DataFrame:
        if self._oracle is None:
            import __spark_entry__ as e

            fd = f"read_parquet('{e.FD}/"
            here = f"read_parquet('{self.dir}/"
            self._oracle = {k: v.replace(fd, here) for k, v in e.oracle_sql().items()}
        return self.con.sql(self._oracle[name]).df()

    def _read(self, table: str) -> pd.DataFrame:
        return pd.read_parquet(self.dir / f"{table}.parquet")

    def frame(self, query: str) -> pd.DataFrame:
        if query not in self._frames:
            self._frames[query] = self._build(query)
        return self._frames[query]

    def _build(self, q: str) -> pd.DataFrame:
        if q in ORACLE:
            return self._sql(ORACLE[q])
        if q == "flagship":
            return self._flagship()
        if q == "grouped":
            return self.frame("flagship")[["point_id", "image_id", "value"]]
        if q == "pip":
            return self._pip()
        if q == "rasterize":
            return self._rasterize()
        if q == "zonal":
            return self._zonal()
        raise KeyError(q)

    def _pip(self) -> pd.DataFrame:
        rect = self._sql("points_in_polygons")[["point_id", "poly_id"]]
        pts = self._read("points")
        polys = self._read("polygons")
        x, y = pts["x"].to_numpy(), pts["y"].to_numpy()
        parts = [rect]
        for r, rx, ry in _rings(polys[~polys["is_rect"]]):
            cand = np.flatnonzero((x >= r.xmin) & (x < r.xmax) & (y >= r.ymin) & (y < r.ymax))
            keep = cand[_inside(x[cand], y[cand], rx, ry)]
            parts.append(pd.DataFrame({"point_id": pts["point_id"].to_numpy()[keep], "poly_id": r.poly_id}))
        return pd.concat(parts, ignore_index=True)

    def _rasterize(self) -> pd.DataFrame:
        t = wl.TARGET
        rect = self._sql("rasterize_add")
        polys = self._read("polygons")
        parts = [rect.rename(columns={"value": "burn"})]
        for r, rx, ry in _rings(polys[~polys["is_rect"]]):
            rs, cs, re_, ce, oob = npref.window_for_bbox(
                r.xmin, r.ymin, r.xmax, r.ymax, t["x_origin"], t["y_origin"],
                t["cell_width"], t["cell_height"], t["rows"], t["cols"])
            if oob or re_ <= rs or ce <= cs:
                continue
            rows, cols = np.meshgrid(np.arange(rs, re_), np.arange(cs, ce), indexing="ij")
            rows, cols = rows.ravel(), cols.ravel()
            cx, cy = npref.cell_center(rows, cols, t["x_origin"], t["y_origin"], t["cell_width"], t["cell_height"])
            keep = _inside(cx, cy, rx, ry)
            parts.append(pd.DataFrame({"row": rows[keep], "col": cols[keep], "burn": r.burn_value}))
        out = pd.concat(parts, ignore_index=True).groupby(["row", "col"], as_index=False)["burn"].sum()
        return out.rename(columns={"burn": "value"})

    def _tiles(self) -> tuple[pd.DataFrame, np.ndarray, np.ndarray]:
        """(tiles, decoded pixel values, offset of each tile's first pixel).
        The pixels table holds every tile's pixels row-major, in tile order."""
        tiles = self._read("tiles").drop(columns=["bytes"])
        px = self._read("pixels")
        if not (px["image_id"].drop_duplicates().to_numpy() == tiles["image_id"].to_numpy()).all():
            raise ValueError("pixels are not in tile order")
        offs = np.concatenate([[0], np.cumsum(tiles["w"].to_numpy() * tiles["h"].to_numpy())[:-1]])
        return tiles, px["value"].to_numpy().astype(np.float64), offs

    def _flagship(self) -> pd.DataFrame:
        """Every point in every tile it falls in, with the nearest pixel:
        the point_sample_join twin as a per-tile numpy scan (the DuckDB
        twin is a points x tiles cross join, quadratic in the scale)."""
        tiles, vals, offs = self._tiles()
        pts = self._read("points")
        x, y, pid = pts["x"].to_numpy(), pts["y"].to_numpy(), pts["point_id"].to_numpy()
        parts = []
        for t, off in zip(tiles.itertuples(index=False), offs):
            row, col = npref.index_point(x, y, t.x_origin, t.y_origin, t.cell_width, t.cell_height)
            i = np.flatnonzero((row >= 0) & (row < t.h) & (col >= 0) & (col < t.w))
            if len(i):
                parts.append(pd.DataFrame({
                    "point_id": pid[i], "image_id": t.image_id, "prow": row[i], "pcol": col[i],
                    "value": vals[off + row[i] * t.w + col[i]], "caption": t.caption}))
        return pd.concat(parts, ignore_index=True)

    def _zonal(self) -> pd.DataFrame:
        tiles, vals, offs = self._tiles()
        gx, gy, v = [], [], []
        for t, off in zip(tiles.itertuples(index=False), offs):
            if t.fmt != "raw":
                continue
            rr, cc = np.indices((t.h, t.w))
            gx.append((t.x_origin + t.cell_width * (cc + 0.5)).ravel())
            gy.append((t.y_origin + t.cell_height * (rr + 0.5)).ravel())
            v.append(vals[off:off + t.h * t.w])
        gx, gy, v = np.concatenate(gx), np.concatenate(gy), np.concatenate(v)
        ok = np.isfinite(v)
        order = np.argsort(gx[ok], kind="stable")
        gx, gy, v = gx[ok][order], gy[ok][order], v[ok][order]
        rows = []
        for r, rx, ry in _rings(self._read("polygons")):
            lo, hi = np.searchsorted(gx, [r.xmin, r.xmax])  # xmin <= x < xmax
            cand = lo + np.flatnonzero((gy[lo:hi] >= r.ymin) & (gy[lo:hi] < r.ymax))
            sel = v[cand[_inside(gx[cand], gy[cand], rx, ry)]]
            if len(sel):
                rows.append((r.poly_id, len(sel), sel.sum(), sel.min(), sel.max(), sel.sum() / len(sel)))
        return pd.DataFrame(rows, columns=["poly_id", "n_valid", "vsum", "vmin", "vmax", "vmean"])

    def expected(self, query: str) -> dict:
        if query.startswith("job"):
            return self.expected_job(int(query[3:]))
        f = self.frame(query)
        return {"rows": int(len(f)), "digest": frame_hash(f)}

    def expected_job(self, n: int) -> dict:
        """A chunked job commits the chunks ``workloads.job_chunks(n)``; the
        union of its snapshots is the flagship restricted to them."""
        f = self.frame("flagship")
        pts = self._read("points")
        chunk = wl.np_chunk_of(pts["x"].to_numpy(), pts["y"].to_numpy())
        keep = set(pts["point_id"].to_numpy()[np.isin(chunk, wl.job_chunks(n))].tolist())
        f = f[f["point_id"].isin(keep)]
        return {"rows": int(len(f)), "digest": frame_hash(f)}


def expectations(input_dir: Path, queries: list[str]) -> dict:
    """{query: {rows, digest}}, cached in ``reference.json`` beside the inputs."""
    path = Path(input_dir) / "reference.json"
    cached = json.loads(path.read_text()) if path.exists() else {}
    missing = [q for q in queries if q not in cached]
    if missing:
        ref = Reference(input_dir)
        for q in missing:
            cached[q] = ref.expected(q)
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps(cached, indent=1))
        tmp.replace(path)
    return {q: cached[q] for q in queries}


def check(got: pd.DataFrame, want: dict) -> str | None:
    """None when ``got`` matches the expectation, else the reason."""
    if len(got) != want["rows"]:
        return f"rows {len(got)} != {want['rows']}"
    if frame_hash(got) != want["digest"]:
        return "digest mismatch"
    return None

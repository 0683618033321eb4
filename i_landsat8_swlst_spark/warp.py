"""Distributed reprojection onto a shared target grid — the r.proj /
g.region-resampling analog.

GRASS implicitly warps every input raster onto the current region's grid
before any module runs (SURVEY.md §1.1 "Region" row; r.proj does the same
across projections). This engine made grid alignment an explicit join key —
`series_tiles` raises on shape-mismatched stacks, `composite_pixels` /
`mosaic_pixels` group on bit-identical centroids — but until now nothing
PRODUCED alignment. `warp_tiles` closes that gap: it resamples every scene
of a tile table onto one caller-chosen target grid (`GridSpec`), after
which mis-registered revisits stack/composite/mosaic like native ones.

Both grids are plate-carree (the engine's geocode convention, see
`spatial.sample_raster`), so the destination→source pixel mapping is affine
per scene. The plan is fully distributed and shuffle-minimal:

1. broadcast-join the tiny per-scene geometry (+ nominal tile dims) onto
   the tile table — pixels never shuffle for metadata;
2. ONE mapInArrow hop over source tiles: each tile plane decodes ONCE and
   emits partial-sum FRAGMENTS for every destination tile it contributes
   to (a fragment is the bounding sub-rectangle of destination pixels this
   source tile touches: f64 weighted-sum plane + u8 corner-count plane +
   u8 finite-corner-count plane). No halo exchange: a bilinear output
   pixel whose 4 corners span up to 4 source tiles is assembled by
   ADDITION — each source tile contributes the corners it owns, and corner
   counts make the merge associative;
3. ONE hash shuffle of the fragments on the destination tile key, then a
   grouped assemble (fragments summed in sorted source-tile order, so the
   result is deterministic regardless of partitioning).

Shuffled bytes ~= destination plane size x a small overlap factor (f64
partials keep bilinear accurate to the numpy oracle); never
plane-bytes-per-pixel, never a driver collect.

Semantics (matching `algebra.resample_plane` and r.resamp.interp):
- cell-center alignment: source pixel centers sit at index+0.5;
- a destination pixel whose CENTER falls outside the source footprint
  (half-open [lon0, lon1) x (lat0, lat1], the sample_raster convention)
  is NULL — cnt stays short of the required corner count;
- bilinear is NULL when ANY of its (clamped) corner cells is NaN; at the
  outer footprint edge corners clamp inward, so both corner slots of a
  clamped axis land on the same edge pixel and a phantom out-of-grid
  neighbour can never poison the result;
- nearest passes the source cell through, NaN included.

Source grids must be uniform (every tile of a scene the same w x h): a
ragged grid makes global pixel offsets ambiguous, so the kernel raises
loudly (the nominal dims travel with the broadcast geometry) instead of
silently mis-registering — the failure mode ADVICE r4 flagged for
extract_regions.

Reference: no file (the /root/reference mount is empty every round); the
behavioral spec is GRASS r.proj / r.resamp.interp as published, applied to
the BASELINE.json tile/scene data model.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

from . import codecs
from .pipeline import _TILE_KEY, _group_rows, _tile_rows


@dataclass(frozen=True)
class GridSpec:
    """A target grid: bbox + tiling. lat1 is the TOP edge (row 0), matching
    the scene geocode convention everywhere else in the engine."""
    lon0: float
    lat0: float
    lon1: float
    lat1: float
    ntx: int
    nty: int
    tile_w: int
    tile_h: int

    def __post_init__(self):
        if not (self.lon1 > self.lon0 and self.lat1 > self.lat0):
            raise ValueError("GridSpec bbox must have lon1 > lon0, lat1 > lat0")
        if min(self.ntx, self.nty, self.tile_w, self.tile_h) < 1:
            raise ValueError("GridSpec tiling must be positive")

    @property
    def width(self) -> int:
        return self.ntx * self.tile_w

    @property
    def height(self) -> int:
        return self.nty * self.tile_h


_METHOD_CORNERS = {"nearest": 1, "bilinear": 4}

FRAGMENT_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("src_tx", IntegerType()),
    StructField("src_ty", IntegerType()),
    StructField("tile_x", IntegerType()),   # destination tile key
    StructField("tile_y", IntegerType()),
    StructField("fx0", IntegerType()),      # subrect offset inside dst tile
    StructField("fy0", IntegerType()),
    StructField("fw", IntegerType()),
    StructField("fh", IntegerType()),
    StructField("wsum_bytes", BinaryType()),  # f64 LE partial weighted sum
    StructField("cnt_bytes", BinaryType()),   # u8 corners owned here
    StructField("fin_bytes", BinaryType()),   # u8 finite corners owned here
])

WARP_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("out_bytes", BinaryType()),   # float32 LE warped plane
    StructField("n_valid", LongType()),
])


def _dst_axis(dst_n: int, dst_lo: float, dst_hi: float,
              src_n: int, src_lo: float, src_hi: float,
              descending: bool) -> tuple[float, float]:
    """Affine (a, c): source center coord = a * dst_index + c.

    ``descending`` handles latitude, where index 0 sits at the HIGH edge on
    both grids (lat1), so the composed map is still ascending in index.
    """
    d_step = (dst_hi - dst_lo) / dst_n
    s_per_unit = src_n / (src_hi - src_lo)
    if descending:
        # center coord v = (src_hi - lat_center(gy)) * s_per_unit - 0.5
        a = d_step * s_per_unit
        c = (src_hi - dst_hi + 0.5 * d_step) * s_per_unit - 0.5
    else:
        a = d_step * s_per_unit
        c = (dst_lo + 0.5 * d_step - src_lo) * s_per_unit - 0.5
    return a, c


def warp_plane(plane: np.ndarray,
               src_bbox: tuple[float, float, float, float],
               dst: GridSpec, method: str = "bilinear") -> np.ndarray:
    """Whole-scene single-array warp — the shared kernel/oracle math.

    Used verbatim by tests/test_warp.py as the oracle and by the
    distributed kernel (via the same affine + corner rules) so parity is
    structural, not coincidental. Returns the (dst.height, dst.width) f64
    plane with NaN outside the source footprint.
    """
    if method not in _METHOD_CORNERS:
        raise ValueError(f"method must be one of {sorted(_METHOD_CORNERS)}, got {method!r}")
    s_h, s_w = plane.shape
    lon0, lat0, lon1, lat1 = src_bbox
    ax, cx = _dst_axis(dst.width, dst.lon0, dst.lon1, s_w, lon0, lon1, False)
    ay, cy = _dst_axis(dst.height, dst.lat0, dst.lat1, s_h, lat0, lat1, True)
    u = ax * np.arange(dst.width) + cx
    v = ay * np.arange(dst.height) + cy
    in_x = (u >= -0.5) & (u < s_w - 0.5)
    in_y = (v >= -0.5) & (v < s_h - 0.5)
    out = np.full((dst.height, dst.width), np.nan)
    if not (in_x.any() and in_y.any()):
        return out
    if method == "nearest":
        ix = np.clip(np.floor(u + 0.5).astype(np.int64), 0, s_w - 1)
        iy = np.clip(np.floor(v + 0.5).astype(np.int64), 0, s_h - 1)
        vals = plane[np.ix_(iy, ix)]
        mask = in_y[:, None] & in_x[None, :]
        out[mask] = vals[mask]
        return out
    fx = u - np.floor(u)
    fy = v - np.floor(v)
    x0 = np.clip(np.floor(u).astype(np.int64), 0, s_w - 1)
    x1 = np.clip(np.floor(u).astype(np.int64) + 1, 0, s_w - 1)
    y0 = np.clip(np.floor(v).astype(np.int64), 0, s_h - 1)
    y1 = np.clip(np.floor(v).astype(np.int64) + 1, 0, s_h - 1)
    acc = (plane[np.ix_(y0, x0)] * ((1 - fy)[:, None] * (1 - fx)[None, :])
           + plane[np.ix_(y0, x1)] * ((1 - fy)[:, None] * fx[None, :])
           + plane[np.ix_(y1, x0)] * (fy[:, None] * (1 - fx)[None, :])
           + plane[np.ix_(y1, x1)] * (fy[:, None] * fx[None, :]))
    mask = in_y[:, None] & in_x[None, :]
    out[mask] = acc[mask]
    return out


def _tile_fragments(plane: np.ndarray, ox: int, oy: int, s_w: int, s_h: int,
                    src_bbox: tuple[float, float, float, float],
                    dst: GridSpec, method: str):
    """Fragments this source tile contributes: list of
    (dtx, dty, fx0, fy0, wsum f64, cnt u8, fin u8) over the bounding
    sub-rectangle of destination pixels it touches."""
    t_h, t_w = plane.shape
    lon0, lat0, lon1, lat1 = src_bbox
    ax, cx = _dst_axis(dst.width, dst.lon0, dst.lon1, s_w, lon0, lon1, False)
    ay, cy = _dst_axis(dst.height, dst.lat0, dst.lat1, s_h, lat0, lat1, True)
    # candidate dst index range: source center coords within [o-2, o+t+1]
    # (margin covers corner offsets + outer-edge clamping); exact ownership
    # masks below make over-inclusion harmless.
    gx_lo = max(0, int(np.ceil((ox - 2 - cx) / ax)))
    gx_hi = min(dst.width - 1, int(np.floor((ox + t_w + 1 - cx) / ax)))
    gy_lo = max(0, int(np.ceil((oy - 2 - cy) / ay)))
    gy_hi = min(dst.height - 1, int(np.floor((oy + t_h + 1 - cy) / ay)))
    if gx_lo > gx_hi or gy_lo > gy_hi:
        return []
    gx = np.arange(gx_lo, gx_hi + 1)
    gy = np.arange(gy_lo, gy_hi + 1)
    u = ax * gx + cx
    v = ay * gy + cy
    in_x = (u >= -0.5) & (u < s_w - 0.5)
    in_y = (v >= -0.5) & (v < s_h - 0.5)
    nx, ny = gx.size, gy.size
    wsum = np.zeros((ny, nx))
    cnt = np.zeros((ny, nx), dtype=np.uint8)
    fin = np.zeros((ny, nx), dtype=np.uint8)

    if method == "nearest":
        corners = [(np.clip(np.floor(v + 0.5).astype(np.int64), 0, s_h - 1),
                    np.clip(np.floor(u + 0.5).astype(np.int64), 0, s_w - 1),
                    np.ones(ny), np.ones(nx))]
    else:
        fx = u - np.floor(u)
        fy = v - np.floor(v)
        x0 = np.clip(np.floor(u).astype(np.int64), 0, s_w - 1)
        x1 = np.clip(np.floor(u).astype(np.int64) + 1, 0, s_w - 1)
        y0 = np.clip(np.floor(v).astype(np.int64), 0, s_h - 1)
        y1 = np.clip(np.floor(v).astype(np.int64) + 1, 0, s_h - 1)
        # fixed slot order (00, 01, 10, 11) — the oracle's summation order,
        # so all-corners-in-one-tile pixels are bit-exact vs warp_plane
        corners = [(y0, x0, 1 - fy, 1 - fx), (y0, x1, 1 - fy, fx),
                   (y1, x0, fy, 1 - fx), (y1, x1, fy, fx)]

    for cyi, cxi, wy, wx in corners:
        own = ((in_y & (cyi >= oy) & (cyi < oy + t_h))[:, None]
               & (in_x & (cxi >= ox) & (cxi < ox + t_w))[None, :])
        if not own.any():
            continue
        vals = plane[np.clip(cyi - oy, 0, t_h - 1)[:, None],
                     np.clip(cxi - ox, 0, t_w - 1)[None, :]]
        good = own & np.isfinite(vals)
        w2 = wy[:, None] * wx[None, :]
        wsum += np.where(good, w2 * vals, 0.0)
        cnt += own.astype(np.uint8)
        fin += good.astype(np.uint8)

    touched = cnt > 0
    if not touched.any():
        return []
    out = []
    for dty in range(gy_lo // dst.tile_h, gy_hi // dst.tile_h + 1):
        ys = slice(max(gy_lo, dty * dst.tile_h) - gy_lo,
                   min(gy_hi + 1, (dty + 1) * dst.tile_h) - gy_lo)
        for dtx in range(gx_lo // dst.tile_w, gx_hi // dst.tile_w + 1):
            xs = slice(max(gx_lo, dtx * dst.tile_w) - gx_lo,
                       min(gx_hi + 1, (dtx + 1) * dst.tile_w) - gx_lo)
            t = touched[ys, xs]
            if not t.any():
                continue
            # trim to the touched bounding box inside this dst tile
            ry = np.flatnonzero(t.any(axis=1))
            rx = np.flatnonzero(t.any(axis=0))
            sy = slice(ys.start + ry[0], ys.start + ry[-1] + 1)
            sx = slice(xs.start + rx[0], xs.start + rx[-1] + 1)
            out.append((dtx, dty,
                        int(gx_lo + sx.start - dtx * dst.tile_w),
                        int(gy_lo + sy.start - dty * dst.tile_h),
                        wsum[sy, sx], cnt[sy, sx], fin[sy, sx]))
    return out


def _src_with_geom(tiles: DataFrame, src_geom: DataFrame,
                   src_col: str) -> DataFrame:
    """Project the needed tile columns and broadcast-join the per-scene
    geometry + nominal tile dims (uniform-grid witness)."""
    dims = (tiles.groupBy("scene_id")
            .agg(F.min("w").alias("w_min"), F.max("w").alias("w_max"),
                 F.min("h").alias("h_min"), F.max("h").alias("h_max")))
    geom = (src_geom.select("scene_id", "lon0", "lat0", "lon1", "lat1",
                            "ntx", "nty")
            .join(dims, "scene_id"))
    return (tiles.select("scene_id", "tile_x", "tile_y", "w", "h", src_col)
            .join(F.broadcast(geom), "scene_id"))


def warp_tiles(tiles: DataFrame, src_geom: DataFrame, dst: GridSpec,
               method: str = "bilinear",
               src_col: str = "lst_bytes") -> DataFrame:
    """Warp every scene of ``tiles`` onto the ``dst`` grid (one output scene
    per input scene_id, so revisits stay separate for series/composite).

    ``src_geom`` is the tiny per-scene geometry table (scene_id, lon0,
    lat0, lon1, lat1, ntx, nty) — the same shape `sample_raster` takes.
    Destination tiles never touched by a scene's footprint are absent from
    the output (sparse outer region); covered-but-invalid pixels are NaN.
    Plan: broadcast geom join -> ONE mapInArrow (decode once, emit
    fragments) -> ONE hash shuffle on the dst tile key -> grouped assemble.
    """
    need = _METHOD_CORNERS.get(method)
    if need is None:
        raise ValueError(f"method must be one of {sorted(_METHOD_CORNERS)}, got {method!r}")

    from .pipeline import spread_tiles

    src = _src_with_geom(spread_tiles(tiles), src_geom, src_col)

    def emit(row, w, h):
        if not (row.w_min == row.w_max and row.h_min == row.h_max):
            raise ValueError(
                f"warp_tiles requires a uniform tile grid; scene "
                f"{row.scene_id} has tile widths "
                f"[{row.w_min}, {row.w_max}] and heights "
                f"[{row.h_min}, {row.h_max}] — global pixel offsets "
                f"would be ambiguous on a ragged grid")
        plane = codecs.decode_f32bt(getattr(row, src_col), w, h).astype(np.float64)
        for dtx, dty, fx0, fy0, wsum, cnt, fin in _tile_fragments(
                plane, int(row.tile_x) * w, int(row.tile_y) * h,
                int(row.ntx) * w, int(row.nty) * h,
                (row.lon0, row.lat0, row.lon1, row.lat1), dst, method):
            yield (dtx, dty, fx0, fy0, wsum.shape[1], wsum.shape[0],
                   np.ascontiguousarray(wsum, dtype="<f8").tobytes(),
                   cnt.tobytes(), fin.tobytes())

    frags = _tile_rows(src, FRAGMENT_SCHEMA, emit, ("scene_id", "tile_x", "tile_y"))
    d_tw, d_th = dst.tile_w, dst.tile_h

    def assemble(rows):
        wsum = np.zeros((d_th, d_tw))
        cnt = np.zeros((d_th, d_tw), dtype=np.int64)
        fin = np.zeros((d_th, d_tw), dtype=np.int64)
        # fragments arrive in source-tile order: a deterministic merge
        # order regardless of partitioning
        for r in rows:
            ys = slice(r.fy0, r.fy0 + r.fh)
            xs = slice(r.fx0, r.fx0 + r.fw)
            wsum[ys, xs] += np.frombuffer(r.wsum_bytes, dtype="<f8").reshape(r.fh, r.fw)
            cnt[ys, xs] += np.frombuffer(r.cnt_bytes, dtype=np.uint8).reshape(r.fh, r.fw)
            fin[ys, xs] += np.frombuffer(r.fin_bytes, dtype=np.uint8).reshape(r.fh, r.fw)
        out = np.where((cnt == need) & (fin == need), wsum, np.nan)
        yield (r.scene_id, r.tile_x, r.tile_y, d_tw, d_th,
               out.astype("<f4").tobytes(), int(np.isfinite(out).sum()))

    return _group_rows(frags, _TILE_KEY, ["src_tx", "src_ty"], WARP_SCHEMA, assemble)

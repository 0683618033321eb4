"""Terrain operators: r.viewshed (one observer per scene, and the
cumulative multi-observer coverage of r.viewshed.cva), r.sun
(instantaneous clear-sky irradiance with cast shadows) and r.horizon.

The behavioural specs are the published GRASS modules applied to this
engine's tiled raster model; the serial references below (`_ray_visible`,
`shadow_plane`, `_horizon_strip_scan`) state them as code.

**One sweep shape.** A terrain answer at a cell depends on the cells along
a ray that ignores the tile grid, so tiles are the wrong work unit. All
four operators run the same four steps; only the sweep key and the
per-group kernel differ.

1. ONE decode pass (mapInArrow, `_emit_segments`) cuts every tile into
   run-length ROW SEGMENTS: one (scene_id, key, gy, gx0, f32 bytes) row per
   maximal gx-consecutive run of one raster row that shares a sweep key —
   the pixel-range form of raster work (Raptor, VLDB 2019). Runs without a
   finite cell are dropped; NaN terrain never blocks, shades or gets a
   value. No row per pixel exists and pixel planes never cross an
   exchange.
2. One exchange (`_sweep`) with an explicit partition count and
   round-robin placement: group g of consecutive keys goes to partition
   g mod defaultParallelism, and the groupBy on (scene, g) reuses that
   placement. One applyInPandas per group rebuilds the per-cell
   (gx, gy, z) arrays (`_cells`) and runs the family kernel.
3. Results leave as packed per-tile rows (`_by_tile`): np.packbits bitmaps
   over the nominal tile grid (bit = ly * nom_w + lx), or (index, f32
   value) arrays — a few KB per (tile, group), never a row per cell.
4. `_assemble`: one collect_list per tile, a left join onto the tile
   layout (tiles with no result still get their row) and one mapInArrow
   that builds the output planes.

Sweep keys:

- SECTOR sweeps (`viewshed_tiles`, `viewshed_count_tiles`): key =
  observer index * padded sector count + angular sector around that
  observer. A cell goes to every sector its INFLATED angular extent meets
  (a halfwidth-1.5 square, covering any ray that passes within one cell of
  its center — the interpolation support bound): far cells reach 1-2
  sectors, cells within ~2.5 cells of the observer reach all of them. A
  group holds `_SECTOR_BKT` sectors of one observer. Targets are the cells
  whose CENTER angle falls in the sector (recomputed from (gx, gy) with the
  emit pass's own fp formulas), marched by `_march_targets` over the
  sector-local sparse map, which the inflation guarantees holds every
  support cell of every crossing. ``viewshed_tiles`` is the one-observer
  case.
- STRIP sweeps (`sun_tiles`, `horizon_tiles`): key = strip bucket * number
  of azimuths + azimuth index, where strip = floor(u cosA + v sinA) is the
  unit-width strip parallel to azimuth A and a bucket holds `_STRIP_BKT`
  strips. Strip is monotone in gx along a row, so a 128-px row spans a few
  buckets. Kernels: the running-max shadow scan (spec `shadow_plane`) and
  the convex-hull horizon scan (`_horizon_strip_scan`).

**Viewshed semantics (exact, R3-style):** target cell T (pixel center) is
visible from the observer O (pixel center, eye at terrain + ``obs_height``)
iff at every integer gridline crossing STRICTLY between O and T along the
segment O->T, the sight line's height is >= the terrain height at the
crossing, where terrain at a crossing is linearly interpolated between the
two adjacent pixel centers perpendicular to the crossed axis — the classic
exact per-ray algorithm ("R3" in the viewshed literature; GRASS r.viewshed
implements the Van Kreveld sweep with the same visibility definition).
Comparisons use slope = dz / planar distance (monotone in elevation angle,
no trig). Deviations from GRASS, stated: planar distances in cell units
(no lat/lon metric or earth-curvature drop), NaN terrain never blocks a
ray, and a NaN target is class 255 in the output plane. Per-sector work is
O(targets x ray), the inherent exact-R3 bound — ``max_dist`` is the
production knob that keeps rays bounded (GRASS's own max_distance). With
``max_dist`` set, map cells are kept to ``max_dist + 1.5`` so that
interpolation-support cells just past the radius still block rays —
blocking is full-plane, only TARGETS are radius-limited (matching GRASS).
"""

from __future__ import annotations

import math
from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from . import codecs
from .pipeline import (
    _TILE_KEY, _batch_from_cols, _batch_rows, _nominal_grid, _tile_map,
    _tile_rows,
)

# sectors per scan group: one applyInPandas group costs ~3.5 ms of
# arrow/pandas setup, so per-sector groups drown small-radius viewsheds in
# per-group overhead; a group hosts 8 sectors (256 sectors -> 32 groups)
_SECTOR_BKT = 8
# strips per scan group: a scene-width raster has O(w + h) strips, far
# fewer groups
_STRIP_BKT = 64


_SEG_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("key", LongType()),            # sweep key (module docstring)
    StructField("gy", IntegerType()),
    StructField("gx0", IntegerType()),
    StructField("z_bytes", BinaryType()),      # f32 LE elevation row run
])

_EYE_SCHEMA = StructType([
    StructField("i", LongType()),              # observer row
    StructField("z", DoubleType()),
])


def _packed_schema(*payload: str, azimuth: bool = False) -> StructType:
    """Per-(tile, group) result rows: the tile key plus binary payloads."""
    return StructType(
        [StructField("scene_id", StringType())]
        + ([StructField("azimuth", DoubleType())] if azimuth else [])
        + [StructField("tile_x", IntegerType()),
           StructField("tile_y", IntegerType())]
        + [StructField(p, BinaryType()) for p in payload])


# np.packbits bitmaps over the nominal tile grid: targets a sector group
# evaluated / found visible (a cell is a target of exactly one sector, so
# per-tile bitmaps are disjoint and merge exactly)
_VMASK_SCHEMA = _packed_schema("eval_bytes", "vis_bytes")
# cells ONE observer's sector group sees; per-cell counts are the sum of
# set bits across masks at assembly
_CMASK_SCHEMA = _packed_schema("vis_bytes")
# shaded cells of a strip bucket: with a low sun half the raster can be
# shaded, so per-shaded-cell rows would be the next row explosion
_SHADOW_SCHEMA = _packed_schema("mask_bytes")
# horizon: bit positions (int32 LE) and f32 horizon degrees
_HVAL_SCHEMA = _packed_schema("idx_bytes", "val_bytes", azimuth=True)

VIEWSHED_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("vis_bytes", BinaryType()),    # u8: 1/0, 255 = NaN/out-of-radius
    StructField("n_visible", LongType()),
    StructField("n_evaluated", LongType()),
])

VIEWSHED_COUNT_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("count_bytes", BinaryType()),  # f32: observers seeing the
    StructField("n_covered", LongType()),      # cell; NaN = NaN terrain
    StructField("n_evaluated", LongType()),
])

SUN_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("glob_bytes", BinaryType()),   # f32 W/m^2, NaN where NULL
    StructField("n_shaded", LongType()),
    StructField("n_valid", LongType()),
])

HORIZON_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("azimuth", DoubleType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("horizon_bytes", BinaryType()),  # f32 deg; NaN = NaN cell
    StructField("n_valid", LongType()),          #        or no sunward cell
])

SOLAR_CONSTANT = 1367.0      # W/m^2
_DIFFUSE_FRAC = 0.10         # clear-sky isotropic diffuse fraction


def _ray_visible(ox: float, oy: float, eye: float, tx: int, ty: int,
                 tz: float, zmap: dict) -> bool:
    """Exact R3 test for one target over a {(gx, gy): z} elevation map.
    NaN / missing support cells never block. Shared verbatim by the
    distributed kernel and the test oracle's spec (the oracle reimplements
    it independently; this docstring IS the contract)."""
    dx, dy = tx - ox, ty - oy
    dist = math.hypot(dx, dy)
    if dist == 0:
        return True
    tslope = (tz - eye) / dist

    def blocked_at(t: float, zc: float) -> bool:
        if not math.isfinite(zc):
            return False
        d = t * dist
        return (zc - eye) / d > tslope + 1e-12

    # vertical gridline crossings (x = integer) strictly between
    if dx != 0:
        step = 1 if dx > 0 else -1
        x = int(math.floor(ox)) + (1 if dx > 0 else 0)
        while (x - ox) * step < abs(dx):
            if (x - ox) * step > 0:
                t = (x - ox) / dx
                y = oy + t * dy
                y0 = math.floor(y)
                fy = y - y0
                za = zmap.get((x, int(y0)), math.nan)
                zb = zmap.get((x, int(y0) + 1), math.nan) if fy > 0 else za
                if fy == 0:
                    zc = za
                elif not math.isfinite(za) or not math.isfinite(zb):
                    zc = math.nan
                else:
                    zc = (1 - fy) * za + fy * zb
                if blocked_at(t, zc):
                    return False
            x += step
    # horizontal gridline crossings (y = integer) strictly between
    if dy != 0:
        step = 1 if dy > 0 else -1
        y = int(math.floor(oy)) + (1 if dy > 0 else 0)
        while (y - oy) * step < abs(dy):
            if (y - oy) * step > 0:
                t = (y - oy) / dy
                x = ox + t * dx
                x0 = math.floor(x)
                fx = x - x0
                za = zmap.get((int(x0), y), math.nan)
                zb = zmap.get((int(x0) + 1, y), math.nan) if fx > 0 else za
                if fx == 0:
                    zc = za
                elif not math.isfinite(za) or not math.isfinite(zb):
                    zc = math.nan
                else:
                    zc = (1 - fx) * za + fx * zb
                if blocked_at(t, zc):
                    return False
            y += step
    return True


def _march_targets(ox: float, oy: float, eye: float,
                   tgx: np.ndarray, tgy: np.ndarray, tgz: np.ndarray,
                   kgx: np.ndarray, kgy: np.ndarray,
                   kz: np.ndarray) -> np.ndarray:
    """Vectorized exact-R3 visibility for a BATCH of targets over one
    sparse (gx, gy) -> z map: per gridline crossing, the identical
    IEEE-754 double ops of `_ray_visible` (the spec), elementwise.

    Equivalence to the serial walk, op by op: numpy float64 +,-,*,/ and
    floor are the same correctly-rounded scalar ops; ``dist`` stays
    ``math.hypot`` per TARGET (CPython's hypot is not ulp-identical to a
    vector libm hypot); candidate crossings are generated as a superset
    and filtered by the serial loop's own fp conditions
    ``(x-o)*step > 0`` and ``< |d|``; a map MISS returns NaN exactly as
    the serial ``zmap.get`` default, and NaN never blocks. The serial
    early-exit only skips work after a blocker is found — the outcome is
    any(blocked), computed here for all crossings at once."""
    n = len(tgx)
    vis = np.ones(n, dtype=bool)
    if n == 0:
        return vis
    skey = (kgx.astype(np.int64) << 32) | kgy.astype(np.int64)
    korder = np.argsort(skey)
    skey = skey[korder]
    skz = kz[korder]
    nk = len(skey)

    def zat(qx: np.ndarray, qy: np.ndarray) -> np.ndarray:
        q = (qx << 32) | qy
        pos = np.searchsorted(skey, q)
        posc = np.minimum(pos, nk - 1)
        return np.where(skey[posc] == q, skz[posc], np.nan)

    dxs = tgx.astype(np.float64) - ox
    dys = tgy.astype(np.float64) - oy
    dist = np.fromiter((math.hypot(a, b)
                        for a, b in zip(dxs.tolist(), dys.tolist())),
                       dtype=np.float64, count=n)
    live = dist != 0.0                        # dist 0 = observer cell: True
    tslope = np.full(n, np.nan)
    np.divide(tgz - eye, dist, out=tslope, where=live)
    blocked = np.zeros(n, dtype=bool)
    fox, foy = math.floor(ox), math.floor(oy)

    def axis_pass(vertical: bool) -> None:
        if vertical:
            dmain, dother, omain, oother, fmain = dxs, dys, ox, oy, fox
        else:
            dmain, dother, omain, oother, fmain = dys, dxs, oy, ox, foy
        ti = np.flatnonzero(live & (dmain != 0.0))
        if not len(ti):
            return
        dm = dmain[ti]
        pos = dm > 0
        step = np.where(pos, 1, -1).astype(np.int64)
        start = np.where(pos, fmain + 1, fmain).astype(np.int64)
        ncand = np.floor(np.abs(dm)).astype(np.int64) + 2   # superset
        rep = np.repeat(np.arange(len(ti)), ncand)
        c = (np.repeat(start, ncand)
             + np.repeat(step, ncand) * _runs_arange(ncand))
        rel = (c.astype(np.float64) - omain) * np.repeat(step, ncand) \
            .astype(np.float64)
        keep = (rel > 0.0) & (rel < np.abs(dm)[rep])
        if not keep.any():
            return
        li = rep[keep]                         # local target index
        c = c[keep]
        dmk = dm[li]
        t = (c.astype(np.float64) - omain) / dmk
        v = oother + t * dother[ti][li]
        v0 = np.floor(v)
        fv = v - v0
        v0i = v0.astype(np.int64)
        if vertical:
            za = zat(c, v0i)
            zb = np.where(fv > 0, zat(c, v0i + 1), za)
        else:
            za = zat(v0i, c)
            zb = np.where(fv > 0, zat(v0i + 1, c), za)
        with np.errstate(invalid="ignore"):
            interp = (1.0 - fv) * za + fv * zb
        zc = np.where(fv == 0.0, za,
                      np.where(np.isfinite(za) & np.isfinite(zb),
                               interp, np.nan))
        d = t * dist[ti][li]
        with np.errstate(invalid="ignore"):
            blk = np.isfinite(zc) \
                & ((zc - eye) / d > tslope[ti][li] + 1e-12)
        blocked[ti[li[blk]]] = True

    axis_pass(True)
    axis_pass(False)
    return vis & ~blocked


# --------------------------------------------------------------------------
# The shared sweep (module docstring, steps 1-4)
# --------------------------------------------------------------------------

# cut(scene_id, gx, gy, z) -> (key, gx, gy, z) cell arrays in run order
_Cut = Callable[[str, np.ndarray, np.ndarray, np.ndarray],
                Iterator[tuple[np.ndarray, ...]]]


def _runs_arange(lens: np.ndarray) -> np.ndarray:
    """Concatenated [0..len) ranges: [2, 3] -> [0, 1, 0, 1, 2]."""
    total = int(lens.sum())
    idx = np.arange(total, dtype=np.int64)
    off = np.repeat(np.cumsum(lens) - lens, lens)
    return idx - off


def _pandas(frame) -> pd.DataFrame:
    return frame if isinstance(frame, pd.DataFrame) else frame.toPandas()


def _emit_segments(tiles: DataFrame, nom_w: int, nom_h: int, src_col: str,
                   cut: _Cut) -> DataFrame:
    """Step 1: ``cut`` gets each tile's cells (row-major, scene coordinates,
    f32 z) and yields (key, gx, gy, z) arrays ordered so that runs are
    contiguous; every maximal run of equal key and gy with consecutive gx
    becomes one `_SEG_SCHEMA` row."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols: dict[str, list] = {f.name: [] for f in _SEG_SCHEMA}
            for row in _batch_rows(batch):
                w, h = int(row.w), int(row.h)
                yy, xx = np.mgrid[0:h, 0:w]
                gx = (int(row.tile_x) * nom_w + xx).ravel()
                gy = (int(row.tile_y) * nom_h + yy).ravel()
                z = np.frombuffer(getattr(row, src_col), dtype="<f4")
                for key, kx, ky, kz in cut(row.scene_id, gx, gy, z):
                    if not len(key):
                        continue
                    starts = np.flatnonzero(np.r_[
                        True, (key[1:] != key[:-1]) | (ky[1:] != ky[:-1])
                        | (kx[1:] != kx[:-1] + 1)])
                    ends = np.r_[starts[1:], len(key)]
                    live = np.logical_or.reduceat(np.isfinite(kz), starts)
                    starts, ends = starts[live], ends[live]
                    cols["scene_id"].extend([row.scene_id] * len(starts))
                    cols["key"].extend(key[starts].tolist())
                    cols["gy"].extend(ky[starts].tolist())
                    cols["gx0"].extend(kx[starts].tolist())
                    cols["z_bytes"].extend(
                        kz[a:b].tobytes()
                        for a, b in zip(starts.tolist(), ends.tolist()))
            if cols["scene_id"]:
                yield _batch_from_cols(cols, _SEG_SCHEMA)

    return tiles.select("scene_id", "tile_x", "tile_y", "w", "h", src_col) \
        .mapInArrow(fn, _SEG_SCHEMA)


def _sweep(tiles: DataFrame, nom_w: int, nom_h: int, src_col: str,
           cut: _Cut, group: Column, scan, schema: StructType) -> DataFrame:
    """Steps 1-3: segment rows, one exchange on (scene, ``group``), and
    ``scan(pdf) -> list of schema tuples`` per group."""
    names = [f.name for f in schema]
    # ONE explicit-count exchange with round-robin placement: group g goes
    # to partition g mod par, so adjacent sectors or strip buckets, which
    # carry similar work, run on different tasks (hashing a few dozen
    # groups onto par partitions left one task with 1.6x the mean load).
    # REPARTITION_BY_NUM is not coalescible by AQE, which would otherwise
    # put the small sector exchange on one task; the groupBy reuses the
    # placement because grp is one of its keys (repartitionById: Spark 4.1+)
    par = max(tiles.sparkSession.sparkContext.defaultParallelism, 1)
    group = group.cast("int")
    return (_emit_segments(tiles, nom_w, nom_h, src_col, cut)
            .repartitionById(par, group)
            .groupBy("scene_id", group.alias("grp"))
            .applyInPandas(lambda _k, pdf: pd.DataFrame(scan(pdf),
                                                        columns=names),
                           schema))


def _cells(pdf: pd.DataFrame) -> tuple[np.ndarray, ...]:
    """Per-cell (gx, gy, z) of a frame of segment rows, finite cells only:
    a NaN cell and a missing cell read the same (NaN never blocks, shades
    or gets a value)."""
    zs = [np.frombuffer(b, dtype="<f4") for b in pdf.z_bytes]
    lens = np.fromiter((len(a) for a in zs), dtype=np.int64, count=len(zs))
    z = np.concatenate(zs).astype(np.float64)
    gx = np.repeat(pdf.gx0.to_numpy(np.int64), lens) + _runs_arange(lens)
    gy = np.repeat(pdf.gy.to_numpy(np.int64), lens)
    keep = np.isfinite(z)
    return gx[keep], gy[keep], z[keep]


def _by_tile(gx: np.ndarray, gy: np.ndarray, nom_w: int, nom_h: int,
             *vals: np.ndarray) -> Iterator[tuple]:
    """Cells grouped by destination tile: (tile_x, tile_y, bit, *vals) per
    tile, bit = ly * nom_w + lx ascending."""
    if not len(gx):
        return
    tx, ty = gx // nom_w, gy // nom_h
    bit = (gy - ty * nom_h) * nom_w + (gx - tx * nom_w)
    order = np.lexsort((bit, ty, tx))
    tx, ty, bit = tx[order], ty[order], bit[order]
    vals = tuple(v[order] for v in vals)
    starts = np.flatnonzero(
        np.r_[True, (tx[1:] != tx[:-1]) | (ty[1:] != ty[:-1])])
    for a, b in zip(starts, np.r_[starts[1:], len(tx)]):
        yield (int(tx[a]), int(ty[a]), bit[a:b], *(v[a:b] for v in vals))


def _bitmap(bits: np.ndarray, nbits: int) -> bytes:
    m = np.zeros(nbits, dtype=np.uint8)
    m[bits] = 1
    return np.packbits(m).tobytes()


def _bit_sums(masks, nom_w: int, nom_h: int, h: int, w: int):
    """Per-cell number of set bits across a tile's packed bitmaps, cropped
    to (h, w); None when the tile received no bitmap."""
    if not masks:
        return None
    nbits = nom_w * nom_h
    acc = np.zeros(nbits, dtype=np.int64)
    for mb in masks:
        acc += np.unpackbits(np.frombuffer(mb, dtype=np.uint8), count=nbits)
    return acc.reshape(nom_h, nom_w)[:h, :w]


def _assemble(layout: DataFrame, vals: DataFrame, keys: list[str], build,
              schema: StructType) -> DataFrame:
    """Step 4: each payload column of ``vals`` collects to one list per
    ``keys`` row of ``layout`` (None when none arrived); the output row is
    the keys, w, h and ``build(row, w, h)``."""
    payload = [c for c in vals.columns if c not in keys]
    agg = vals.groupBy(*keys).agg(
        *(F.collect_list(c).alias(c) for c in payload))
    return _tile_map(layout.join(agg, on=keys, how="left"), schema, build,
                     (*keys, "w", "h"))


# --------------------------------------------------------------------------
# Sector sweeps: viewshed (one observer) and cumulative viewshed (many)
# --------------------------------------------------------------------------

def _observer_eyes(tiles: DataFrame, obs_pdf: pd.DataFrame,
                   obs_height: float, nom_w: int, nom_h: int,
                   src_col: str) -> dict[str, list]:
    """Per scene, its observers' (ox, oy, eye) in row order: eye = terrain
    at the observer cell + ``obs_height``. Decodes ONLY the tiles holding
    an observer — O(observers) tiles, never a scan of the raster. Raises
    when an observer cell is NaN or outside the raster."""
    o = pd.DataFrame({"scene_id": obs_pdf.scene_id.to_numpy(),
                      "ox": obs_pdf.ox.to_numpy(np.float64),
                      "oy": obs_pdf.oy.to_numpy(np.float64),
                      "i": np.arange(len(obs_pdf))})
    hit = (tiles.select("scene_id", "tile_x", "tile_y", "w", "h", src_col)
           .join(F.broadcast(tiles.sparkSession.createDataFrame(o)),
                 on="scene_id")
           .filter((F.col("tile_x")
                    == F.floor(F.col("ox") / nom_w).cast("int"))
                   & (F.col("tile_y")
                      == F.floor(F.col("oy") / nom_h).cast("int"))))

    def fn(row, w, h):
        lx = int(row.ox) - int(row.tile_x) * nom_w
        ly = int(row.oy) - int(row.tile_y) * nom_h
        if 0 <= lx < w and 0 <= ly < h:
            plane = codecs.decode_f32bt(getattr(row, src_col), w, h)
            yield (float(plane[ly, lx]),)

    zs = dict(_tile_rows(hit, _EYE_SCHEMA, fn, ("i",)).collect())
    eyes: dict[str, list] = {}
    for r in o.itertuples():
        z = zs.get(r.i, math.nan)
        if not math.isfinite(z):
            raise ValueError(f"observer ({r.ox:g}, {r.oy:g}) of scene "
                             f"{r.scene_id!r} is NaN or outside the raster")
        eyes.setdefault(r.scene_id, []).append(
            (float(r.ox), float(r.oy), z + float(obs_height)))
    return eyes


def _sector_sweep(tiles: DataFrame, obs_pdf: pd.DataFrame,
                  obs_height: float, max_dist: float | None,
                  n_sectors: int, src_col: str,
                  counts: bool) -> tuple[DataFrame, int, int]:
    """Per-(tile, sector group) bitmaps of every observer's exact-R3
    targets: (eval_bytes, vis_bytes), or only vis_bytes when ``counts``."""
    nom_w, nom_h = _nominal_grid(tiles)
    eyes_b = tiles.sparkSession.sparkContext.broadcast(_observer_eyes(
        tiles, obs_pdf, obs_height, nom_w, nom_h, src_col))
    # padding keeps every group of _SECTOR_BKT keys inside one observer
    n_pad = -(-n_sectors // _SECTOR_BKT) * _SECTOR_BKT
    two_pi = 2.0 * math.pi
    nbits = nom_w * nom_h

    def cut(sid, gx, gy, z):
        fin = np.isfinite(z)
        gx, gy, z = gx[fin], gy[fin], z[fin]
        for i, (ox, oy, _eye) in enumerate(eyes_b.value.get(sid, ())):
            cx, cy, cz = gx, gy, z
            rx, ry = cx - ox, cy - oy
            r = np.hypot(rx, ry)
            # map cells keep a +1.5 margin so interpolation-support cells
            # just past the radius still block; targets are strictly
            # radius-limited (recomputed in the scan)
            if max_dist is not None:
                keep = r <= max_dist + 1.5
                cx, cy, cz, rx, ry, r = (a[keep]
                                         for a in (cx, cy, cz, rx, ry, r))
            ang = np.arctan2(ry, rx)      # [-pi, pi]
            # inflated angular halfwidth: a square of halfwidth 1.5 around
            # the center subtends <= 2*asin(min(1, 1.5*sqrt2/r)); asin
            # saturates to pi/2 near O, near cells go everywhere
            with np.errstate(invalid="ignore", divide="ignore"):
                half = np.arcsin(np.clip(1.5 * math.sqrt(2.0)
                                         / np.maximum(r, 1e-9), 0, 1.0))
            s_lo = np.floor((ang - half + math.pi) / two_pi
                            * n_sectors).astype(np.int64)
            s_hi = np.floor((ang + half + math.pi) / two_pi
                            * n_sectors).astype(np.int64)
            # each cell reaches `span` consecutive sectors from `base`
            near = r <= 2.5
            span = np.where(near, n_sectors,
                            np.minimum(s_hi - s_lo + 1, n_sectors))
            base = np.where(near, 0, s_lo)
            idx = np.repeat(np.arange(len(cx)), span)
            key = i * n_pad + (np.repeat(base, span)
                               + _runs_arange(span)) % n_sectors
            order = np.lexsort((cx[idx], cy[idx], key))
            idx = idx[order]
            yield key[order], cx[idx], cy[idx], cz[idx]

    # each sector marches over exactly its own membership: a cell's center
    # sector is unique, so targets are disjoint across sectors
    def scan(pdf: pd.DataFrame) -> list:
        sid = pdf.scene_id.iloc[0]
        found = []
        for key, g in pdf.groupby("key", sort=False):
            ox, oy, eye = eyes_b.value[sid][key // n_pad]
            gx, gy, z = _cells(g)
            rx, ry = gx - ox, gy - oy
            ctr = (np.floor((np.arctan2(ry, rx) + math.pi) / two_pi
                            * n_sectors).astype(np.int64) % n_sectors)
            tgt = ctr == key % n_pad
            if max_dist is not None:
                tgt &= np.hypot(rx, ry) <= max_dist
            if tgt.any():
                found.append((gx[tgt], gy[tgt], _march_targets(
                    ox, oy, eye, gx[tgt], gy[tgt], z[tgt], gx, gy, z)))
        if not found:
            return []
        tgx, tgy, vis = (np.concatenate(a) for a in zip(*found))
        if counts:
            return [(sid, tx, ty, _bitmap(b, nbits))
                    for tx, ty, b in _by_tile(tgx[vis], tgy[vis],
                                              nom_w, nom_h)]
        return [(sid, tx, ty, _bitmap(b, nbits), _bitmap(b[v], nbits))
                for tx, ty, b, v in _by_tile(tgx, tgy, nom_w, nom_h, vis)]

    masks = _sweep(tiles, nom_w, nom_h, src_col, cut,
                   F.floor(F.col("key") / _SECTOR_BKT), scan,
                   _CMASK_SCHEMA if counts else _VMASK_SCHEMA)
    return masks, nom_w, nom_h


def viewshed_tiles(tiles: DataFrame, observers, obs_height: float = 1.75,
                   max_dist: float | None = None, n_sectors: int = 256,
                   src_col: str = "lst_bytes") -> DataFrame:
    """r.viewshed: per-scene visibility plane from one observer per scene.

    ``observers``: pandas or Spark frame (scene_id, ox, oy) in scene
    pixel-CENTER coordinates (integers address cell centers). ``obs_height``
    is added to the observer cell's terrain (GRASS observer_elevation);
    a NaN observer cell raises. ``max_dist`` bounds rays in cell units
    (GRASS max_distance); cells beyond it — and NaN cells — are 255 in the
    output plane. Returns one row per input tile with a u8 plane. The
    one-observer case of the sector sweep (module docstring).
    """
    obs_pdf = _pandas(observers)
    if obs_pdf.scene_id.duplicated().any():
        raise ValueError("one observer per scene")
    masks, nom_w, nom_h = _sector_sweep(tiles, obs_pdf, obs_height,
                                        max_dist, n_sectors, src_col,
                                        counts=False)

    def fn(row, w, h):
        plane = np.full((h, w), 255, dtype=np.uint8)
        ev = _bit_sums(row.eval_bytes, nom_w, nom_h, h, w)
        if ev is not None:
            plane[ev > 0] = 0
            plane[_bit_sums(row.vis_bytes, nom_w, nom_h, h, w) > 0] = 1
        return (plane.tobytes(), int((plane == 1).sum()),
                int((plane != 255).sum()))

    layout = tiles.select("scene_id", "tile_x", "tile_y", "w", "h")
    return _assemble(layout, masks, _TILE_KEY, fn, VIEWSHED_SCHEMA)


def viewshed_count_tiles(tiles: DataFrame, observers,
                         obs_height: float = 1.75,
                         max_dist: float | None = None,
                         n_sectors: int = 256,
                         src_col: str = "lst_bytes") -> DataFrame:
    """Cumulative viewshed over MANY observers per scene (the r.viewshed
    coverage-analysis composite, GRASS addon r.viewshed.cva): per cell, how
    many observers see it, under exactly `viewshed_tiles`' R3 semantics per
    observer. ``observers``: (scene_id, obs_id, ox, oy).

    Work is inherently O(sum over observers of their in-radius cells) —
    every observer needs its own rays — so ``max_dist`` is the scale knob
    exactly as in GRASS CVA studies. Each observer's visible sets leave as
    per-(tile, sector group) bitmaps whose set bits SUM to the per-cell
    counts at assembly (an observer sees a cell through one sector only).

    Output planes are f32 counts (0 = evaluated, never seen; NaN = NaN
    terrain). A cell outside every observer's radius counts 0 — it is
    still evaluated terrain (n_evaluated counts finite cells, matching
    the sum over observers' n_evaluated only when radii cover the scene).
    """
    obs_pdf = _pandas(observers)
    if obs_pdf[["scene_id", "obs_id"]].duplicated().any():
        raise ValueError("duplicate (scene_id, obs_id)")
    masks, nom_w, nom_h = _sector_sweep(tiles, obs_pdf, obs_height,
                                        max_dist, n_sectors, src_col,
                                        counts=True)

    def fn(row, w, h):
        plane = codecs.decode_f32bt(getattr(row, src_col), w, h)
        cnt = np.where(np.isfinite(plane), 0.0, np.nan).astype(np.float32)
        seen = _bit_sums(row.vis_bytes, nom_w, nom_h, h, w)
        if seen is not None:
            cnt[seen > 0] = seen[seen > 0].astype(np.float32)
        return (cnt.tobytes(), int((cnt > 0).sum()),
                int(np.isfinite(cnt).sum()))

    layout = tiles.select("scene_id", "tile_x", "tile_y", "w", "h", src_col)
    return _assemble(layout, masks, _TILE_KEY, fn, VIEWSHED_COUNT_SCHEMA)


# --------------------------------------------------------------------------
# Strip sweeps: solar irradiance with cast shadows (r.sun analog,
# instantaneous mode) and horizon angles (r.horizon analog)
# --------------------------------------------------------------------------

def _strip_coords(gx: np.ndarray, gy: np.ndarray, azimuth_deg: float):
    """(s, strip) of cells for parallel rays toward a compass azimuth
    (0=N, CW; pixel axes u east, v south): s = u sinA - v cosA grows toward
    the azimuth, strip = floor(u cosA + v sinA) — `shadow_plane`'s
    formulas, int64 coordinates into float64 products."""
    a = math.radians(azimuth_deg % 360.0)
    s = gx * math.sin(a) + gy * -math.cos(a)
    return s, np.floor(gx * math.cos(a) + gy * math.sin(a)).astype(np.int64)


def _strip_cut(azimuths_of: Callable[[str], list]) -> _Cut:
    """Row-major runs keyed by strip bucket * n + azimuth index, one pass
    per azimuth of the scene. Strip is monotone in gx along a row, so the
    runs of one bucket are contiguous."""

    def cut(sid, gx, gy, z):
        azs = azimuths_of(sid)
        for i, az in enumerate(azs):
            bkt = _strip_coords(gx, gy, az)[1] // _STRIP_BKT
            yield bkt * len(azs) + i, gx, gy, z

    return cut


def _sun_vectors(azimuth_deg: float, altitude_deg: float):
    """(s-axis, tan alt, trig) for a sun at compass azimuth (0=N, CW) and
    altitude above the horizon. Pixel axes: u east (+x), v south (+y);
    the unit vector TOWARD the sun is (sin A, -cos A) in (u, v)."""
    a = math.radians(azimuth_deg % 360.0)
    alt = math.radians(altitude_deg)
    return math.sin(a), -math.cos(a), math.tan(alt)


def shadow_plane(plane: np.ndarray, azimuth_deg: float,
                 altitude_deg: float) -> np.ndarray:
    """Whole-plane cast-shadow reference (and the documented SPEC the
    distributed kernel implements): cells are grouped into UNIT-WIDTH
    STRIPS parallel to the sun azimuth (strip = floor(u*cosA + v*sinA));
    within a strip, cell c is shadowed iff some cell b strictly closer to
    the sun (s_b > s_c, s = u*sinA - v*cosA) has
    z_b - (s_b - s_c) * tan(alt) > z_c — i.e. running strict max of
    q = z - s*tan(alt) over descending s. The strip discretization is the
    classic parallel-ray grid-marching approximation (r.sun's own shadow
    walk is grid-stepped too); NaN cells never shade and are not targets.
    Ties in s never shade each other. Returns u8: 1 shaded, 0 lit,
    255 NaN."""
    h, w = plane.shape
    du, dv, tanalt = _sun_vectors(azimuth_deg, altitude_deg)
    a = math.radians(azimuth_deg % 360.0)
    vv, uu = np.mgrid[0:h, 0:w]
    s = uu * du + vv * dv
    p = uu * math.cos(a) + vv * math.sin(a)
    strip = np.floor(p).astype(np.int64)
    q = plane - s * tanalt
    out = np.full((h, w), 255, dtype=np.uint8)
    finite = np.isfinite(plane)
    out[finite] = 0
    for st in np.unique(strip):
        m = (strip == st) & finite
        if not m.any():
            continue
        ss, qq = s[m], q[m]
        order = np.argsort(-ss, kind="mergesort")
        ss, qq = ss[order], qq[order]
        runmax = -np.inf
        i = 0
        shaded = np.zeros(len(ss), dtype=bool)
        while i < len(ss):
            j = i
            while j < len(ss) and ss[j] == ss[i]:
                j += 1
            shaded[i:j] = qq[i:j] < runmax  # strict: block needs q_b > q_c
            runmax = max(runmax, float(qq[i:j].max()))
            i = j
        idx = np.flatnonzero(m)
        out.ravel()[idx[order]] = shaded.astype(np.uint8)
    return out


def sun_tiles(tiles: DataFrame, sun: DataFrame | pd.DataFrame,
              src_col: str = "lst_bytes") -> DataFrame:
    """r.sun analog, instantaneous clear-sky global irradiance with cast
    shadows, per scene. ``sun``: (scene_id, azimuth_deg, altitude_deg),
    one row per scene; altitude must be in (0, 90].

    Radiometric model (a documented SIMPLIFICATION of r.sun's Linke-
    turbidity model — the distributed geometry, not the atmosphere, is the
    point here): beam normal B = S0 * 0.75^(m^0.678) with air mass
    m = 1/sin(alt) (Meinel clear-sky); direct on the surface =
    B * max(cos i, 0) * lit, cos i from the Horn slope/aspect (exact
    cross-tile via the 1-px halo exchange); diffuse = S0 * 0.10 * sin(alt)
    * (1 + cos slope)/2 (isotropic sky). Output NaN wherever the 3x3
    gradient is NULL-poisoned (scene edges / NaN neighbors), matching
    gradient_tiles semantics.

    Distributed shape: the strip sweep (module docstring) along the sun
    azimuth runs `shadow_plane`'s running-max scan per strip, fully
    vectorized, and returns shaded-cell bitmaps; the 1-px halo exchange
    carries the elevation planes to the assembly, which computes the
    irradiance per tile.
    """
    sun_pdf = _pandas(sun)
    if sun_pdf.scene_id.duplicated().any():
        raise ValueError("one sun position per scene")
    if ((sun_pdf.altitude_deg <= 0) | (sun_pdf.altitude_deg > 90)).any():
        raise ValueError("altitude_deg must be in (0, 90]")
    sun_b = tiles.sparkSession.sparkContext.broadcast(
        {r.scene_id: (float(r.azimuth_deg), float(r.altitude_deg))
         for r in sun_pdf.itertuples()})
    nom_w, nom_h = _nominal_grid(tiles)

    def scan(pdf: pd.DataFrame) -> list:
        sid = pdf.scene_id.iloc[0]
        az, altd = sun_b.value[sid]
        gx, gy, z = _cells(pdf)
        s, strip = _strip_coords(gx, gy, az)
        q = z - s * math.tan(math.radians(altd))
        # ONE stable lexsort for the whole bucket: strip ascending, s
        # descending within a strip — each strip then scans as its own
        # contiguous slice, exactly the per-strip argsort(-s, mergesort)
        # of the serial spec
        order = np.lexsort((-s, strip))
        st_o, s_o, q_o = strip[order], s[order], q[order]
        # tie groups = runs of equal s within a strip; the serial walk
        # treats them atomically (group members never shade each other),
        # so the vectorized form compares each group against the running
        # max of STRICTLY-PRIOR groups — identical comparisons, no fp
        # accumulation anywhere (max and < are exact)
        new_strip = np.r_[True, st_o[1:] != st_o[:-1]]
        new_group = new_strip | np.r_[True, s_o[1:] != s_o[:-1]]
        starts = np.flatnonzero(new_group)
        gmax = np.maximum.reduceat(q_o, starts)
        runbefore = np.empty(len(starts))
        gs = np.flatnonzero(new_strip[starts])   # first group of each strip
        bounds = np.r_[gs, len(starts)]
        for a, b in zip(bounds[:-1], bounds[1:]):
            runbefore[a] = -np.inf
            if b - a > 1:
                runbefore[a + 1:b] = np.maximum.accumulate(gmax[a:b - 1])
        sizes = np.diff(np.r_[starts, len(q_o)])
        sel = order[q_o < np.repeat(runbefore, sizes)]
        return [(sid, tx, ty, _bitmap(b, nom_w * nom_h))
                for tx, ty, b in _by_tile(gx[sel], gy[sel], nom_w, nom_h)]

    shadows = _sweep(tiles, nom_w, nom_h, src_col,
                     _strip_cut(lambda sid: [sun_b.value[sid][0]]
                                if sid in sun_b.value else []),
                     F.col("key"), scan, _SHADOW_SCHEMA)

    from .kernels import slope_aspect
    from .pipeline import halo_plane_tiles

    src = tiles
    if "image_id" not in tiles.columns:
        src = tiles.withColumn("image_id", F.lit(""))
    pad = halo_plane_tiles(src, r=1, src_col=src_col) \
        .select("scene_id", "tile_x", "tile_y", "w", "h", "pad_bytes")

    def fn(row, w, h):
        pos = sun_b.value.get(row.scene_id)
        if pos is None:
            return np.full((h, w), np.nan, dtype=np.float32).tobytes(), 0, 0
        az, altd = pos
        alt = math.radians(altd)
        pad_p = np.frombuffer(row.pad_bytes, dtype="<f4") \
            .reshape(h + 2, w + 2).astype(np.float64)
        g = slope_aspect(pad_p)
        sl = np.radians(g["slope_deg"][1:-1, 1:-1])
        asp = np.radians(np.nan_to_num(g["aspect_deg"][1:-1, 1:-1]))
        shaded = _bit_sums(row.mask_bytes, nom_w, nom_h, h, w)
        lit = np.ones((h, w), dtype=bool) if shaded is None else shaded == 0
        m = 1.0 / math.sin(alt)                      # air mass
        beam = SOLAR_CONSTANT * 0.75 ** (m ** 0.678)  # Meinel
        azr = math.radians(az % 360.0)
        with np.errstate(invalid="ignore"):
            cosi = (math.sin(alt) * np.cos(sl)
                    + math.cos(alt) * np.sin(sl) * np.cos(azr - asp))
            direct = beam * np.clip(cosi, 0.0, None) * lit
            diffuse = (SOLAR_CONSTANT * _DIFFUSE_FRAC
                       * math.sin(alt) * (1.0 + np.cos(sl)) / 2.0)
            glob = (direct + diffuse).astype(np.float32)
        glob[np.isnan(sl)] = np.nan
        valid = np.isfinite(glob)
        return (glob.tobytes(), int((~lit & valid).sum()),
                int(valid.sum()))

    return _assemble(pad, shadows, _TILE_KEY, fn, SUN_SCHEMA)


def _horizon_strip_scan(s: np.ndarray, z: np.ndarray) -> np.ndarray:
    """Exact per-cell max elevation angle toward the azimuth within one
    strip: for each cell c, max over cells b with s_b > s_c of
    (z_b - z_c) / (s_b - s_c), as DEGREES of atan; NaN when no strictly
    azimuth-ward cell exists. O(n log n): cells processed in descending s
    keep an upper convex hull of seen points; the slope from a query point
    to hull vertices is unimodal, found by ternary search. Equal-s cells
    never obstruct each other (the sun-shadow convention)."""
    order = np.argsort(-s, kind="mergesort")
    ss, zz = s[order], z[order]
    n = len(ss)
    out = np.full(n, np.nan)
    hx: list[float] = []   # hull s (descending)
    hz: list[float] = []

    def query(sc: float, zc: float) -> float:
        lo, hi = 0, len(hx) - 1
        while hi - lo > 2:
            m1 = lo + (hi - lo) // 3
            m2 = hi - (hi - lo) // 3
            f1 = (hz[m1] - zc) / (hx[m1] - sc)
            f2 = (hz[m2] - zc) / (hx[m2] - sc)
            if f1 < f2:
                lo = m1 + 1
            else:
                hi = m2
        return max((hz[i] - zc) / (hx[i] - sc) for i in range(lo, hi + 1))

    i = 0
    while i < n:
        j = i
        while j < n and ss[j] == ss[i]:
            j += 1
        if hx:
            for k in range(i, j):
                out[k] = math.degrees(math.atan(query(ss[k], zz[k])))
        for k in range(i, j):           # add the group to the upper hull
            sk, zk = float(ss[k]), float(zz[k])
            if hx and hx[-1] == sk:     # same s: keep only the higher point
                if zk <= hz[-1]:
                    continue
                hx.pop(); hz.pop()
            while len(hx) >= 2:
                # pop while the last vertex is under the (prev, new) chord
                # (s descends along the hull, so the cross test flips sign)
                x1, y1, x2, y2 = hx[-2], hz[-2], hx[-1], hz[-1]
                if (y2 - y1) * (sk - x1) >= (zk - y1) * (x2 - x1):
                    hx.pop(); hz.pop()
                else:
                    break
            hx.append(sk); hz.append(zk)
        i = j
    res = np.full(n, np.nan)
    res[order] = out
    return res


def horizon_tiles(tiles: DataFrame, azimuths, src_col: str = "lst_bytes"
                  ) -> DataFrame:
    """r.horizon analog: per-cell horizon ELEVATION ANGLE (signed degrees,
    atan of the max slope to any strictly azimuth-ward cell in the cell's
    parallel-ray strip; NaN for NaN cells and for cells with nothing
    azimuth-ward — the scene-edge cells of that direction) for each
    requested compass azimuth. One output plane row per (scene, azimuth,
    tile).

    The strip sweep (module docstring) with every azimuth in one decode
    pass; each strip runs the exact convex-hull scan. Work is O(azimuths x
    cells), the honest cost of independent directions (GRASS iterates the
    whole raster per direction too)."""
    azs = [float(a) % 360.0 for a in azimuths]
    if len(azs) == 0:
        raise ValueError("horizon_tiles needs at least one azimuth")
    if len(set(azs)) != len(azs):
        raise ValueError("duplicate azimuths")
    nom_w, nom_h = _nominal_grid(tiles)

    # a strip BUCKET per group (one group per strip drowned in per-group
    # overhead); per-strip results are unchanged — `_horizon_strip_scan`
    # sorts internally and tie groups are order-independent
    def scan(pdf: pd.DataFrame) -> list:
        sid = pdf.scene_id.iloc[0]
        az = azs[int(pdf.key.iloc[0]) % len(azs)]
        gx, gy, z = _cells(pdf)
        s, strip = _strip_coords(gx, gy, az)
        order = np.argsort(strip, kind="stable")
        st_o = strip[order]
        bounds = np.r_[np.flatnonzero(np.r_[True, st_o[1:] != st_o[:-1]]),
                       len(st_o)]
        ang = np.empty(len(s))
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            sel = order[lo:hi]
            ang[sel] = _horizon_strip_scan(s[sel], z[sel])
        return [(sid, az, tx, ty, b.astype("<i4").tobytes(),
                 v.astype("<f4").tobytes())
                for tx, ty, b, v in _by_tile(gx, gy, nom_w, nom_h,
                                             ang.astype(np.float32))]

    vals = _sweep(tiles, nom_w, nom_h, src_col, _strip_cut(lambda _s: azs),
                  F.col("key"), scan, _HVAL_SCHEMA)

    def fn(row, w, h):
        plane = np.full((nom_h, nom_w), np.nan, dtype=np.float32)
        for ib, vb in zip(row.idx_bytes or (), row.val_bytes or ()):
            plane.ravel()[np.frombuffer(ib, dtype="<i4")] = \
                np.frombuffer(vb, dtype="<f4")
        plane = np.ascontiguousarray(plane[:h, :w])
        return plane.tobytes(), int(np.isfinite(plane).sum())

    az_df = tiles.sparkSession.createDataFrame(pd.DataFrame({"azimuth": azs}))
    layout = tiles.select("scene_id", "tile_x", "tile_y", "w", "h") \
        .crossJoin(F.broadcast(az_df))
    return _assemble(layout, vals, ["scene_id", "azimuth", "tile_x",
                                    "tile_y"], fn, HORIZON_SCHEMA)

"""Spatial operators: batched cell-encode, point-in-polygon, kNN and
vector -> raster.

North rule (BASELINE.json:6): pixels/tiles are "assigned to H3 (res 7-9) and
S2 cells via batched cell-encode, then joined to vector AOI polygons with a
broadcast R-tree point-in-polygon test, kNN matched to CWV station
observations". No shapely/rtree/h3 libs exist (SURVEY.md §0) — everything
here is numpy + Arrow-batched UDFs; per-row Python is banned
(BASELINE.json:15).

Every operator comes in two forms, broadcast and cell, built on one
candidate -> verify -> emit skeleton. The candidate source is the only
piece that differs between the forms:

- point operators. The broadcast form (pip_join / knn_join /
  enrich_pixels) is for a vector side that fits one executor. One AOI pack
  (PackedPolygons, a 2-level STR R-tree, plus the category map) and one
  station pack ride a broadcast. One mapInArrow over coalesced point
  batches (_broadcast_points) expands each batch to its PIP pairs
  (_pip_pairs) and each pair to its id-tie-broken top-k stations (_top_k),
  and emits by Arrow take. The cell form (pip_join_cells / knn_join_cells /
  knn_join_cells_exact) takes a parquet-backed vector side that never
  transits the driver. Its candidates come from bare cell-key equi joins
  (ring vertex arrays are never duplicated across a shuffle —
  BENCH/SPATIAL_SHUFFLE.md measures the r3->r4 delta). PIP verification
  is exact (salted-cogroup numpy ray-cast or Catalyst HOF ray-cast); every
  kNN candidate source (the 1-ring join, the point-side ring probe, the
  exact fallback's cross join) feeds one Catalyst rank + certificate
  select (_knn_rank), and kNN exactness escalates until 100% certified.
- vector -> raster operators (idw / kde / lines). One grid source
  (_grid: tile ids joined to the broadcast scene_geom), one pixel geocode
  (_tile_lonlat), one plane schema (_plane_schema) and one plane function
  per operator, ``plane(row, w, h, vec)``. The broadcast form passes a
  broadcast vector pack and runs the plane on pipeline._tile_rows
  (_broadcast_planes). The cell form gathers each tile's candidates with
  one tile -> degree-cell explode (_tile_cells) and an equi join, and runs
  the same plane per tile key on pipeline._group_rows
  (_grouped_plane_apply), which sorts the candidates by their id and
  drops one that reached its tile through several cells as a
  consecutive repeat.
"""

from __future__ import annotations

import itertools
import math
from functools import partial
from operator import attrgetter

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, FloatType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from . import geo
from .pipeline import (
    _TILE_IDS, _TILE_KEY, _arrow_schema, _coalesce_batches, _group_rows,
    _nan_none, _nominal_grid, _row_map, _tile_rows,
)

# --------------------------------------------------------------------------
# batched cell-encode (vectorized pandas UDFs)
# --------------------------------------------------------------------------


def s2_cell_udf(level: int = 14):
    @F.pandas_udf(LongType())
    def enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(geo.s2_cell(lon.to_numpy(), lat.to_numpy(), level))

    return enc


def hexcell_udf(res: int):
    @F.pandas_udf(LongType())
    def enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(geo.hexcell(lon.to_numpy(), lat.to_numpy(), res))

    return enc


def with_cells(df: DataFrame, lon_col: str = "lon", lat_col: str = "lat",
               s2_level: int = 14) -> DataFrame:
    """Adds hex_7/hex_8/hex_9 (hex grid, H3-role) + s2_cell columns."""
    lon, lat = F.col(lon_col), F.col(lat_col)
    return (
        df.withColumn("hex_7", hexcell_udf(7)(lon, lat))
        .withColumn("hex_8", hexcell_udf(8)(lon, lat))
        .withColumn("hex_9", hexcell_udf(9)(lon, lat))
        .withColumn("s2_cell", s2_cell_udf(s2_level)(lon, lat))
    )


# --------------------------------------------------------------------------
# polygons: packed arrays + 2-level STR tree + vectorized ray casting
# --------------------------------------------------------------------------


class PackedPolygons:
    """AOI polygons packed into flat numpy arrays (broadcast-friendly)."""

    def __init__(self, aoi_ids: list[str], rings: list[np.ndarray]):
        self.aoi_ids = np.array(aoi_ids, dtype=object)
        self.starts = np.zeros(len(rings) + 1, dtype=np.int64)
        for i, r in enumerate(rings):
            self.starts[i + 1] = self.starts[i] + len(r)
        self.xy = np.concatenate(rings, axis=0) if rings else np.zeros((0, 2))
        self.bbox = np.array(
            [[r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max()] for r in rings]
        ) if rings else np.zeros((0, 4))
        # STR packing: sort by x-center into ~sqrt(m) slices, then by y within
        m = len(rings)
        if m:
            nslice = max(1, int(math.sqrt(m)))
            cx = (self.bbox[:, 0] + self.bbox[:, 2]) / 2
            cy = (self.bbox[:, 1] + self.bbox[:, 3]) / 2
            order = np.lexsort((cy, np.digitize(cx, np.quantile(cx, np.linspace(0, 1, nslice + 1)[1:-1]))))
            self.order = order
            per = max(1, math.ceil(m / nslice))
            groups = [order[i : i + per] for i in range(0, m, per)]
            self.groups = groups
            self.group_bbox = np.array(
                [[self.bbox[g, 0].min(), self.bbox[g, 1].min(),
                  self.bbox[g, 2].max(), self.bbox[g, 3].max()] for g in groups]
            )
        else:
            self.order = np.zeros(0, dtype=np.int64)
            self.groups = []
            self.group_bbox = np.zeros((0, 4))

    @classmethod
    def from_pdf(cls, aoi: pd.DataFrame) -> "PackedPolygons":
        """From the aoi_polygons fixture schema (ring = list of {lon,lat})."""
        return cls(list(aoi["aoi_id"]), _closed_rings(aoi))

    def ring(self, k: int) -> np.ndarray:
        return self.xy[self.starts[k] : self.starts[k + 1]]


def _closed_rings(aoi: pd.DataFrame) -> list[np.ndarray]:
    """Each fixture ``ring`` (list of {lon, lat}) as an (n, 2) array, closed."""
    rings = []
    for pts in aoi["ring"]:
        ring = np.array([[p["lon"], p["lat"]] for p in pts], dtype=np.float64)
        rings.append(ring if np.allclose(ring[0], ring[-1])
                     else np.vstack([ring, ring[:1]]))
    return rings


def dist2_to_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Squared euclidean distance from each point to the ring boundary
    (0 for points inside the polygon). Vectorized (n x edges)."""
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    PX, PY = px[:, None], py[:, None]
    dx, dy = (x1 - x0)[None, :], (y1 - y0)[None, :]
    seg2 = dx * dx + dy * dy
    t = np.clip(((PX - x0[None, :]) * dx + (PY - y0[None, :]) * dy)
                / np.where(seg2 == 0, 1, seg2), 0, 1)
    d2 = ((PX - (x0[None, :] + t * dx)) ** 2
          + (PY - (y0[None, :] + t * dy)) ** 2).min(axis=1)
    return np.where(points_in_ring(px, py, ring), 0.0, d2)


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray,
                   eps: float = 1e-12) -> np.ndarray:
    """Vectorized even-odd ray casting; boundary (edge/vertex) counts inside.

    (n points) x (e edges) crossing test, done edge-blocked to bound memory.
    """
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    inside = np.zeros(px.shape, dtype=bool)
    on_edge = np.zeros(px.shape, dtype=bool)
    # broadcast (n, e)
    PX = px[:, None]
    PY = py[:, None]
    cond = (y0[None, :] > PY) != (y1[None, :] > PY)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0[None, :] + (PY - y0[None, :]) * (x1 - x0)[None, :] / (y1 - y0)[None, :]
    crossings = (cond & (PX < xint)).sum(axis=1)
    inside = (crossings % 2) == 1
    # boundary: point-to-segment distance ~ 0
    dx, dy = (x1 - x0)[None, :], (y1 - y0)[None, :]
    seg2 = dx * dx + dy * dy
    t = np.clip(((PX - x0[None, :]) * dx + (PY - y0[None, :]) * dy) / np.where(seg2 == 0, 1, seg2), 0, 1)
    d2 = (PX - (x0[None, :] + t * dx)) ** 2 + (PY - (y0[None, :] + t * dy)) ** 2
    on_edge = (d2 <= eps).any(axis=1)
    return inside | on_edge


def query_polygons(pp: PackedPolygons, px: np.ndarray, py: np.ndarray):
    """-> (point_idx array, poly_idx array) of all containment matches."""
    out_p, out_g = [], []
    if not len(pp.groups):
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    # level 1: group bboxes
    gb = pp.group_bbox
    gmask = (
        (px[:, None] >= gb[None, :, 0]) & (px[:, None] <= gb[None, :, 2])
        & (py[:, None] >= gb[None, :, 1]) & (py[:, None] <= gb[None, :, 3])
    )
    for gi, members in enumerate(pp.groups):
        pts = np.nonzero(gmask[:, gi])[0]
        if not pts.size:
            continue
        # level 2: member bboxes
        bb = pp.bbox[members]
        mmask = (
            (px[pts, None] >= bb[None, :, 0]) & (px[pts, None] <= bb[None, :, 2])
            & (py[pts, None] >= bb[None, :, 1]) & (py[pts, None] <= bb[None, :, 3])
        )
        for mi, poly in enumerate(members):
            cand = pts[mmask[:, mi]]
            if not cand.size:
                continue
            hit = points_in_ring(px[cand], py[cand], pp.ring(int(poly)))
            sel = cand[hit]
            out_p.append(sel)
            out_g.append(np.full(sel.size, poly, dtype=np.int64))
    if out_p:
        return np.concatenate(out_p), np.concatenate(out_g)
    return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)


# --------------------------------------------------------------------------
# broadcast point operators: one AOI pack, one station pack, one PIP pair
# expansion, one top-k, one Arrow take emit
# --------------------------------------------------------------------------


def _check_k(k: int) -> None:
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")


def _check_how(how: str) -> None:
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")


def _aoi_pack(aoi: pd.DataFrame) -> tuple:
    """(PackedPolygons, aoi_id -> category); a missing category is None."""
    cat = aoi.get("category", pd.Series(index=aoi.index, dtype=object))
    return (PackedPolygons.from_pdf(aoi),
            {a: None if pd.isna(c) else c for a, c in zip(aoi["aoi_id"], cat)})


def _station_pack(stations: pd.DataFrame) -> tuple:
    """(station_id, lon, lat, cwv_obs or None) as numpy arrays."""
    return (stations["station_id"].to_numpy(object),
            stations["lon"].to_numpy(np.float64),
            stations["lat"].to_numpy(np.float64),
            stations["cwv_obs"].to_numpy(np.float64) if "cwv_obs" in stations else None)


def _pip_pairs(pp: PackedPolygons, cat: dict, px: np.ndarray, py: np.ndarray,
               how: str) -> tuple:
    """The PIP pair expansion: (row index, aoi_id, aoi_category) of every
    (point, containing polygon) pair; ``how='left'`` appends every point
    inside no polygon once, with NULL aoi fields."""
    pi, gi = query_polygons(pp, px, py)
    ids = pp.aoi_ids[gi]
    if how == "left":
        unmatched = np.setdiff1d(np.arange(px.size), np.unique(pi))
        pi = np.concatenate([pi, unmatched])
        ids = np.concatenate([ids, np.full(unmatched.size, None, dtype=object)])
    cats = np.array([cat.get(a) if a is not None else None for a in ids],
                    dtype=object)
    return pi, ids, cats


def _top_k(px: np.ndarray, py: np.ndarray, slon: np.ndarray, slat: np.ndarray,
           id_rank: np.ndarray, kk: int) -> tuple:
    """-> ((n, kk) station indices in (distance, station_id) order, their
    (n, kk) distances). ``id_rank`` is each station's rank by id; the
    1e-12 km nudge breaks exact distance ties by it. The (points x
    stations) matrices are blocked to ~32 MB of doubles, so a coalesced
    batch against a large station table stays bounded."""
    step = max(1, 4_000_000 // max(1, slon.size))
    tops, kms = [], []
    for i0 in range(0, px.size, step):
        sl = slice(i0, i0 + step)
        d = haversine_km(px[sl, None], py[sl, None], slon[None, :], slat[None, :])
        key = d + id_rank[None, :] * 1e-12
        top = np.argpartition(key, kk - 1, axis=1)[:, :kk]
        rowi = np.arange(top.shape[0])[:, None]
        top = top[rowi, np.argsort(key[rowi, top], axis=1)]
        tops.append(top)
        kms.append(d[rowi, top])
    return np.concatenate(tops), np.concatenate(kms)


def _nan_null(batch: pa.RecordBatch) -> pa.RecordBatch:
    """NaN -> NULL in every floating column, the conversion a pandas hop
    makes (``Series.isnull`` is true for NaN)."""
    return pa.RecordBatch.from_arrays(
        [pa.array(c.to_numpy(zero_copy_only=False), from_pandas=True)
         if pa.types.is_floating(c.type) else c for c in batch.columns],
        schema=batch.schema)


_CELL_FIELDS = [StructField(c, LongType()) for c in ("hex_7", "hex_8", "hex_9", "s2_cell")]
_AOI_FIELDS = [StructField("aoi_id", StringType()),
               StructField("aoi_category", StringType())]
_STATION_FIELDS = [
    StructField("station_id", StringType()), StructField("station_rank", IntegerType()),
    StructField("station_km", DoubleType()), StructField("station_cwv", DoubleType()),
]


def _broadcast_points(points: DataFrame, aoi: pd.DataFrame | None = None,
                      stations: pd.DataFrame | None = None, k: int = 1,
                      how: str = "inner", s2_level: int | None = None,
                      lon_col: str = "lon", lat_col: str = "lat",
                      nan_null: bool = False) -> DataFrame:
    """The broadcast point operators' one mapInArrow over coalesced point
    batches. Per batch: the cell columns (``s2_level`` given), the PIP pair
    expansion (``aoi`` given; otherwise one row per point), then each row
    repeated for its k nearest stations (``stations`` given). The output
    is the input columns taken at the expanded row index, followed by the
    cell, AOI and station columns. ``nan_null`` applies a pandas hop's
    NaN -> NULL to every floating column (pip_join and knn_join had one).
    Station ids are ranked once per task."""
    if aoi is not None:
        _check_how(how)
        aoi = _aoi_pack(aoi)
    if stations is not None:
        _check_k(k)
        stations = _station_pack(stations)
    bc = points.sparkSession.sparkContext.broadcast((aoi, stations))
    fields = ((_CELL_FIELDS if s2_level is not None else [])
              + (_AOI_FIELDS if aoi else []) + (_STATION_FIELDS if stations else []))
    extra = list(_arrow_schema(StructType(fields)))
    lon_i, lat_i = points.columns.index(lon_col), points.columns.index(lat_col)

    def fn(batches):
        aoi_pack, st = bc.value
        if st:
            ids, slon, slat, scwv = st
            kk = min(k, len(ids))
            id_rank = np.argsort(np.argsort(ids, kind="stable"))
        for batch in _coalesce_batches(batches):
            px = batch.column(lon_i).to_numpy(zero_copy_only=False).astype(np.float64)
            py = batch.column(lat_i).to_numpy(zero_copy_only=False).astype(np.float64)
            idx, rep, vals = np.arange(batch.num_rows), 1, []
            if aoi_pack:
                idx, aoi_ids, aoi_cat = _pip_pairs(*aoi_pack, px, py, how)
            if st:
                top, km = _top_k(px, py, slon, slat, id_rank, kk)
                rep = kk
            take = np.repeat(idx, rep)
            if s2_level is not None:
                vals += [c[take] for c in [geo.hexcell(px, py, r) for r in (7, 8, 9)]
                         + [geo.s2_cell(px, py, s2_level)]]
            if aoi_pack:
                vals += [np.repeat(aoi_ids, rep), np.repeat(aoi_cat, rep)]
            if st:
                pick = top[idx].ravel()
                vals += [ids[pick], np.tile(np.arange(1, kk + 1, dtype=np.int32), idx.size),
                         km[idx].ravel(),
                         scwv[pick] if scwv is not None else np.full(pick.size, np.nan)]
            at = pa.array(take)
            out = pa.RecordBatch.from_arrays(
                [c.take(at) for c in batch.columns]
                + [pa.array(v, type=f.type) for v, f in zip(vals, extra)],
                schema=pa.schema(list(batch.schema) + extra))
            yield _nan_null(out) if nan_null else out

    return points.mapInArrow(fn, StructType(points.schema.fields + fields))


def pip_join(points: DataFrame, aoi: pd.DataFrame, lon_col: str = "lon",
             lat_col: str = "lat", how: str = "inner") -> DataFrame:
    """Broadcast R-tree point-in-polygon join: adds aoi_id (+category).

    Emits one row per (point, containing polygon) — true join semantics
    (overlapping AOIs duplicate the point, like the reference join rows).
    ``how='left'`` keeps non-matching points with NULL aoi_id. NaN in a
    floating point column comes out NULL.
    """
    return _broadcast_points(points, aoi=aoi, how=how, lon_col=lon_col,
                             lat_col=lat_col, nan_null=True)


def aoi_rings_df(spark, aoi) -> DataFrame:
    """Normalize the AOI side to ``(aoi_id, aoi_category, ring_x, ring_y)``
    — one row per polygon, rings as two closed array<double> columns.

    Accepts either a Spark DataFrame (the scale path: parquet-backed, the
    polygon layer NEVER materializes on the driver) in the fixture schema
    (``ring: array<struct<lon,lat>>``) or already-flat ``ring_x/ring_y``
    columns — the flatten + ring-closure run entirely in Catalyst; or a
    pandas DataFrame (compat path: the caller already holds it driver-side).
    """
    if isinstance(aoi, DataFrame):
        cols = set(aoi.columns)
        cat = (F.col("category") if "category" in cols
               else F.col("aoi_category") if "aoi_category" in cols
               else F.lit(None).cast("string"))
        if "ring_x" in cols and "ring_y" in cols:
            rx, ry = F.col("ring_x"), F.col("ring_y")
        else:
            rx = F.transform("ring", lambda p: p["lon"])
            ry = F.transform("ring", lambda p: p["lat"])
        closed = (F.element_at(rx, 1) == F.element_at(rx, -1)) & \
                 (F.element_at(ry, 1) == F.element_at(ry, -1))
        return aoi.select(
            F.col("aoi_id"),
            cat.alias("aoi_category"),
            F.when(closed, rx).otherwise(F.concat(rx, F.array(F.element_at(rx, 1))))
             .cast("array<double>").alias("ring_x"),
            F.when(closed, ry).otherwise(F.concat(ry, F.array(F.element_at(ry, 1))))
             .cast("array<double>").alias("ring_y"),
        )
    rings = _closed_rings(aoi)
    return spark.createDataFrame(pd.DataFrame({
        "aoi_id": aoi["aoi_id"].tolist(),
        "aoi_category": (aoi["category"].tolist() if "category" in aoi
                         else [None] * len(aoi)),
        "ring_x": [r[:, 0].tolist() for r in rings],
        "ring_y": [r[:, 1].tolist() for r in rings],
    }))


def aoi_cells_df(spark, aoi, res: int | str = 8,
                 cover_cap: int = 256) -> DataFrame:
    """AOI polygons exploded to their covering hex cells —
    ``(cell, aoi_id, aoi_category)``, one row per (polygon, covering cell).

    ``res="auto"`` picks the resolution PER POLYGON: the finest of
    res 9/8/7 whose bbox cover stays within ``cover_cap`` cells (coarsest
    wins if none does). A fixed res degrades at both ends of the mixed-size
    AOI layers real catalogs have — a country-sized polygon at res 8
    explodes into 10^5 cover rows while building-sized polygons pile into
    single hot cells; auto-res bounds the per-polygon cover and spreads
    small polygons over finer keys. The packed hex id carries its res in
    bits 56-61, so ids never collide across resolutions and the candidate
    join stays one plain equi join (the point side probes its cell at all
    three resolutions).

    Rings are deliberately NOT carried (round-3 shipped them inline per
    covering cell, which duplicated every vertex array per candidate row
    through the shuffle — the 100-TB bandwidth amplifier flagged in
    VERDICT r3); the verify stage re-attaches them once per polygon via a
    bare aoi_id equi join. The covering runs as a distributed mapInPandas
    over the polygon table, so it scales with the AOI layer, not the driver.
    """
    rings = aoi if isinstance(aoi, DataFrame) and "ring_x" in aoi.columns \
        else aoi_rings_df(spark, aoi)
    out_schema = StructType([
        StructField("cell", LongType()),
        StructField("aoi_id", StringType()),
        StructField("aoi_category", StringType()),
    ])
    res_ladder = (9, 8, 7) if res == "auto" else (res,)

    def cover(batches):
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                rx = np.asarray(row["ring_x"], dtype=np.float64)
                ry = np.asarray(row["ring_y"], dtype=np.float64)
                bbox = (float(rx.min()), float(ry.min()),
                        float(rx.max()), float(ry.max()))
                ring = np.column_stack((rx, ry))
                for r in res_ladder:
                    # cheap bbox-cell estimate: skip a res whose raw bbox
                    # cover would be huge to build (a sliver's TIGHT cover
                    # might fit the cap, so allow bbox estimates up to 50x
                    # the cap before backing off)
                    sz = geo.HEX_EDGE_DEG[r]
                    est = (((bbox[3] - bbox[1]) / (1.5 * sz) + 3)
                           * ((bbox[2] - bbox[0]) / (1.7320508 * sz) + 3))
                    if est > 50 * cover_cap and r != res_ladder[-1]:
                        continue
                    cells = _tight_cover(bbox, ring, r)
                    if len(cells) <= cover_cap or r == res_ladder[-1]:
                        break
                out.append(pd.DataFrame({
                    "cell": cells,
                    "aoi_id": row["aoi_id"],
                    "aoi_category": row["aoi_category"],
                }))
            if out:
                yield pd.concat(out, ignore_index=True)

    return rings.mapInPandas(cover, out_schema)


def _tight_cover(bbox: tuple, ring: np.ndarray, res: int) -> np.ndarray:
    """Bbox hex cover trimmed to cells actually NEAR the polygon.

    A bbox cover is badly wasteful for skinny shapes (rivers, roads, long
    diagonals): most bbox cells never touch the polygon, and every one
    becomes candidate fan-out for the points inside it. Superset argument
    for the trim: a point p inside the polygon rounds to the cell whose
    center is within one circumradius (= edge = size) of p, so that center
    is within ``size`` of the polygon region — keeping cells with
    ``dist(center, polygon) <= 1.25 * size`` (margin for center/rounding
    float error) keeps every cell any interior point can round to. The
    exact verify downstream makes over-keeping free and under-keeping
    impossible by this bound; the dedicated sliver test pins both.
    """
    cells = geo.hex_cover_bbox(*bbox, res)
    if len(cells) <= 16:
        return cells
    size = geo.HEX_EDGE_DEG[res]
    cx, cy = geo.hexcell_center(cells)
    keep = np.zeros(len(cells), dtype=bool)
    # block the (cells x edges) distance to ~4M doubles
    step = max(1, 4_000_000 // max(1, ring.shape[0] - 1))
    thr = (1.25 * size) ** 2
    for i0 in range(0, len(cells), step):
        sl = slice(i0, i0 + step)
        keep[sl] = dist2_to_ring(np.asarray(cx[sl], dtype=np.float64),
                                 np.asarray(cy[sl], dtype=np.float64),
                                 ring) <= thr
    return cells[keep]


def _pip_inside_expr(lon_col: str, lat_col: str) -> F.Column:
    """Catalyst even-odd ray cast + boundary test over (ring_x, ring_y).

    Op-for-op mirror of the numpy ``points_in_ring`` kernel (same IEEE
    order: ``x0 + ((py-y0)*(x1-x0))/(y1-y0)``, same clip/eps), evaluated
    entirely JVM-side via higher-order functions — the ring arrays never
    cross the Arrow boundary to Python. ``nullif`` guards the two divisions
    for ANSI mode: a horizontal edge fails the straddle test anyway, so the
    null comparison is dropped by ``filter`` exactly like numpy's masked
    inf/nan lanes.
    """
    px, py = f"`{lon_col}`", f"`{lat_col}`"
    edges = "sequence(0, size(ring_x) - 2)"
    crossing = f"""
      pmod(size(filter({edges}, i ->
        ((ring_y[i] > {py}) != (ring_y[i+1] > {py}))
        AND ({px} < ring_x[i] + (({py} - ring_y[i]) * (ring_x[i+1] - ring_x[i]))
                                / nullif(ring_y[i+1] - ring_y[i], 0D))
      )), 2) = 1"""
    on_edge = f"""
      exists(
        transform(
          transform({edges}, i -> named_struct(
              'x0', ring_x[i], 'y0', ring_y[i],
              'dx', ring_x[i+1] - ring_x[i], 'dy', ring_y[i+1] - ring_y[i])),
          e -> named_struct(
              't', least(greatest(
                     (({px} - e.x0) * e.dx + ({py} - e.y0) * e.dy)
                     / (CASE WHEN e.dx * e.dx + e.dy * e.dy = 0D THEN 1D
                             ELSE e.dx * e.dx + e.dy * e.dy END), 0D), 1D),
              'x0', e.x0, 'y0', e.y0, 'dx', e.dx, 'dy', e.dy)),
        g -> ({px} - (g.x0 + g.t * g.dx)) * ({px} - (g.x0 + g.t * g.dx))
           + ({py} - (g.y0 + g.t * g.dy)) * ({py} - (g.y0 + g.t * g.dy))
           <= 1.0E-12D)"""
    return F.expr(f"({crossing}) OR ({on_edge})")


def pip_join_cells(points: DataFrame, aoi, res: int | str = 8,
                   lon_col: str = "lon", lat_col: str = "lat",
                   verify: str = "cogroup", salt: int = 16) -> DataFrame:
    """Distributed point-in-polygon join — NO broadcast of the polygon side.

    The scale path when the AOI layer outgrows a broadcast (millions of
    polygons at 100 TB): polygons explode into covering hex cells
    (aoi_cells_df), points encode to the same cell, candidates come from a
    plain EQUI join on the cell key (hash-partitionable; AQE/salting apply
    like any other hot-key join), and an exact ray-cast verifies every
    candidate pair. ``res="auto"`` picks the covering resolution per
    polygon (see aoi_cells_df) — the right setting for mixed-size AOI
    layers. ``aoi`` may be a Spark DataFrame (parquet-backed, the
    fixture ``ring`` schema or flat ``ring_x/ring_y``) — the polygon layer
    never touches the driver — or a pandas DataFrame (compat).

    Scale shape (reworked per VERDICT r3): candidates shuffle BARE —
    ``(point cols, aoi_id)`` only; ring vertex arrays are never duplicated
    across a shuffle. Two verify strategies (both row-identical to the
    broadcast ``pip_join``; BENCH/SPATIAL_SHUFFLE.md measures the trade):

    - ``verify="cogroup"`` (default): candidates cogroup with the ring
      table on (aoi_id, salt) via applyInPandas — each ring crosses the
      Arrow boundary once per salt bucket (not once per candidate row) and
      the vectorized numpy ray-cast verifies the whole group. ``salt``
      spreads a hot polygon's candidates over ``salt`` tasks (the grouped
      analog of skew-join salting), bounding per-task memory.
    - ``verify="jvm"``: rings attach by a second bare aoi_id equi join and
      the ray-cast runs entirely in Catalyst (_pip_inside_expr) — zero
      Python in the verify. Interpreted higher-order functions cost ~10x
      numpy per (candidate x edge) on many-vertex rings, so this wins only
      for small rings or when a cluster bans Python workers.

    Inner-join semantics, one row per (point, containing polygon) —
    row-for-row identical to the broadcast ``pip_join`` (pytest parity in
    tests/test_spatial.py); compose a left_anti join on the caller's point
    key for left semantics.
    """
    spark = points.sparkSession
    rings = aoi_rings_df(spark, aoi)
    cover = aoi_cells_df(spark, rings, res=res)
    if res == "auto":
        # each polygon registered at ONE auto-picked res; the point probes
        # its cell at every ladder res (ids carry the res, so this stays a
        # single equi join) — 3x the bare point rows through the candidate
        # shuffle buys a bounded cover for country-sized polygons and finer
        # keys under building-sized ones
        pts = points.withColumn(
            "cell", F.explode(F.array(*[
                hexcell_udf(r)(F.col(lon_col), F.col(lat_col))
                for r in (9, 8, 7)])))
    else:
        pts = points.withColumn(
            "cell", hexcell_udf(res)(F.col(lon_col), F.col(lat_col)))
    cand = pts.join(cover, on="cell", how="inner").drop("cell")
    point_cols = [f.name for f in points.schema.fields]

    if verify == "jvm":
        cand = cand.join(rings.select("aoi_id", "ring_x", "ring_y"), on="aoi_id")
        return (
            cand.filter(_pip_inside_expr(lon_col, lat_col))
            .select(*point_cols, "aoi_id", "aoi_category")
        )
    if verify != "cogroup":
        raise ValueError(f"verify must be 'cogroup' or 'jvm', got {verify!r}")

    out_cols = point_cols + ["aoi_id", "aoi_category"]
    out_schema = StructType(points.schema.fields + [
        StructField("aoi_id", StringType()),
        StructField("aoi_category", StringType()),
    ])
    cand = cand.withColumn(
        "_pip_salt",
        F.pmod(F.xxhash64(F.col(lon_col), F.col(lat_col)), F.lit(salt)).cast("int"))
    rs = (rings.select("aoi_id", "ring_x", "ring_y")
          .withColumn("_pip_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
          .withColumn("_pip_salt", F.col("_pip_salt").cast("int")))

    def fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left) or not len(right):
            return left.loc[[], out_cols] if len(left) else \
                pd.DataFrame({c: pd.Series(dtype=object) for c in out_cols})
        ring = np.column_stack((
            np.asarray(right["ring_x"].iloc[0], dtype=np.float64),
            np.asarray(right["ring_y"].iloc[0], dtype=np.float64),
        ))
        px = left[lon_col].to_numpy(np.float64)
        py = left[lat_col].to_numpy(np.float64)
        keep = np.zeros(len(left), dtype=bool)
        # block the (n x edges) broadcast to ~32 MB of doubles
        step = max(1, 4_000_000 // max(1, ring.shape[0] - 1))
        for i0 in range(0, len(left), step):
            sl = slice(i0, i0 + step)
            keep[sl] = points_in_ring(px[sl], py[sl], ring)
        return left.loc[keep, out_cols]

    return (
        cand.groupBy("aoi_id", "_pip_salt")
        .cogroup(rs.groupBy("aoi_id", "_pip_salt"))
        .applyInPandas(fn, out_schema)
    )


# --------------------------------------------------------------------------
# kNN join to stations (broadcast small side, vectorized haversine)
# --------------------------------------------------------------------------

EARTH_R_KM = 6371.0088


def haversine_km(lon1, lat1, lon2, lat2):
    p = np.pi / 180.0
    dlat = (lat2 - lat1) * p
    dlon = (lon2 - lon1) * p
    a = np.sin(dlat / 2) ** 2 + np.cos(lat1 * p) * np.cos(lat2 * p) * np.sin(dlon / 2) ** 2
    return 2 * EARTH_R_KM * np.arcsin(np.sqrt(np.clip(a, 0, 1)))


def knn_join(points: DataFrame, stations: pd.DataFrame, k: int = 3,
             lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Each point row exploded to its k nearest stations (+rank, distance).

    Stations are broadcast (small side); per batch the distance matrix is
    (n x m) with argpartition top-k — no shuffle at all. Deterministic
    tie-break: (distance, station_id). NaN in a floating point column
    (a missing ``cwv_obs`` included) comes out NULL.
    """
    return _broadcast_points(points, stations=stations, k=k, lon_col=lon_col,
                             lat_col=lat_col, nan_null=True)


def _stations_df(spark, stations) -> tuple[DataFrame, bool]:
    """Normalize the station side to a Spark DataFrame
    ``(station_id, s_lon, s_lat[, cwv_obs])``.

    A Spark DataFrame input (the scale path: parquet-backed, never
    driver-resident) passes through with column renames only; a pandas
    DataFrame (compat) goes through createDataFrame.
    """
    if isinstance(stations, DataFrame):
        has_cwv = "cwv_obs" in stations.columns
        st = stations.select(
            "station_id",
            F.col("lon").alias("s_lon"), F.col("lat").alias("s_lat"),
            *(["cwv_obs"] if has_cwv else []))
        return st, has_cwv
    has_cwv = "cwv_obs" in stations
    st = spark.createDataFrame(
        stations[["station_id", "lon", "lat"] + (["cwv_obs"] if has_cwv else [])]
    ).withColumnRenamed("lon", "s_lon").withColumnRenamed("lat", "s_lat")
    return st, has_cwv


def _haversine_col(lon_col: str, lat_col: str) -> F.Column:
    p = math.pi / 180.0
    dlat = (F.col("s_lat") - F.col(lat_col)) * p / 2.0
    dlon = (F.col("s_lon") - F.col(lon_col)) * p / 2.0
    a = F.sin(dlat) ** 2 + F.cos(F.col(lat_col) * p) * F.cos(F.col("s_lat") * p) * F.sin(dlon) ** 2
    return 2.0 * EARTH_R_KM * F.asin(F.sqrt(F.least(F.greatest(a, F.lit(0.0)), F.lit(1.0))))


def _knn_bound_km(lat_col: str, size: float, ring: int) -> F.Column:
    """Lower bound (km) on the distance to any station OUTSIDE the hex
    ``ring``-neighborhood of the point's cell.

    Axial hex centers at grid distance d are >= 1.5*size*d apart in degree
    space (tight along the (2,-1) direction; d along an axis gives
    sqrt(3)*size*d). A station outside the ring is in a cell at grid
    distance >= ring+1, so its degree distance is at least
    ``1.5*size*(ring+1) - 2*circumradius = size*(1.5*ring - 0.5)``
    (circumradius = edge = size). Converted at 110 km/deg with the latitude
    contraction taken at the farthest reachable latitude.
    """
    p = math.pi / 180.0
    deg = size * (1.5 * ring - 0.5)
    return F.lit(deg * 110.0) * F.cos(
        (F.abs(F.col(lat_col)) + 1.5 * (ring + 1) * size) * p)


def _knn_rank(points: DataFrame, cands, has_cwv: bool, k: int,
              key_cols: list[str], lon_col: str, lat_col: str,
              bound: F.Column | None = None) -> DataFrame:
    """The distributed kNN's one rank + certificate + select.

    ``cands(tagged)`` is the form's candidate source: it pairs each point
    row of ``tagged`` (``points`` plus a row id) with its candidate
    stations, NULL station columns for a point it keeps candidate-less.
    Haversine + per-point rank by (station_km, station_id) run in Catalyst
    (one window on the point key); the best k stay. The certificate holds
    when the point had >= k candidates and its k-th distance is below
    ``bound``; ``bound=None`` certifies every row (the caller's source is
    exact). A key held by two point rows would fan out silently, so the
    rank window raises from the executors when its row ids differ.
    """
    _check_k(k)
    cand = (cands(points.withColumn("_knn_row", F.monotonically_increasing_id()))
            .withColumn("station_km", _haversine_col(lon_col, lat_col)))
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("station_km").asc_nulls_last(), "station_id")
    dup = F.raise_error(F.concat(
        F.lit(f"kNN key_cols {key_cols} repeat across point rows: "),
        F.to_json(F.struct(*key_cols))))
    out = cand.withColumn("station_rank", F.when(
        F.min("_knn_row").over(w) != F.max("_knn_row").over(w), dup)
        .otherwise(F.row_number().over(w)).cast("int"))
    if bound is None:
        out = out.filter(F.col("station_rank") <= k)
        cert = F.lit(True)
    else:
        wall = Window.partitionBy(*key_cols)
        # count(station_id) skips the NULL row of a candidate-less point
        out = (out.withColumn("n_cand", F.count("station_id").over(wall))
               .filter(F.col("station_rank") <= k))
        # a candidate-less point: 0 >= k is false, so false AND null
        # short-circuits to false (never null)
        cert = (F.col("n_cand") >= k) & (F.max("station_km").over(wall) < bound)
    return out.select(*points.columns, "station_id", "station_rank", "station_km",
                      *([F.col("cwv_obs").alias("station_cwv")] if has_cwv else []),
                      cert.alias("knn_certified"))


def knn_join_cells(points: DataFrame, stations, k: int = 3,
                   res: int = 7, key_cols: list[str] | None = None,
                   lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Distributed kNN join — NO station broadcast (the scale path when the
    station table outgrows a broadcast). ``stations`` may be a Spark
    DataFrame (parquet-backed, never driver-resident) or pandas (compat).

    Every station registers under its own hex cell plus its 6 axial
    neighbors (pure JVM bit arithmetic on the packed cell id: q±1 is
    cell±2^28, r±1 is cell±1); every point probes its single cell, so each
    (point, station-in-1-ring) pair surfaces exactly once from a plain EQUI
    join on the cell key. The join is LEFT from the point side: a point
    whose 1-ring holds NO station is emitted once with NULL station columns
    and ``knn_certified = false`` (ADVICE r3: silently dropping such points
    left the recovery path unable to find them). Haversine + per-point rank
    run entirely in Catalyst (one window on the point key, _knn_rank);
    ``key_cols`` repeated across point rows raise from the executors.

    Exactness certificate (``knn_certified``): any station OUTSIDE the
    1-ring is farther than ``size`` degrees from the point (_knn_bound_km
    with ring=1). When the k-th candidate distance is below that bound (and
    >= k candidates exist), the candidate top-k IS the global top-k; rows
    failing the bound are emitted with ``knn_certified = false``. Use
    ``knn_join_cells_exact`` for the automatic escalation loop that turns
    this into a complete exact result. Parity vs brute force on certified
    rows in tests/test_spatial.py.
    """
    if key_cols is None:
        raise ValueError("knn_join_cells needs key_cols identifying a point row")
    st, has_cwv = _stations_df(points.sparkSession, stations)
    st = st.withColumn("own_cell", hexcell_udf(res)(F.col("s_lon"), F.col("s_lat")))
    Q = F.lit(1 << 28)
    one = F.lit(1)
    c = F.col("own_cell")
    st_cells = st.withColumn(
        "cell",
        F.explode(F.array(c, c + Q, c - Q, c + one, c - one, c + Q - one, c - Q + one)),
    ).drop("own_cell")

    def one_ring(pts: DataFrame) -> DataFrame:
        pts = pts.withColumn("cell", hexcell_udf(res)(F.col(lon_col), F.col(lat_col)))
        return pts.join(st_cells, on="cell", how="left").drop("cell")

    return _knn_rank(points, one_ring, has_cwv, k, key_cols, lon_col, lat_col,
                     _knn_bound_km(lat_col, geo.HEX_EDGE_DEG[res], 1))


def _hex_ring_offsets(ring: int) -> list[int]:
    """Packed-id deltas for every cell within hex grid distance <= ring
    (JVM-side arithmetic: +dq is +2^28, +dr is +1 on the packed id)."""
    return [dq * (1 << 28) + dr
            for dq in range(-ring, ring + 1)
            for dr in range(-ring, ring + 1)
            if (abs(dq) + abs(dr) + abs(dq + dr)) // 2 <= ring]


def _knn_probe_ring(points: DataFrame, st: DataFrame, has_cwv: bool, k: int,
                    res: int, ring: int, key_cols: list[str],
                    lon_col: str, lat_col: str) -> DataFrame:
    """One escalation round of the exact kNN: the POINT side explodes to all
    cells within hex distance <= ``ring``; stations register under their own
    cell only. The fan-out (3*ring^2+3*ring+1 cells) lands on the pending
    point subset — small by construction — while the full station table is
    only re-keyed, never exploded. Inner equi join; points with too-few or
    too-far candidates simply stay uncertified for the next round.
    """
    stc = st.withColumn("cell", hexcell_udf(res)(F.col("s_lon"), F.col("s_lat")))

    def ring_cells(pts: DataFrame) -> DataFrame:
        own = hexcell_udf(res)(F.col(lon_col), F.col(lat_col))
        pts = pts.withColumn(
            "cell", F.explode(F.array(*[own + F.lit(d) for d in _hex_ring_offsets(ring)])))
        return pts.join(stc, on="cell", how="inner").drop("cell")

    return _knn_rank(points, ring_cells, has_cwv, k, key_cols, lon_col, lat_col,
                     _knn_bound_km(lat_col, geo.HEX_EDGE_DEG[res], ring))


def knn_join_cells_exact(points: DataFrame, stations, k: int = 3,
                         res: int = 7, key_cols: list[str] | None = None,
                         lon_col: str = "lon", lat_col: str = "lat",
                         max_ring: int = 8) -> DataFrame:
    """Complete exact distributed kNN: ``knn_join_cells`` plus the automatic
    escalation loop for uncertified points (VERDICT r3 item 2).

    Round 0 is the production 1-ring join over ALL points. Points whose
    certificate fails (clustered stations, sparse cells, zero candidates)
    re-run with point-side ring expansion (ring = 2, 4, ... ``max_ring``) —
    the quadratic cell fan-out lands only on the shrinking pending subset.
    Anything still uncertified (pathological density, polar latitudes where
    the degree bound collapses) falls back to an exact rank over the FULL
    station table with the PENDING POINTS as the broadcast side — tiny by
    then, so the station table still never transits the driver. Every
    returned row has ``knn_certified = true`` and the result equals the
    brute-force top-k (tests/test_spatial.py, adversarially clustered
    fixture).
    """
    if key_cols is None:
        raise ValueError("knn_join_cells_exact needs key_cols")
    spark = points.sparkSession
    st, has_cwv = _stations_df(spark, stations)

    rounds: list[DataFrame] = []
    # persist: the driver loop forces each frame once for loop control and
    # the final union re-reads it; certified outputs and pending sets shrink
    # every round, so the cached footprint is bounded by round 0's result.
    # Every persisted frame is released in the finally after the final
    # union localCheckpoints (VERDICT r4 item 7) — without that the caches
    # outlive the call and accumulate across repeated kNN jobs.
    cached: list[DataFrame] = []

    def _persist(df: DataFrame) -> DataFrame:
        cached.append(df.persist())
        return df

    try:
        out0 = _persist(knn_join_cells(points, stations, k=k, res=res,
                                       key_cols=key_cols, lon_col=lon_col,
                                       lat_col=lat_col))
        rounds.append(out0.filter(F.col("knn_certified")))
        pending = _persist(points.join(
            out0.filter(~F.col("knn_certified")).select(*key_cols).distinct(),
            on=key_cols, how="left_semi"))
        n_pending = pending.count()

        ring = 2
        while ring <= max_ring and n_pending > 0:
            got = _persist(_knn_probe_ring(pending, st, has_cwv, k, res, ring,
                                           key_cols, lon_col, lat_col))
            rounds.append(got.filter(F.col("knn_certified")))
            pending = _persist(pending.join(
                got.filter(F.col("knn_certified")).select(*key_cols).distinct(),
                on=key_cols, how="left_anti"))
            n_pending = pending.count()
            ring *= 2
        if n_pending > 0:
            # exact fallback: broadcast the (tiny) pending POINT side against
            # the full distributed station table — all stations considered, so
            # the result is exact by construction
            rounds.append(_knn_rank(
                pending, lambda pts: F.broadcast(pts).crossJoin(st), has_cwv,
                k, key_cols, lon_col, lat_col))
        result = rounds[0]
        for r_df in rounds[1:]:
            result = result.unionByName(r_df)
        # materialize before the finally releases the caches the union reads
        return result.localCheckpoint()
    finally:
        for df in cached:
            df.unpersist()


# --------------------------------------------------------------------------
# fused pixel enrichment: cells + PIP + kNN in ONE Python hop
# --------------------------------------------------------------------------


def enrich_pixels(points: DataFrame, aoi: pd.DataFrame, stations: pd.DataFrame,
                  k: int = 3, s2_level: int = 14, how: str = "left",
                  lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Cell-encode + broadcast R-tree PIP + kNN stations in a single
    mapInArrow pass (_broadcast_points with every part on).

    Broadcast is the right physical strategy while the vector sides fit one
    executor (the fixture regime); when the AOI/station layers outgrow a
    broadcast, swap in the distributed variants — ``pip_join_cells`` /
    ``knn_join_cells`` (cell-key equi joins, no broadcast, same row
    semantics; parity-tested against these paths).

    The composable ops (with_cells, pip_join, knn_join) each pay a full
    JVM<->Python serialization of every pixel column; chained on the
    north-star flow that is 3 extra round trips of ~20 columns per pixel.
    All three stages only need (lon, lat) plus broadcast small sides, so one
    fused hop computes them together — same results row-for-row as the
    composition (the pytest oracles cover each stage individually), except
    that NaN values stay NaN here where the composition's pandas hops made
    them NULL.
    """
    return _broadcast_points(points, aoi, stations, k=k, how=how,
                             s2_level=s2_level, lon_col=lon_col, lat_col=lat_col)


def enrich_pixels_cells(points: DataFrame, aoi, stations, k: int = 3,
                        key_cols: list[str] | None = None,
                        res_pip: int = 8, res_knn: int = 7,
                        s2_level: int = 14, lon_col: str = "lon",
                        lat_col: str = "lat", exact: bool = True) -> DataFrame:
    """The complete north-star enrichment with NO broadcast of either vector
    side — the 100-TB composition of the distributed operators.

    Same output contract as the broadcast ``enrich_pixels(how='left')``
    (cells + PIP left join + kNN fan-out; row-parity test in
    tests/test_spatial.py): points gain hex_7/8/9 + s2_cell, one row per
    (point, containing polygon | NULL, station rank 1..k). ``aoi`` and
    ``stations`` may each be parquet-backed Spark DataFrames — neither
    transits the driver. kNN runs once per POINT (on ``key_cols``) and
    fans out across the PIP-expanded rows by a bare key join, so the
    station search never multiplies with polygon overlap. ``exact=True``
    routes through ``knn_join_cells_exact`` (complete, 100% certified);
    ``exact=False`` uses the single-round ``knn_join_cells`` and keeps its
    ``knn_certified`` flag on every row. ``key_cols`` repeated across point
    rows raise from the executors (the kNN rank window checks them).

    Known deltas vs the broadcast path: missing ``cwv_obs`` yields NULL
    ``station_cwv`` here (the fused Arrow kernel emits NaN), and exact ties
    in station distance break by (station_km, station_id) via row_number
    rather than the fused kernel's epsilon-rank — identical on any input
    without bit-equal distances.
    """
    if key_cols is None:
        raise ValueError("enrich_pixels_cells needs key_cols identifying a point row")
    pts = with_cells(points, lon_col=lon_col, lat_col=lat_col, s2_level=s2_level)

    pip = pip_join_cells(pts, aoi, res=res_pip, lon_col=lon_col, lat_col=lat_col)
    # one LEFT join replaces the old union(matched pairs, anti-join
    # unmatched): identical rows/columns (key_cols identify a point, so
    # unmatched points surface once with NULL aoi fields), but the pip
    # subtree — which itself recomputes the points side — is evaluated
    # ONCE instead of twice (the anti-join re-derived pip for its key set)
    both = pts.join(
        pip.select(*key_cols, "aoi_id", "aoi_category"),
        on=key_cols, how="left")

    knn_fn = knn_join_cells_exact if exact else knn_join_cells
    knn = knn_fn(points, stations, k=k, res=res_knn, key_cols=key_cols,
                 lon_col=lon_col, lat_col=lat_col)
    st_cols = ["station_id", "station_rank", "station_km"]
    if "station_cwv" in knn.columns:
        st_cols.append("station_cwv")
    else:
        knn = knn.withColumn("station_cwv", F.lit(None).cast(DoubleType()))
        st_cols.append("station_cwv")
    if not exact:
        st_cols.append("knn_certified")
    knn_sel = knn.select(*key_cols, *st_cols)

    return both.join(knn_sel, on=key_cols, how="inner")


def zonal_stats(points: DataFrame, aoi, value_cols=("lst_k",),
                how: str = "inner", distributed: bool = False,
                res: int | str = 8, lon_col: str = "lon",
                lat_col: str = "lat") -> DataFrame:
    """Per-zone statistics of pixel values — the r.univar-per-region product
    (the reference workflow's consumer step: LST raster + a vector zone map
    -> one stats row per zone).

    PIP-assigns pixels to AOI zones (broadcast R-tree by default;
    ``distributed=True`` routes through the cell-key equi join when the
    zone layer outgrows a broadcast), then ONE aggregation keyed by
    (aoi_id, aoi_category). Partial aggregates collapse map-side before
    the only shuffle, so a 100-TB pixel table reduces to |zones| output
    rows with no wide intermediate; every statistic here (count / mean /
    min / max / sample stddev via sum + sum-of-squares) is
    partial-aggregable, which is exactly why they are the ones offered.

    ``how="left"`` keeps pixels contained by no zone as a NULL-aoi_id row
    (the outside-all-zones complement) so totals reconcile with the input;
    overlapping zones count a pixel once PER zone (join semantics, like
    the underlying PIP).
    """
    _check_how(how)
    if distributed:
        if how == "left":
            raise ValueError(
                "distributed zonal_stats is inner-only (pip_join_cells); "
                "compose a left_anti for the outside-complement row")
        joined = pip_join_cells(points, aoi, res=res,
                                lon_col=lon_col, lat_col=lat_col)
    else:
        joined = pip_join(points, aoi, lon_col=lon_col, lat_col=lat_col,
                          how=how)
    aggs = [F.count(F.lit(1)).alias("n_pixels")]
    for c in value_cols:
        aggs += [
            F.count(c).alias(f"{c}_valid"),
            F.avg(c).alias(f"{c}_mean"),
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
            F.stddev_samp(c).alias(f"{c}_std"),
        ]
    return joined.groupBy("aoi_id", "aoi_category").agg(*aggs)


def aoi_measures(spark, aoi) -> DataFrame:
    """Per-polygon vector measurements (the v.to.db product): spherical
    area (km^2, exact for great-circle edges), great-circle perimeter (km),
    planar label-point centroid.

    Accepts the same AOI forms as aoi_rings_df (Spark DataFrame — the
    polygon layer never touches the driver — or pandas compat). One
    `_row_map` pass, embarrassingly parallel per polygon (a NaN measure
    comes out NULL); numpy kernels in
    geo.ring_area_km2 / ring_perimeter_km / ring_centroid (golden-vector
    tested incl. a whole-sphere octant).
    """
    rings = aoi_rings_df(spark, aoi)
    out_schema = StructType([
        StructField("aoi_id", StringType()),
        StructField("aoi_category", StringType()),
        StructField("area_km2", DoubleType()),
        StructField("perimeter_km", DoubleType()),
        StructField("centroid_lon", DoubleType()),
        StructField("centroid_lat", DoubleType()),
    ])

    def aoi_measure(row):
        ring = np.stack([np.asarray(row.ring_x, np.float64),
                         np.asarray(row.ring_y, np.float64)], axis=1)
        cx, cy = geo.ring_centroid(ring)
        yield tuple(_nan_none(float(v)) for v in (
            geo.ring_area_km2(ring), geo.ring_perimeter_km(ring), cx, cy))

    return _row_map(rings, out_schema, aoi_measure, ("aoi_id", "aoi_category"))


def sample_raster(tiles: DataFrame, points: DataFrame, scene_geom: DataFrame,
                  value_col: str = "lst_bytes",
                  lon_col: str = "lon", lat_col: str = "lat",
                  id_cols: tuple[str, ...] = ("pid",)) -> DataFrame:
    """Raster value at point locations — the r.what / v.what.rast analog
    (station lookup against the LST product).

    ``scene_geom`` is the tiny per-scene geometry table (scene_id, lon0,
    lat0, lon1, lat1, ntx, nty — `pipeline.scene_grids` joined to the
    scene bbox). Plan, scale-shaped end to end:

    1. broadcast bbox join point -> scene (a point inside several
       overlapping scene footprints samples each — join semantics);
    2. the INVERSE of the pixel-centroid geocode in pure Catalyst floor
       arithmetic (half-open [lon0, lon1) x (lat0, lat1] so every in-bbox
       point maps to exactly one pixel; the forward map puts the centroid
       (px+0.5)/w strictly inside its cell, so lst_pixels centroids
       round-trip to their own pixel bit-exactly);
    3. a `collect_list` aggregate packs each tile's points into one row and
       ONE equi join on the tile key attaches it to the tile: each tile
       plane decodes ONCE and gathers all its points, only tiles with
       points reach Python, and plane bytes never travel per point.

    Points outside every scene bbox are dropped (inner semantics); points
    whose pixel is NaN return value = NULL (observed-but-invalid differs
    from never-observed). Returns id_cols + lon/lat + scene_id + tile/px/
    py + value.
    """
    g = F.broadcast(scene_geom)
    joined = points.join(
        g,
        (F.col(lon_col) >= F.col("lon0")) & (F.col(lon_col) < F.col("lon1"))
        & (F.col(lat_col) > F.col("lat0")) & (F.col(lat_col) <= F.col("lat1")),
    )
    u = ((F.col(lon_col) - F.col("lon0"))
         / (F.col("lon1") - F.col("lon0")) * F.col("ntx"))
    v = ((F.col("lat1") - F.col(lat_col))
         / (F.col("lat1") - F.col("lat0")) * F.col("nty"))
    p = joined.select(
        *id_cols, F.col(lon_col).alias("_lon"), F.col(lat_col).alias("_lat"),
        "scene_id",
        F.floor(u).cast("int").alias("tile_x"),
        F.floor(v).cast("int").alias("tile_y"),
        (u - F.floor(u)).alias("_fx"), (v - F.floor(v)).alias("_fy"),
    )
    out_schema = StructType(
        [points.schema[c] for c in id_cols]
        + [StructField("_lon", DoubleType()),
           StructField("_lat", DoubleType()),
           tiles.schema["scene_id"],
           StructField("tile_x", IntegerType()),
           StructField("tile_y", IntegerType()),
           StructField("px", IntegerType()),
           StructField("py", IntegerType()),
           StructField("value", DoubleType())])
    # a pandas hop made a NaN in a floating id column NULL
    nan_ids = [isinstance(points.schema[c].dataType, (FloatType, DoubleType))
               for c in id_cols]

    def sample_gather(row, w, h):
        plane = np.frombuffer(row.plane, "<f4").reshape(h, w)
        pts = [tuple(d.values()) for d in row.pts]
        fx, fy = np.array([q[-2:] for q in pts]).T
        px = np.clip((fx * w).astype(np.int64), 0, w - 1)
        py = np.clip((fy * h).astype(np.int64), 0, h - 1)
        for q, x, y, v in zip(pts, px.tolist(), py.tolist(),
                              plane[py, px].astype(np.float64).tolist()):
            ids = (_nan_none(i) if f else i for i, f in zip(q, nan_ids))
            yield (*ids, *q[-4:-2], row.scene_id, row.tile_x, row.tile_y,
                   x, y, v if math.isfinite(v) else None)

    packed = p.groupBy(*_TILE_KEY).agg(F.collect_list(
        F.struct(*id_cols, "_lon", "_lat", "_fx", "_fy")).alias("pts"))
    res = _tile_rows(tiles.select(*_TILE_IDS, F.col(value_col).alias("plane"))
                     .join(packed, _TILE_KEY), out_schema, sample_gather, ())
    return (res.withColumnRenamed("_lon", lon_col)
            .withColumnRenamed("_lat", lat_col))


def transect(tiles: DataFrame, scene_geom: DataFrame,
             lon_a: float, lat_a: float, lon_b: float, lat_b: float,
             n: int = 256, value_col: str = "lst_bytes") -> DataFrame:
    """Raster profile along a line — the r.profile / r.transect analog:
    ``n`` evenly spaced samples from (lon_a, lat_a) to (lon_b, lat_b),
    each annotated with its great-circle distance from the start.

    The sample points are generated as a tiny Catalyst ``sequence``
    (planar interpolation in lon/lat, matching the grids' plate-carree
    geocode) and routed through `sample_raster`, so the plan inherits its
    shape: broadcast bbox join + inverse geocode + decode-once packed join.
    Off-raster samples drop (inner semantics) — the returned step index
    makes gaps visible.
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    spark = tiles.sparkSession
    pts = spark.range(n).select(
        F.col("id").cast("int").alias("step"),
        (F.lit(lon_a) + F.col("id") / (n - 1) * (lon_b - lon_a)).alias("lon"),
        (F.lit(lat_a) + F.col("id") / (n - 1) * (lat_b - lat_a)).alias("lat"),
    )
    out = sample_raster(tiles, pts, scene_geom, value_col=value_col,
                        id_cols=("step",))
    dist = 2.0 * 6371.0088 * F.asin(F.sqrt(
        F.pow(F.sin(F.radians(F.col("lat") - F.lit(lat_a)) / 2), 2)
        + F.cos(F.radians(F.lit(lat_a))) * F.cos(F.radians("lat"))
        * F.pow(F.sin(F.radians(F.col("lon") - F.lit(lon_a)) / 2), 2)))
    return out.withColumn("dist_km", dist).orderBy("step", "scene_id")


# --------------------------------------------------------------------------
# vector -> raster: one grid source, one pixel geocode, one plane schema and
# one plane function per operator; the broadcast form runs it on
# pipeline._tile_rows, the cell form on _grouped_plane_apply
# --------------------------------------------------------------------------

def _grid(tiles: DataFrame, scene_geom: DataFrame) -> DataFrame:
    """The grid source: tile ids (no plane bytes) joined to the broadcast
    per-scene geometry (lon0, lat0, lon1, lat1, ntx, nty)."""
    return tiles.select(*_TILE_IDS).join(F.broadcast(scene_geom), on="scene_id")


def _tile_lonlat(row, w: int, h: int) -> tuple[np.ndarray, np.ndarray]:
    """Pixel-centroid geocode of a grid row — the exact forward map
    lst_pixels uses (pipeline.py: lon0 + (tile_x + (px+0.5)/w) * dlon),
    flattened."""
    dlon = (row.lon1 - row.lon0) / row.ntx
    dlat = (row.lat1 - row.lat0) / row.nty
    py, px = np.divmod(np.arange(w * h, dtype=np.int64), w)
    return (row.lon0 + (row.tile_x + (px + 0.5) / w) * dlon,
            row.lat1 - (row.tile_y + (py + 0.5) / h) * dlat)


def _plane_schema(col: str, count: str) -> StructType:
    return StructType([
        StructField("scene_id", StringType()),
        StructField("tile_x", IntegerType()),
        StructField("tile_y", IntegerType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField(col, BinaryType()),   # f32 plane
        StructField(count, LongType()),   # its finite pixels
    ])


_LINES_SCHEMA = _plane_schema("line_bytes", "n_cells")   # NaN off-line


def _plane_cols(plane: np.ndarray, w: int, h: int, skip_empty: bool) -> list:
    """[(f32 bytes, finite count)] of one plane; [] for an all-NaN plane
    when ``skip_empty`` (inner semantics: only touched tiles emit)."""
    p32 = plane.astype("<f4").reshape(h, w)
    n = int(np.isfinite(p32).sum())
    return [] if skip_empty and n == 0 else [(p32.tobytes(), n)]


def _broadcast_planes(tiles: DataFrame, scene_geom: DataFrame, schema: StructType,
                      plane, vec, skip_empty: bool = False) -> DataFrame:
    """The broadcast form: ``vec`` rides a broadcast and ``plane(row, w, h,
    vec)`` runs once per grid row in one mapInArrow — zero shuffle, output
    planes are written where the tile rows already live."""
    bc = tiles.sparkSession.sparkContext.broadcast(vec)

    def emit(row, w, h):
        return _plane_cols(plane(row, w, h, bc.value), w, h, skip_empty)

    emit.__name__ = plane.__name__
    return _tile_rows(_grid(tiles, scene_geom), schema, emit, _TILE_IDS)


def _grouped_plane_apply(cand: DataFrame, schema: StructType, plane, pack,
                         dedup: list[str], skip_empty: bool = False) -> DataFrame:
    """The cell form: per tile key, the tile's candidate rows sorted by
    ``dedup``, each run of equal ``dedup`` values cut to its first row (a
    candidate that reached the tile through several shared cells counts
    once), go to ``pack``, which builds the broadcast form's vector pack;
    the same ``plane`` runs on it."""
    same = attrgetter(*dedup)

    def emit(rows):
        rows = [next(g) for _, g in itertools.groupby(rows, same)]
        row = rows[0]
        head = (row.scene_id, row.tile_x, row.tile_y, row.w, row.h)
        return [head + v for v in _plane_cols(
            plane(row, row.w, row.h, pack(rows)), row.w, row.h, skip_empty)]

    emit.__name__ = plane.__name__
    return _group_rows(cand, _TILE_KEY, dedup, schema, emit)


def _cell_range(df: DataFrame, x0: F.Column, x1: F.Column, y0: F.Column,
                y1: F.Column, cw: float, ch: float) -> DataFrame:
    """Each row exploded to every (cw x ch) degree cell (cell_x, cell_y)
    of its [x0, x1] x [y0, y1] box."""
    return (df.withColumn("cell_x", F.explode(F.sequence(
                F.floor(x0 / cw).cast("long"), F.floor(x1 / cw).cast("long"))))
            .withColumn("cell_y", F.explode(F.sequence(
                F.floor(y0 / ch).cast("long"), F.floor(y1 / ch).cast("long")))))


def _tile_cells(tiles: DataFrame, scene_geom: DataFrame, cw: float, ch: float,
                mx: float = 0.0, my: float = 0.0) -> DataFrame:
    """The grid source exploded to every degree cell its tile bbox, grown
    by (mx, my) degrees, overlaps (tiny Catalyst sequence-explode)."""
    tdlon = (F.col("lon1") - F.col("lon0")) / F.col("ntx")
    tdlat = (F.col("lat1") - F.col("lat0")) / F.col("nty")
    return _cell_range(
        _grid(tiles, scene_geom),
        F.col("lon0") + F.col("tile_x") * tdlon - F.lit(mx),
        F.col("lon0") + (F.col("tile_x") + 1) * tdlon + F.lit(mx),
        F.col("lat1") - (F.col("tile_y") + 1) * tdlat - F.lit(my),
        F.col("lat1") - F.col("tile_y") * tdlat + F.lit(my), cw, ch)


# IDW interpolation: scattered stations -> raster plane (v.surf.idw /
# r.surf.idw analog). The points->raster complement of sample_raster.

def _idw_values(lon: np.ndarray, lat: np.ndarray,
                slon: np.ndarray, slat: np.ndarray, sval: np.ndarray,
                k: int, power: float,
                radius_km: float | None) -> np.ndarray:
    """Per-point IDW against stations PRE-SORTED by station_id: value =
    sum(w_i v_i)/sum(w_i) over the k nearest stations (within radius_km if
    given), w = 1/d^power. Deterministic everywhere: the stable argsort
    over the id-sorted station axis realizes the (distance, station_id)
    tie-break, selected stations accumulate in distance order, and an
    exact hit (d == 0) returns the smallest-id zero-distance station's
    value (the GRASS cell-on-site convention). Points with no station in
    range get NaN. Vectorized, chunked to ~32 MB of doubles."""
    n, m = lon.size, slon.size
    out = np.full(n, np.nan)
    if m == 0:
        return out
    k = min(k, m)
    step = max(1, 4_000_000 // m)
    for i0 in range(0, n, step):
        sl = slice(i0, min(i0 + step, n))
        d = haversine_km(lon[sl, None], lat[sl, None],
                         slon[None, :], slat[None, :])
        if radius_km is not None:
            d[d > radius_km] = np.inf
        order = np.argsort(d, axis=1, kind="stable")[:, :k]
        dsel = np.take_along_axis(d, order, axis=1)
        vsel = sval[order]
        ok = np.isfinite(dsel)
        hit = ok & (dsel == 0.0)
        with np.errstate(divide="ignore", over="ignore"):
            wgt = np.where(ok & ~hit, 1.0 / dsel ** power, 0.0)
        # sequential folds (cumsum), not np.sum: pairwise summation pairs
        # terms differently when the two paths' unselected-slot zero counts
        # differ (k > in-range candidates), breaking path bit-identity
        sw = np.cumsum(wgt, axis=1)[:, -1]
        sv = np.cumsum(wgt * np.where(ok & ~hit, vsel, 0.0), axis=1)[:, -1]
        chunk = np.full(sl.stop - sl.start, np.nan)
        good = sw > 0
        chunk[good] = sv[good] / sw[good]
        any_hit = hit.any(axis=1)
        if any_hit.any():
            first = hit.argmax(axis=1)  # zero-dist come first in d-order;
            chunk[any_hit] = vsel[np.arange(hit.shape[0]), first][any_hit]
        out[sl] = chunk
    return out


def _station_vec(st: pd.DataFrame, weighted: bool = True) -> tuple:
    """(lon, lat, value) of an id-sorted station table; value is 1.0 each
    when not ``weighted``."""
    return (st["lon"].to_numpy(np.float64), st["lat"].to_numpy(np.float64),
            st["value"].to_numpy(np.float64) if weighted else np.ones(len(st)))


def _station_group(rows, weighted: bool = True) -> tuple:
    """The cell form's station pack from a tile's distinct rows sorted by
    station_id, NULL ids (a tile with no station in reach) dropped, so
    the arrays are id-sorted like the broadcast form's."""
    st = [(r.lon, r.lat, r.value if weighted else 1.0)
          for r in rows if r.station_id is not None]
    return tuple(np.array(st, dtype=np.float64).reshape(-1, 3).T)


def _idw_plane(k: int, power: float, radius_km: float | None):
    def idw(row, w, h, st):
        return _idw_values(*_tile_lonlat(row, w, h), *st, k, power, radius_km)
    return idw


_IDW_SCHEMA = _plane_schema("idw_bytes", "n_interp")


def idw_rasterize(tiles: DataFrame, stations: pd.DataFrame,
                  scene_geom: DataFrame, k: int = 12, power: float = 2.0,
                  radius_km: float | None = None) -> DataFrame:
    """v.surf.idw analog, broadcast path: interpolate scattered station
    observations onto every tile of the destination grid(s).

    ``stations`` is the small side (station_id, lon, lat, value) —
    sc.broadcast'ed numpy arrays exactly like `knn_join`; ``tiles`` only
    defines the grid (scene_id, tile_x, tile_y, w, h — no payload bytes
    are read). GRASS defaults: npoints=12 nearest, power=2; ``radius_km``
    optionally bounds the search (r.surf.idw-style), leaving uncovered
    pixels NaN.

    Plan: ONE broadcast join of the tiny scene_geom + ONE mapInArrow pass
    over grid metadata — zero shuffle, output planes are written where the
    tile rows already live.
    """
    _check_k(k)
    st = stations.sort_values("station_id", kind="mergesort")
    return _broadcast_planes(tiles, scene_geom, _IDW_SCHEMA,
                             _idw_plane(k, power, radius_km), _station_vec(st))


# rigorous haversine -> degree covering bounds: hav >= 111.195 km/deg in
# latitude, and hav >= (2R/pi) * cos(phi_max) * dlambda_rad in longitude
# (asin(x) >= x and sin(x) >= 2x/pi on [0, pi/2]), so any station within
# radius_km of a pixel lies within these degree margins of it.
_KM_PER_DEG_LAT = 111.195


def _idw_lon_margin_deg(radius_km: float, abs_lat_max: float) -> float:
    if abs_lat_max >= 85.0:
        raise ValueError(
            f"idw_rasterize_cells: grid reaches |lat| {abs_lat_max:.2f} — "
            "the lon/lat cell covering degrades near the poles; use the "
            "broadcast path there")
    # dlambda_rad <= d * pi / (2 R cos(phi)); in degrees: d * 90 / (R cos)
    return radius_km * 90.0 / (EARTH_R_KM * np.cos(np.radians(abs_lat_max)))


def idw_rasterize_cells(tiles: DataFrame, stations: DataFrame,
                        scene_geom: DataFrame, radius_km: float,
                        k: int = 12, power: float = 2.0) -> DataFrame:
    """v.surf.idw analog, DISTRIBUTED no-broadcast path for station tables
    too big to broadcast: stations land in a fixed lon/lat degree grid
    (one cell each), every tile enumerates the cells overlapping its
    radius-expanded bbox (tiny Catalyst sequence-explode), and the
    candidates meet in ONE hash equi-join on the cell key. The per-tile
    kernel then applies the exact per-pixel (distance, station_id) top-k
    within ``radius_km`` — identical arithmetic to `idw_rasterize`, so
    with the same inputs the two paths are BIT-IDENTICAL (the covering
    bound proves no in-radius station can be missed; tests assert the
    equality).

    ``radius_km`` is mandatory here — it is what makes the candidate set
    local. Cell sizes derive from rigorous haversine->degree bounds (see
    above), valid to |lat| < 85 (polar grids raise; no antimeridian wrap —
    the synth scenes and AOI fixtures stay in-range).

    Plan: one tiny geom collect (per-scene rows) for the lat clamp, one
    shuffle of station rows on the cell key, one shuffle of grid metadata
    rows (no plane bytes exist yet), one grouped kernel. Station rows
    replicate only into tiles whose expanded bbox overlaps their cell.
    """
    _check_k(k)
    cand = _radius_candidates(tiles, stations, scene_geom, radius_km,
                              "idw_rasterize_cells")
    return _grouped_plane_apply(cand, _IDW_SCHEMA, _idw_plane(k, power, radius_km),
                                _station_group, ["station_id"])


def _radius_candidates(tiles: DataFrame, stations: DataFrame,
                       scene_geom: DataFrame, radius_km: float,
                       caller: str) -> DataFrame:
    """Shared distributed station gather: stations -> one fixed lon/lat
    degree cell each; tiles explode to every cell overlapping their
    radius-expanded bbox; ONE hash equi-join on the cell key. The covering
    bound guarantees every station within ``radius_km`` of any pixel of a
    tile reaches that tile's group."""
    if radius_km is None or radius_km <= 0:
        raise ValueError(f"{caller} needs a positive radius_km")
    # Driver memory is O(1) regardless of scene count: the only scalar the
    # driver needs is max |lat| over all scene bboxes, computed as a 1-row
    # distributed aggregate (VERDICT-r5 item 4 replaced an O(n_scenes)
    # collect here; tests/test_spatial.py holds a 10^4-scene geom flat).
    max_abs_lat = scene_geom.agg(
        F.max(F.greatest(F.abs("lat0"), F.abs("lat1")))).first()[0]
    if max_abs_lat is None:
        raise ValueError(f"{caller}: empty scene_geom")
    dlat_deg = radius_km / _KM_PER_DEG_LAT
    abs_lat = float(max_abs_lat) + dlat_deg
    dlon_deg = _idw_lon_margin_deg(radius_km, abs_lat)
    cw, ch = dlon_deg, dlat_deg  # cell width/height in degrees

    st = stations.select(
        "station_id", "lon", "lat", "value",
        F.floor(F.col("lon") / cw).cast("long").alias("cell_x"),
        F.floor(F.col("lat") / ch).cast("long").alias("cell_y"))
    t = _tile_cells(tiles, scene_geom, cw, ch, dlon_deg, dlat_deg)
    return t.join(st, on=["cell_x", "cell_y"], how="left")


# --------------------------------------------------------------------------
# Kernel density heatmap: points -> raster (v.kernel analog)
# --------------------------------------------------------------------------

KDE_KERNELS = ("epanechnikov", "uniform", "gaussian")


def _kde_values(lon: np.ndarray, lat: np.ndarray,
                slon: np.ndarray, slat: np.ndarray, swgt: np.ndarray,
                radius_km: float, kernel: str) -> np.ndarray:
    """Per-point kernel density against stations PRE-SORTED by station_id:
    density = sum_i wgt_i * K(d_i), all kernels 2-D normalized to
    integrate to 1 over the plane (so the density surface integrates to
    the total station weight) and TRUNCATED at ``radius_km``:

      epanechnikov  K = 2/(pi h^2) (1 - u^2),  u = d/h <= 1
      uniform       K = 1/(pi h^2),            u <= 1
      gaussian      K = 1/(2 pi s^2) exp(-d^2 / 2 s^2), s = h/3, u <= 1
                    (the 3-sigma cutoff keeps the candidate gather exact)

    Out-of-range stations contribute exactly 0.0, and float addition of
    0.0 is the identity, so the broadcast and cell-gathered paths produce
    BIT-IDENTICAL sums (both accumulate in station_id order). Pixels with
    nothing in range get density 0 (a real zero, not NULL)."""
    if kernel not in KDE_KERNELS:
        raise ValueError(f"unknown KDE kernel {kernel!r}; "
                         f"pick one of {KDE_KERNELS}")
    if radius_km is None or radius_km <= 0:
        raise ValueError("kde needs a positive radius_km")
    h2 = radius_km * radius_km
    n, m = lon.size, slon.size
    out = np.zeros(n)
    if m == 0:
        return out
    step = max(1, 4_000_000 // m)
    for i0 in range(0, n, step):
        sl = slice(i0, min(i0 + step, n))
        d = haversine_km(lon[sl, None], lat[sl, None],
                         slon[None, :], slat[None, :])
        inside = d <= radius_km
        if kernel == "epanechnikov":
            kv = (2.0 / (np.pi * h2)) * (1.0 - (d * d) / h2)
        elif kernel == "uniform":
            kv = np.full(d.shape, 1.0 / (np.pi * h2))
        else:  # gaussian, 3-sigma cutoff
            s2 = h2 / 9.0
            kv = np.exp(-(d * d) / (2.0 * s2)) / (2.0 * np.pi * s2)
        contrib = np.where(inside, kv * swgt[None, :], 0.0)
        # STRICTLY SEQUENTIAL id-order accumulation (cumsum), not np.sum:
        # pairwise summation would pair the nonzero terms differently when
        # the out-of-range zeros are absent (cells path), breaking the
        # bit-identity between the two paths. x + 0.0 == x exactly, so the
        # sequential fold is invariant to dropping zero contributions.
        out[sl] = np.cumsum(contrib, axis=1)[:, -1]
    return out


def _kde_plane(radius_km: float, kernel: str):
    # validate the arguments up front, on the driver
    _kde_values(np.empty(0), np.empty(0), np.empty(0), np.empty(0),
                np.empty(0), radius_km, kernel)

    def kde(row, w, h, st):
        return _kde_values(*_tile_lonlat(row, w, h), *st, radius_km, kernel)
    return kde


_KDE_SCHEMA = _plane_schema("kde_bytes", "n_interp")


def kde_rasterize(tiles: DataFrame, stations: pd.DataFrame,
                  scene_geom: DataFrame, radius_km: float,
                  kernel: str = "epanechnikov",
                  weighted: bool = False) -> DataFrame:
    """v.kernel analog, broadcast path: kernel density heatmap of station
    locations rasterized onto the tile grid(s). ``weighted=True`` scales
    each station's kernel by its ``value`` column (1.0 otherwise). Same
    zero-shuffle plan as `idw_rasterize`: one scene_geom broadcast join +
    one mapInArrow pass."""
    plane = _kde_plane(radius_km, kernel)
    st = stations.sort_values("station_id", kind="mergesort")
    return _broadcast_planes(tiles, scene_geom, _KDE_SCHEMA, plane,
                             _station_vec(st, weighted))


def kde_rasterize_cells(tiles: DataFrame, stations: DataFrame,
                        scene_geom: DataFrame, radius_km: float,
                        kernel: str = "epanechnikov",
                        weighted: bool = False) -> DataFrame:
    """v.kernel analog, DISTRIBUTED no-broadcast path — the
    `idw_rasterize_cells` gather (fixed degree-cell equi-join, rigorous
    covering bound) with the KDE kernel; bit-identical to the broadcast
    path (truncated kernels make out-of-gather stations exact 0.0
    contributions)."""
    plane = _kde_plane(radius_km, kernel)
    cand = _radius_candidates(tiles, stations, scene_geom, radius_km,
                              "kde_rasterize_cells")
    return _grouped_plane_apply(cand, _KDE_SCHEMA, plane,
                                partial(_station_group, weighted=weighted),
                                ["station_id"])


# --------------------------------------------------------------------------
# Line rasterization: polylines -> raster cells (v.to.rast type=line analog)
# --------------------------------------------------------------------------

def supercover_cells(x0: float, y0: float, x1: float, y1: float):
    """All integer grid cells [i, i+1) x [j, j+1) a segment passes through,
    in traversal order — Amanatides–Woo voxel walking in continuous pixel
    coordinates. Deterministic; endpoints on cell boundaries resolve by
    floor (half-open cells, consistent with the engine's geocode)."""
    ix, iy = int(np.floor(x0)), int(np.floor(y0))
    ix1, iy1 = int(np.floor(x1)), int(np.floor(y1))
    dx, dy = x1 - x0, y1 - y0
    cells = [(ix, iy)]
    step_x = 1 if dx > 0 else -1
    step_y = 1 if dy > 0 else -1
    t_max_x = ((ix + (step_x > 0)) - x0) / dx if dx != 0 else np.inf
    t_max_y = ((iy + (step_y > 0)) - y0) / dy if dy != 0 else np.inf
    t_dx = abs(1.0 / dx) if dx != 0 else np.inf
    t_dy = abs(1.0 / dy) if dy != 0 else np.inf
    # cap: a segment crosses at most |Δix| + |Δiy| boundaries
    for _ in range(abs(ix1 - ix) + abs(iy1 - iy)):
        if t_max_x < t_max_y:
            ix += step_x
            t_max_x += t_dx
        else:
            iy += step_y
            t_max_y += t_dy
        cells.append((ix, iy))
    return cells


def _lines_plane(row, w: int, h: int, sa: np.ndarray) -> np.ndarray:
    """rasterize_lines' plane: burn a 9-col segment array (bx0, by0, bx1,
    by1, ax, ay, bx, by, cat) into one tile plane. Max-per-cell is
    order-free, so both forms stay byte-identical."""
    tile_x, tile_y, ntx, nty = int(row.tile_x), int(row.tile_y), int(row.ntx), int(row.nty)
    lon0, lat0, lon1, lat1 = row.lon0, row.lat0, row.lon1, row.lat1
    gw, gh = ntx * w, nty * h
    dlon = (lon1 - lon0) / ntx
    dlat = (lat1 - lat0) / nty
    tl0 = lon0 + tile_x * dlon
    tl1 = tl0 + dlon
    tb1 = lat1 - tile_y * dlat
    tb0 = tb1 - dlat
    plane = np.full((h, w), np.nan, dtype=np.float32)
    if sa.size:
        hit = ((sa[:, 0] <= tl1) & (sa[:, 2] >= tl0)
               & (sa[:, 1] <= tb1) & (sa[:, 3] >= tb0))
        ox, oy = tile_x * w, tile_y * h
        for bx0, by0, bx1, by1, ax, ay, bx, by, cat in sa[hit]:
            # global continuous pixel coords (u right, v down)
            ua = (ax - lon0) / (lon1 - lon0) * gw
            va = (lat1 - ay) / (lat1 - lat0) * gh
            ub = (bx - lon0) / (lon1 - lon0) * gw
            vb = (lat1 - by) / (lat1 - lat0) * gh
            for cx, cy in supercover_cells(ua, va, ub, vb):
                px, py = cx - ox, cy - oy
                if 0 <= px < w and 0 <= py < h:
                    cur = plane[py, px]
                    if not np.isfinite(cur) or cat > cur:
                        plane[py, px] = cat
    return plane


def _seg_array(ax, ay, bx, by, cat) -> np.ndarray:
    """Segment endpoints -> the 9-col (bbox, endpoints, cat) array."""
    return np.column_stack([np.minimum(ax, bx), np.minimum(ay, by),
                            np.maximum(ax, bx), np.maximum(ay, by),
                            ax, ay, bx, by, cat])


def _seg_group(rows) -> np.ndarray:
    """The cell form's segment pack from a tile's distinct (line_id, i)
    rows: one burn per segment."""
    segs = [(r.ax, r.ay, r.bx, r.by, r.cat) for r in rows]
    return _seg_array(*np.array(segs, dtype=np.float64).reshape(-1, 5).T)


def _check_line_cols(lines) -> None:
    for c in ("line_id", "cat", "xs", "ys"):
        if c not in lines.columns:
            raise ValueError(f"lines needs column {c!r}")


def rasterize_lines(tiles: DataFrame, lines: pd.DataFrame,
                    scene_geom: DataFrame) -> DataFrame:
    """v.to.rast type=line analog: burn polyline categories into the tile
    grid. A cell is marked when the line passes through its square
    (supercover semantics — no gaps on steep diagonals, unlike thin
    Bresenham); overlapping lines resolve to the HIGHEST category
    (deterministic, order-free).

    ``lines`` is the small vector side (line_id, cat, xs, ys — lon/lat
    vertex arrays), broadcast like the PIP R-tree layers; ``tiles`` only
    defines the grid. Plan: ONE scene_geom broadcast join + ONE mapInArrow
    pass, zero hash exchanges — each tile walks only the segments whose
    bbox overlaps it (driver-side per-segment bboxes ride the broadcast).
    """
    _check_line_cols(lines)
    ends = []  # per line: (ax, ay, bx, by, cat) arrays
    for r in lines.itertuples():
        xs = np.asarray(r.xs, dtype=np.float64)
        ys = np.asarray(r.ys, dtype=np.float64)
        if xs.size != ys.size or xs.size < 2:
            raise ValueError(
                f"line {r.line_id!r}: xs/ys must be equal-length, >= 2")
        ends.append((xs[:-1], ys[:-1], xs[1:], ys[1:], np.full(xs.size - 1, float(r.cat))))
    sa = _seg_array(*(np.concatenate(c) if ends else np.empty(0) for c in zip(*ends)))
    return _broadcast_planes(tiles, scene_geom, _LINES_SCHEMA, _lines_plane, sa,
                             skip_empty=True)


def rasterize_lines_cells(tiles: DataFrame, lines: DataFrame,
                          scene_geom: DataFrame) -> DataFrame:
    """v.to.rast type=line analog, DISTRIBUTED no-broadcast path for vector
    tables too big to broadcast (country-scale road networks). Byte-
    identical to `rasterize_lines` on the same inputs: both paths burn via
    the same plane function (identical float expressions) and max-per-cell
    is order-free, so only the candidate ROUTING differs.

    ``lines`` is a Spark DataFrame (line_id, cat, xs: array<double>,
    ys: array<double>). Plan shape: segments explode EXECUTOR-side
    (Catalyst sequence-explode over vertex indices, no driver iteration),
    each segment lands in the fixed lon/lat degree cells its bbox overlaps,
    tiles enumerate the cells overlapping their bbox, and the two sides
    meet in ONE hash equi-join on the cell key — the vector side is never
    broadcast and never touches the driver. The cell size is the LARGEST
    tile extent over all scenes (one 1-row aggregate), so a tile overlaps
    <= 4 cells; a segment emits its bbox's cells — O(len/cell) for the
    axis-aligned/short segments of real networks (a continental diagonal
    should be pre-split by the caller, as in GRASS v.split). Malformed
    xs/ys raise from the executors via raise_error (the broadcast path
    raises ValueError on the driver).

    Untouched tiles emit nothing (inner-join + n_cells=0 skip), matching
    the broadcast path's inner semantics.
    """
    _check_line_cols(lines)
    ext = scene_geom.agg(
        F.max((F.col("lon1") - F.col("lon0")) / F.col("ntx")).alias("cw"),
        F.max((F.col("lat1") - F.col("lat0")) / F.col("nty")).alias("ch"),
    ).first()
    if ext["cw"] is None:
        raise ValueError("rasterize_lines_cells: empty scene_geom")
    cw, ch = float(ext["cw"]), float(ext["ch"])
    if cw <= 0 or ch <= 0:
        raise ValueError("rasterize_lines_cells: degenerate scene_geom")

    bad = (F.size("xs") != F.size("ys")) | (F.size("xs") < 2)
    first_i = F.when(bad, F.raise_error(F.concat(
        F.lit("line "), F.col("line_id").cast("string"),
        F.lit(": xs/ys must be equal-length, >= 2")))).otherwise(F.lit(0))
    seg = (lines
           .withColumn("i", F.explode(F.sequence(first_i,
                                                 F.size("xs") - F.lit(2))))
           .select("line_id", F.col("cat").cast("double").alias("cat"), "i",
                   F.element_at("xs", F.col("i") + 1).alias("ax"),
                   F.element_at("ys", F.col("i") + 1).alias("ay"),
                   F.element_at("xs", F.col("i") + 2).alias("bx"),
                   F.element_at("ys", F.col("i") + 2).alias("by")))
    seg = _cell_range(seg, F.least("ax", "bx"), F.greatest("ax", "bx"),
                      F.least("ay", "by"), F.greatest("ay", "by"), cw, ch)
    cand = _tile_cells(tiles, scene_geom, cw, ch).join(
        seg, on=["cell_x", "cell_y"], how="inner")
    return _grouped_plane_apply(cand, _LINES_SCHEMA, _lines_plane, _seg_group,
                                ["line_id", "i"], skip_empty=True)


# --------------------------------------------------------------------------
# Random raster cell sampling (r.random analog): exactly N valid cells per
# scene, deterministic, fully distributed.
# --------------------------------------------------------------------------

_RANDOM_CELLS_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("gx", IntegerType()),
    StructField("gy", IntegerType()),
    StructField("value", DoubleType()),
    StructField("rank_h", LongType()),
])


def _cell_rank_hash(gx: np.ndarray, gy: np.ndarray, seed: int) -> np.ndarray:
    """Deterministic 63-bit rank per cell — splitmix64 finalizer over the
    packed (gx, gy, seed) key. Independent of partitioning/tiling, so the
    global N-smallest set is a well-defined function of (scene, seed)."""
    z = (gx.astype(np.uint64) << np.uint64(32)) ^ gy.astype(np.uint64)
    z ^= np.uint64(seed & 0xFFFFFFFFFFFFFFFF)
    z = (z + np.uint64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))
    return (z >> np.uint64(1)).astype(np.int64)  # non-negative int64


def sample_random_cells(tiles: DataFrame, n: int, seed: int = 0,
                        src_col: str = "lst_bytes") -> DataFrame:
    """r.random analog: exactly ``n`` uniformly-pseudo-random VALID cells
    per scene as point rows (scene_id, gx, gy, value) — fewer only when a
    scene has fewer valid cells. Deterministic for a given seed and
    INDEPENDENT of tiling/partitioning: every valid cell gets a splitmix64
    rank of its (gx, gy, seed) key and the scene keeps the n smallest.

    Plan, scale-shaped: the decode pass emits only each tile's n
    SMALLEST-ranked cells (the scene top-n is necessarily a subset of the
    union of per-tile top-ns), so rows reaching the exchange are bounded
    by n x tiles, never pixels; then ONE window rank per scene keeps n.
    No driver state, no collect.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    nom_w, nom_h = _nominal_grid(tiles)

    def random_cells(row, w, h):
        plane = np.frombuffer(getattr(row, src_col), "<f4") \
            .reshape(h, w).astype(np.float64)
        py, px = np.nonzero(np.isfinite(plane))
        gx = (int(row.tile_x) * nom_w + px).astype(np.int64)
        gy = (int(row.tile_y) * nom_h + py).astype(np.int64)
        rk = _cell_rank_hash(gx, gy, seed)
        keep = np.argsort(rk, kind="stable")[:n]
        return zip(gx[keep].tolist(), gy[keep].tolist(),
                   plane[py[keep], px[keep]].tolist(), rk[keep].tolist())

    cand = _tile_rows(tiles.select(*_TILE_IDS, src_col), _RANDOM_CELLS_SCHEMA,
                      random_cells, ("scene_id",))
    w = Window.partitionBy("scene_id").orderBy("rank_h", "gx", "gy")
    return (cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= n)
            .drop("_rn", "rank_h"))

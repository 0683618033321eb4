"""Distributed cost-distance / distance-transform over a tiled raster.

The r.cost / r.grow.distance step of the reference workflow (GRASS terms):
given target cells (e.g. the hot-spot pixels of the LST map) and optional
per-cell traversal costs, compute for every cell the minimum accumulated
cost to reach a target — the classic proximity / least-cost-path surface.
NULL cells are barriers (impassable), matching GRASS semantics.

Shortest paths routinely cross many tiles, so a single-machine pass does
not scale. This module runs the textbook asynchronous relaxation
decomposition (monotone Bellman-Ford on the 8-connected grid graph):

1. **Tile-local solve** (mapInArrow, embarrassingly parallel): each tile
   initializes dist = 0 at targets / +inf elsewhere / NaN barriers and
   relaxes to its tile-local fixpoint with alternating forward/backward
   chamfer sweeps (Borgefors).
2. **Halo exchange + re-sweep, iterated to the global fixpoint**: each
   round exchanges a 1-pixel halo of the current distance planes
   (pipeline.halo_plane_tiles) and re-relaxes every tile with the
   neighbor ring as additional fixed sources. Distances only decrease
   and are bounded below, so the iteration terminates; a per-tile
   ``changed`` flag drives the driver-side convergence test. Rounds ~
   the max number of tile borders a shortest path crosses (in the worst
   case the tile-grid diameter; typically far fewer).

Metric: 3-4 chamfer (orthogonal step 3, diagonal 4 — the standard integer
approximation of Euclidean x3; exact integer arithmetic when costs are
uniform, which the tests exploit for bit-exact parity with a Dijkstra
oracle). With a cost plane, edge weight = step * (cost[a] + cost[b]) / 2
(the r.cost convention). The emitted planes are scaled by cell/3 so values
are in cell units.

Scale shape: each round shuffles the distance planes once (~1.06x plane
bytes: plane + 1-px strips) and nothing else; the static cost halo is
exchanged ONCE before the loop and equi-joined back per round. On a
bucketed-by-tile-key layout the per-round repartition is a zero-shuffle
local sort. A production refinement would re-sweep only tiles whose
incoming halo changed (frontier propagation); at the fixpoint the extra
sweeps are O(1) no-ops per tile, so correctness never depends on it.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, BooleanType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from . import codecs
from .pipeline import (
    _TILE_IDS, _TILE_KEY, _halo_fixpoint, _nominal_grid, _tile_map,
    halo_plane_tiles,
)

W_ORTH = 3.0   # chamfer 3-4 metric: exact ints for uniform cost
W_DIAG = 4.0
_BIG = 1e30    # pseudo-infinity for barrier cells inside sweeps (inf would
               # produce inf-inf = NaN in the prefix-sum relaxation)
_CLIP = 1e29   # values >= this are "unreached" (only via-barrier paths)


# ---------------------------------------------------------------------------
# kernel: tile-local chamfer relaxation to a fixpoint
# ---------------------------------------------------------------------------


def _row_relax(d: np.ndarray, e: np.ndarray) -> np.ndarray:
    """In-row transitive relaxation d[x] <- min_j<=x (d[j] + sum e[j..x-1])
    for one scan direction, vectorized per barrier-free segment.

    Segment split is mandatory, not an optimization: the prefix-sum form
    (d[j] - W[j]) + W[x] loses ~9 decimal digits once W crosses a _BIG
    barrier edge, which would corrupt every value after the barrier.
    """
    w = d.shape[0]
    barrier = e >= _CLIP  # edges touching a barrier cell
    if not barrier.any():
        W = np.empty(w)
        W[0] = 0.0
        np.cumsum(e, out=W[1:])
        return np.minimum(d, np.minimum.accumulate(d - W) + W)
    out = d.copy()
    starts = np.flatnonzero(np.concatenate(([True], barrier)))
    bounds = np.append(starts, w)
    for i in range(len(starts)):
        s, t = bounds[i], bounds[i + 1]
        if t - s < 2:
            continue
        seg = d[s:t]
        W = np.empty(t - s)
        W[0] = 0.0
        np.cumsum(e[s:t - 1], out=W[1:])
        out[s:t] = np.minimum(seg, np.minimum.accumulate(seg - W) + W)
    return out


def _edge_weights(cost: np.ndarray | None, barrier: np.ndarray,
                  h: int, w: int) -> tuple:
    """(eh, ev, edr, edl): horizontal / vertical / down-right / down-left
    edge weight planes; edges touching a barrier get _BIG."""
    if cost is None:
        c = np.where(barrier, _BIG, 1.0)
    else:
        c = np.where(barrier | ~np.isfinite(cost), _BIG, cost)
    eh = W_ORTH * (c[:, :-1] + c[:, 1:]) / 2.0          # (h, w-1)
    ev = W_ORTH * (c[:-1, :] + c[1:, :]) / 2.0          # (h-1, w)
    edr = W_DIAG * (c[:-1, :-1] + c[1:, 1:]) / 2.0      # (h-1, w-1)
    edl = W_DIAG * (c[:-1, 1:] + c[1:, :-1]) / 2.0      # (h-1, w-1)
    return eh, ev, edr, edl


def chamfer_relax(dist: np.ndarray, cost: np.ndarray | None = None,
                  max_sweeps: int = 256) -> tuple[np.ndarray, int]:
    """Relax a distance plane to its local fixpoint (3-4 chamfer metric).

    dist: float64 (h, w); 0.0 at sources, np.inf where unknown, NaN =
    barrier. cost: optional per-cell traversal cost (NaN = barrier).
    Returns (plane with NaN barriers restored and unreached = np.inf,
    sweeps used). Pure relaxation — never raises a value — so seeding
    ``dist`` with any upper bounds (e.g. a neighbor-tile halo ring) is
    sound.
    """
    h, w = dist.shape
    barrier = np.isnan(dist)
    if cost is not None:
        barrier |= np.isnan(cost)
    d = np.where(barrier, _BIG, dist)
    eh, ev, edr, edl = _edge_weights(cost, barrier, h, w)
    sweeps = 0
    while sweeps < max_sweeps:
        prev = d.copy()
        # forward: top-left -> bottom-right
        for y in range(h):
            if y > 0:
                up = d[y - 1]
                cand = up + ev[y - 1]
                cand[1:] = np.minimum(cand[1:], up[:-1] + edr[y - 1])
                cand[:-1] = np.minimum(cand[:-1], up[1:] + edl[y - 1])
                d[y] = np.minimum(d[y], cand)
            d[y] = _row_relax(d[y], eh[y])
        # backward: bottom-right -> top-left (the bottom row has no row
        # below but still needs its right-to-left in-row relaxation)
        d[h - 1] = _row_relax(d[h - 1][::-1], eh[h - 1][::-1])[::-1]
        for y in range(h - 2, -1, -1):
            dn = d[y + 1]
            cand = dn + ev[y]
            cand[:-1] = np.minimum(cand[:-1], dn[1:] + edr[y])
            cand[1:] = np.minimum(cand[1:], dn[:-1] + edl[y])
            d[y] = np.minimum(d[y], cand)
            d[y] = _row_relax(d[y][::-1], eh[y][::-1])[::-1]
        d[barrier] = _BIG
        sweeps += 1
        if np.array_equal(d, prev):
            break
    out = np.where(d >= _CLIP, np.inf, d)
    out[barrier] = np.nan
    return out, sweeps


# ---------------------------------------------------------------------------
# distributed iteration
# ---------------------------------------------------------------------------

_STATE_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("dist_bytes", BinaryType()),   # f32: dist | +inf | NaN barrier
    StructField("changed", BooleanType()),
])

COST_DISTANCE_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("dist_bytes", BinaryType()),   # f32 cell units; NaN = barrier
                                               # or unreachable
    StructField("n_reached", LongType()),
    StructField("dist_max", DoubleType()),
])


def _seed(row, w: int, h: int, src_col: str, cost_col: str | None,
          threshold: float) -> tuple:
    """(dist, cost, target) of one input tile: dist 0.0 at the target
    cells (``plane >= threshold``), +inf elsewhere, NaN at barriers; cost
    is the decoded ``cost_col`` plane or None."""
    plane = codecs.decode_f32bt(getattr(row, src_col), w, h)
    cost = (codecs.decode_f32bt(getattr(row, cost_col), w, h)
            if cost_col else None)
    with np.errstate(invalid="ignore"):
        target = plane >= threshold
    dist = np.where(target, 0.0, np.inf)
    dist[np.isnan(plane)] = np.nan
    return dist, cost, target


def _cost_pad(tiles: DataFrame, cost_col: str | None) -> DataFrame | None:
    """The static 1-px cost halo, exchanged once before the loop."""
    if cost_col is None:
        return None
    return (halo_plane_tiles(tiles, r=1, src_col=cost_col)
            .select(*_TILE_KEY, F.col("pad_bytes").alias("cost_pad"))
            .localCheckpoint())


def _with_pad(haloed: DataFrame, cost_pad: DataFrame | None) -> DataFrame:
    return haloed if cost_pad is None else haloed.join(cost_pad, _TILE_KEY)


def _row_cost(row, w: int, h: int) -> np.ndarray | None:
    pad = getattr(row, "cost_pad", None)
    return None if pad is None else codecs.decode_f32bt(pad, w + 2, h + 2)


def _scaled(row, w: int, h: int, scale: float) -> tuple:
    """(dist in cell units with NaN for barrier/unreached, finite mask,
    dist_max) of a converged state row."""
    d = codecs.decode_f32bt(row.dist_bytes, w, h)
    d[~np.isfinite(d)] = np.nan
    d = d * scale
    finite = np.isfinite(d)
    return d, finite, float(d[finite].max()) if finite.any() else None


def cost_distance_tiles(tiles: DataFrame, threshold: float,
                        src_col: str = "lst_bytes",
                        cost_col: str | None = None,
                        cell: float = 1.0,
                        max_rounds: int = 64) -> DataFrame:
    """Distance (accumulated cost) from every cell to the nearest cell with
    ``plane >= threshold`` in ``src_col``, across tile borders.

    NaN source cells are barriers. ``cost_col`` names an optional f32
    traversal-cost plane column (its halo is exchanged once, before the
    loop). Emitted distances are in cell units (chamfer values * cell / 3);
    unreachable and barrier cells are NaN, ``n_reached`` counts finite
    cells. Iterates halo exchange + re-sweep until no tile changes.
    """

    def init_fn(row, w, h):
        dist, cost, _ = _seed(row, w, h, src_col, cost_col, threshold)
        dist, _ = chamfer_relax(dist, cost)
        return dist.astype("<f4").tobytes(), True

    def resweep_fn(row, w, h):
        # NaN stays NaN: interior barrier, neighbor barrier, and
        # absent-neighbor ring cells are all IMPASSABLE — decoding ring
        # NaN as +inf would let paths shortcut through real barrier cells
        # of the neighbor tile. Ring +inf (neighbor not yet reached) is
        # passable-unknown; ring finite values are fixed upper-bound
        # sources.
        pad = codecs.decode_f32bt(row.pad_bytes, w + 2, h + 2)
        old = pad[1:-1, 1:-1].copy()
        new, _ = chamfer_relax(pad.copy(), _row_cost(row, w, h))
        interior = new[1:-1, 1:-1]
        # exact compare in the f32 encoding the next round will see
        changed = not np.array_equal(
            interior.astype("<f4"), old.astype("<f4"), equal_nan=True)
        return interior.astype("<f4").tobytes(), changed

    def exchange(st):
        return _with_pad(halo_plane_tiles(st, r=1, src_col="dist_bytes"),
                         cost_pad)

    state = _tile_map(tiles, _STATE_SCHEMA, init_fn, _TILE_IDS).localCheckpoint()
    cost_pad = _cost_pad(tiles, cost_col)
    state = _halo_fixpoint(state, exchange, resweep_fn, _STATE_SCHEMA,
                           max_rounds, "cost_distance")

    def final_fn(row, w, h):
        d, finite, dmax = _scaled(row, w, h, cell / 3.0)
        return d.astype("<f4").tobytes(), int(finite.sum()), dmax

    return _tile_map(state.drop("changed"), COST_DISTANCE_SCHEMA, final_fn,
                     _TILE_IDS)


BUFFER_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("zone_bytes", BinaryType()),   # f32: 1=target, 2..=rings,
                                               # 0=beyond, NaN=barrier
    StructField("zone_counts", StringType()),  # "zone:count,..." summary
])


def buffer_tiles(tiles: DataFrame, threshold: float, distances: list[float],
                 src_col: str = "lst_bytes", cell: float = 1.0,
                 **cost_kwargs) -> DataFrame:
    """r.buffer analog: concentric distance zones around the target cells.

    Zone codes follow the GRASS convention: 1 = the target cells
    themselves, 2..len(distances)+1 = successive rings (``dist <=
    distances[i]``, ascending), 0 = beyond the last ring, NaN = barrier
    or unreachable. A thin classification map over the converged
    cost-distance plane — the halo iteration is inherited unchanged.
    """
    if list(distances) != sorted(distances) or not distances:
        raise ValueError(f"distances must be ascending and non-empty: {distances}")
    d = cost_distance_tiles(tiles, threshold, src_col=src_col, cell=cell,
                            **cost_kwargs)
    cuts = np.asarray(distances, dtype=np.float64)

    def fn(row, w, h):
        dist = codecs.decode_f32bt(row.dist_bytes, w, h)
        zone = np.zeros((h, w), dtype=np.float64)
        fin = np.isfinite(dist)
        # np.searchsorted on the ascending cuts: ring index of the
        # smallest cut >= dist; beyond the last cut stays 0
        ring = np.searchsorted(cuts, dist[fin], side="left")
        zone[fin] = np.where(ring < len(cuts), ring + 2.0, 0.0)
        zone[fin & (dist == 0.0)] = 1.0
        zone[np.isnan(dist)] = np.nan
        uniq, cnt = np.unique(zone[~np.isnan(zone)], return_counts=True)
        return (zone.astype("<f4").tobytes(),
                ",".join(f"{int(z)}:{c}" for z, c in zip(uniq, cnt)))

    return _tile_map(d, BUFFER_SCHEMA, fn, _TILE_IDS)


# ---------------------------------------------------------------------------
# Cost ALLOCATION — the r.cost "nearest" output / cost-weighted Voronoi:
# every reachable cell also gets the LABEL of the target cell its least-cost
# path terminates at. Labels relax JOINTLY with distance under the
# lexicographic order (dist, label): a candidate replaces the current pair
# when its distance is smaller, or equal with a smaller label. Lex-min is
# associative/commutative, so the fixpoint is CANONICAL — independent of
# sweep order AND of the tile decomposition (ties on equal-cost boundaries
# always resolve to the lowest label), which is what makes the tiled result
# comparable bit-for-bit with a whole-scene oracle.
# ---------------------------------------------------------------------------

_LBIG = np.int64(1) << 60   # "no label" sentinel, larger than any real label


def _seg_cummin_pairs(v: np.ndarray, lab: np.ndarray) -> tuple:
    """Lexicographic prefix minimum of (v, lab): for every x, the smallest
    (v_j, lab_j) over j <= x, compared by v then label.

    m = running min of v is a plain accumulate. The matching label needs
    "min label over all j <= x with v_j == m[x]": positions where m is
    constant form segments (m is non-increasing, dropping strictly at
    segment starts); within a segment the qualifying labels are exactly
    those with v_j equal to their OWN running min, so the answer is a
    SEGMENTED cummin of q = (lab where v==m else sentinel) — earlier
    segments can never qualify because their v values strictly exceed the
    later segment's m. numpy has no segmented scan; the per-segment loop
    runs over the strict-drop boundaries (few in practice, O(n) worst).
    """
    n = v.shape[0]
    m = np.minimum.accumulate(v)
    q = np.where(v == m, lab, _LBIG)
    drops = np.flatnonzero(m[1:] < m[:-1]) + 1
    if drops.size == 0:
        return m, np.minimum.accumulate(q)
    lab_min = np.empty(n, dtype=np.int64)
    bounds = np.concatenate(([0], drops, [n]))
    for i in range(len(bounds) - 1):
        s, t = bounds[i], bounds[i + 1]
        lab_min[s:t] = np.minimum.accumulate(q[s:t])
    return m, lab_min


def _row_relax_lab(d: np.ndarray, lab: np.ndarray,
                   e: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """_row_relax with a label carried through the prefix relaxation under
    the lexicographic (dist, label) order, one scan direction."""
    w = d.shape[0]
    barrier = e >= _CLIP

    def one_segment(dd, ll, ee):
        nseg = dd.shape[0]
        W = np.empty(nseg)
        W[0] = 0.0
        np.cumsum(ee, out=W[1:])
        v = dd - W
        m, lm = _seg_cummin_pairs(v, ll)
        cand = m + W
        improve = cand < dd
        tie = (cand == dd) & (lm < ll)
        out_d = np.where(improve, cand, dd)
        out_l = np.where(improve | tie, lm, ll)
        return out_d, out_l

    if not barrier.any():
        return one_segment(d, lab, e)
    out_d, out_l = d.copy(), lab.copy()
    starts = np.flatnonzero(np.concatenate(([True], barrier)))
    bounds = np.append(starts, w)
    for i in range(len(starts)):
        s, t = bounds[i], bounds[i + 1]
        if t - s < 2:
            continue
        out_d[s:t], out_l[s:t] = one_segment(d[s:t], lab[s:t], e[s:t - 1])
    return out_d, out_l


def _shift_relax_lab(d_row, l_row, cand, cand_lab):
    improve = cand < d_row
    tie = (cand == d_row) & (cand_lab < l_row)
    return (np.where(improve, cand, d_row),
            np.where(improve | tie, cand_lab, l_row))


def chamfer_relax_lab(dist: np.ndarray, lab: np.ndarray,
                      cost: np.ndarray | None = None,
                      max_sweeps: int = 256) -> tuple:
    """chamfer_relax carrying an int64 label plane under the lexicographic
    (dist, label) order. ``lab`` is the CURRENT label state — the target's
    own label at target cells, a neighbor-tile label on halo ring cells,
    _LBIG where unlabeled — and relaxes jointly with dist (pure
    relaxation, so seeding with upper-bound (dist, label) pairs is sound
    exactly like chamfer_relax). Returns (dist, lab, sweeps) — dist as in
    chamfer_relax; lab = _LBIG where unreached/barrier."""
    h, w = dist.shape
    barrier = np.isnan(dist)
    if cost is not None:
        barrier |= np.isnan(cost)
    d = np.where(barrier, _BIG, dist)
    L = np.where(barrier | ~np.isfinite(dist.astype(np.float64))
                 | (lab < 0), _LBIG, lab).astype(np.int64)
    eh, ev, edr, edl = _edge_weights(cost, barrier, h, w)
    sweeps = 0
    while sweeps < max_sweeps:
        prev_d, prev_l = d.copy(), L.copy()
        for y in range(h):
            if y > 0:
                up, ul = d[y - 1], L[y - 1]
                d[y], L[y] = _shift_relax_lab(d[y], L[y], up + ev[y - 1], ul)
                d[y][1:], L[y][1:] = _shift_relax_lab(
                    d[y][1:], L[y][1:], up[:-1] + edr[y - 1], ul[:-1])
                d[y][:-1], L[y][:-1] = _shift_relax_lab(
                    d[y][:-1], L[y][:-1], up[1:] + edl[y - 1], ul[1:])
            d[y], L[y] = _row_relax_lab(d[y], L[y], eh[y])
        rd, rl = _row_relax_lab(d[h - 1][::-1], L[h - 1][::-1],
                                eh[h - 1][::-1])
        d[h - 1], L[h - 1] = rd[::-1], rl[::-1]
        for y in range(h - 2, -1, -1):
            dn, dl = d[y + 1], L[y + 1]
            d[y], L[y] = _shift_relax_lab(d[y], L[y], dn + ev[y], dl)
            d[y][:-1], L[y][:-1] = _shift_relax_lab(
                d[y][:-1], L[y][:-1], dn[1:] + edr[y], dl[1:])
            d[y][1:], L[y][1:] = _shift_relax_lab(
                d[y][1:], L[y][1:], dn[:-1] + edl[y], dl[:-1])
            rd, rl = _row_relax_lab(d[y][::-1], L[y][::-1], eh[y][::-1])
            d[y], L[y] = rd[::-1], rl[::-1]
        d[barrier] = _BIG
        L[barrier] = _LBIG
        sweeps += 1
        if np.array_equal(d, prev_d) and np.array_equal(L, prev_l):
            break
    out = np.where(d >= _CLIP, np.inf, d)
    out[barrier] = np.nan
    return out, L, sweeps


_ALLOC_STATE_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("dist_bytes", BinaryType()),    # f32: dist | +inf | NaN barrier
    StructField("alloc_bytes", BinaryType()),   # f64: label | _LBIG | NaN barrier
    StructField("changed", BooleanType()),
])

COST_ALLOCATION_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("dist_bytes", BinaryType()),    # f32 cell units; NaN = barrier/unreached
    StructField("alloc_bytes", BinaryType()),   # <i8 target label; -1 = unreached
    StructField("n_reached", LongType()),
    StructField("n_labels", LongType()),        # distinct targets serving this tile
    StructField("dist_max", DoubleType()),
])

_LBL_SHIFT = 26  # label = gy << 26 | gx (scene pixel coords; exact in f64)


def cost_allocation_tiles(tiles: DataFrame, threshold: float,
                          src_col: str = "lst_bytes",
                          cost_col: str | None = None,
                          cell: float = 1.0,
                          max_rounds: int = 64) -> DataFrame:
    """Cost ALLOCATION across tile borders — the r.cost ``nearest`` output
    (cost-weighted Voronoi): every reachable cell gets the distance to AND
    the label of the target cell (``plane >= threshold``) its least-cost
    path terminates at.

    Labels are the target cell's scene pixel coordinates packed as
    ``gy << 26 | gx`` (nominal-grid coords, so the labeling is independent
    of the tiling), and ties on equal cost resolve to the LOWEST label —
    the lexicographic (dist, label) fixpoint is canonical, so the tiled
    result equals a whole-scene solve exactly (uniform cost; cost planes
    agree to fp tolerance like cost_distance_tiles).

    Plan: same halo iteration as cost_distance_tiles with TWO state
    planes — each round exchanges a 1-px halo of the f32 distance plane
    and the f64 label plane (~2.1x plane bytes per round vs 1.06x for
    distance-only) joined back on the tile key, re-relaxes tile-locally,
    and stops when no tile changes.
    """
    nom_w, nom_h = _nominal_grid(tiles)

    def init_fn(row, w, h):
        dist, cost, target = _seed(row, w, h, src_col, cost_col, threshold)
        gx0, gy0 = int(row.tile_x) * nom_w, int(row.tile_y) * nom_h
        yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        lab = np.full((h, w), _LBIG, dtype=np.int64)
        lab[target] = ((gy0 + yy[target]).astype(np.int64)
                       << _LBL_SHIFT) | (gx0 + xx[target])
        dist, lab, _ = chamfer_relax_lab(dist, lab, cost)
        return (dist.astype("<f4").tobytes(),
                lab.astype(np.float64).astype("<f8").tobytes(), True)

    def resweep_fn(row, w, h):
        dist = codecs.decode_f32bt(row.pad_bytes, w + 2, h + 2)
        lab_pad = np.frombuffer(row.lab_pad, dtype="<f8").reshape(h + 2, w + 2)
        lab = np.where(np.isnan(lab_pad), _LBIG, lab_pad).astype(np.int64)
        old_d = dist[1:-1, 1:-1].copy()
        old_l = lab[1:-1, 1:-1].copy()
        new_d, new_l, _ = chamfer_relax_lab(dist, lab, _row_cost(row, w, h))
        in_d, in_l = new_d[1:-1, 1:-1], new_l[1:-1, 1:-1]
        changed = (not np.array_equal(in_d.astype("<f4"), old_d.astype("<f4"),
                                      equal_nan=True)
                   or not np.array_equal(in_l, old_l))
        return (in_d.astype("<f4").tobytes(),
                in_l.astype(np.float64).astype("<f8").tobytes(), changed)

    def exchange(st):
        d_halo = halo_plane_tiles(st, r=1, src_col="dist_bytes")
        l_halo = (halo_plane_tiles(st, r=1, src_col="alloc_bytes", dtype="<f8")
                  .select(*_TILE_KEY, F.col("pad_bytes").alias("lab_pad")))
        return _with_pad(d_halo.join(l_halo, on=_TILE_KEY), cost_pad)

    state = _tile_map(tiles, _ALLOC_STATE_SCHEMA, init_fn, _TILE_IDS) \
        .localCheckpoint()
    cost_pad = _cost_pad(tiles, cost_col)
    state = _halo_fixpoint(state, exchange, resweep_fn, _ALLOC_STATE_SCHEMA,
                           max_rounds, "cost_allocation")

    def final_fn(row, w, h):
        d, finite, dmax = _scaled(row, w, h, cell / 3.0)
        lab = np.frombuffer(row.alloc_bytes, dtype="<f8") \
            .reshape(h, w).astype(np.int64)
        alloc = np.where(finite, lab, -1)
        return (d.astype("<f4").tobytes(), alloc.astype("<i8").tobytes(),
                int(finite.sum()),
                int(np.unique(alloc[finite]).size) if finite.any() else 0,
                dmax)

    return _tile_map(state.drop("changed"), COST_ALLOCATION_SCHEMA, final_fn,
                     _TILE_IDS)

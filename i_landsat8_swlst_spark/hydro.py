"""Distributed hydrology over a tiled raster: D8 flow direction, flow
accumulation, and watershed basin labeling (the r.watershed / r.fill.dir
step of a GRASS terrain workflow, re-expressed for Spark's execution
model).

The three operators share one flow graph: every data cell gets at most one
downstream neighbor (D8 steepest descent, strictly lower only, first-in-
fixed-order tie break — so flats and local minima become *pits* and the
graph is a forest, acyclic by construction). All cross-tile coordination
happens through two scale-safe primitives:

1. **1-px halo exchange** (pipeline.halo_plane_tiles) — flow direction
   needs the 8-neighborhood, so one static elevation halo makes the
   per-tile kernel EXACTLY equal to the whole-scene kernel.
2. **Iterated halo fixpoint** for accumulation (the costdist pattern):
   per round, each tile re-derives its accumulation from "1 + inflow from
   the neighbor ring" with a vectorized Kahn topological sweep. Counts
   only grow and are bounded by the scene cell count, so the iteration
   converges; rounds ~ the max number of tile borders a flow path
   crosses. Accumulation planes travel as float64 (halo dtype "<f8") so
   counts stay exact far past f32's 2**24 integer ceiling.
3. **Pointer doubling on the tile-border link graph** for basins: each
   tile resolves every interior cell to its within-tile stop node with
   O(log n) numpy gathers, then emits one link row per border data cell
   (gid -> pit gid, final) | (gid -> foreign entry gid, pending). The
   global graph has only O(perimeter x tiles) nodes — not O(pixels) — and
   is resolved by log2(max tile-hops) rounds of self-equi-joins (hash
   joins on (scene_id, gid); plan-gated, never nested-loop). Labels are
   substituted back into the int64 basin plane per tile via one
   collect_list join, so no per-pixel row explosion ever happens.

At 100 TB: the flow-dir and per-round accumulation shuffles are ~1.06x
the plane bytes (1-px strips); the basin link table is perimeter-scale
(for 256x256 tiles, ~1/64 of the pixel count); and every join is an
equi join on the tile or cell key. On a bucketed-by-tile-key layout the
per-round repartition is a zero-shuffle local sort.

No reference file to cite (mount empty, SURVEY.md section 0) — semantics
follow the published D8 convention (O'Callaghan & Mark 1984) and GRASS
r.watershed's accumulation counts (each cell counts itself).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from .pipeline import (
    _TILE_IDS, _TILE_KEY, _halo_fixpoint, _nominal_grid, _plane_map, _tile_map,
    _tile_rows, halo_plane_tiles,
)

# D8 neighbor order (dy, dx) — fixed, ties broken by FIRST index with the
# max drop, so direction assignment is deterministic everywhere.
_D8 = ((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1))
_D8_DY = np.array([d[0] for d in _D8])
_D8_DX = np.array([d[1] for d in _D8])
_SQ2 = float(np.sqrt(2.0))
_D8_DIST = np.array([_SQ2, 1.0, _SQ2, 1.0, 1.0, _SQ2, 1.0, _SQ2])

_PIT = -1.0          # no strictly-lower neighbor: local min or flat
_NODATA_I64 = np.int64(np.iinfo(np.int64).min)   # basin plane nodata

# gid packing: (((tile_x << 16 | tile_y) << 15 | y) << 15 | x), 62 bits.
_GID_XY_BITS = 15
_GID_TILE_BITS = 16


def _pack_gid(tx, ty, y, x):
    """Global cell id from (tile, in-tile coords); vectorized-friendly."""
    return ((((np.int64(tx) << _GID_TILE_BITS) | np.int64(ty))
             << _GID_XY_BITS | np.int64(y)) << _GID_XY_BITS) | np.int64(x)


# ---------------------------------------------------------------------------
# kernels (pure numpy; the tiled operators and the test oracles share them)
# ---------------------------------------------------------------------------


def flow_dir_pad(pad: np.ndarray) -> np.ndarray:
    """D8 flow direction for the interior of a 1-px-padded elevation plane.

    pad: (h+2, w+2) float; NaN = nodata / beyond-scene. Returns (h, w)
    float64: 0..7 = index into _D8, -1.0 = pit (no strictly lower finite
    neighbor), NaN = nodata cell. Drop metric = (z_c - z_n) / step_dist;
    ties keep the first neighbor in _D8 order.
    """
    h, w = pad.shape[0] - 2, pad.shape[1] - 2
    c = pad[1:-1, 1:-1]
    best_drop = np.zeros((h, w))
    best_dir = np.full((h, w), _PIT)
    for k, (dy, dx) in enumerate(_D8):
        n = pad[1 + dy:1 + dy + h, 1 + dx:1 + dx + w]
        with np.errstate(invalid="ignore"):
            drop = (c - n) / _D8_DIST[k]
        better = np.isfinite(drop) & (drop > best_drop)
        best_drop = np.where(better, drop, best_drop)
        best_dir = np.where(better, float(k), best_dir)
    best_dir[np.isnan(c)] = np.nan
    return best_dir


def _downstream_edges(dirs: np.ndarray):
    """(src, dst) flat-index arrays for within-plane downstream edges.
    Cells whose downstream lies outside the plane are NOT included."""
    h, w = dirs.shape
    flat = dirs.ravel()
    valid = np.isfinite(flat) & (flat >= 0)
    idx = np.flatnonzero(valid)
    k = flat[idx].astype(np.int64)
    y, x = idx // w, idx % w
    ty, tx = y + _D8_DY[k], x + _D8_DX[k]
    inside = (ty >= 0) & (ty < h) & (tx >= 0) & (tx < w)
    return idx[inside], (ty[inside] * w + tx[inside])


def accum_plane(dirs: np.ndarray, base: np.ndarray | None = None) -> np.ndarray:
    """Flow accumulation for one direction plane: acc(p) = base(p) + sum of
    acc over upstream in-plane cells. base defaults to ones (each cell
    counts itself). Vectorized Kahn topological waves — O(DAG depth) numpy
    passes, no per-pixel Python loop. Nodata cells come back NaN.
    """
    h, w = dirs.shape
    n = h * w
    nodata = ~np.isfinite(dirs.ravel())
    acc = (np.ones(n) if base is None else
           base.ravel().astype(np.float64).copy())
    acc[nodata] = 0.0
    src, dst = _downstream_edges(dirs)
    down = np.full(n, -1, dtype=np.int64)
    down[src] = dst
    indeg = np.zeros(n, dtype=np.int64)
    np.add.at(indeg, dst, 1)
    frontier = np.flatnonzero(indeg == 0)
    while frontier.size:
        fs = frontier[down[frontier] >= 0]
        if fs.size == 0:
            break
        d = down[fs]
        np.add.at(acc, d, acc[fs])
        np.subtract.at(indeg, d, 1)
        t = np.unique(d)
        frontier = t[indeg[t] == 0]
    acc[nodata] = np.nan
    return acc.reshape(h, w)


def stop_nodes(dirs: np.ndarray) -> np.ndarray:
    """For each cell, the flat index of the within-plane stop node its flow
    path reaches: a pit, or the last in-plane cell before the path leaves
    the plane. Pointer doubling — O(log n) full-array gathers. Nodata
    cells stop at themselves."""
    h, w = dirs.shape
    n = h * w
    nxt = np.arange(n, dtype=np.int64)
    src, dst = _downstream_edges(dirs)
    nxt[src] = dst
    for _ in range(max(1, int(np.ceil(np.log2(max(n, 2)))) + 1)):
        nxt = nxt[nxt]
    return nxt


# ---------------------------------------------------------------------------
# distributed: flow direction
# ---------------------------------------------------------------------------

FLOW_DIR_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("dir_bytes", BinaryType()),   # f32: 0..7 | -1 pit | NaN
])


def flow_dir_tiles(tiles: DataFrame, src_col: str = "lst_bytes") -> DataFrame:
    """D8 flow direction per tile with EXACT whole-scene semantics: one
    static 1-px elevation halo, then the pixel-local kernel. The per-tile
    result is bit-identical to running flow_dir_pad on the full mosaic
    (the kernel only reads the 3x3 neighborhood, which the halo
    reconstructs exactly; beyond-scene ring = NaN on both paths)."""
    def kernel(pad, core):
        return flow_dir_pad(pad).astype("<f4").tobytes(),

    return _plane_map(tiles, 1, src_col, FLOW_DIR_SCHEMA, kernel, _TILE_IDS)


# ---------------------------------------------------------------------------
# distributed: flow accumulation (iterated halo fixpoint)
# ---------------------------------------------------------------------------

_ACC_STATE_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("acc_bytes", BinaryType()),    # f64 counts; NaN nodata
    StructField("changed", BooleanType()),
])

FLOW_ACCUM_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("dir_bytes", BinaryType()),    # f32 D8 codes
    StructField("accum_bytes", BinaryType()),  # f64 upstream counts (incl. self)
    StructField("n_cells", LongType()),
    StructField("accum_max", DoubleType()),
    StructField("n_pits", LongType()),
])


def _ring_inflow_base(dir_pad: np.ndarray, acc_pad: np.ndarray) -> np.ndarray:
    """base plane (h, w): 1 per data cell + accumulation flowing in from
    the neighbor ring (ring cells whose D8 direction targets our
    interior). Ring NaN acc (scene edge / neighbor nodata) = no inflow."""
    h, w = dir_pad.shape[0] - 2, dir_pad.shape[1] - 2
    base = np.ones((h, w))
    ring = np.zeros_like(dir_pad, dtype=bool)
    ring[0, :] = ring[-1, :] = True
    ring[:, 0] = ring[:, -1] = True
    for k, (dy, dx) in enumerate(_D8):
        src = ring & (dir_pad == float(k))
        if not src.any():
            continue
        py, px = np.nonzero(src)
        ty, tx = py + dy - 1, px + dx - 1
        ok = (ty >= 0) & (ty < h) & (tx >= 0) & (tx < w)
        vals = acc_pad[py[ok], px[ok]]
        np.add.at(base, (ty[ok], tx[ok]),
                  np.where(np.isfinite(vals), vals, 0.0))
    return base


def flow_accum_tiles(tiles: DataFrame, src_col: str = "lst_bytes",
                     max_rounds: int = 64) -> DataFrame:
    """Flow accumulation (upstream cell count, each cell counting itself)
    across tile borders: static D8 directions from one elevation halo,
    then iterated 1-px halo exchange of the f64 accumulation plane until
    no tile changes. Counts at a cell only grow round-over-round and are
    bounded by the scene cell count, so the fixpoint is the exact global
    accumulation (asynchronous iteration on an acyclic flow forest)."""
    dirs = flow_dir_tiles(tiles, src_col=src_col).localCheckpoint()
    dir_pads = (
        halo_plane_tiles(dirs, r=1, src_col="dir_bytes")
        .select(*_TILE_KEY, F.col("pad_bytes").alias("dir_pad"))
        .localCheckpoint()
    )

    def init_fn(row, w, h):
        d = np.frombuffer(row.dir_bytes, dtype="<f4").reshape(h, w) \
            .astype(np.float64)
        return accum_plane(d).astype("<f8").tobytes(), True

    def resweep_fn(row, w, h):
        acc_pad = np.frombuffer(row.pad_bytes, dtype="<f8").reshape(h + 2, w + 2)
        dir_pad = np.frombuffer(row.dir_pad, dtype="<f4") \
            .reshape(h + 2, w + 2).astype(np.float64)
        acc = accum_plane(dir_pad[1:-1, 1:-1],
                          base=_ring_inflow_base(dir_pad, acc_pad))
        changed = not np.array_equal(acc, acc_pad[1:-1, 1:-1], equal_nan=True)
        return acc.astype("<f8").tobytes(), changed

    def exchange(st):
        return halo_plane_tiles(st, r=1, src_col="acc_bytes", dtype="<f8") \
            .join(dir_pads, _TILE_KEY)

    state = _tile_map(dirs, _ACC_STATE_SCHEMA, init_fn, _TILE_IDS) \
        .localCheckpoint()
    state = _halo_fixpoint(state, exchange, resweep_fn, _ACC_STATE_SCHEMA,
                           max_rounds, "flow_accum")
    final = state.drop("changed").join(
        dirs.select(*_TILE_KEY, "dir_bytes"), _TILE_KEY)

    def final_fn(row, w, h):
        acc = np.frombuffer(row.acc_bytes, dtype="<f8").reshape(h, w)
        d = np.frombuffer(row.dir_bytes, dtype="<f4").reshape(h, w)
        finite = np.isfinite(acc)
        return (row.dir_bytes, row.acc_bytes, int(finite.sum()),
                float(acc[finite].max()) if finite.any() else None,
                int((d == np.float32(_PIT)).sum()))

    return _tile_map(final, FLOW_ACCUM_SCHEMA, final_fn, _TILE_IDS)


# ---------------------------------------------------------------------------
# distributed: watershed basins (pointer doubling on the border link graph)
# ---------------------------------------------------------------------------

_TILE_STATE_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("label_bytes", BinaryType()),  # i64: pit gid | ~foreign gid
                                               # | _NODATA_I64
    StructField("gids", ArrayType(LongType())),  # the tile's link rows
    StructField("nxt", ArrayType(LongType())),
    StructField("fin", ArrayType(LongType())),
])

_FOREIGN_SCHEMA = StructType([               # pending foreign gids per tile
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("fgid", LongType()),
])

BASIN_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("basin_bytes", BinaryType()),  # i64 pit gid; min-i64 nodata
    StructField("n_basins_local", LongType()),
])


def _tile_resolution(dir_pad: np.ndarray, tx: int, ty: int,
                     nom_w: int, nom_h: int):
    """(label plane i64, link rows) for one tile given its 1-px dir pad.

    label plane: pit gid (>= 0, final) | ~foreign_gid (< 0, pending — the
    bitwise complement of the gid of the neighbor-tile cell the path
    enters) | _NODATA_I64. link rows: one per border data cell,
    (gid, nxt, final). ``nom_w``/``nom_h`` are the NOMINAL (non-ragged)
    tile dims — a left/up neighbor always has them (there is a tile to
    its right/below: this one), while THIS tile may be a smaller
    right/bottom-edge tile."""
    h, w = dir_pad.shape[0] - 2, dir_pad.shape[1] - 2
    dirs = dir_pad[1:-1, 1:-1]
    stops = stop_nodes(dirs)                       # flat (h*w,)
    flat_dirs = dirs.ravel()
    sy, sx = stops // w, stops % w
    stop_dir = flat_dirs[stops]

    # classify each cell's stop node: pit -> final pit gid; crossing ->
    # the FOREIGN cell the stop node's direction points to
    is_pit = stop_dir == _PIT
    pit_gid = _pack_gid(tx, ty, sy, sx)

    k = np.where(np.isfinite(stop_dir) & (stop_dir >= 0),
                 stop_dir, 0).astype(np.int64)
    fy, fx = sy + _D8_DY[k], sx + _D8_DX[k]        # may leave the tile
    # neighbor-tile coords from the overflow direction; left/up wraps use
    # the NOMINAL dims (see docstring)
    ntx = tx + np.where(fx >= w, 1, np.where(fx < 0, -1, 0))
    nty = ty + np.where(fy >= h, 1, np.where(fy < 0, -1, 0))
    nfx = np.where(fx >= w, 0, np.where(fx < 0, nom_w - 1, fx))
    nfy = np.where(fy >= h, 0, np.where(fy < 0, nom_h - 1, fy))
    foreign_gid = _pack_gid(ntx, nty, nfy, nfx)

    label = np.where(is_pit, pit_gid, ~foreign_gid)
    label[~np.isfinite(flat_dirs)] = _NODATA_I64
    label = label.reshape(h, w)

    # link rows: every border data cell (entry cells are a subset)
    by, bx = np.nonzero(np.pad(np.zeros((h - 2, w - 2), dtype=bool),
                               1, constant_values=True)) if h > 2 and w > 2 \
        else np.nonzero(np.ones((h, w), dtype=bool))
    bflat = by * w + bx
    data = np.isfinite(flat_dirs[bflat])
    bflat = bflat[data]
    by, bx = by[data], bx[data]
    gids = _pack_gid(tx, ty, by, bx)
    lab = label.ravel()[bflat]
    nxt = np.where(lab >= 0, lab, ~lab)
    fin = (lab >= 0).astype(np.int64)
    return label, gids, nxt, fin


def _dir_pad(row, w: int, h: int) -> np.ndarray:
    """A halo_plane_tiles row's (h+2, w+2) direction pad as float64."""
    return np.frombuffer(row.pad_bytes, dtype="<f4") \
        .reshape(h + 2, w + 2).astype(np.float64)


def _link_round(links: DataFrame) -> DataFrame:
    """One pointer-doubling round over the border link table: pending links
    hop to their target's link (an EQUI hash join on (scene_id, gid) —
    plan-gated in tests/test_plans.py); final links pass through."""
    nxt_hop = links.select(
        F.col("scene_id").alias("n_scene"), F.col("gid").alias("n_gid"),
        F.col("nxt").alias("n_nxt"), F.col("final").alias("n_final"))
    return (
        links.join(
            nxt_hop,
            (F.col("scene_id") == F.col("n_scene"))
            & (F.col("nxt") == F.col("n_gid"))
            & (F.col("final") == 0),
            "left")
        .select(
            "scene_id", "gid",
            F.when(F.col("final") == 1, F.col("nxt"))
             .otherwise(F.col("n_nxt")).alias("nxt"),
            F.when(F.col("final") == 1, F.lit(1))
             .otherwise(F.col("n_final")).alias("final"))
    )


def basin_tiles(tiles: DataFrame, src_col: str = "lst_bytes",
                max_rounds: int = 48) -> DataFrame:
    """Watershed basin labels across tile borders: every data cell is
    labeled with the packed gid of the pit its D8 flow path terminates at.

    Within each tile, paths resolve by O(log n) pointer doubling in numpy;
    across tiles, only the border link graph (gid -> next gid) is
    iterated, with log2(max tile-hops) rounds of hash self-joins. The
    final label substitution joins a per-tile list of (foreign gid ->
    basin) pairs — never a per-pixel row explosion."""
    nom_w, nom_h = _nominal_grid(tiles)
    dirs = flow_dir_tiles(tiles, src_col=src_col)
    dir_pads = halo_plane_tiles(dirs, r=1, src_col="dir_bytes")

    def resolve_fn(row, w, h):
        label, gids, nxt, fin = _tile_resolution(
            _dir_pad(row, w, h), int(row.tile_x), int(row.tile_y), nom_w, nom_h)
        return label.astype("<i8").tobytes(), gids, nxt, fin

    # one resolution per tile: the label plane and the tile's link rows come
    # out of the same pass; Catalyst unzips the link arrays into
    # (scene_id, gid, nxt, final) rows, final = 1 when nxt is a basin label
    resolved = _tile_map(dir_pads, _TILE_STATE_SCHEMA, resolve_fn,
                         _TILE_IDS).localCheckpoint()
    tiles_state = resolved.drop("gids", "nxt", "fin")
    links = resolved.select(
        "scene_id", F.inline(F.arrays_zip("gids", "nxt", "fin"))).select(
        "scene_id", F.col("gids").alias("gid"), "nxt",
        F.col("fin").cast("int").alias("final")).localCheckpoint()

    # pointer doubling: links where final=0 point at ANOTHER border cell
    # (the entry cell in a neighbor tile), which always has a link row.
    for _ in range(max_rounds):
        pending = links.filter(F.col("final") == 0)
        if pending.limit(1).count() == 0:
            break
        links = _link_round(links).localCheckpoint()
    else:
        raise RuntimeError(f"basin links did not resolve in {max_rounds} rounds")

    # per-tile foreign-gid -> basin map (small: <= perimeter distinct gids)
    def foreign_fn(row, w, h):
        lab = np.frombuffer(row.label_bytes, dtype="<i8")
        return ((f_,) for f_ in np.unique(~lab[(lab < 0) & (lab != _NODATA_I64)]).tolist())

    foreign = _tile_rows(tiles_state, _FOREIGN_SCHEMA, foreign_fn, _TILE_KEY)
    fmap = (
        foreign.join(links.withColumnRenamed("gid", "fgid"),
                     ["scene_id", "fgid"])
        .groupBy("scene_id", "tile_x", "tile_y")
        .agg(F.collect_list(F.struct("fgid", F.col("nxt").alias("basin")))
             .alias("fmap"))
    )

    subst_in = tiles_state.join(fmap, _TILE_KEY, "left")

    def subst_fn(row, w, h):
        lab = np.frombuffer(row.label_bytes, dtype="<i8").reshape(h, w).copy()
        pairs = row.fmap
        if pairs is not None and len(pairs):
            fg = np.array([p["fgid"] for p in pairs], dtype=np.int64)
            bs = np.array([p["basin"] for p in pairs], dtype=np.int64)
            order = np.argsort(fg)
            fg, bs = fg[order], bs[order]
            pend = (lab < 0) & (lab != _NODATA_I64)
            tgt = ~lab[pend]
            pos = np.searchsorted(fg, tgt)
            if not np.array_equal(fg[np.clip(pos, 0, len(fg) - 1)], tgt):
                raise RuntimeError("unresolved foreign basin gid")
            lab[pend] = bs[pos]
        elif ((lab < 0) & (lab != _NODATA_I64)).any():
            raise RuntimeError("pending labels but no foreign map")
        data = lab != _NODATA_I64
        return (lab.astype("<i8").tobytes(),
                int(np.unique(lab[data]).size) if data.any() else 0)

    return _tile_map(subst_in, BASIN_SCHEMA, subst_fn, _TILE_IDS)


# ---------------------------------------------------------------------------
# distributed: flow path tracing (r.drain / r.path analog)
# ---------------------------------------------------------------------------

DRAIN_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("pid", LongType()),
    StructField("step", IntegerType()),
    StructField("gx", IntegerType()),
    StructField("gy", IntegerType()),
    StructField("dist", DoubleType()),     # cumulative D8 distance (cells)
    StructField("done", BooleanType()),    # True: path cell; False: carry-over
])


def drain_paths(tiles: DataFrame, points: DataFrame,
                src_col: str = "lst_bytes",
                max_rounds: int = 128) -> DataFrame:
    """r.drain analog: trace the D8 steepest-descent path from each start
    cell downhill until a pit (or the scene edge). Returns one ROW per
    path cell — (scene_id, pid, step, gx, gy, dist) with ``step`` the
    0-based order along the path and ``dist`` the cumulative D8 distance
    (1 / √2 per move) — paths are 1-D, so rows are the honest
    representation (no plane bytes cross the wire after the dir pass).

    ``points`` carries (scene_id, pid, gx, gy) scene-pixel start cells.
    A start on a NULL-elevation cell raises (GRASS refuses off-surface
    start coordinates too); a start outside every tile simply yields no
    rows (the sample_raster inner-join convention).

    Plan: one flow_dir_tiles pass (1-px halo, whole-scene-exact dirs,
    persisted), then a driver loop of per-tile walks — each round every
    live path walks VECTOR-FREE inside its current tile until it leaves
    it, so rounds = max tile-border crossings of any path (bounded,
    typically << max_rounds). Per round a `collect_list` aggregate packs
    the tiny live-point set into one row per tile and one equi join
    attaches it to that tile's dir plane, which decodes once; a
    continuation that walked off the scene edge finds no tile and drops
    out. The D8 graph is acyclic by construction (strictly-lower descent),
    so termination is structural, with max_rounds as a loud backstop.
    """
    from pyspark import StorageLevel

    nom_w, nom_h = _nominal_grid(tiles)
    dirs = flow_dir_tiles(tiles, src_col=src_col) \
        .persist(StorageLevel.MEMORY_AND_DISK)

    def drain_walk(row, w, h):
        dirs_p = np.frombuffer(row.dir_bytes, "<f4").reshape(h, w)
        ox, oy = row.tile_x * nom_w, row.tile_y * nom_h
        for p in row.pts:
            px, py = p["gx"] - ox, p["gy"] - oy
            step, dist = p["step"], p["dist"]
            first = step == 0
            while 0 <= px < w and 0 <= py < h:
                k = dirs_p[py, px]
                if first and np.isnan(k):
                    raise ValueError(
                        f"drain_paths: start point pid={p['pid']} at "
                        f"({p['gx']}, {p['gy']}) is on a NULL cell")
                first = False
                yield p["pid"], step, ox + px, oy + py, dist, True
                if np.isnan(k) or k < 0:   # pit or NULL downstream: stop
                    break
                ki = int(k)
                px += int(_D8_DX[ki]); py += int(_D8_DY[ki])
                step += 1
                dist += float(_D8_DIST[ki])
            else:
                # carry-over into the next tile (or off the scene edge)
                yield p["pid"], step, ox + px, oy + py, dist, False

    live = points.select(
        "scene_id", F.col("pid").cast("long").alias("pid"),
        F.lit(0).alias("step"), F.col("gx").cast("int"),
        F.col("gy").cast("int"), F.lit(0.0).alias("dist"))
    pieces = []
    try:
        for _ in range(max_rounds):
            packed = live.groupBy(
                "scene_id", (F.col("gx") / nom_w).cast("int").alias("tile_x"),
                (F.col("gy") / nom_h).cast("int").alias("tile_y")).agg(
                F.collect_list(F.struct("pid", "step", "gx", "gy", "dist"))
                .alias("pts"))
            walked = _tile_rows(dirs.join(packed, _TILE_KEY), DRAIN_SCHEMA,
                                drain_walk, ("scene_id",)).localCheckpoint()
            pieces.append(walked.filter("done"))
            live = walked.filter("NOT done")
            if live.isEmpty():
                break
        else:
            raise RuntimeError(
                f"drain_paths: paths still live after {max_rounds} rounds")
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out.drop("done").localCheckpoint()
    finally:
        dirs.unpersist()

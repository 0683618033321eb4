"""Cost-distance: chamfer kernel vs a Dijkstra oracle, and the distributed
halo-iterated version vs the whole-scene kernel.

The uniform-cost cases use the 3-4 chamfer integer metric, where every
value is an exact integer in float64 AND float32 — so kernel-vs-oracle and
tiled-vs-whole-scene parity are bit-exact, not approximate. Cost-plane
cases are float (different-but-equivalent summation orders + per-round f32
storage) and use tolerances.
"""

import heapq

import numpy as np
import pandas as pd
import pytest

from i_landsat8_swlst_spark import costdist
from i_landsat8_swlst_spark.costdist import chamfer_relax, cost_distance_tiles


def dijkstra(dist0: np.ndarray, cost: np.ndarray | None = None) -> np.ndarray:
    """Reference shortest-path oracle: heap Dijkstra on the 8-connected grid,
    same metric as the kernel (orth 3, diag 4; edge = step*(ca+cb)/2)."""
    h, w = dist0.shape
    barrier = np.isnan(dist0)
    if cost is not None:
        barrier |= np.isnan(cost)
    d = np.full((h, w), np.inf)
    heap = []
    for y, x in zip(*np.nonzero(dist0 == 0)):
        if not barrier[y, x]:
            d[y, x] = 0.0
            heap.append((0.0, int(y), int(x)))
    heapq.heapify(heap)
    steps = [(-1, -1, 4.0), (-1, 0, 3.0), (-1, 1, 4.0), (0, -1, 3.0),
             (0, 1, 3.0), (1, -1, 4.0), (1, 0, 3.0), (1, 1, 4.0)]
    while heap:
        dv, y, x = heapq.heappop(heap)
        if dv > d[y, x]:
            continue
        for dy, dx, sw in steps:
            ny, nx = y + dy, x + dx
            if 0 <= ny < h and 0 <= nx < w and not barrier[ny, nx]:
                e = sw if cost is None else sw * (cost[y, x] + cost[ny, nx]) / 2.0
                nd = dv + e
                if nd < d[ny, nx]:
                    d[ny, nx] = nd
                    heapq.heappush(heap, (nd, ny, nx))
    d[barrier] = np.nan
    return d


def _spiral_plane(n: int = 48) -> np.ndarray:
    """A spiral barrier corridor: worst case for sweep relaxation (each arm
    reversal needs another forward/backward pass) and, tiled, for the halo
    iteration (the path wraps through many tiles repeatedly)."""
    plane = np.zeros((n, n))
    for k in range(0, n // 2 - 2, 4):
        plane[k, k:n - k] = np.nan                    # top wall
        plane[k:n - k, n - 1 - k] = np.nan            # right wall
        plane[n - 1 - k, k + 4:n - k] = np.nan        # bottom wall (gap left)
        plane[k + 4:n - k, k] = np.nan                # left wall
    plane[n // 2, n // 2] = 1.0                       # target at the center
    return plane


def _init_dist(plane: np.ndarray, threshold: float = 1.0) -> np.ndarray:
    with np.errstate(invalid="ignore"):
        target = plane >= threshold
    d = np.where(target, 0.0, np.inf)
    d[np.isnan(plane)] = np.nan
    return d


def test_kernel_matches_dijkstra_uniform():
    rng = np.random.default_rng(7)
    for _ in range(5):
        plane = rng.uniform(0.0, 0.5, (40, 37))
        plane[rng.random(plane.shape) < 0.15] = np.nan   # barriers
        ys, xs = rng.integers(0, 40, 3), rng.integers(0, 37, 3)
        plane[ys, xs] = 1.0                              # targets
        d0 = _init_dist(plane)
        got, _ = chamfer_relax(d0.copy())
        exp = dijkstra(d0)
        # barriers NaN on both; unreached inf vs NaN-free compare
        exp_cmp = np.where(np.isinf(exp), np.inf, exp)
        assert np.array_equal(got, exp_cmp, equal_nan=True)


def test_kernel_spiral_exact():
    plane = _spiral_plane(48)
    d0 = _init_dist(plane)
    got, sweeps = chamfer_relax(d0.copy())
    exp = dijkstra(d0)
    assert np.array_equal(got, exp, equal_nan=True)
    assert sweeps > 2  # the spiral genuinely needs repeated sweeps


def test_kernel_matches_dijkstra_cost_plane():
    rng = np.random.default_rng(11)
    plane = rng.uniform(0.0, 0.5, (32, 32))
    plane[rng.random(plane.shape) < 0.1] = np.nan
    plane[5, 5] = plane[30, 2] = 1.0
    cost = rng.uniform(0.5, 2.5, (32, 32))
    d0 = _init_dist(plane)
    got, _ = chamfer_relax(d0.copy(), cost=cost)
    exp = dijkstra(d0, cost=cost)
    fin = np.isfinite(exp)
    assert np.allclose(got[fin], exp[fin], rtol=1e-9, atol=1e-9)
    assert np.array_equal(np.isnan(got), np.isnan(exp))


def _tiles_df(spark, plane: np.ndarray, tile: int = 16,
              cost: np.ndarray | None = None) -> pd.DataFrame:
    h, w = plane.shape
    rows = []
    for ty in range(h // tile):
        for tx in range(w // tile):
            sl = (slice(ty * tile, (ty + 1) * tile),
                  slice(tx * tile, (tx + 1) * tile))
            row = {"scene_id": "S0", "tile_x": tx, "tile_y": ty,
                   "w": tile, "h": tile,
                   "lst_bytes": plane[sl].astype("<f4").tobytes()}
            if cost is not None:
                row["cost_bytes"] = cost[sl].astype("<f4").tobytes()
            rows.append(row)
    return spark.createDataFrame(pd.DataFrame(rows))


def _assemble(pdf: pd.DataFrame, h: int, w: int, tile: int) -> np.ndarray:
    out = np.full((h, w), np.nan, dtype=np.float64)
    for r in pdf.itertuples():
        p = np.frombuffer(r.dist_bytes, dtype="<f4").reshape(tile, tile)
        out[r.tile_y * tile:(r.tile_y + 1) * tile,
            r.tile_x * tile:(r.tile_x + 1) * tile] = p
    return out


def test_distributed_matches_whole_scene_spiral(spark):
    """Tiled + halo-iterated == whole-scene kernel, bit-exact (integer
    chamfer in f32), on the adversarial spiral that forces many rounds."""
    plane = _spiral_plane(48)
    tiles = _tiles_df(spark, plane, tile=16)
    # cell=3.0 -> emitted scale factor 1.0: raw integer chamfer units
    out = cost_distance_tiles(tiles, threshold=1.0, cell=3.0).toPandas()
    got = _assemble(out, 48, 48, 16)
    exp, _ = chamfer_relax(_init_dist(plane))
    exp = np.where(np.isinf(exp), np.nan, exp)   # product NaNs unreachable
    assert np.array_equal(got, exp, equal_nan=True)
    n_reached = int(np.isfinite(exp).sum())
    assert int(out["n_reached"].sum()) == n_reached
    assert out["dist_max"].max() == np.nanmax(exp)


def test_distributed_matches_whole_scene_random(spark):
    rng = np.random.default_rng(23)
    plane = rng.uniform(0.0, 0.5, (64, 48))
    plane[rng.random(plane.shape) < 0.12] = np.nan
    plane[rng.random(plane.shape) < 0.01] = 1.0
    tiles = _tiles_df(spark, plane, tile=16)
    out = cost_distance_tiles(tiles, threshold=1.0, cell=3.0).toPandas()
    got = _assemble(out, 64, 48, 16)
    exp, _ = chamfer_relax(_init_dist(plane))
    exp = np.where(np.isinf(exp), np.nan, exp)
    assert np.array_equal(got, exp, equal_nan=True)


def test_distributed_cost_plane(spark):
    """With a traversal-cost plane (static halo exchanged once): values are
    float paths + per-round f32 storage, so parity is toleranced."""
    rng = np.random.default_rng(31)
    plane = rng.uniform(0.0, 0.5, (48, 48))
    plane[rng.random(plane.shape) < 0.08] = np.nan
    plane[10, 10] = plane[40, 44] = 1.0
    cost = rng.uniform(0.5, 2.5, (48, 48))
    tiles = _tiles_df(spark, plane, tile=16, cost=cost)
    out = cost_distance_tiles(tiles, threshold=1.0, cost_col="cost_bytes",
                              cell=3.0).toPandas()
    got = _assemble(out, 48, 48, 16)
    exp, _ = chamfer_relax(_init_dist(plane), cost=cost)
    exp = np.where(np.isinf(exp), np.nan, exp)
    assert np.array_equal(np.isnan(got), np.isnan(exp))
    fin = np.isfinite(exp)
    assert np.allclose(got[fin], exp[fin], rtol=1e-4, atol=1e-3)


def test_cell_scaling(spark):
    plane = np.zeros((16, 16))
    plane[8, 8] = 1.0
    tiles = _tiles_df(spark, plane, tile=16)
    out = cost_distance_tiles(tiles, threshold=1.0, cell=30.0).toPandas()
    got = _assemble(out, 16, 16, 16)
    # orthogonal neighbor: 1 step of 30 m; chamfer 3 * 30/3 = 30
    assert got[8, 9] == pytest.approx(30.0)
    assert got[7, 7] == pytest.approx(40.0)  # diagonal: 4 * 30/3
    assert got[8, 8] == 0.0


def test_all_barrier_and_no_target_tiles(spark):
    """Degenerate planes: a tile of pure barrier and a scene with no target
    at all — no crash, all-NaN output, n_reached 0."""
    plane = np.full((16, 32), np.nan)
    plane[:, 16:] = 0.25                     # valid but target-free
    tiles = _tiles_df(spark, plane, tile=16)
    out = cost_distance_tiles(tiles, threshold=1.0, cell=3.0).toPandas()
    got = _assemble(out, 16, 32, 16)
    assert np.all(np.isnan(got))
    assert int(out["n_reached"].sum()) == 0
    assert out["dist_max"].isna().all()


def test_buffer_zones(spark):
    """r.buffer zones classify the converged distance plane: ring codes
    match a direct classification of the whole-scene kernel output."""
    rng = np.random.default_rng(41)
    plane = rng.uniform(0.0, 0.5, (32, 32))
    plane[rng.random(plane.shape) < 0.05] = np.nan
    plane[16, 16] = plane[4, 28] = 1.0
    tiles = _tiles_df(spark, plane, tile=16)
    cuts = [4.0, 9.0]
    out = costdist.buffer_tiles(tiles, threshold=1.0, distances=cuts,
                                cell=3.0).toPandas()
    got = np.full((32, 32), np.nan)
    for r in out.itertuples():
        p = np.frombuffer(r.zone_bytes, dtype="<f4").reshape(16, 16)
        got[r.tile_y * 16:(r.tile_y + 1) * 16,
            r.tile_x * 16:(r.tile_x + 1) * 16] = p
    dist, _ = chamfer_relax(_init_dist(plane))
    exp = np.zeros((32, 32))
    fin = np.isfinite(dist)
    ring = np.searchsorted(np.array(cuts), dist[fin], side="left")
    exp[fin] = np.where(ring < len(cuts), ring + 2.0, 0.0)
    exp[fin & (dist == 0.0)] = 1.0
    exp[~fin] = np.nan           # barrier AND unreachable -> NaN
    assert np.array_equal(got, exp, equal_nan=True)
    assert set(np.unique(got[~np.isnan(got)])) >= {0.0, 1.0, 2.0, 3.0}


# ---------------------------------------------------------------------------
# Cost ALLOCATION (r.cost "nearest" / cost-weighted Voronoi)
# ---------------------------------------------------------------------------


def dijkstra_alloc(dist0, lab0, cost=None):
    """Lexicographic (dist, label) Dijkstra: min dist, ties to lowest label."""
    h, w = dist0.shape
    barrier = np.isnan(dist0)
    if cost is not None:
        barrier |= np.isnan(cost)
    d = np.full((h, w), np.inf)
    lab = np.full((h, w), -1, dtype=np.int64)
    heap = []
    for y, x in zip(*np.nonzero(dist0 == 0)):
        if not barrier[y, x]:
            d[y, x] = 0.0
            lab[y, x] = lab0[y, x]
            heap.append((0.0, int(lab0[y, x]), int(y), int(x)))
    heapq.heapify(heap)
    steps = [(-1, -1, 4.0), (-1, 0, 3.0), (-1, 1, 4.0), (0, -1, 3.0),
             (0, 1, 3.0), (1, -1, 4.0), (1, 0, 3.0), (1, 1, 4.0)]
    while heap:
        dv, lv, y, x = heapq.heappop(heap)
        if (dv, lv) != (d[y, x], lab[y, x]):
            continue
        for dy, dx, sw in steps:
            ny, nx = y + dy, x + dx
            if 0 <= ny < h and 0 <= nx < w and not barrier[ny, nx]:
                e = sw if cost is None else sw * (cost[y, x] + cost[ny, nx]) / 2.0
                nd = dv + e
                if nd < d[ny, nx] or (nd == d[ny, nx] and lv < lab[ny, nx]):
                    d[ny, nx] = nd
                    lab[ny, nx] = lv
                    heapq.heappush(heap, (nd, lv, ny, nx))
    d[barrier] = np.nan
    return d, lab


def _labels_for(plane, threshold=1.0):
    h, w = plane.shape
    lab = np.full((h, w), costdist._LBIG, dtype=np.int64)
    with np.errstate(invalid="ignore"):
        tgt = plane >= threshold
    yy, xx = np.nonzero(tgt)
    lab[yy, xx] = (yy.astype(np.int64) << 26) | xx
    return lab


def _assemble_alloc(pdf, h, w, tile):
    out = np.full((h, w), -1, dtype=np.int64)
    for r in pdf.itertuples():
        p = np.frombuffer(r.alloc_bytes, dtype="<i8").reshape(tile, tile)
        out[r.tile_y * tile:(r.tile_y + 1) * tile,
            r.tile_x * tile:(r.tile_x + 1) * tile] = p
    return out


def test_allocation_matches_lex_dijkstra_random(spark):
    """Distributed allocation == lex-min Dijkstra oracle: exact labels
    (canonical lowest-label tie-break) and exact uniform-cost distances,
    across tile borders."""
    rng = np.random.default_rng(11)
    n, tile = 48, 16
    plane = rng.uniform(0.0, 0.9, (n, n))
    plane[rng.random((n, n)) < 0.04] = 2.0       # scattered targets
    plane[rng.random((n, n)) < 0.08] = np.nan    # barriers
    got = costdist.cost_allocation_tiles(
        _tiles_df(spark, plane, tile), threshold=1.0).toPandas()
    gd = _assemble(got, n, n, tile)              # cell units, f32 stored
    gl = _assemble_alloc(got, n, n, tile)
    exp_d, exp_l = dijkstra_alloc(_init_dist(plane), _labels_for(plane))
    exp_d[np.isinf(exp_d)] = np.nan
    exp_l[~np.isfinite(exp_d)] = -1
    # the emitted plane is f32 of (exact chamfer int / 3): compare there
    np.testing.assert_array_equal(gd.astype(np.float32),
                                  (exp_d / 3.0).astype(np.float32))
    assert np.array_equal(gl, exp_l)
    # non-trivial: several targets serve several tiles
    assert len(np.unique(gl[gl >= 0])) > 3
    assert (got.n_labels >= 1).any()


def test_allocation_spiral_multi_round(spark):
    """The spiral corridor forces many halo rounds; the single center
    target must win every reachable cell, labels included."""
    plane = _spiral_plane(48)
    got = costdist.cost_allocation_tiles(
        _tiles_df(spark, plane, 16), threshold=1.0).toPandas()
    gl = _assemble_alloc(got, 48, 48, 16)
    exp_d, exp_l = dijkstra_alloc(_init_dist(plane), _labels_for(plane))
    reach = np.isfinite(exp_d) & (exp_d < np.inf)
    lbl = (24 << 26) | 24
    assert set(np.unique(gl[reach])) == {lbl}
    assert (gl[~reach & ~np.isnan(plane)] == -1).all()


@pytest.mark.parametrize("op", [costdist.cost_distance_tiles,
                                costdist.cost_allocation_tiles])
def test_spiral_round_cap_raises(spark, op):
    """The spiral needs many halo rounds: one round is not a fixpoint."""
    tiles = _tiles_df(spark, _spiral_plane(48), 16)
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        op(tiles, threshold=1.0, max_rounds=1)


def test_allocation_cost_plane_exact(spark):
    """Half-integer traversal costs keep every edge weight an exact binary
    fraction, so even the cost-weighted case is bit-exact vs the lex
    Dijkstra — distances AND labels."""
    rng = np.random.default_rng(13)
    n, tile = 32, 16
    plane = rng.uniform(0.0, 0.9, (n, n))
    plane[rng.random((n, n)) < 0.05] = 2.0
    cost = rng.integers(1, 5, (n, n)) / 2.0       # 0.5 .. 2.0 half-integers
    cost[rng.random((n, n)) < 0.05] = np.nan
    got = costdist.cost_allocation_tiles(
        _tiles_df(spark, plane, tile, cost=cost), threshold=1.0,
        cost_col="cost_bytes").toPandas()
    gd = _assemble(got, n, n, tile)
    gl = _assemble_alloc(got, n, n, tile)
    exp_d, exp_l = dijkstra_alloc(_init_dist(plane), _labels_for(plane), cost)
    exp_d[np.isinf(exp_d)] = np.nan
    exp_l[~np.isfinite(exp_d)] = -1
    # f32 storage rounds the exact binary-fraction sums at encode: compare
    # in the stored (scaled, f32) encoding
    np.testing.assert_array_equal(gd.astype(np.float32),
                                  (exp_d / 3.0).astype(np.float32))
    assert np.array_equal(gl, exp_l)

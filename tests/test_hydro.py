"""Hydrology: D8 kernels vs hand/brute oracles, and the distributed tiled
operators vs whole-scene computation.

Flow-direction parity is BIT-exact (the tiled kernel sees the same 3x3
neighborhood through the halo). Accumulation counts are exact integers in
float64, so tiled-vs-brute parity is exact equality, not approximate.
Basin labels are exact int64 gid equality.
"""

import numpy as np
import pandas as pd
import pytest

from i_landsat8_swlst_spark import hydro
from i_landsat8_swlst_spark.hydro import (
    _D8, _NODATA_I64, _pack_gid, accum_plane, basin_tiles, flow_accum_tiles,
    flow_dir_pad, flow_dir_tiles, stop_nodes,
)


# ---------------------------------------------------------------------------
# oracles (independent, brute-force)
# ---------------------------------------------------------------------------


def _pad_nan(elev: np.ndarray) -> np.ndarray:
    return np.pad(elev.astype(np.float64), 1, constant_values=np.nan)


def brute_accum(dirs: np.ndarray) -> np.ndarray:
    """Walk every cell's flow path, incrementing each visited cell —
    O(n * path), independent of the Kahn implementation under test."""
    h, w = dirs.shape
    acc = np.zeros((h, w))
    for y in range(h):
        for x in range(w):
            if not np.isfinite(dirs[y, x]):
                acc[y, x] = np.nan
                continue
            cy, cx = y, x
            while True:
                acc[cy, cx] += 1
                k = dirs[cy, cx]
                if not (np.isfinite(k) and k >= 0):
                    break
                dy, dx = _D8[int(k)]
                ny, nx = cy + dy, cx + dx
                if not (0 <= ny < h and 0 <= nx < w):
                    break
                cy, cx = ny, nx
    return acc


def brute_basin(dirs: np.ndarray) -> np.ndarray:
    """(h, w, 2) array of the (y, x) pit each cell drains to; -1 nodata."""
    h, w = dirs.shape
    out = np.full((h, w, 2), -1, dtype=np.int64)
    for y in range(h):
        for x in range(w):
            if not np.isfinite(dirs[y, x]):
                continue
            cy, cx = y, x
            while np.isfinite(dirs[cy, cx]) and dirs[cy, cx] >= 0:
                dy, dx = _D8[int(dirs[cy, cx])]
                cy, cx = cy + dy, cx + dx
            out[y, x] = (cy, cx)
    return out


# ---------------------------------------------------------------------------
# terrain fixtures
# ---------------------------------------------------------------------------


def _hills(h: int, w: int, seed: int = 7, nodata_frac: float = 0.0) -> np.ndarray:
    """Deterministic smooth-ish terrain with several pits: sum of cosines
    + small noise (noise breaks plateaus so dirs are everywhere unique)."""
    rng = np.random.default_rng(seed)
    y, x = np.mgrid[0:h, 0:w]
    elev = (np.cos(x / 5.3) * 7 + np.cos(y / 4.1) * 5
            + np.cos((x + y) / 9.7) * 3 + rng.uniform(0, 0.1, (h, w)))
    if nodata_frac:
        elev[rng.random((h, w)) < nodata_frac] = np.nan
    return elev


def _serpentine_elev(n: int = 24, lane: int = 2) -> np.ndarray:
    """A 1-cell-wide serpentine channel with strictly decreasing elevation
    along it; everything else nodata. The single flow path crosses every
    tile border many times — the adversarial case for the halo-iterated
    accumulation (many rounds) and for basin pointer chains (many hops)."""
    elev = np.full((n, n), np.nan)
    val = 0.0
    for b in range(n // lane):
        y = b * lane
        xs = range(n) if b % 2 == 0 else range(n - 1, -1, -1)
        for x in xs:
            elev[y, x] = -val
            val += 1.0
        # vertical connector to the next band
        if y + lane < n:
            cx = (n - 1) if b % 2 == 0 else 0
            for yy in range(y + 1, y + lane):
                elev[yy, cx] = -val
                val += 1.0
    return elev


def _tiles_df(spark, plane: np.ndarray, tile: int = 16) -> "pd.DataFrame":
    """Tile a scene, supporting ragged right/bottom edges."""
    h, w = plane.shape
    rows = []
    for ty in range((h + tile - 1) // tile):
        for tx in range((w + tile - 1) // tile):
            sl = plane[ty * tile:(ty + 1) * tile, tx * tile:(tx + 1) * tile]
            rows.append({"scene_id": "S0", "tile_x": tx, "tile_y": ty,
                         "w": sl.shape[1], "h": sl.shape[0],
                         "lst_bytes": sl.astype("<f4").tobytes()})
    return spark.createDataFrame(pd.DataFrame(rows))


def _assemble(pdf: pd.DataFrame, h: int, w: int, tile: int, col: str,
              dtype: str) -> np.ndarray:
    is_float = dtype.endswith(("f4", "f8"))
    out = np.full((h, w), np.nan if is_float else _NODATA_I64,
                  dtype=np.float64 if is_float else np.int64)
    for r in pdf.itertuples():
        p = np.frombuffer(getattr(r, col), dtype=dtype).reshape(r.h, r.w)
        out[r.tile_y * tile:r.tile_y * tile + r.h,
            r.tile_x * tile:r.tile_x * tile + r.w] = p
    return out


# ---------------------------------------------------------------------------
# kernel tests
# ---------------------------------------------------------------------------


def test_flow_dir_tilted_plane():
    # strictly increasing to the right -> everything flows W (code 3)
    elev = np.tile(np.arange(6, dtype=float), (5, 1))
    dirs = flow_dir_pad(_pad_nan(elev))
    assert (dirs[:, 1:] == 3.0).all()
    assert (dirs[:, 0] == -1.0).all()          # scene-edge column: pits


def test_flow_dir_bowl_and_nodata():
    y, x = np.mgrid[0:7, 0:7]
    elev = ((y - 3) ** 2 + (x - 3) ** 2).astype(float)
    elev[0, 0] = np.nan
    dirs = flow_dir_pad(_pad_nan(elev))
    assert dirs[3, 3] == -1.0                  # the bowl bottom is a pit
    assert np.isnan(dirs[0, 0])
    # neighbors of the nodata cell never point at it
    for (dy, dx) in _D8:
        yy, xx = 0 + dy, 0 + dx
        if 0 <= yy < 7 and 0 <= xx < 7 and np.isfinite(dirs[yy, xx]) \
                and dirs[yy, xx] >= 0:
            k = int(dirs[yy, xx])
            assert (yy + _D8[k][0], xx + _D8[k][1]) != (0, 0)


def test_flow_dir_tie_break_first_in_order():
    # symmetric cross: center higher than N/S/E/W equally; diagonals higher.
    elev = np.array([[9.0, 1.0, 9.0],
                     [1.0, 5.0, 1.0],
                     [9.0, 1.0, 9.0]])
    dirs = flow_dir_pad(_pad_nan(elev))
    assert dirs[1, 1] == 1.0                   # first max-drop neighbor: N


def test_accum_matches_brute_random():
    for seed in (3, 11, 29):
        elev = _hills(23, 31, seed=seed, nodata_frac=0.07)
        dirs = flow_dir_pad(_pad_nan(elev))
        got = accum_plane(dirs)
        exp = brute_accum(dirs)
        assert np.array_equal(got, exp, equal_nan=True)


def test_stop_nodes_matches_brute():
    elev = _hills(19, 17, seed=5, nodata_frac=0.05)
    dirs = flow_dir_pad(_pad_nan(elev))
    stops = stop_nodes(dirs)
    basins = brute_basin(dirs)
    h, w = dirs.shape
    for y in range(h):
        for x in range(w):
            s = stops[y * w + x]
            if not np.isfinite(dirs[y, x]):
                assert s == y * w + x
            elif (basins[y, x] >= 0).all():
                # the stop node is ON the path and itself stops there
                assert stops[s] == s or dirs.ravel()[s] == -1.0


def test_accum_serpentine_exact_path_length():
    elev = _serpentine_elev(24, lane=2)
    dirs = flow_dir_pad(_pad_nan(elev))
    acc = accum_plane(dirs)
    n_channel = int(np.isfinite(elev).sum())
    assert np.nanmax(acc) == n_channel         # tail cell drains everything
    # one tree: a single pit (the tail), everything drains to it. (Corner
    # cells are diagonally short-cut, so there are multiple head cells —
    # but still exactly one sink.)
    assert int((dirs == -1.0).sum()) == 1


# ---------------------------------------------------------------------------
# distributed tests
# ---------------------------------------------------------------------------


def test_tiled_flow_dir_bitexact(spark):
    elev = _hills(48, 64, seed=13, nodata_frac=0.06)
    tiles = _tiles_df(spark, elev, tile=16)
    out = flow_dir_tiles(tiles).toPandas()
    got = _assemble(out, 48, 64, 16, "dir_bytes", "<f4")
    exp = flow_dir_pad(_pad_nan(elev))
    assert np.array_equal(got, exp, equal_nan=True)


def test_tiled_accum_matches_brute(spark):
    elev = _hills(48, 48, seed=17, nodata_frac=0.05)
    tiles = _tiles_df(spark, elev, tile=16)
    out = flow_accum_tiles(tiles).toPandas()
    got = _assemble(out, 48, 48, 16, "accum_bytes", "<f8")
    dirs = flow_dir_pad(_pad_nan(elev))
    exp = brute_accum(dirs)
    assert np.array_equal(got, exp, equal_nan=True)
    assert int(out["n_pits"].sum()) == int((dirs == -1.0).sum())
    assert out["accum_max"].max() == np.nanmax(exp)


def test_tiled_accum_serpentine_multiround(spark):
    """The serpentine's single path wraps through the 3x3 tile grid over
    and over: the fixpoint genuinely needs many halo rounds, and the
    final count at the tail equals the full channel length."""
    elev = _serpentine_elev(24, lane=2)
    tiles = _tiles_df(spark, elev, tile=8)
    out = flow_accum_tiles(tiles, max_rounds=64).toPandas()
    got = _assemble(out, 24, 24, 8, "accum_bytes", "<f8")
    exp = brute_accum(flow_dir_pad(_pad_nan(elev)))
    assert np.array_equal(got, exp, equal_nan=True)
    assert np.nanmax(got) == int(np.isfinite(elev).sum())


def test_tiled_accum_round_cap_raises(spark):
    """The serpentine needs many halo rounds: one round is not a
    fixpoint."""
    tiles = _tiles_df(spark, _serpentine_elev(24, lane=2), tile=8)
    with pytest.raises(RuntimeError,
                       match="flow_accum did not converge in 1 rounds"):
        flow_accum_tiles(tiles, max_rounds=1)


def test_tiled_basins_match_brute_ragged(spark):
    """Basin labels on a ragged grid (40 px wide / 16 px tiles -> the last
    column tile is 8 wide) — exercises the nominal-dims wrap for paths
    crossing INTO a left neighbor — plus nodata holes."""
    elev = _hills(32, 40, seed=23, nodata_frac=0.04)
    tiles = _tiles_df(spark, elev, tile=16)
    out = basin_tiles(tiles).toPandas()
    got = _assemble(out, 32, 40, 16, "basin_bytes", "<i8")
    dirs = flow_dir_pad(_pad_nan(elev))
    pits = brute_basin(dirs)
    h, w = dirs.shape
    exp = np.full((h, w), _NODATA_I64)
    for y in range(h):
        for x in range(w):
            py, px = pits[y, x]
            if py >= 0:
                exp[y, x] = _pack_gid(px // 16, py // 16, py % 16, px % 16)
    assert np.array_equal(got, exp)
    # every basin label is an actual pit cell
    labels = np.unique(exp[exp != _NODATA_I64])
    assert len(labels) == len(np.unique(got[got != _NODATA_I64]))


def test_tiled_basins_serpentine_long_chain(spark):
    """One long chain -> one basin: all channel cells must resolve to the
    single tail pit through many cross-tile link hops (log-round pointer
    doubling on the link table)."""
    elev = _serpentine_elev(24, lane=2)
    tiles = _tiles_df(spark, elev, tile=8)
    out = basin_tiles(tiles).toPandas()
    got = _assemble(out, 24, 24, 8, "basin_bytes", "<i8")
    data = got != _NODATA_I64
    assert data.sum() == int(np.isfinite(elev).sum())
    labels = np.unique(got[data])
    assert len(labels) == 1
    # the label is the serpentine's lowest cell
    ty, tx = np.unravel_index(np.nanargmin(elev), elev.shape)
    assert labels[0] == _pack_gid(tx // 8, ty // 8, ty % 8, tx % 8)


def test_halo_f8_dtype_roundtrip(spark):
    """halo_plane_tiles with dtype='<f8' preserves values f32 cannot
    represent (counts past 2**24)."""
    from i_landsat8_swlst_spark.pipeline import halo_plane_tiles
    big = float(2 ** 24 + 1)                   # not representable in f32
    plane = np.full((8, 8), big, dtype=np.float64)
    rows = [{"scene_id": "S0", "tile_x": tx, "tile_y": 0, "w": 8, "h": 8,
             "acc_bytes": plane.tobytes()} for tx in (0, 1)]
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    out = halo_plane_tiles(tiles, r=1, src_col="acc_bytes",
                           dtype="<f8").toPandas()
    pad = np.frombuffer(out.iloc[0]["pad_bytes"], dtype="<f8").reshape(10, 10)
    assert (pad[1:-1, 1:-1] == big).all()


# ---- drain_paths (r.drain analog) ------------------------------------------

def _drain_oracle(elev, gx, gy):
    """Whole-scene python walk over flow_dir_pad of the assembled plane."""
    dirs = hydro.flow_dir_pad(_pad_nan(elev))
    path = []
    x, y, dist = gx, gy, 0.0
    hgt, wid = elev.shape
    while 0 <= x < wid and 0 <= y < hgt:
        path.append((len(path), x, y, dist))
        k = dirs[y, x]
        if np.isnan(k) or k < 0:
            break
        ki = int(k)
        x += int(hydro._D8_DX[ki]); y += int(hydro._D8_DY[ki])
        dist += float(hydro._D8_DIST[ki])
    return path


def test_drain_paths_match_whole_scene_walk(spark):
    """Paths over a random hill field must equal the whole-scene walk cell
    for cell — including paths that cross several tile borders."""
    elev = _hills(48, 48, seed=13, nodata_frac=0.03)
    tiles = _tiles_df(spark, elev, tile=16)
    rng = np.random.default_rng(5)
    starts, oracle = [], {}
    pid = 0
    while pid < 8:
        gx, gy = int(rng.integers(0, 48)), int(rng.integers(0, 48))
        if not np.isfinite(elev[gy, gx]):
            continue
        starts.append({"scene_id": "S0", "pid": pid, "gx": gx, "gy": gy})
        oracle[pid] = _drain_oracle(elev, gx, gy)
        pid += 1
    pts = spark.createDataFrame(pd.DataFrame(starts))
    got = (hydro.drain_paths(tiles, pts).toPandas()
           .sort_values(["pid", "step"]).reset_index(drop=True))
    crossed = 0
    for pid, want in oracle.items():
        sub = got[got.pid == pid]
        assert len(sub) == len(want), pid
        for row, (step, x, y, dist) in zip(sub.itertuples(), want):
            assert (row.step, row.gx, row.gy) == (step, x, y), (pid, step)
            np.testing.assert_allclose(row.dist, dist, rtol=1e-12)
        tiles_seen = {(x // 16, y // 16) for _s, x, y, _d in want}
        crossed = max(crossed, len(tiles_seen))
    assert crossed >= 2  # at least one path actually crossed tiles


def test_drain_paths_validation(spark):
    elev = _hills(16, 16, seed=3)
    elev[4, 4] = np.nan
    tiles = _tiles_df(spark, elev, tile=16)
    null_start = spark.createDataFrame(pd.DataFrame(
        [{"scene_id": "S0", "pid": 0, "gx": 4, "gy": 4}]))
    with pytest.raises(Exception, match="NULL cell"):
        hydro.drain_paths(tiles, null_start).count()
    off = spark.createDataFrame(pd.DataFrame(
        [{"scene_id": "S0", "pid": 0, "gx": 99, "gy": 99}]))
    assert hydro.drain_paths(tiles, off).count() == 0

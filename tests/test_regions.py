"""Distributed raster connected-component labeling (regions.extract_regions)
vs a naive whole-scene BFS oracle, plus label_tile unit vectors."""

import numpy as np
import pandas as pd
import pytest

from i_landsat8_swlst_spark import constants as C, pipeline, regions, synth

WINDOW = 5


def _naive_regions(plane: np.ndarray, threshold: float) -> list[tuple]:
    """BFS 4-connectivity labeling of the assembled scene plane; returns
    sorted (area, sum, min, max, bbox) tuples — label ids are arbitrary on
    both sides, so parity compares the stat multiset."""
    mask = np.isfinite(plane) & (plane > threshold)
    seen = np.zeros_like(mask)
    h, w = mask.shape
    out = []
    for i0 in range(h):
        for j0 in range(w):
            if not mask[i0, j0] or seen[i0, j0]:
                continue
            stack = [(i0, j0)]
            seen[i0, j0] = True
            px = []
            while stack:
                i, j = stack.pop()
                px.append((i, j))
                for di, dj in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                    a, b = i + di, j + dj
                    if 0 <= a < h and 0 <= b < w and mask[a, b] and not seen[a, b]:
                        seen[a, b] = True
                        stack.append((a, b))
            vals = np.array([plane[i, j] for i, j in px])
            ys = [i for i, _ in px]
            xs = [j for _, j in px]
            out.append((len(px), round(float(vals.sum()), 6),
                        float(vals.min()), float(vals.max()),
                        min(xs), min(ys), max(xs), max(ys)))
    return sorted(out)


def test_label_tile_golden():
    mask = np.array([
        [1, 1, 0, 0, 1],
        [0, 1, 0, 1, 1],
        [0, 0, 0, 0, 0],
        [1, 0, 1, 1, 0],
    ], dtype=bool)
    labels, n = regions.label_tile(mask)
    assert n == 4
    # 4-connectivity: the L-shape top-left is one region; diagonal does
    # NOT connect; the two kind-3 pixels on row 3 form one region
    assert labels[0, 0] == labels[0, 1] == labels[1, 1]
    assert labels[0, 4] == labels[1, 3] == labels[1, 4]
    assert labels[3, 2] == labels[3, 3] != labels[3, 0]
    assert labels[0, 0] != labels[0, 4]
    assert (labels[mask] >= 0).all() and (labels[~mask] == -1).all()


def test_label_tile_matches_naive_random():
    rng = np.random.default_rng(61)
    # plus one serpentine spanning the full tile: every other row full,
    # joined at alternating ends — one region, the longest run chain
    snake = np.zeros((13, 17), dtype=bool)
    snake[::2] = True
    snake[1::4, -1] = snake[3::4, 0] = True
    for mask in [rng.random((13, 17)) < 0.45 for _ in range(5)] + [snake]:
        labels, n = regions.label_tile(mask)
        plane = np.where(mask, 1.0, np.nan)
        exp = _naive_regions(plane, 0.0)
        got = []
        for k in range(n):
            ys, xs = np.nonzero(labels == k)
            got.append((len(xs), round(float(len(xs)), 6), 1.0, 1.0,
                        xs.min(), ys.min(), xs.max(), ys.max()))
        assert sorted(got) == exp


def _tiles_from_plane(scene_id: str, plane: np.ndarray, tw: int, th: int):
    rows = []
    nty, ntx = plane.shape[0] // th, plane.shape[1] // tw
    for ty in range(nty):
        for tx in range(ntx):
            t = plane[ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw]
            rows.append({"scene_id": scene_id, "tile_x": tx, "tile_y": ty,
                         "w": tw, "h": th,
                         "lst_bytes": t.astype("<f4").tobytes()})
    return rows


def test_extract_regions_matches_scene_oracle(spark):
    # smooth random fields -> thresholded blobs that routinely cross the
    # tile grid (the per-tile NaN ring of the real CWV product would keep
    # regions off borders, defeating the stitch-path coverage)
    rng = np.random.default_rng(62)
    rows = []
    planes = {}
    for s in range(2):
        base = rng.uniform(260.0, 330.0, (12, 12))
        plane = np.kron(base, np.ones((8, 8)))        # 96x96, blocky blobs
        plane += rng.uniform(-1.0, 1.0, plane.shape)
        plane[rng.random(plane.shape) < 0.03] = np.nan  # cloud holes
        plane = plane.astype("<f4").astype(np.float64)  # what the tiles store
        sid = f"S{s}"
        planes[sid] = plane
        rows += _tiles_from_plane(sid, plane, 32, 32)
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    thr = 300.0

    got = regions.extract_regions(tiles, thr).toPandas()

    merged_any = False
    for sid, plane in planes.items():
        exp = _naive_regions(plane.astype(np.float64), thr)
        g = got[got.scene_id == sid]
        tuples = sorted(
            (int(r.area_px), round(float(r.mean_val * r.area_px), 6),
             float(r.min_val), float(r.max_val),
             int(r.gx0), int(r.gy0), int(r.gx1), int(r.gy1))
            for r in g.itertuples())
        assert len(tuples) == len(exp) > 5
        for a, b in zip(tuples, exp):
            assert a[0] == b[0] and a[2:] == b[2:]
            assert a[1] == pytest.approx(b[1], rel=1e-9)
        merged_any |= bool((g.n_parts > 1).any())
    # the fixture must actually exercise cross-tile merging
    assert merged_any


def test_extract_regions_on_lst_product(spark):
    """End-to-end over the real LST tile product: the per-tile CWV NaN ring
    keeps regions interior, so every region is single-part — parity must
    still hold (the stitch path is a no-op, not a corruption)."""
    scenes = spark.createDataFrame(synth.scenes_pdf("tiny"))
    meta = spark.createDataFrame(synth.scene_meta_pdf("tiny"))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    tiles = pipeline.lst_tiles(pipeline.build_enriched(scenes, meta, emis),
                               window=WINDOW)
    tp = tiles.toPandas()
    all_lst = np.concatenate([
        np.frombuffer(r.lst_bytes, dtype="<f4") for r in tp.itertuples()])
    thr = float(np.nanmedian(all_lst) + 5.0)

    got = regions.extract_regions(tiles, thr).toPandas()
    for scene_id, grp in tp.groupby("scene_id"):
        w, h = int(grp.w.iloc[0]), int(grp.h.iloc[0])
        ntx, nty = grp.tile_x.max() + 1, grp.tile_y.max() + 1
        plane = np.full((nty * h, ntx * w), np.nan)
        for r in grp.itertuples():
            t = np.frombuffer(r.lst_bytes, dtype="<f4").reshape(h, w)
            plane[r.tile_y * h:(r.tile_y + 1) * h,
                  r.tile_x * w:(r.tile_x + 1) * w] = t
        exp = _naive_regions(plane.astype(np.float64), thr)
        g = got[got.scene_id == scene_id]
        tuples = sorted(
            (int(r.area_px), round(float(r.mean_val * r.area_px), 6),
             float(r.min_val), float(r.max_val),
             int(r.gx0), int(r.gy0), int(r.gx1), int(r.gy1))
            for r in g.itertuples())
        assert len(tuples) == len(exp) > 10
        for a, b in zip(tuples, exp):
            assert a[0] == b[0] and a[2:] == b[2:]
            assert a[1] == pytest.approx(b[1], rel=1e-9)


def _ragged_tiles_from_plane(scene_id: str, plane: np.ndarray,
                             tw: int, th: int):
    """Ceil-division tiling: right/bottom edge tiles are SHORTER than the
    nominal (tw, th) when the plane dims don't divide evenly."""
    H, W = plane.shape
    rows = []
    for ty in range((H + th - 1) // th):
        for tx in range((W + tw - 1) // tw):
            t = plane[ty * th:min((ty + 1) * th, H),
                      tx * tw:min((tx + 1) * tw, W)]
            rows.append({"scene_id": scene_id, "tile_x": tx, "tile_y": ty,
                         "w": t.shape[1], "h": t.shape[0],
                         "lst_bytes": t.astype("<f4").tobytes()})
    return rows


def test_extract_regions_ragged_grid(spark):
    """Regression (ADVICE r4): scene coords must derive from NOMINAL tile
    dims, so ragged right/bottom-edge tiles stitch correctly. A 90x90
    plane tiled 32x32 leaves 26-px edge strips; with the old tx*w math the
    edge tiles' border cells landed at wrong scene coords and cross-tile
    merges silently failed."""
    rng = np.random.default_rng(63)
    base = rng.uniform(260.0, 330.0, (9, 9))
    plane = np.kron(base, np.ones((10, 10)))          # 90x90, blocky blobs
    plane += rng.uniform(-1.0, 1.0, plane.shape)
    plane[rng.random(plane.shape) < 0.03] = np.nan
    plane = plane.astype("<f4").astype(np.float64)
    thr = 300.0

    tiles = spark.createDataFrame(
        pd.DataFrame(_ragged_tiles_from_plane("R0", plane, 32, 32)))
    got = regions.extract_regions(tiles, thr).toPandas()

    exp = _naive_regions(plane, thr)
    tuples = sorted(
        (int(r.area_px), round(float(r.mean_val * r.area_px), 6),
         float(r.min_val), float(r.max_val),
         int(r.gx0), int(r.gy0), int(r.gx1), int(r.gy1))
        for r in got.itertuples())
    assert len(tuples) == len(exp) > 5
    for a, b in zip(tuples, exp):
        assert a[0] == b[0] and a[2:] == b[2:]
        assert a[1] == pytest.approx(b[1], rel=1e-9)
    # the ragged fixture must actually exercise cross-tile merging
    assert bool((got.n_parts > 1).any())


# ---- lake_tiles (r.lake analog) -------------------------------------------

def _lake_oracle(plane, seeds, level):
    """BFS flood fill of elev < level from the seed cells."""
    mask = np.isfinite(plane) & (plane < level)
    h, w = plane.shape
    lake = np.zeros_like(mask)
    stack = []
    for gx, gy in seeds:
        assert mask[gy, gx], "oracle seed must be below level"
        if not lake[gy, gx]:
            lake[gy, gx] = True
            stack.append((gy, gx))
    while stack:
        i, j = stack.pop()
        for di, dj in ((1, 0), (-1, 0), (0, 1), (0, -1)):
            y, x = i + di, j + dj
            if 0 <= y < h and 0 <= x < w and mask[y, x] and not lake[y, x]:
                lake[y, x] = True
                stack.append((y, x))
    return lake


def _elev_tiles(spark, plane, tw, th):
    rows = []
    nty, ntx = plane.shape[0] // th, plane.shape[1] // tw
    for ty in range(nty):
        for tx in range(ntx):
            t = plane[ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw]
            rows.append({"scene_id": "S0", "tile_x": tx, "tile_y": ty,
                         "w": tw, "h": th,
                         "lst_bytes": np.ascontiguousarray(t)
                         .astype("<f4").tobytes()})
    return spark.createDataFrame(pd.DataFrame(rows))


def test_lake_matches_flood_fill_oracle(spark):
    """Two basins below the level, one seeded: only the seeded basin
    floods, across the tile border; depth = level - elev; the other basin
    and the NULL hole stay dry."""
    H, W, th, tw = 32, 48, 16, 16
    plane = np.full((H, W), 110.0)
    # basin A spans the (0,0)/(1,0) tile border rows 10..20, cols 4..12
    plane[10:21, 4:13] = 95.0 - np.arange(11)[:, None] * 0.5
    # basin B: separate depression, also below level
    plane[5:9, 30:40] = 90.0
    # a NULL hole inside basin A must stay NaN (not lake)
    plane[12, 6] = np.nan
    plane = plane.astype(np.float32).astype(np.float64)
    level = 100.0
    tiles = _elev_tiles(spark, plane, tw, th)
    seeds = spark.createDataFrame(pd.DataFrame(
        [{"scene_id": "S0", "gx": 5, "gy": 11}]))
    got = regions.lake_tiles(tiles, seeds, level).toPandas()

    lake = _lake_oracle(plane, [(5, 11)], level)
    want_depth = np.where(lake, level - plane, np.nan)
    mosaic = np.full((H, W), np.nan, dtype=np.float32)
    for r in got.itertuples():
        p = np.frombuffer(r.lake_bytes, "<f4").reshape(r.h, r.w)
        mosaic[r.tile_y * th:(r.tile_y + 1) * th,
               r.tile_x * tw:(r.tile_x + 1) * tw] = p
        assert r.area_px == int(np.isfinite(p).sum())
    assert np.array_equal(mosaic, want_depth.astype(np.float32),
                          equal_nan=True)
    # basin A crosses the tile border: both tile rows present
    assert set(zip(got.tile_x, got.tile_y)) == {(0, 0), (0, 1)}
    # basin B (present in the mask) stayed dry
    assert np.isnan(mosaic[6, 32])
    # volume = sum of depths; one distinct lake region everywhere
    np.testing.assert_allclose(
        got.volume.sum(), np.nansum(want_depth), rtol=1e-6)
    assert (got.n_regions == 1).all()


def test_lake_seed_validation(spark):
    plane = np.full((16, 16), 110.0)
    plane[4:8, 4:8] = 90.0
    tiles = _elev_tiles(spark, plane, 16, 16)
    dry = spark.createDataFrame(pd.DataFrame(
        [{"scene_id": "S0", "gx": 0, "gy": 0}]))  # elev 110 >= level
    with pytest.raises(Exception, match="not below the water level"):
        regions.lake_tiles(tiles, dry, 100.0).count()
    off = spark.createDataFrame(pd.DataFrame(
        [{"scene_id": "NOPE", "gx": 5, "gy": 5}]))
    with pytest.raises(Exception, match="seeds hit no"):
        regions.lake_tiles(tiles, off, 100.0).count()

"""Byte pins for the spatial operators, broadcast and cell forms.

Every output row of ``with_cells``, ``pip_join`` (inner and left),
``pip_join_cells`` (cogroup and jvm verify), ``knn_join``,
``knn_join_cells``, ``knn_join_cells_exact``, ``enrich_pixels`` (inner and
left), ``enrich_pixels_cells`` (exact and single-round), ``zonal_stats``
(broadcast left and distributed), ``aoi_measures``, ``sample_raster``,
``transect``, ``idw_rasterize``/``kde_rasterize``/``rasterize_lines`` and
their ``*_cells`` forms and ``sample_random_cells`` on one fixture is
sorted and hashed; the digest must equal the recorded one.

The fixture:

- two overlapping scenes with ragged right and bottom edge tiles and a
  NaN hole in each LST plane;
- AOIs that overlap (two squares and a triangle, one ring left open) plus
  a diagonal sliver;
- points with integer LST values, some NULL and one NaN (the pandas hops
  turn it into NULL, the Arrow hops keep it), a few on AOI vertices;
- stations on a dyadic lattice, so several points have two stations at
  exactly the same distance, one station with a NaN ``cwv_obs``, and a
  dense station box (with its own points) where the res-7 cell kNN
  certifies.

To re-record after an intended output change:
``python -m tests.test_spatial_golden`` (from the repo root) prints the
digests.
"""

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from i_landsat8_swlst_spark import spatial

TW, TH = 9, 8
GEOM = {  # scene: (lon0, lat0, lon1, lat1, h, w)
    "A": (10.0, 40.0, 10.4, 40.3, 29, 32),
    "B": (10.2, 40.1, 10.5, 40.35, 19, 22),
}


def _plane(seed: int, h: int, w: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    p = np.round(rng.uniform(270.0, 330.0, (h, w)), 1)
    p[4:7, 5:9] = np.nan
    return p


def _tiles_geom(spark):
    rows, geom = [], []
    for i, (sid, (lon0, lat0, lon1, lat1, h, w)) in enumerate(GEOM.items()):
        plane = _plane(401 + i, h, w)
        ntx, nty = -(-w // TW), -(-h // TH)
        for ty in range(nty):
            for tx in range(ntx):
                t = plane[ty * TH:(ty + 1) * TH, tx * TW:(tx + 1) * TW]
                rows.append({"scene_id": sid, "tile_x": tx, "tile_y": ty,
                             "w": t.shape[1], "h": t.shape[0],
                             "lst_bytes": t.astype("<f4").tobytes()})
        geom.append({"scene_id": sid, "lon0": lon0, "lat0": lat0,
                     "lon1": lon1, "lat1": lat1, "ntx": ntx, "nty": nty})
    return (spark.createDataFrame(pd.DataFrame(rows)),
            spark.createDataFrame(pd.DataFrame(geom)))


def _ring(pts, close=True):
    ring = [{"lon": float(x), "lat": float(y)} for x, y in pts]
    return ring + ring[:1] if close else ring


AOI = pd.DataFrame([
    {"aoi_id": "sq_a", "category": "square",
     "ring": _ring([(10.05, 40.05), (10.25, 40.05), (10.25, 40.2), (10.05, 40.2)])},
    {"aoi_id": "sq_b", "category": "square",
     "ring": _ring([(10.15, 40.1), (10.35, 40.1), (10.35, 40.28), (10.15, 40.28)])},
    {"aoi_id": "tri", "category": "triangle",
     "ring": _ring([(10.3, 40.12), (10.48, 40.15), (10.38, 40.32)], close=False)},
    {"aoi_id": "sliver", "category": "strip",
     "ring": _ring([(10.02, 40.01), (10.45, 40.29), (10.44, 40.3), (10.01, 40.02)])},
])


def _points(spark):
    rng = np.random.default_rng(409)
    n = 400
    lon = np.round(rng.uniform(9.98, 10.52, n), 4)
    lat = np.round(rng.uniform(39.98, 40.37, n), 4)
    lon[-40:] = np.round(rng.uniform(10.27, 10.33, 40), 4)  # the dense
    lat[-40:] = np.round(rng.uniform(40.17, 40.23, 40), 4)  # station box
    # AOI vertices, and points midway between two lattice stations
    lon[:6] = [10.05, 10.25, 10.35, 10.3, 10.25, 10.125]
    lat[:6] = [40.05, 40.2, 40.28, 40.12, 40.0625, 40.25]
    lst = np.round(rng.uniform(260.0, 330.0, n))
    lst[::11] = np.nan                       # NULL once in Spark
    pdf = pd.DataFrame({"pid": np.arange(n, dtype=np.int64),
                        "lon": lon, "lat": lat, "lst_k": lst})
    df = spark.createDataFrame(pdf)
    return df.withColumn("lst_k", F.when(F.col("pid") == 1, F.lit(float("nan")))
                         .otherwise(F.col("lst_k")))


def _stations() -> pd.DataFrame:
    rng = np.random.default_rng(419)
    xs, ys = np.meshgrid(np.arange(10.0, 10.55, 0.125), np.arange(40.0, 40.4, 0.125))
    lon = np.concatenate([xs.ravel(), np.round(rng.uniform(10.26, 10.34, 40), 4)])
    lat = np.concatenate([ys.ravel(), np.round(rng.uniform(40.16, 40.24, 40), 4)])
    cwv = np.round(rng.uniform(0.0, 6.0, lon.size), 2)
    cwv[3] = np.nan
    return pd.DataFrame({
        "station_id": [f"st{i:02d}" for i in range(lon.size)],
        "lon": lon, "lat": lat, "cwv_obs": cwv,
        "value": np.round(rng.uniform(0.0, 30.0, lon.size), 1)})


LINES = pd.DataFrame([
    {"line_id": "road", "cat": 5, "xs": [10.01, 10.47], "ys": [40.02, 40.33]},
    {"line_id": "canal", "cat": 3,
     "xs": [10.03, 10.38, 10.38], "ys": [40.2, 40.2, 40.04]},
    {"line_id": "path", "cat": 8, "xs": [10.21, 10.23, 10.49, 10.3],
     "ys": [40.11, 40.3, 40.31, 40.12]},
    {"line_id": "stub", "cat": 1, "xs": [10.45, 10.46], "ys": [40.25, 40.25]},
])


def _grid(s, fn, *args, **kw):
    tiles, geom = _tiles_geom(s)
    return fn(tiles, *args, geom, **kw) if args else fn(tiles, geom, **kw)


def _st_df(s):
    return s.createDataFrame(_stations())


CASES = {
    "with_cells": lambda s: spatial.with_cells(_points(s)),
    "pip_join_inner": lambda s: spatial.pip_join(_points(s), AOI),
    "pip_join_left": lambda s: spatial.pip_join(_points(s), AOI, how="left"),
    "pip_join_cells_cogroup": lambda s: spatial.pip_join_cells(
        _points(s), AOI, salt=4),
    "pip_join_cells_jvm": lambda s: spatial.pip_join_cells(
        _points(s), s.createDataFrame(AOI), res="auto", verify="jvm"),
    "knn_join": lambda s: spatial.knn_join(_points(s), _stations(), k=3),
    "knn_join_cells": lambda s: spatial.knn_join_cells(
        _points(s), _stations(), k=2, key_cols=["pid"]),
    "knn_join_cells_exact": lambda s: spatial.knn_join_cells_exact(
        _points(s), _st_df(s), k=3, key_cols=["pid"], max_ring=2),
    "enrich_pixels_inner": lambda s: spatial.enrich_pixels(
        _points(s), AOI, _stations(), k=2, how="inner"),
    "enrich_pixels_left": lambda s: spatial.enrich_pixels(
        _points(s), AOI, _stations().drop(columns="cwv_obs"), k=3),
    "enrich_pixels_cells_exact": lambda s: spatial.enrich_pixels_cells(
        _points(s), AOI, _st_df(s), k=2, key_cols=["pid"]),
    "enrich_pixels_cells_nonexact": lambda s: spatial.enrich_pixels_cells(
        _points(s), s.createDataFrame(AOI), _stations().drop(columns="cwv_obs"),
        k=2, key_cols=["pid"], exact=False),
    "zonal_stats_left": lambda s: spatial.zonal_stats(
        _points(s), AOI, how="left"),
    "zonal_stats_cells": lambda s: spatial.zonal_stats(
        _points(s), AOI, distributed=True),
    "aoi_measures": lambda s: spatial.aoi_measures(s, AOI),
    "sample_raster": lambda s: _grid(s, spatial.sample_raster, _points(s)),
    "transect": lambda s: _grid(s, spatial.transect, lon_a=10.02, lat_a=40.31,
                                lon_b=10.49, lat_b=40.02, n=48),
    "idw": lambda s: _grid(s, spatial.idw_rasterize, _stations(), k=4),
    "idw_cells": lambda s: _grid(s, spatial.idw_rasterize_cells, _st_df(s),
                                 radius_km=9.0, k=3, power=1.5),
    "kde": lambda s: _grid(s, spatial.kde_rasterize, _stations(),
                           radius_km=7.0, kernel="gaussian", weighted=True),
    "kde_cells": lambda s: _grid(s, spatial.kde_rasterize_cells, _st_df(s),
                                 radius_km=7.0),
    "lines": lambda s: _grid(s, spatial.rasterize_lines, LINES),
    "lines_cells": lambda s: _grid(s, spatial.rasterize_lines_cells,
                                   s.createDataFrame(LINES)),
    "sample_random_cells": lambda s: spatial.sample_random_cells(
        _tiles_geom(s)[0], 9, seed=5),
}

DIGESTS = {  # case: (rows, sha256 of the sorted rows)
    "aoi_measures": (4,
        "e4fe77a07ac88f9c9649b0bd15a9941e8f7650790813a315c779598df06c1906"),
    "enrich_pixels_cells_exact": (884,
        "211cfcf0b2b97d4338916ea6b1e06c17e85bfb40b1b58caf850a265f82ba0c15"),
    "enrich_pixels_cells_nonexact": (519,
        "cb1a68ca1eebc1848ddd800e106ce5c576dded25ba33919d59e12efa246fe6d3"),
    "enrich_pixels_inner": (396,
        "567a4a29de55831be692140914cd0d828ed036e5ead487b8888a556e15853eaa"),
    "enrich_pixels_left": (1326,
        "3f24647e845016e832b24d98379c707469c657134e457bcc439d4d2aae35cfaa"),
    "idw": (25,
        "e67cc71c75e05427106c4ae385078d5f375eeca67c8ff9eb24cf7fc01d9e3508"),
    "idw_cells": (25,
        "074acc73bae12e117479c507b2de460241b26d56c945b79b8de4b932dc4a30e7"),
    "kde": (25,
        "5b7ba14503e508406f3ef3cdbf2848928c7b7f79a9a67ab321490390d69ef3fb"),
    "kde_cells": (25,
        "8fa5ed62d8c33230bc2762cf7ab96b82eccaf2a2cc3cc72daf57998f68cd3700"),
    "knn_join": (1200,
        "8efaaea109bf7e07624f4f381dc3a51fcb73c7025c4f563fbcc0fd0fab3abf2d"),
    "knn_join_cells": (457,
        "b3a59828c294442469bdd1894b4d154c50c2f9fc11b7266778f4e34dfc54cd4e"),
    "knn_join_cells_exact": (1200,
        "67041170220aab090854ec46bd971a05492c635280654cce2a2acc1b5abaae3d"),
    "lines": (20,
        "54e1fcd049cd19492da2a518fbd3c777c4300ec062518d974056d04bce4492aa"),
    "lines_cells": (20,
        "54e1fcd049cd19492da2a518fbd3c777c4300ec062518d974056d04bce4492aa"),
    "pip_join_cells_cogroup": (198,
        "9d3429790d4d1b04c15e2b7a7ef97f6885d42c07ad59218d7457dd3a00f0af2d"),
    "pip_join_cells_jvm": (198,
        "317d050574e651e326b4ecb20dc222866ab22b8cc4b13787c68bf8f95a65c8bb"),
    "pip_join_inner": (198,
        "9d3429790d4d1b04c15e2b7a7ef97f6885d42c07ad59218d7457dd3a00f0af2d"),
    "pip_join_left": (442,
        "8484e293a47c131158f459ad11ae27f17ce9f9be9285247c992e544d23f6e891"),
    "sample_random_cells": (18,
        "c78c257e9a34f85a1a876f3ff6d08ef862aa345a854ce303de3af086afc4d842"),
    "sample_raster": (420,
        "a7870596d780c30ed93578c04c55f01c16875fca05efc0f734ae5c05eb53c016"),
    "transect": (53,
        "324e7155d87e00a5f1425137bd6bd29eea63804abb5f4cf416d749bcc0efa263"),
    "with_cells": (400,
        "28a92888705920b6f6ad454cb7cf938acae2250e91de6608d32ce9279f5ca380"),
    "zonal_stats_cells": (4,
        "6736386f4661f89c37a52638b0693500c91d6b75d3add3ad62815ae983c65836"),
    "zonal_stats_left": (5,
        "22dff443188dcbe958f496ed09195f25c6d176067b870b0bcb84893345674ef8"),
}


def _digest(rows) -> tuple[int, str]:
    canon = sorted(repr(tuple(bytes(v) if isinstance(v, bytearray) else v
                              for v in r)) for r in rows)
    return len(canon), hashlib.sha256("\n".join(canon).encode()).hexdigest()


@pytest.mark.parametrize("case", sorted(CASES))
def test_spatial_output_bytes_pinned(spark, case):
    got = CASES[case](spark).collect()
    assert _digest(got) == DIGESTS[case]


if __name__ == "__main__":
    from i_landsat8_swlst_spark.session import get_spark

    spark = get_spark(app="spatial-golden", cores=4, shuffle_partitions=8)
    for name in sorted(CASES):
        n, d = _digest(CASES[name](spark).collect())
        print(f'    "{name}": ({n},\n        "{d}"),')
    spark.stop()

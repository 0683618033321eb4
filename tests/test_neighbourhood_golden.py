"""Byte pins for the neighbourhood raster operators.

Every output row of the plane operators (``focal_stats_tiles`` and
``gradient_tiles`` with and without a halo, ``convolve_tiles`` with a 3x3
halo kernel and a 3x5 tile-local one, ``grow_tiles`` by radius and with a
constant value, ``fillnulls_tiles`` idw and spline), of
``glcm_texture_tiles`` (one offset, two offsets), of the hydrology
operators (``flow_dir_tiles``, ``flow_accum_tiles``, ``basin_tiles``,
``drain_paths``) and
of the cost operators (``cost_distance_tiles`` with uniform cost and with
a cost plane, ``cost_allocation_tiles``, ``buffer_tiles``) on one
two-scene fixture is sorted and hashed; the digest must equal the
recorded one.

Scene A is a tilted plane cut by a NaN spiral wall with one hot cell at
its centre: the cost operators need several halo rounds to walk the
corridor out of the spiral, and flow runs downhill across every tile
column. Scene B is a smooth hill field with NaN holes and several hot
cells. Both scenes have ragged right and bottom edge tiles (never
narrower than the largest halo margin used here, 3).

To re-record after an intended output change:
``python -m tests.test_neighbourhood_golden`` (from the repo root) prints
the digests.
"""

import hashlib

import numpy as np
import pandas as pd
import pytest

from i_landsat8_swlst_spark import costdist, hydro, pipeline, texture

TW, TH = 9, 8            # 32 % 9, 29 % 8, 22 % 9 and 19 % 8 are all ragged
HOT = 5.0                # cost-operator target threshold


def _spiral_scene(h: int = 29, w: int = 32) -> np.ndarray:
    rng = np.random.default_rng(211)
    yy, xx = np.mgrid[0:h, 0:w]
    z = 0.9 - 0.02 * xx - 0.004 * yy + rng.uniform(0.0, 0.01, (h, w))
    cy, cx, n = h // 2, w // 2, min(h, w)
    for i, k in enumerate(range(1, n // 2 - 2, 4)):  # nested rings, each
        y0, y1 = cy - n // 2 + k, cy + n // 2 - k    # with one 2-cell gap
        x0, x1 = cx - n // 2 + k, cx + n // 2 - k    # on alternating sides
        z[[y0, y1], x0:x1 + 1] = np.nan
        z[y0:y1 + 1, [x0, x1]] = np.nan
        if i % 2:
            z[y1 - 2:y1, x1] = 0.5
        else:
            z[y0 + 1:y0 + 3, x0] = 0.5
    z[cy, cx] = HOT + 1.0
    return z.astype(np.float32)


def _hill_scene(h: int = 19, w: int = 22) -> np.ndarray:
    rng = np.random.default_rng(223)
    yy, xx = np.mgrid[0:h, 0:w]
    z = (3.0 + 2.0 * np.cos(xx / 3.1) * np.cos(yy / 2.7)
         + rng.uniform(0.0, 0.05, (h, w)))
    z[4:7, 5:8] = np.nan
    z[12, 15:18] = np.nan
    z[16:18, 2] = np.nan
    return z.astype(np.float32)


SCENES = {"A": _spiral_scene(), "B": _hill_scene()}


def _tiles(spark):
    rows = []
    for sid, z in SCENES.items():
        h, w = z.shape
        cost = (1.0 + 0.5 * np.sin(np.arange(h * w) / 7.0)).reshape(h, w)
        for ty in range((h + TH - 1) // TH):
            for tx in range((w + TW - 1) // TW):
                sl = (slice(ty * TH, (ty + 1) * TH), slice(tx * TW, (tx + 1) * TW))
                t = np.ascontiguousarray(z[sl])
                rows.append({
                    "image_id": f"{sid}/{tx}_{ty}", "scene_id": sid,
                    "tile_x": tx, "tile_y": ty,
                    "w": t.shape[1], "h": t.shape[0],
                    "lst_bytes": t.tobytes(),
                    "cost_bytes": cost[sl].astype("<f4").tobytes()})
    return spark.createDataFrame(pd.DataFrame(rows))


# drain_paths starts (scene, pid, gx, gy): pid 1 crosses 3 tile borders on A
# and pid 4 walks the spiral's inner corridor across 2; pids 10 and 11
# cross 3 and 2 on B; pid 99 is off every tile of A and yields no rows
_DRAIN_STARTS = [("A", 1, 0, 0), ("A", 3, 2, 20), ("A", 4, 16, 14),
                 ("B", 10, 19, 0), ("B", 11, 18, 16), ("B", 12, 10, 10),
                 ("A", 99, 40, 5)]

_SHARPEN = [[0, -1, 0], [-1, 5, -1], [0, -1, 0]]
_EMBOSS_3x5 = [[-2, -1, 0, 1, 2], [-1, 0, 1, 1, 0], [0, 1, 2, 0, -1]]

CASES = {
    "focal_local": lambda s: pipeline.focal_stats_tiles(_tiles(s), window=3),
    "focal_halo": lambda s: pipeline.focal_stats_tiles(
        _tiles(s), window=5, halo=True),
    "gradient_local": lambda s: pipeline.gradient_tiles(_tiles(s), cell=2.0),
    "gradient_halo": lambda s: pipeline.gradient_tiles(_tiles(s), halo=True),
    "convolve_halo_3x3": lambda s: pipeline.convolve_tiles(_tiles(s), _SHARPEN),
    "convolve_local_3x5": lambda s: pipeline.convolve_tiles(
        _tiles(s), _EMBOSS_3x5, divisor=0, halo=False),
    "grow_radius": lambda s: pipeline.grow_tiles(_tiles(s), radius=2.5),
    "grow_value": lambda s: pipeline.grow_tiles(
        _tiles(s), radius=1.5, value=-7.0),
    "fillnulls_idw": lambda s: pipeline.fillnulls_tiles(_tiles(s), radius=2.0),
    "fillnulls_spline": lambda s: pipeline.fillnulls_tiles(
        _tiles(s), radius=1.5, method="spline", sweeps=2),
    "texture_one": lambda s: texture.glcm_texture_tiles(
        _tiles(s), window=3, levels=8),
    "texture_two": lambda s: texture.glcm_texture_tiles(
        _tiles(s), window=5, levels=6, offset=((1, 0), (1, 1)),
        features=("contrast", "entropy")),
    "flow_dir": lambda s: hydro.flow_dir_tiles(_tiles(s)),
    "flow_accum": lambda s: hydro.flow_accum_tiles(_tiles(s)),
    "basins": lambda s: hydro.basin_tiles(_tiles(s)),
    "drain_paths": lambda s: hydro.drain_paths(_tiles(s), s.createDataFrame(
        pd.DataFrame(_DRAIN_STARTS, columns=["scene_id", "pid", "gx", "gy"]))),
    "cost_uniform": lambda s: costdist.cost_distance_tiles(_tiles(s), HOT),
    "cost_plane": lambda s: costdist.cost_distance_tiles(
        _tiles(s), HOT, cost_col="cost_bytes", cell=30.0),
    "allocation": lambda s: costdist.cost_allocation_tiles(_tiles(s), HOT),
    "buffer": lambda s: costdist.buffer_tiles(
        _tiles(s), HOT, [1.5, 4.0, 9.0]),
}

DIGESTS = {  # case: (rows, sha256 of the sorted rows)
    "allocation": (25,
        "7d8060539f5b8b535743a09eb4c54a3cd6fcd9233f635c8ba58f45b5d1dc4694"),
    "basins": (25,
        "7510ed60e6ac096667d9b6168c885d1ecccf29641fe52beaf30955a31106f8a8"),
    "buffer": (25,
        "183e65d1f63d5c08d088b3500aac1854b43a7ed43e0ab1dc4989fc62ebc67dd5"),
    "convolve_halo_3x3": (25,
        "a3b6591a2bbdbca8325cc1533b1d30498e3deecb9f3a18f4f647b30bb475a1fc"),
    "convolve_local_3x5": (25,
        "cb7e11baffe16ae3ccb7db23fdb224b7d3aa4e8ecf8857347067d630461a7b24"),
    "cost_plane": (25,
        "6be406958aa9a9595441201b660292c92683fce844a66457aa6c677bb67ab15e"),
    "cost_uniform": (25,
        "8ec86ffc8df116d60c342d8ba920ec5ae744fba0d4ddae4db78df2032af1a819"),
    "drain_paths": (72,
        "d9e01098ede01072e5eead9f900f80bc56028e7454eb025ccb69af19ea776a7d"),
    "fillnulls_idw": (25,
        "6cc2def314b91925ecfd36483a18cfad95528059f618550811b449dcf2486211"),
    "fillnulls_spline": (25,
        "d03e467f08ac486511db6639fd01f54310c6539e7d30e780abcec416b051de3c"),
    "flow_accum": (25,
        "aca5471b51b4d5b8d6075a7c59c95c3cb8a34cede15422b4a9a2e2c63eaa323c"),
    "flow_dir": (25,
        "5d3299b766f55d55699294edc416c0b819ea5401c81f5ac87c464c4c48a5bdb7"),
    "focal_halo": (25,
        "e5615bd75fb40a04b66eca151998d5a146e0d1de54a4b104edf1538e552cb4d6"),
    "focal_local": (25,
        "ea4e779bb7a7a16042aeafb7833dc89827643c7cf32b662bc5fa4ec23e892431"),
    "gradient_halo": (25,
        "9b7634af9f875f463cff34eef0af373abc425b4a37c0245e93c160c0c328b65f"),
    "gradient_local": (25,
        "1f81bff2266d9870c2a6b03efff24f3a2d4388cec7ba2bdfe8a70ea16cbffc7b"),
    "grow_radius": (25,
        "0fe852c0374389e6bb15cfca25d3a43c3290e14252d44c79d224830c92c1a72c"),
    "grow_value": (25,
        "62f1bd97aeafeb8bbc349e3d4a3593e09d9023b5f5e7bce4ae3febdcd069a4f5"),
    "texture_one": (25,
        "a549356e9c7f4c16da2fbb232f456af0297309a57b2d6fbf5253e55c0cc89092"),
    "texture_two": (25,
        "9ab1b4c6147877b294b588302e2f28677e04778eee939662a61971feedab725b"),
}


def _digest(rows) -> tuple[int, str]:
    canon = sorted(repr(tuple(bytes(v) if isinstance(v, bytearray) else v
                              for v in r)) for r in rows)
    return len(canon), hashlib.sha256("\n".join(canon).encode()).hexdigest()


@pytest.mark.parametrize("case", sorted(CASES))
def test_neighbourhood_output_bytes_pinned(spark, case):
    got = CASES[case](spark).collect()
    assert _digest(got) == DIGESTS[case]


if __name__ == "__main__":
    from i_landsat8_swlst_spark.session import get_spark

    spark = get_spark(app="neighbourhood-golden", cores=4, shuffle_partitions=8)
    for name in sorted(CASES):
        n, d = _digest(CASES[name](spark).collect())
        print(f'    "{name}": ({n},\n        "{d}"),')
    spark.stop()

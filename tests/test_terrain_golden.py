"""Byte pins for the four terrain sweep operators.

Every output row of ``viewshed_tiles``, ``viewshed_count_tiles``,
``sun_tiles`` and ``horizon_tiles`` on one two-scene fixture (ragged edge
tiles on both axes, NaN holes in both scenes) is sorted and hashed; the
digest must equal the recorded one. The oracle tests in test_terrain.py
check semantics (horizon only to 1e-5); these pins check that a change to
the shared sweep reproduces every plane byte and every count exactly.

To re-record after an intended output change:
``python -m tests.test_terrain_golden`` (from the repo root) prints the
digests.
"""

import hashlib

import numpy as np
import pandas as pd
import pytest

from i_landsat8_swlst_spark import terrain

TW, TH = 7, 5            # 23 % 7, 19 % 5, 20 % 7 and 17 % 5 are all ragged


def _plane(h, w, seed, holes):
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    z = rng.uniform(0.0, 30.0, (h, w))
    z += 60.0 * np.exp(-((xx - w * 0.7) ** 2 + (yy - h * 0.3) ** 2) / 18.0)
    z += 45.0 * np.exp(-((xx - w * 0.25) ** 2 + (yy - h * 0.75) ** 2) / 30.0)
    z = z.astype(np.float32)
    for ys, xs in holes:
        z[ys, xs] = np.nan
    return z


SCENES = {
    "A": _plane(19, 23, 101, [(slice(6, 9), slice(10, 13))]),
    "B": _plane(17, 20, 103, [(slice(3, 5), slice(2, 4)), (12, 15)]),
}


def _tiles(spark):
    rows = []
    for sid, z in SCENES.items():
        h, w = z.shape
        for ty in range((h + TH - 1) // TH):
            for tx in range((w + TW - 1) // TW):
                t = z[ty * TH:(ty + 1) * TH, tx * TW:(tx + 1) * TW]
                rows.append({"scene_id": sid, "tile_x": tx, "tile_y": ty,
                             "w": t.shape[1], "h": t.shape[0],
                             "lst_bytes": np.ascontiguousarray(t).tobytes()})
    return spark.createDataFrame(pd.DataFrame(rows))


_OBS = pd.DataFrame([{"scene_id": "A", "ox": 4, "oy": 13},
                     {"scene_id": "B", "ox": 15, "oy": 6}])
_CVA = pd.DataFrame([
    {"scene_id": "A", "obs_id": "a", "ox": 2, "oy": 2},
    {"scene_id": "A", "obs_id": "b", "ox": 18, "oy": 15},
    {"scene_id": "A", "obs_id": "c", "ox": 11, "oy": 10},
    {"scene_id": "B", "obs_id": "x", "ox": 5, "oy": 10},
    {"scene_id": "B", "obs_id": "y", "ox": 16, "oy": 3},
])


def _sun(az_a, alt_a, az_b, alt_b):
    return pd.DataFrame([
        {"scene_id": "A", "azimuth_deg": az_a, "altitude_deg": alt_a},
        {"scene_id": "B", "azimuth_deg": az_b, "altitude_deg": alt_b}])


CASES = {
    "viewshed": lambda t: terrain.viewshed_tiles(t, _OBS),
    "viewshed_max_dist": lambda t: terrain.viewshed_tiles(
        t, _OBS, obs_height=4.0, max_dist=6.5, n_sectors=16),
    "viewshed_count": lambda t: terrain.viewshed_count_tiles(
        t, _CVA, n_sectors=12),
    "viewshed_count_max_dist": lambda t: terrain.viewshed_count_tiles(
        t, _CVA, obs_height=3.0, max_dist=7.0, n_sectors=32),
    "sun_1": lambda t: terrain.sun_tiles(t, _sun(135.0, 35.0, 300.0, 25.0)),
    "sun_2": lambda t: terrain.sun_tiles(t, _sun(250.0, 20.0, 45.0, 50.0)),
    "horizon": lambda t: terrain.horizon_tiles(t, [60.0, 225.0]),
}

DIGESTS = {  # case: (rows, sha256 of the sorted rows)
    "viewshed": (28,
        "8aae306c549f11ec099fdfa473545fa7003dd2ea68e3b9cae56ce5de336a32e1"),
    "viewshed_max_dist": (28,
        "acb832c5dad3b7e202e31ff2c7b5944d9feadf92dae2f025bcf5b35416dfc657"),
    "viewshed_count": (28,
        "661644e468564cd3d7602ee9d9e6f2d516332565bf560ee4874ed0e7eb70e364"),
    "viewshed_count_max_dist": (28,
        "1de5aeabab832237388cf12efd9030a8ef89a652e574782b6d107067b024ccc7"),
    "sun_1": (28,
        "01b076059c21a7939bfb980aa23358b9d081f449a142abed44c3105ddc5faf1f"),
    "sun_2": (28,
        "23a57f20e1ab7585700b7afda0ab67b49361eae89633836589f0305d92dd69fe"),
    "horizon": (56,
        "c738165981bbdc7002b87521157e841839c5322a6bd9f3266a0f591771b01d64"),
}


def _digest(rows) -> tuple[int, str]:
    canon = sorted(tuple(bytes(v) if isinstance(v, bytearray) else v
                         for v in r) for r in rows)
    return len(canon), hashlib.sha256(repr(canon).encode()).hexdigest()


@pytest.mark.parametrize("case", sorted(CASES))
def test_terrain_output_bytes_pinned(spark, case):
    assert _digest(CASES[case](_tiles(spark)).collect()) == DIGESTS[case]


if __name__ == "__main__":
    from i_landsat8_swlst_spark.session import get_spark

    spark = get_spark(app="terrain-golden", cores=4, shuffle_partitions=8)
    tiles = _tiles(spark)
    for name in CASES:
        print(f"    {name!r}: {_digest(CASES[name](tiles).collect())},")
    spark.stop()

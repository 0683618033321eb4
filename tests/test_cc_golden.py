"""Byte pins for the five connected-component tile operators.

Every output row of ``extract_regions``, ``lake_tiles``, ``segment_tiles``
(lam 0 and 1.5), ``class_metrics`` (6 levels), ``to_vect`` and
``contour_lines`` (the lake level and the threshold) on one
two-scene fixture is sorted and hashed; the digest must equal the recorded
one. The fixture has ragged right/bottom edge tiles on both axes, NaN holes
in both scenes, a region crossing four tiles and a region with a hole
(an annulus). Planes hold integer values, so every float sum is exact in
any order. The tile kernels ``label_tile`` and ``lambda_label`` are pinned
on the same planes: each whole scene and each of its tiles.

To re-record after an intended output change:
``python -m tests.test_cc_golden`` (from the repo root) prints the digests.
"""

import hashlib

import numpy as np
import pandas as pd
import pytest

from i_landsat8_swlst_spark import landscape, regions, segment, vectorize

TW, TH = 7, 5            # 23 % 7, 19 % 5, 20 % 7 and 17 % 5 are all ragged
THRESHOLD = 25.0
LEVEL = 11.5


def _plane(h, w, seed, holes):
    rng = np.random.default_rng(seed)
    z = 10.0 + rng.integers(0, 4, (h, w)).astype(np.float64)
    z[rng.random((h, w)) < 0.06] = 50.0    # scattered 1-px hot spots
    # an annulus (a region with a hole) across four tiles
    z[2:9, 2:10] = 40.0 + rng.integers(0, 3, (7, 8))
    z[4:7, 4:8] = 11.0
    # a band across four tiles, with a spur over the tile-row border
    z[11:13, 1:w - 1] = 30.0 + rng.integers(0, 2, (2, w - 2))
    z[9:11, 15] = 33.0
    z[h - 3:, :4] = 5.0                    # a basin for the lake seeds
    z = z.astype(np.float32)
    for ys, xs in holes:
        z[ys, xs] = np.nan
    return z


SCENES = {
    "A": _plane(19, 23, 201, [(slice(14, 16), slice(9, 12)), (3, 3)]),
    "B": _plane(17, 20, 203, [(slice(0, 2), slice(16, 19)), (11, 5)]),
}


def _tile_planes(z):
    h, w = z.shape
    for ty in range((h + TH - 1) // TH):
        for tx in range((w + TW - 1) // TW):
            yield tx, ty, np.ascontiguousarray(
                z[ty * TH:(ty + 1) * TH, tx * TW:(tx + 1) * TW])


def _tiles(spark):
    rows = [{"scene_id": sid, "tile_x": tx, "tile_y": ty,
             "w": t.shape[1], "h": t.shape[0], "lst_bytes": t.tobytes()}
            for sid, z in SCENES.items() for tx, ty, t in _tile_planes(z)]
    return spark.createDataFrame(pd.DataFrame(rows))


def _seeds(spark):
    return spark.createDataFrame(pd.DataFrame([
        {"scene_id": "A", "gx": 1, "gy": 17},
        {"scene_id": "A", "gx": 5, "gy": 5},     # the annulus hole
        {"scene_id": "B", "gx": 2, "gy": 15}]))


CASES = {
    "extract_regions": lambda s, t: regions.extract_regions(t, THRESHOLD),
    "lake_tiles": lambda s, t: regions.lake_tiles(t, _seeds(s), LEVEL),
    "segment_lam0": lambda s, t: segment.segment_tiles(t, 0.0),
    "segment_lam1.5": lambda s, t: segment.segment_tiles(t, 1.5),
    "class_metrics": lambda s, t: landscape.class_metrics(t, levels=6),
    "to_vect": lambda s, t: vectorize.to_vect(t, THRESHOLD),
    "contour_lines": lambda s, t: vectorize.contour_lines(t, [LEVEL, THRESHOLD]),
}

KERNELS = {
    "label_tile_above": lambda z: regions.label_tile(
        np.isfinite(z) & (z > THRESHOLD)),
    "label_tile_below": lambda z: regions.label_tile(
        np.isfinite(z) & (z < LEVEL)),
    "lambda_label_0": lambda z: segment.lambda_label(z, 0.0),
    "lambda_label_1.5": lambda z: segment.lambda_label(z, 1.5),
}

DIGESTS = {  # case: (rows, sha256 of the sorted rows)
    "extract_regions": (28,
        "6a8bbc90268180ea5c6e64d692167bc10bd8a95ccb973aa204f6733880cea1a6"),
    "lake_tiles": (9,
        "30f4c047900b5f8e79473e04751cc57b3ba011f9effe65aabcb111a5d8be9a31"),
    "segment_lam0": (421,
        "29c8cdcf062854369effa8478e97c07b95d16711c620ad1be4fd311fe271bcc1"),
    "segment_lam1.5": (134,
        "fd4e210f9da1c52a1269b79f5fed9a52b35b8976983274f0082de4da7f0ce10c"),
    "class_metrics": (10,
        "4fd65f0c1476eabfb0f6757cad6375e20b698f09a44596e66028b046376dfbca"),
    "to_vect": (30,
        "7ef8be0ecd226bb1e57f9e58a1495f8a4726ef3ddcbce85387803bf903235f3d"),
    "contour_lines": (91,
        "b69e75ab2a06b9b01a35a1de050af35a6ec802a355d547d52164e8b8433d9c7e"),
}

KERNEL_DIGESTS = {  # kernel: sha256 of every (labels, n) on the planes
    "label_tile_above":
        "11b68f7c20c63584a169e8b2c6871e53169e645305a26831b6a90bde4cb0c5b0",
    "label_tile_below":
        "ccc6ea431a48df86f5e8c8d33c12c39b478b4bc36fd0e479026e37929265b7bb",
    "lambda_label_0":
        "cbdbef7772f66edab3649f5159882183a49c394ae85fbf933b5cf7e443851fe3",
    "lambda_label_1.5":
        "e35b02eb80f4fa6c9d1ef3dc30d3804d7889f7ce03bac6390586dd1f11be657d",
}


def _digest(rows) -> tuple[int, str]:
    canon = sorted(repr(tuple(bytes(v) if isinstance(v, bytearray) else v
                              for v in r)) for r in rows)
    return len(canon), hashlib.sha256("\n".join(canon).encode()).hexdigest()


def _kernel_digest(kernel) -> str:
    h = hashlib.sha256()
    for _sid, z in sorted(SCENES.items()):
        for plane in [z] + [t for _x, _y, t in _tile_planes(z)]:
            labels, n = kernel(plane)
            h.update(np.ascontiguousarray(labels, dtype="<i8").tobytes())
            h.update(repr((labels.shape, n)).encode())
    return h.hexdigest()


@pytest.mark.parametrize("case", sorted(CASES))
def test_cc_output_bytes_pinned(spark, case):
    got = CASES[case](spark, _tiles(spark)).collect()
    assert _digest(got) == DIGESTS[case]


@pytest.mark.parametrize("kernel", sorted(KERNELS))
def test_cc_tile_labels_pinned(kernel):
    assert _kernel_digest(KERNELS[kernel]) == KERNEL_DIGESTS[kernel]


if __name__ == "__main__":
    from i_landsat8_swlst_spark.session import get_spark

    spark = get_spark(app="cc-golden", cores=4, shuffle_partitions=8)
    tiles = _tiles(spark)
    for name in CASES:
        print(f"    {name!r}: {_digest(CASES[name](spark, tiles).collect())},")
    for name in KERNELS:
        print(f"    {name!r}: {_kernel_digest(KERNELS[name])!r},")
    spark.stop()

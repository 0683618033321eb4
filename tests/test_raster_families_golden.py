"""Byte pins for the algebra, multiband, series, classify and warp operators.

Every output row of the one-row-per-tile operators (``map_algebra``,
``resample_tiles`` bilinear and nearest, ``reclass_tiles``, ``pca_tiles``,
``stretch_tiles`` equalize and linear, ``pansharpen_tiles`` Brovey and
IHS, ``histo_match_tiles``, ``ndvi_emissivity_tiles``, ``anomaly_tiles``
and ``classify_tiles`` nearest and maxlik), of the partials folds
(``band_moments``, ``scene_ranges_df``, ``scene_histograms_df``,
``series_tiles_deep``, ``crosstab_tiles``, ``regression_tiles``,
``maxlik_model_df``), of the models built on them (``kmeans_model_df``,
``pca_model_df``, ``stretch_luts_df``, the histogram-match LUTs), of the
revisit-stack operators (``series_tiles``, ``temporal_aggregate_tiles``,
``gapfill_tiles``, ``accumulate_tiles``) and of ``warp_tiles`` (nearest
and bilinear) on one two-scene fixture is sorted and hashed; the digest
must equal the recorded one.

Both scenes carry three band planes plus a double-resolution pan plane,
ragged right and bottom edge tiles and NaN holes. The planes are
integer-valued (0..255), so every cross-tile float sum is exact and the
folded models do not depend on Spark's summation order. The revisit
series (``series_tiles_deep``, ``anomaly_tiles``) restack the three bands
of each scene as revisits R1..R3 of one footprint; their acquisition
instants (``_META``) are not at midnight, and the two footprints' R1 -> R3
spans (58 and 106 days) straddle the gap-fill case's ``max_gap_days``.
``warp_tiles`` needs a
uniform source grid, so it runs on the scenes cropped to whole tiles.

To re-record after an intended output change:
``python -m tests.test_raster_families_golden`` (from the repo root)
prints the digests.
"""

import hashlib

import numpy as np
import pandas as pd
import pytest

from i_landsat8_swlst_spark import algebra, classify, multiband, series, warp

TW, TH = 9, 8            # 32 % 9, 29 % 8, 22 % 9 and 19 % 8 are all ragged
BANDS = ["b1_bytes", "b2_bytes", "b3_bytes"]
BBOX = {"A": (10.0, 40.0, 12.0, 41.5), "B": (11.0, 40.5, 12.5, 41.7)}


def _scene(seed: int, h: int, w: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    b1 = np.round(120 + 70 * np.sin(xx / 4.3) * np.cos(yy / 3.7))
    b2 = np.clip(np.round(0.6 * b1 + rng.integers(0, 60, (h, w))), 0, 255)
    b3 = np.where((xx + yy) % 11 < 4, 30.0, 200.0) + rng.integers(0, 25, (h, w))
    pan = np.round(np.kron(b1 + b2, np.ones((2, 2))) / 2
                   + rng.integers(0, 9, (2 * h, 2 * w)))
    b1[3:6, 4:7] = np.nan
    b2[h - 3, 2:9] = np.nan
    b3[5:7, w - 4:w - 1] = np.nan
    pan[10:12, 10:14] = np.nan
    return {"b1_bytes": b1, "b2_bytes": b2, "b3_bytes": b3, "pan_bytes": pan}


SCENES = {"A": _scene(311, 29, 32), "B": _scene(313, 19, 22)}


def _tile_rows(planes: dict, sid: str, h: int, w: int) -> list[dict]:
    rows = []
    for ty in range((h + TH - 1) // TH):
        for tx in range((w + TW - 1) // TW):
            ys, xs = slice(ty * TH, (ty + 1) * TH), slice(tx * TW, (tx + 1) * TW)
            th, tw = min(TH, h - ys.start), min(TW, w - xs.start)
            row = {"image_id": f"{sid}/{tx}_{ty}", "scene_id": sid,
                   "tile_x": tx, "tile_y": ty, "w": tw, "h": th}
            for c, p in planes.items():
                sl = ((slice(2 * ys.start, 2 * ys.stop), slice(2 * xs.start, 2 * xs.stop))
                      if c == "pan_bytes" else (ys, xs))
                row[c] = np.ascontiguousarray(p[sl]).astype("<f4").tobytes()
            rows.append(row)
    return rows


def _tiles(spark):
    rows = [r for sid, p in SCENES.items()
            for r in _tile_rows(p, sid, *p["b1_bytes"].shape)]
    return spark.createDataFrame(pd.DataFrame(rows))


def _revisits(spark, current: bool = False):
    """The three bands of each scene as revisits R1..R3 of footprint A/B;
    ``current`` gives revisit R4: band 1 with a hot block."""
    rows = []
    for sid, p in SCENES.items():
        h, w = p["b1_bytes"].shape
        stack = ([p["b1_bytes"] + np.where(np.arange(w) < 12, 90.0, 0.0)]
                 if current else [p[c] for c in BANDS])
        for i, plane in enumerate(stack):
            rid = f"{sid}R{4 if current else i + 1}"
            rows += _tile_rows({"lst_bytes": plane}, rid, h, w)
    return spark.createDataFrame(pd.DataFrame(rows))


_META = {"AR1": "2020-01-03 10:17:31.250", "AR2": "2020-02-11 14:02:05",
         "AR3": "2020-03-01 09:45:12.5", "BR1": "2020-01-05 22:31:07",
         "BR2": "2020-02-27 03:15:44.75", "BR3": "2020-04-21 16:08:59"}


def _meta(spark):
    """Each revisit's acquisition instant."""
    return spark.createDataFrame(pd.DataFrame(
        [{"scene_id": k, "acquired_at": pd.Timestamp(v)} for k, v in _META.items()]))


def _uniform(spark):
    """The scenes cropped to whole tiles, with their geometry."""
    rows, geom = [], []
    for sid, p in SCENES.items():
        h, w = p["b1_bytes"].shape
        nty, ntx = h // TH, w // TW
        rows += _tile_rows({"lst_bytes": p["b1_bytes"][:nty * TH, :ntx * TW]},
                           sid, nty * TH, ntx * TW)
        lon0, lat0, lon1, lat1 = BBOX[sid]
        geom.append({"scene_id": sid, "lon0": lon0, "lat0": lat0, "lon1": lon1,
                     "lat1": lat1, "ntx": ntx, "nty": nty})
    return (spark.createDataFrame(pd.DataFrame(rows)),
            spark.createDataFrame(pd.DataFrame(geom)))


_DST = warp.GridSpec(lon0=10.3, lat0=40.2, lon1=12.4, lat1=41.6,
                     ntx=3, nty=2, tile_w=11, tile_h=9)
_RULES = "0 thru 80 = 1\n81 thru 160 = 2\n200 201 202 = 3\n* = NULL"


def _warp(s, method):
    tiles, geom = _uniform(s)
    return warp.warp_tiles(tiles, geom, _DST, method=method)


def _kmeans(s):
    return classify.kmeans_model_df(_tiles(s), BANDS, k=3, iters=3)


def _maxlik(s):
    return classify.maxlik_model_df(_tiles(s), BANDS, _kmeans(s))


def _ranges(s, col):
    return multiband.scene_ranges_df(_tiles(s), col)


CASES = {
    "algebra": lambda s: algebra.map_algebra(
        _tiles(s), "if_(a > 120, a - b, null())",
        {"a": "b1_bytes", "b": "b2_bytes"}),
    "resample_bilinear": lambda s: algebra.resample_tiles(
        _tiles(s), 1.5, src_col="b1_bytes"),
    "resample_nearest": lambda s: algebra.resample_tiles(
        _tiles(s), 0.5, method="nearest", src_col="b2_bytes"),
    "reclass": lambda s: algebra.reclass_tiles(
        _tiles(s), _RULES, {"x": "b1_bytes"}),
    "band_moments": lambda s: multiband.band_moments(_tiles(s), BANDS),
    "pca_model": lambda s: multiband.pca_model_df(_tiles(s), BANDS, k=2),
    "pca_tiles": lambda s: multiband.pca_tiles(_tiles(s), BANDS, k=2)[0],
    "scene_ranges": lambda s: _ranges(s, "b1_bytes"),
    "scene_histograms": lambda s: multiband.scene_histograms_df(
        _tiles(s), "b2_bytes", _ranges(s, "b2_bytes"), 16),
    "stretch_luts": lambda s: multiband.stretch_luts_df(
        _tiles(s), "b1_bytes", mode="linear", lo_pct=5.0, hi_pct=95.0, bins=32),
    "stretch_equalize": lambda s: multiband.stretch_tiles(
        _tiles(s), "b1_bytes", bins=64)[0],
    "stretch_linear": lambda s: multiband.stretch_tiles(
        _tiles(s), "b3_bytes", mode="linear", lo_pct=5.0, hi_pct=95.0,
        bins=32)[0],
    "pansharpen_brovey": lambda s: multiband.pansharpen_tiles(
        _tiles(s), "pan_bytes", BANDS),
    "pansharpen_ihs": lambda s: multiband.pansharpen_tiles(
        _tiles(s), "pan_bytes", BANDS[:2], method="ihs"),
    "histo_match": lambda s: multiband.histo_match_tiles(
        _tiles(s), "A", "b1_bytes", bins=64)[0],
    "histo_match_luts": lambda s: multiband.histo_match_tiles(
        _tiles(s), "A", "b1_bytes", bins=64)[1],
    "ndvi_emissivity": lambda s: multiband.ndvi_emissivity_tiles(
        _tiles(s), "b1_bytes", "b2_bytes"),
    "series_deep": lambda s: series.series_tiles_deep(_revisits(s), bins=32),
    "series": lambda s: series.series_tiles(_revisits(s)),
    "series_subset": lambda s: series.series_tiles(
        _revisits(s), stats=("median_approx", "max", "count")),
    "temporal_2months": lambda s: series.temporal_aggregate_tiles(
        _revisits(s), _meta(s), "2 months"),
    "gapfill": lambda s: series.gapfill_tiles(_revisits(s), _meta(s)),
    "gapfill_max_gap": lambda s: series.gapfill_tiles(
        _revisits(s), _meta(s), max_gap_days=80.0),
    "accumulate_skip_nulls": lambda s: series.accumulate_tiles(
        _revisits(s), _meta(s), lower=100.0),
    "accumulate_poisoned": lambda s: series.accumulate_tiles(
        _revisits(s), _meta(s), lower=50.0, upper=180.0, skip_nulls=False),
    "crosstab": lambda s: series.crosstab_tiles(
        _tiles(s), "b1_bytes", "b2_bytes", levels_a=5, levels_b=4),
    "regression": lambda s: series.regression_tiles(
        _tiles(s), "b1_bytes", "b2_bytes"),
    "anomaly": lambda s: series.anomaly_tiles(
        _revisits(s), _revisits(s, current=True), k=1.5),
    "kmeans_model": _kmeans,
    "maxlik_model": _maxlik,
    "classify_nearest": lambda s: classify.classify_tiles(
        _tiles(s), BANDS, _kmeans(s)),
    "classify_maxlik": lambda s: classify.classify_tiles(
        _tiles(s), BANDS, _maxlik(s), method="maxlik"),
    "warp_nearest": lambda s: _warp(s, "nearest"),
    "warp_bilinear": lambda s: _warp(s, "bilinear"),
}

DIGESTS = {  # case: (rows, sha256 of the sorted rows)
    "accumulate_poisoned": (75,
        "175e8dec6e65986db52d9f5b0be02c3abce74586d62bef36533fe2ec84e90e74"),
    "accumulate_skip_nulls": (75,
        "40478f40b5deff8af04e2d8089c3a0161619a9a256eb8f37b6c913f982075b58"),
    "algebra": (25,
        "16dd4e7e59a1382b6464742d2ba1f53165a524758656f95568d87d2e0cbeea6b"),
    "anomaly": (25,
        "724a2b621b6e65d415549161e194ac27f6a47bd080f4f34e11383b859ee0d3c7"),
    "band_moments": (2,
        "4f3ae0fb5d63eba035c69e9cc798cf3993141276f287fc954d7833497be63d77"),
    "classify_maxlik": (25,
        "91991b2ebbdc4a06c7d869d4c915984355fefa78b1a5ed75b0c7869081fc4078"),
    "classify_nearest": (25,
        "16300354952c5af72c276e5a2f95f7d89a716215f4bcd2982b906e6bdb49a207"),
    "crosstab": (39,
        "d60e1a5e800b0c73307cc02c4d6d23fdc5fc8bd621a77b1acacf0c0dc5d8b730"),
    "gapfill": (75,
        "cc487103e6ee5816cd34aaaac59ed149247a13edc3ba8c1dc846ca259d50777e"),
    "gapfill_max_gap": (75,
        "50c3dd908b7548cfe4733171e9fdd9304cf8debf8170f065911baed228d4e5da"),
    "histo_match": (25,
        "4ae3093eee0c0549f54b29b27bdd0b6b4c198d0911d7557b18f5f539cf9872f3"),
    "histo_match_luts": (2,
        "2d749b9eb276615a2a28fe8b3c311b410628a43183673a9f87a50ecf9605837d"),
    "kmeans_model": (2,
        "a6a5455a10cb93b448338903f21a98ea2b5c986f0c172e8e574a10198236e5ec"),
    "maxlik_model": (2,
        "5117c43bdb0ad6c50d6b3c4f2a4721610d55454b969c532d54964bd7728f82f1"),
    "ndvi_emissivity": (25,
        "47cb29ecd0a04086ad5e49bacb23c2f820a4d96f14c607ac7d8f1dd9b3a08bfc"),
    "pansharpen_brovey": (25,
        "ab6a204e3058da74fd11e61f1e63181e99b1b61843df13f33bf2a02c8974d319"),
    "pansharpen_ihs": (25,
        "a98f2b17d9b44c51b057acb35a95b19a83176d7fe09f313b20fbcdc3c1d1a1a2"),
    "pca_model": (2,
        "43cb3075c51afd8630320914b9272e4afb81cec40e05f2be54a494ae61e49a9f"),
    "pca_tiles": (25,
        "6f83a436df4a0f7cae5ddbaa912dc64d433086fb0df0189aec8e9fcd3630aa43"),
    "reclass": (25,
        "bd059354909f4b064951b165e9c878363de6a53dfa547f2ad67973bb976123b9"),
    "regression": (2,
        "72c07ea25b9d89ed1ac243a5e3c5ffac2e39a4923c0df6f7e23b5d1aa16830d4"),
    "resample_bilinear": (25,
        "26b667d6dd19181f2c97a3f7983438533ad33f888a7841b5874f3cfc91715b9e"),
    "resample_nearest": (25,
        "e3b8fc893bfc62adc44dec4c629dcd26a1985277c7bf9ab198132f55d64417c5"),
    "scene_histograms": (32,
        "8dc8c467320d8c8de37057db67442268f29699753584e6ca1c0ba1d697040b23"),
    "scene_ranges": (2,
        "879d7cb0541e4fa2d78db1ff47be52d3f5b439b5ff5adff5b153e25cb69dfcd0"),
    "series": (25,
        "c5937a876cd942e4e59a44408115c1d36f36957191ed7a28aa1b7175be92fd5f"),
    "series_deep": (25,
        "4137bfd579b19cbd25d4b54484214c084f1fa0e6caa4304b04f342666deab6b3"),
    "series_subset": (25,
        "f07b96ec93dfdcdc5286411352e4972222f513fd33ae1f944b33edfbbe527734"),
    "stretch_equalize": (25,
        "61f21667993accfa17d666853b367c80336199e058fa49cddaa103405f97e7a2"),
    "stretch_linear": (25,
        "368323b86601637164ba48d6f750edb0de5f7c54da558797041ff95555b8488a"),
    "stretch_luts": (2,
        "eed6ec5f3d92dfe1ba64894fd57715944318dc507c60c05db1a8c646fad275f0"),
    "temporal_2months": (50,
        "f24359c0998a38048b6cece273f85ea50d21d9faacd7dbc88ed81abbe952c79f"),
    "warp_bilinear": (10,
        "1a14556acd2512b770c89f726538a54462424e118efa1df10ba26fa40d360756"),
    "warp_nearest": (10,
        "47764ef97c9ad5f1d757a6cbdb1a78831388248bd11f44aeed7d2fde577a336d"),
}


def _digest(rows) -> tuple[int, str]:
    canon = sorted(repr(tuple(bytes(v) if isinstance(v, bytearray) else v
                              for v in r)) for r in rows)
    return len(canon), hashlib.sha256("\n".join(canon).encode()).hexdigest()


@pytest.mark.parametrize("case", sorted(CASES))
def test_raster_family_output_bytes_pinned(spark, case):
    got = CASES[case](spark).collect()
    assert _digest(got) == DIGESTS[case]


if __name__ == "__main__":
    from i_landsat8_swlst_spark.session import get_spark

    spark = get_spark(app="raster-families-golden", cores=4, shuffle_partitions=8)
    for name in sorted(CASES):
        n, d = _digest(CASES[name](spark).collect())
        print(f'    "{name}": ({n},\n        "{d}"),')
    spark.stop()

"""Byte pins for the four fused-LST tile operators.

Every output row of ``lst_tiles`` (Kelvin with arrays, Celsius with a QA
band, stats-only with a QA band), ``lst_pixels`` (and those pixels
scattered back to tiles by ``rasterize_pixels``),
``lst_tiles_pixel_emissivity`` (constant single plane, varying single
plane with a missing tile, a plane pair with a null band-11 plane) and
``lst_tiles_halo`` (a DN scene and a BT scene) on one two-scene fixture is
sorted and hashed; the digest must equal the recorded one.

Scene A holds DN tiles in three formats (u16le, u16dct, png16) and a QA
band on half of its tiles, with a cloud patch across four tiles; scene B
holds f32bt tiles with NaN holes and its own MTL constants. Both scenes
have ragged right and bottom edge tiles. The band table is coalesced to
one partition, so each operator sees every tile in one Arrow batch: kernel
groups of different shape, format, emissivity, MTL and QA presence
interleave, and scene B's six full BT tiles form a group larger than one
kernel stack.

To re-record after an intended output change:
``python -m tests.test_lst_golden`` (from the repo root) prints the digests.
"""

import hashlib

import numpy as np
import pandas as pd
import pytest

from i_landsat8_swlst_spark import codecs, constants as C, kernels as K, pipeline, synth

TW, TH = 12, 10                      # 40 % 12, 32 % 10 and 23 % 10 are ragged
HALO_WINDOW = 5
DATE = "2024-01-01"
SID_A, SID_B = "LC08_GA", "LC08_GB"
FMTS_A = (codecs.FMT_RAW, codecs.FMT_DCT, codecs.FMT_RAW, codecs.FMT_PNG)
CLASSES_A = ("Forest", "Cropland")
META = {
    SID_A: dict(ml_b10=C.ML_DEFAULT, al_b10=C.AL_DEFAULT, ml_b11=C.ML_DEFAULT,
                al_b11=C.AL_DEFAULT, k1_b10=C.K1_B10, k2_b10=C.K2_B10,
                k1_b11=C.K1_B11, k2_b11=C.K2_B11),
    SID_B: dict(ml_b10=C.ML_DEFAULT * 1.001, al_b10=C.AL_DEFAULT,
                ml_b11=C.ML_DEFAULT, al_b11=C.AL_DEFAULT * 1.01,
                k1_b10=C.K1_B10, k2_b10=C.K2_B10,
                k1_b11=C.K1_B11, k2_b11=C.K2_B11),
}


def _tiles_of(z):
    h, w = z.shape[:2]
    for ty in range((h + TH - 1) // TH):
        for tx in range((w + TW - 1) // TW):
            yield tx, ty, np.ascontiguousarray(
                z[ty * TH:(ty + 1) * TH, tx * TW:(tx + 1) * TW])


def _planes():
    """(sid -> (band-10 plane, band-11 plane, QA plane or None, fmt(tx, ty),
    landcover(tx, ty)))."""
    a = synth.gen_tile(SID_A, 0, 0, 40, 32)
    qa = np.zeros((32, 40), dtype=np.uint16)
    qa[7:14, 9:16] = synth.CLOUD_QA_VALUE          # spans four tiles
    qa[25:29, 30:33] = C.DEFAULT_CLOUD_QA_VALUES[2]
    b = synth.gen_tile(SID_B, 0, 0, 40, 23)
    mb = META[SID_B]
    bt10 = K.dn_to_bt(b["dn10"], mb["ml_b10"], mb["al_b10"], mb["k1_b10"], mb["k2_b10"])
    bt11 = K.dn_to_bt(b["dn11"], mb["ml_b11"], mb["al_b11"], mb["k1_b11"], mb["k2_b11"])
    bt10[4:6, 14:17] = np.nan                       # holes in one band only
    bt11[18:21, 2:5] = np.nan
    bt10[9, 23] = bt11[9, 23] = np.nan
    return {
        SID_A: (a["dn10"], a["dn11"], qa,
                lambda tx, ty: FMTS_A[(tx + ty) % 4],
                lambda tx, ty: CLASSES_A[(tx * ty) % 2]),
        SID_B: (bt10, bt11, None,
                lambda tx, ty: codecs.FMT_BT, lambda tx, ty: "Grasslands"),
    }


def _scene_rows(sids):
    rows = []
    for sid, (p10, p11, qa, fmt_of, lc_of) in _planes().items():
        if sid not in sids:
            continue
        bands = [(10, p10), (11, p11)] + ([(0, qa)] if qa is not None else [])
        for band, plane in bands:
            for tx, ty, t in _tiles_of(plane):
                if band == 0 and (tx + ty) % 2:
                    continue                        # QA on half the tiles
                fmt = codecs.FMT_RAW if band == 0 else fmt_of(tx, ty)
                rows.append({
                    "image_id": synth.image_id(sid, band, tx, ty),
                    "bytes": codecs.encode_tile(t, fmt),
                    "w": np.int32(t.shape[1]), "h": np.int32(t.shape[0]),
                    "fmt": fmt,
                    "caption": synth.caption_for(sid, band, tx, ty, DATE,
                                                 lc_of(tx, ty)),
                    "phash": np.int64(0),
                })
    return rows


def _inputs(spark, sids=(SID_A, SID_B)):
    scenes = spark.createDataFrame(pd.DataFrame(_scene_rows(sids)))
    meta = spark.createDataFrame(pd.DataFrame([
        {"scene_id": sid, **m, "lon0": 10.0 + i, "lat0": 40.0,
         "lon1": 10.5 + i, "lat1": 40.4}
        for i, (sid, m) in enumerate(META.items())]))
    emis = spark.createDataFrame(
        pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    return scenes, meta, emis


def _enriched(spark, with_qa=True, sids=(SID_A, SID_B)):
    return pipeline.build_enriched(*_inputs(spark, sids), with_qa=with_qa).coalesce(1)


def _emis_tiles(spark, kind):
    """Per-tile emissivity planes keyed like the band tiles."""
    rng = np.random.default_rng(97)
    rows = []
    for sid, (p10, *_rest) in sorted(_planes().items()):
        for tx, ty, t in _tiles_of(p10):
            h, w = t.shape
            if kind == "const":
                e = np.full((h, w), 0.96875 if (tx + ty) % 2 else 0.953125, "<f4")
                rows.append({"scene_id": sid, "tile_x": tx, "tile_y": ty,
                             "emis_bytes": e.tobytes()})
                continue
            if kind == "vary" and (sid, tx, ty) == (SID_A, 1, 1):
                continue                            # missing emissivity tile
            e10 = rng.uniform(0.95, 0.995, (h, w)).astype("<f4")
            e10[0, 0] = np.nan                      # a NaN pixel poisons LST
            row = {"scene_id": sid, "tile_x": tx, "tile_y": ty,
                   "emis_bytes": e10.tobytes()}
            if kind == "pair":
                e11 = rng.uniform(0.94, 0.99, (h, w)).astype("<f4")
                null11 = (sid, tx, ty) == (SID_B, 2, 1)
                row["e11_bytes"] = None if null11 else e11.tobytes()
            rows.append(row)
    return spark.createDataFrame(pd.DataFrame(rows))


def _pixels(spark):
    scenes, meta, emis = _inputs(spark)
    return pipeline.lst_pixels(
        pipeline.build_enriched_with_grid(scenes, meta, emis).coalesce(1),
        window=5)


CASES = {
    "lst_tiles_k": lambda s: pipeline.lst_tiles(_enriched(s, with_qa=False)),
    "lst_tiles_c_qa": lambda s: pipeline.lst_tiles(
        _enriched(s), window=5, celsius=True),
    "lst_tiles_stats_qa": lambda s: pipeline.lst_tiles(
        _enriched(s), emit_arrays=False),
    "lst_pixels": _pixels,
    "rasterize_pixels": lambda s: pipeline.rasterize_pixels(_pixels(s), TW, TH),
    "emis_const": lambda s: pipeline.lst_tiles_pixel_emissivity(
        _enriched(s), _emis_tiles(s, "const"), window=5),
    "emis_vary": lambda s: pipeline.lst_tiles_pixel_emissivity(
        _enriched(s), _emis_tiles(s, "vary"), window=5, celsius=True),
    "emis_pair": lambda s: pipeline.lst_tiles_pixel_emissivity(
        _enriched(s), _emis_tiles(s, "pair"), window=5,
        e11_col="e11_bytes", emit_arrays=False),
    "halo_dn": lambda s: pipeline.lst_tiles_halo(
        _enriched(s, with_qa=False, sids=(SID_A,)), window=HALO_WINDOW),
    "halo_bt": lambda s: pipeline.lst_tiles_halo(
        _enriched(s, with_qa=False, sids=(SID_B,)), window=HALO_WINDOW),
}

DIGESTS = {  # case: (rows, sha256 of the sorted rows)
    "emis_const": (28,
        "749b0af2fe61938df44f5ddc544fec990516809de3c531672390cf1fb09aaeca"),
    "emis_pair": (28,
        "92ca14811a0f37f0510dcb77448be581cad0c273acc2fb09d66a12c0f9f3bcae"),
    "emis_vary": (28,
        "78d7d8f54a3e0c36af7ba5ee690d71e18ca5c04e79de2d49fca215186ab5d78b"),
    "halo_bt": (12,
        "688c03b5b7d3cbe854e04ad82c0b2aea226c23aea4d6714654860ed69d207696"),
    "halo_dn": (16,
        "8dc28f533fe3b67e353597ce23e7b5ce539baa1c9baaec28c8f8bec97d065599"),
    "lst_pixels": (679,
        "0cf64a78296628a958b03a432736b52e967fb3ed7b0413f3ca88c40e75d367d8"),
    "lst_tiles_c_qa": (28,
        "1bfff650f93d075f9379e20ee93680299e1a1897a2ca909c845f3dc5d6d75f28"),
    "lst_tiles_k": (28,
        "c84776d543044c7a9621d13f50822f238ca9f7a6e7d3ba037139e5c167c0a740"),
    "lst_tiles_stats_qa": (28,
        "083cc0749a6026586cd0391501eba9cbf3413d4668e59a01cda1e595d7de39d8"),
    "rasterize_pixels": (15,
        "e174c810b55bf1a7512e4402fd6473fd11afff9c7c1be9919f3bf7ab1a9dce88"),
}


def _digest(rows) -> tuple[int, str]:
    canon = sorted(repr(tuple(bytes(v) if isinstance(v, bytearray) else v
                              for v in r)) for r in rows)
    return len(canon), hashlib.sha256("\n".join(canon).encode()).hexdigest()


@pytest.mark.parametrize("case", sorted(CASES))
def test_lst_output_bytes_pinned(spark, case):
    got = CASES[case](spark).collect()
    assert _digest(got) == DIGESTS[case]


if __name__ == "__main__":
    from i_landsat8_swlst_spark.session import get_spark

    spark = get_spark(app="lst-golden", cores=4, shuffle_partitions=8)
    for name in sorted(CASES):
        n, d = _digest(CASES[name](spark).collect())
        print(f'    "{name}": ({n},\n        "{d}"),')
    spark.stop()

"""Halo exchange parity: the cross-tile pipeline must equal a whole-scene
mosaic computed in numpy (windows see across tile borders; NULL only at true
scene edges)."""

import numpy as np
import pandas as pd
import pytest

from i_landsat8_swlst_spark import codecs, constants as C, kernels as K, pipeline, synth

WINDOW = 5
R = WINDOW // 2


@pytest.fixture(scope="module")
def tiny(spark):
    scenes = spark.createDataFrame(synth.scenes_pdf("tiny"))
    meta = spark.createDataFrame(synth.scene_meta_pdf("tiny"))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    return scenes, meta, emis


def _scene_mosaic(sid: str, ntx: int, nty: int, w: int, h: int):
    """Decoded DN mosaic for both bands + per-tile landcover grid."""
    m10 = np.zeros((nty * h, ntx * w))
    m11 = np.zeros((nty * h, ntx * w))
    lc = {}
    for ty in range(nty):
        for tx in range(ntx):
            t = synth.gen_tile(sid, tx, ty, w, h)
            lossy = synth.stable_hash(sid, tx, ty, "fmt") % 4 == 0
            fmt = codecs.FMT_DCT if lossy else codecs.FMT_RAW
            d10 = codecs.decode_tile(codecs.encode_tile(t["dn10"], fmt), w, h, fmt)
            d11 = codecs.decode_tile(codecs.encode_tile(t["dn11"], fmt), w, h, fmt)
            m10[ty * h:(ty + 1) * h, tx * w:(tx + 1) * w] = d10
            m11[ty * h:(ty + 1) * h, tx * w:(tx + 1) * w] = d11
            lc[(tx, ty)] = t["landcover"]
    return m10, m11, lc


def test_halo_matches_whole_scene_oracle(spark, tiny):
    scenes, meta, emis = tiny
    enriched = pipeline.build_enriched(scenes, meta, emis)
    halo = pipeline.lst_tiles_halo(enriched, window=WINDOW)
    got = {(r.scene_id, r.tile_x, r.tile_y): r
           for r in halo.filter("scene_id = 'LC08_00001'").collect()}
    assert len(got) == 16  # 4x4 tiles

    m10, m11, lc = _scene_mosaic("LC08_00001", 4, 4, 32, 32)
    metad = dict(ml_b10=C.ML_DEFAULT, al_b10=C.AL_DEFAULT, ml_b11=C.ML_DEFAULT,
                 al_b11=C.AL_DEFAULT, k1_b10=C.K1_B10, k2_b10=C.K2_B10,
                 k1_b11=C.K1_B11, k2_b11=C.K2_B11)
    bt10 = K.dn_to_bt(m10, metad["ml_b10"], metad["al_b10"], metad["k1_b10"], metad["k2_b10"])
    bt11 = K.dn_to_bt(m11, metad["ml_b11"], metad["al_b11"], metad["k1_b11"], metad["k2_b11"])
    cwv_full = K.cwv(bt10, bt11, WINDOW)

    eb = C.emissivities_by_class()
    for (sid, tx, ty), row in got.items():
        lst = np.frombuffer(row.lst_bytes, dtype="<f4").reshape(32, 32)
        cwv_tile = np.frombuffer(row.cwv_bytes, dtype="<f4").reshape(32, 32)
        exp_cwv = cwv_full[ty * 32:(ty + 1) * 32, tx * 32:(tx + 1) * 32]
        both_nan = np.isnan(cwv_tile) & np.isnan(exp_cwv)
        close = np.isclose(cwv_tile, exp_cwv, rtol=1e-5, atol=1e-5)
        assert np.all(both_nan | close), (tx, ty)
        # interior tiles have NO NaN *window edge* (halo filled it): every
        # NaN left must come from out-of-range CWV, not missing neighbors
        if 0 < tx < 3 and 0 < ty < 3:
            assert np.isfinite(exp_cwv).all()
            assert row.n_valid == int(np.isfinite(
                K.lst_from_bt(np.zeros((32, 32)) + 280.0, np.zeros((32, 32)) + 279.0,
                              exp_cwv, 0.97, 0.96)[0]).sum()), (tx, ty)
        # scene-corner tile keeps NaN exactly on the true scene edge
        if tx == 0 and ty == 0:
            assert np.all(np.isnan(lst[:R, :])) and np.all(np.isnan(lst[:, :R]))
        e = eb[lc[(tx, ty)]]
        et10 = bt10[ty * 32:(ty + 1) * 32, tx * 32:(tx + 1) * 32]
        et11 = bt11[ty * 32:(ty + 1) * 32, tx * 32:(tx + 1) * 32]
        exp_lst, _ = K.lst_from_bt(et10, et11, exp_cwv, e.emissivity_b10, e.emissivity_b11)
        lnan = np.isnan(lst) & np.isnan(exp_lst)
        lclose = np.isclose(lst, exp_lst, rtol=1e-5, atol=1e-4)
        assert np.all(lnan | lclose), (tx, ty)


def test_halo_interior_matches_tile_local(spark, tiny):
    """Pixels whose window never crosses a tile border are identical in both
    modes (the halo changes only border bands)."""
    scenes, meta, emis = tiny
    enriched = pipeline.build_enriched(scenes, meta, emis)
    local = {(r.scene_id, r.tile_x, r.tile_y): r
             for r in pipeline.lst_tiles(enriched, window=WINDOW)
             .filter("scene_id = 'LC08_00000'").collect()}
    halo = {(r.scene_id, r.tile_x, r.tile_y): r
            for r in pipeline.lst_tiles_halo(enriched, window=WINDOW)
            .filter("scene_id = 'LC08_00000'").collect()}
    assert set(local) == set(halo)
    for k in local:
        a = np.frombuffer(local[k].lst_bytes, dtype="<f4").reshape(32, 32)
        b = np.frombuffer(halo[k].lst_bytes, dtype="<f4").reshape(32, 32)
        inner = (slice(R, 32 - R), slice(R, 32 - R))
        np.testing.assert_allclose(a[inner], b[inner], rtol=1e-6, equal_nan=True)


def _bt_scene_rows(sid: str, ntx: int, nty: int, w: int, h: int):
    """f32bt tiles for one scene + the f32-rounded BT mosaic oracle inputs."""
    meta = dict(ml_b10=C.ML_DEFAULT, al_b10=C.AL_DEFAULT, ml_b11=C.ML_DEFAULT,
                al_b11=C.AL_DEFAULT, k1_b10=C.K1_B10, k2_b10=C.K2_B10,
                k1_b11=C.K1_B11, k2_b11=C.K2_B11)
    m10 = np.zeros((nty * h, ntx * w))
    m11 = np.zeros((nty * h, ntx * w))
    rows, lc = [], {}
    for ty in range(nty):
        for tx in range(ntx):
            t = synth.gen_tile(sid, tx, ty, w, h)
            bt10 = K.dn_to_bt(t["dn10"], meta["ml_b10"], meta["al_b10"],
                              meta["k1_b10"], meta["k2_b10"])
            bt11 = K.dn_to_bt(t["dn11"], meta["ml_b11"], meta["al_b11"],
                              meta["k1_b11"], meta["k2_b11"])
            # the stored payload is f32: the oracle sees the same rounding
            m10[ty * h:(ty + 1) * h, tx * w:(tx + 1) * w] = bt10.astype("<f4")
            m11[ty * h:(ty + 1) * h, tx * w:(tx + 1) * w] = bt11.astype("<f4")
            lc[(tx, ty)] = t["landcover"]
            for band, bt in ((10, bt10), (11, bt11)):
                rows.append({
                    "image_id": synth.image_id(sid, band, tx, ty),
                    "bytes": codecs.encode_f32bt(bt),
                    "w": np.int32(w), "h": np.int32(h), "fmt": codecs.FMT_BT,
                    "caption": synth.caption_for(sid, band, tx, ty,
                                                 "2024-01-01", t["landcover"]),
                    "phash": np.int64(0),
                })
    return rows, m10, m11, lc, meta


def test_halo_bt_input_matches_mosaic_oracle(spark):
    """ADVICE r2 (medium): a f32bt band pair through the halo path must NOT
    be truncated to uint16 / double-converted — it must equal the whole-scene
    mosaic kernel run with bt_input=True."""
    sid, ntx, nty, w, h = "LC08_00000", 2, 2, 32, 32
    rows, m10, m11, lc, meta = _bt_scene_rows(sid, ntx, nty, w, h)
    scenes = spark.createDataFrame(pd.DataFrame(rows))
    meta_df = spark.createDataFrame(synth.scene_meta_pdf("tiny"))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    halo = pipeline.lst_tiles_halo(
        pipeline.build_enriched(scenes, meta_df, emis), window=WINDOW)
    got = {(r.tile_x, r.tile_y): r for r in halo.collect()}
    assert len(got) == ntx * nty

    cwv_full = K.cwv(m10, m11, WINDOW)
    eb = C.emissivities_by_class()
    for (tx, ty), row in got.items():
        lst = np.frombuffer(row.lst_bytes, dtype="<f4").reshape(h, w)
        cwv_tile = np.frombuffer(row.cwv_bytes, dtype="<f4").reshape(h, w)
        sl = (slice(ty * h, (ty + 1) * h), slice(tx * w, (tx + 1) * w))
        exp_cwv = cwv_full[sl]
        ok = (np.isnan(cwv_tile) & np.isnan(exp_cwv)) | np.isclose(
            cwv_tile, exp_cwv, rtol=1e-5, atol=1e-5)
        assert ok.all(), (tx, ty)
        e = eb[lc[(tx, ty)]]
        exp_lst, _ = K.lst_from_bt(m10[sl], m11[sl], exp_cwv,
                                   e.emissivity_b10, e.emissivity_b11)
        ok = (np.isnan(lst) & np.isnan(exp_lst)) | np.isclose(
            lst, exp_lst, rtol=1e-5, atol=1e-4)
        assert ok.all(), (tx, ty)
        # sanity: values are Kelvin, not DN-of-truncated-float garbage
        finite = lst[np.isfinite(lst)]
        assert finite.size and 150.0 < finite.mean() < 400.0


def test_halo_mixed_dn_bt_pair_raises(spark):
    """Mixed DN/BT band pairs must fail loudly in the halo path too (the
    batch path already raises)."""
    sid, w, h = "LC08_00000", 32, 32
    rows, *_ = _bt_scene_rows(sid, 1, 1, w, h)
    t = synth.gen_tile(sid, 0, 0, w, h)
    # replace band 11 with a raw-DN tile -> mixed pair
    rows = [r for r in rows if "/B11/" not in r["image_id"]]
    rows.append({
        "image_id": synth.image_id(sid, 11, 0, 0),
        "bytes": codecs.encode_tile(t["dn11"], codecs.FMT_RAW),
        "w": np.int32(w), "h": np.int32(h), "fmt": codecs.FMT_RAW,
        "caption": synth.caption_for(sid, 11, 0, 0, "2024-01-01", t["landcover"]),
        "phash": np.int64(0),
    })
    scenes = spark.createDataFrame(pd.DataFrame(rows))
    meta_df = spark.createDataFrame(synth.scene_meta_pdf("tiny"))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    halo = pipeline.lst_tiles_halo(
        pipeline.build_enriched(scenes, meta_df, emis), window=WINDOW)
    with pytest.raises(Exception, match="mixed DN/BT band pair"):
        halo.collect()


def test_halo_cross_tile_mixed_bt_raises(spark):
    """ADVICE r3 (low): a scene mixing f32bt tiles with DN tiles must fail
    loudly in halo ASSEMBLY — each tile's own band pair is consistent (the
    per-tile guard passes) but a neighbor strip of the other semantics would
    silently mosaic DN counts into a Kelvin plane at the border."""
    sid, w, h = "LC08_00000", 32, 32
    rows, *_ = _bt_scene_rows(sid, 1, 1, w, h)   # tile (0,0): f32bt pair
    t = synth.gen_tile(sid, 1, 0, w, h)          # tile (1,0): raw-DN pair
    for band, dn in ((10, t["dn10"]), (11, t["dn11"])):
        rows.append({
            "image_id": synth.image_id(sid, band, 1, 0),
            "bytes": codecs.encode_tile(dn, codecs.FMT_RAW),
            "w": np.int32(w), "h": np.int32(h), "fmt": codecs.FMT_RAW,
            "caption": synth.caption_for(sid, band, 1, 0, "2024-01-01",
                                         t["landcover"]),
            "phash": np.int64(0),
        })
    scenes = spark.createDataFrame(pd.DataFrame(rows))
    meta_df = spark.createDataFrame(synth.scene_meta_pdf("tiny"))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    halo = pipeline.lst_tiles_halo(
        pipeline.build_enriched(scenes, meta_df, emis), window=WINDOW)
    with pytest.raises(Exception, match="mixed DN/BT strips"):
        halo.collect()


def test_halo_plane_margin_exceeds_tile_raises(spark):
    """Regression (ADVICE r4): a tile smaller than the halo margin must
    fail loudly — slice(w - r, w) would wrap and silently corrupt the
    padded plane."""
    import numpy as np
    import pandas as pd
    import pytest

    from i_landsat8_swlst_spark.pipeline import halo_plane_tiles

    t = np.arange(6, dtype="<f4").reshape(2, 3)
    tiles = spark.createDataFrame(pd.DataFrame([{
        "scene_id": "S", "tile_x": 0, "tile_y": 0, "w": 3, "h": 2,
        "lst_bytes": t.tobytes()}]))
    with pytest.raises(Exception, match="halo margin"):
        halo_plane_tiles(tiles, r=3).collect()


def test_halo_lst_margin_exceeds_tile_raises(spark):
    """The band-pair halo shares halo_plane_tiles' strip geometry and its
    guard: 2-px tiles under a 7-px window (margin 3) must raise instead of
    wrapping slice(w - r, w) and left-aligning the short strip in the pad,
    which silently differs from the whole-scene mosaic."""
    sid, w, h = "LC08_00000", 2, 2
    rows = []
    for ty in range(3):
        for tx in range(3):
            t = synth.gen_tile(sid, tx, ty, w, h)
            for band in (10, 11):
                rows.append({
                    "image_id": synth.image_id(sid, band, tx, ty),
                    "bytes": codecs.encode_tile(t[f"dn{band}"], codecs.FMT_RAW),
                    "w": np.int32(w), "h": np.int32(h), "fmt": codecs.FMT_RAW,
                    "caption": synth.caption_for(sid, band, tx, ty, "2024-01-01",
                                                 t["landcover"]),
                    "phash": np.int64(0),
                })
    scenes = spark.createDataFrame(pd.DataFrame(rows))
    meta_df = spark.createDataFrame(synth.scene_meta_pdf("tiny"))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    halo = pipeline.lst_tiles_halo(
        pipeline.build_enriched(scenes, meta_df, emis), window=7)
    with pytest.raises(Exception, match="halo margin r=3 exceeds tile dims 2x2"):
        halo.collect()

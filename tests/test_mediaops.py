"""Multimodal plumbing: schemas, Arrow batch shape, fmt dispatch, and the
numpy-oracle parity of the real (non-stubbed) media kernels."""

import numpy as np
import pytest

from i_landsat8_swlst_spark import codecs, mediaops, synth


def _tiny_scene_df(spark):
    pdf = synth.scenes_pdf("tiny")
    return spark.createDataFrame(pdf)


def test_overviews_match_numpy_pooling(spark):
    scenes = _tiny_scene_df(spark).limit(4)
    src = {r["image_id"]: r for r in scenes.collect()}
    out = mediaops.tile_overviews(scenes, levels=(2, 4)).collect()
    assert out, "no overview rows"
    seen_levels = set()
    for r in out:
        s = src[r["image_id"]]
        img = codecs.decode_tile(bytes(s["bytes"]), s["w"], s["h"], s["fmt"])
        L = r["level"]
        hh, ww = (s["h"] // L) * L, (s["w"] // L) * L
        exp = img[:hh, :ww].reshape(hh // L, L, ww // L, L).mean(axis=(1, 3))
        got = np.frombuffer(bytes(r["bytes"]), dtype="<u2").reshape(r["h"], r["w"])
        assert r["w"] == ww // L and r["h"] == hh // L
        assert np.allclose(got, np.round(exp)), (r["image_id"], L)
        assert r["px_mean"] == round(float(exp.mean()), 6)
        seen_levels.add(L)
    assert seen_levels == {2, 4}


def test_overview_pool_writes_nan_blocks_as_dn0_without_a_cast_warning():
    """A block holding a NaN pixel becomes DN 0 by an explicit fill, not an
    undefined float -> u16 cast (which numpy warns about)."""
    import warnings

    img = np.arange(30, dtype=np.float64).reshape(5, 6) + 300.0
    img[1, 2] = np.nan
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        pooled, dn = mediaops._pool(img, 2)
    want = np.round(img[:4, :6].reshape(2, 2, 3, 2).mean(axis=(1, 3)))
    want[0, 1] = 0.0
    assert pooled.shape == (2, 3) and np.isnan(pooled[0, 1])
    assert np.array_equal(np.frombuffer(dn, "<u2").reshape(2, 3), want)


def test_frame_sample_exact_slices(spark):
    pdf = mediaops.videos_pdf(n=3, frames=10, w=8, h=8)
    videos = spark.createDataFrame(pdf)
    rows = mediaops.frame_sample(videos, every=3).collect()
    # frames 0,3,6,9 per video
    by_vid = {}
    for r in rows:
        by_vid.setdefault(r["video_id"], []).append(r)
    assert set(by_vid) == set(pdf["video_id"])
    stride = 2 * 8 * 8
    for vid, rs in by_vid.items():
        src = bytes(pdf.loc[pdf.video_id == vid, "bytes"].iloc[0])
        assert sorted(r["frame_idx"] for r in rs) == [0, 3, 6, 9]
        for r in rs:
            exp = src[r["frame_idx"] * stride:(r["frame_idx"] + 1) * stride]
            assert bytes(r["bytes"]) == exp
            assert r["w"] == 8 and r["h"] == 8


def test_frame_sample_unknown_container_raises(spark):
    pdf = mediaops.videos_pdf(n=1)
    pdf["fmt"] = "mp4"
    with pytest.raises(Exception, match="mp4"):
        mediaops.frame_sample(spark.createDataFrame(pdf), every=2).collect()


def test_audio_features_vs_numpy(spark):
    pdf = mediaops.audio_pdf(n=4, samples=1024)
    rows = {r["clip_id"]: r for r in
            mediaops.audio_features(spark.createDataFrame(pdf)).collect()}
    for _, src in pdf.iterrows():
        sig = np.frombuffer(src["bytes"], dtype="<i2").astype(np.float64)
        r = rows[src["clip_id"]]
        assert r["n_samples"] == 1024
        assert r["rms"] == round(float(np.sqrt(np.mean(sig * sig))), 6)
        assert r["zero_crossings"] == int(np.count_nonzero(np.diff(np.signbit(sig))))


def test_media_meta_catalogues_unknown_fmt(spark):
    pdf = synth.scenes_pdf("tiny").head(4).copy()
    pdf.loc[pdf.index[-1], "fmt"] = "jpeg"  # no image libs in container
    out = {r["image_id"]: r for r in
           mediaops.media_meta(spark.createDataFrame(pdf)).collect()}
    assert len(out) == 4
    jpeg_id = pdf.iloc[-1]["image_id"]
    for iid, r in out.items():
        if iid == jpeg_id:
            assert r["decoded"] == 0 and r["px_mean"] is None
        else:
            assert r["decoded"] == 1 and 0.0 <= r["px_min"] <= r["px_max"] <= 65535.0
        assert r["n_bytes"] > 0


def test_determinism_of_media_fixtures():
    a, b = mediaops.videos_pdf(n=2), mediaops.videos_pdf(n=2)
    assert all(bytes(x) == bytes(y) for x, y in zip(a["bytes"], b["bytes"]))
    c, d = mediaops.audio_pdf(n=2), mediaops.audio_pdf(n=2)
    assert all(bytes(x) == bytes(y) for x, y in zip(c["bytes"], d["bytes"]))


def test_phash_neardup_matches_bruteforce(spark):
    import pandas as pd

    pdf = synth.scenes_pdf("tiny")[["image_id", "phash"]]
    dups = pdf.iloc[:5].copy()
    dups["image_id"] = dups["image_id"] + "/dup"
    # flip 1..3 bits -> hamming 1..3 vs the original (within banding recall)
    flips = [(1 << 3), (1 << 3) | (1 << 40), (1 << 0) | (1 << 21) | (1 << 63),
             (1 << 17), (1 << 50) | (1 << 51)]
    dups["phash"] = [int(p) ^ f for p, f in zip(dups["phash"], flips)]
    dups["phash"] = dups["phash"].astype("int64")
    all_pdf = pd.concat([pdf, dups], ignore_index=True)

    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in
           mediaops.phash_neardup(spark.createDataFrame(all_pdf), max_hamming=3).collect()}

    # brute-force all-pairs popcount oracle
    ids = all_pdf["image_id"].tolist()
    ph = all_pdf["phash"].astype("int64").to_numpy().astype(np.uint64)
    exp = {}
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j]:
                h = int(bin(int(ph[i]) ^ int(ph[j])).count("1"))
                if h <= 3:
                    exp[(ids[i], ids[j])] = h
    assert got == exp
    assert len(exp) >= 5  # the injected duplicates must all be found

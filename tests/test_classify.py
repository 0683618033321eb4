"""i.cluster / i.maxlik analogs vs serial numpy oracles.

The oracle replays the EXACT algorithm on the mosaicked whole-scene
stack: identical deterministic init (mean ± std diagonal), identical
Lloyd update with empty-class-keeps-center, identical elementwise
distance form and lowest-index tie-breaks. Cross-tile sum order is
nondeterministic in Spark, so model parameters compare at 1e-8 rtol;
pixel ASSIGNMENTS compare exactly, on margin-separated blobs where an
ulp of center drift cannot flip a pixel."""

import numpy as np
import pandas as pd
import pytest

from i_landsat8_swlst_spark import classify, series

BANDS = ["b1_bytes", "b2_bytes", "b3_bytes"]


def _blob_tiles(spark, seed=11, scenes=("S0", "S1"), tw=16, th=12,
                nx=3, ny=2, n_blobs=3, spread=0.5, sep=40.0):
    """Tiled multi-band table whose pixels draw from n_blobs tight,
    well-separated Gaussian blobs (+ NaN holes); returns (df, mosaics)."""
    rng = np.random.default_rng(seed)
    rows, mosaics = [], {}
    B = len(BANDS)
    for si, s in enumerate(scenes):
        H, W = th * ny + 5, tw * nx + 7          # ragged edges
        lab = rng.integers(0, n_blobs, (H, W))
        mus = np.stack([sep * (j + 1) * (1 + 0.1 * si) * np.arange(1, B + 1)
                        for j in range(n_blobs)])
        stack = mus[lab] + rng.normal(0.0, spread, (H, W, B))
        stack[rng.random((H, W)) < 0.05] = np.nan
        hole = rng.random((H, W)) < 0.03
        stack[hole, 1] = np.nan                  # single-band hole kills px
        mosaics[s] = stack
        for ty in range(ny + 1):
            for tx in range(nx + 1):
                t = stack[ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw]
                if t.size == 0:
                    continue
                h, w = t.shape[:2]
                row = {"image_id": f"{s}-img", "scene_id": s,
                       "tile_x": tx, "tile_y": ty, "w": w, "h": h}
                for b, c in enumerate(BANDS):
                    row[c] = t[:, :, b].astype("<f4").tobytes()
                rows.append(row)
    return spark.createDataFrame(pd.DataFrame(rows)), mosaics


def _oracle_kmeans(stack, k, iters):
    """Serial Lloyd with the module's exact init/update/tie-break rules."""
    B = stack.shape[2]
    x = stack.reshape(-1, B).astype(np.float32).astype(np.float64)
    x = x[np.isfinite(x).all(axis=1)]
    mean, std = x.mean(axis=0), x.std(axis=0, ddof=1)
    f = np.zeros(1) if k == 1 else 2.0 * np.arange(k) / (k - 1) - 1.0
    centers = mean[None, :] + f[:, None] * std[None, :]
    for _ in range(iters):
        d = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for c in range(k):
            if (a == c).any():
                centers[c] = x[a == c].mean(axis=0)
    d = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    return centers, d.argmin(axis=1), x


def _mosaic_classes(pdf, scene, H, W):
    plane = np.full((H, W), 255, dtype=np.uint8)
    for _, r in pdf[pdf.scene_id == scene].iterrows():
        t = np.frombuffer(r.class_bytes, dtype=np.uint8).reshape(r.h, r.w)
        plane[r.tile_y * 12:r.tile_y * 12 + r.h,
              r.tile_x * 16:r.tile_x * 16 + r.w] = t
    return plane


def test_kmeans_matches_serial_lloyd(spark):
    df, mosaics = _blob_tiles(spark)
    k, iters = 3, 6
    model = classify.kmeans_model_df(df, BANDS, k=k, iters=iters)
    out = classify.classify_tiles(df, BANDS, model, method="nearest")
    pdf = out.toPandas()
    models = {r["scene_id"]: r for r in model.collect()}
    for s, stack in mosaics.items():
        centers, a, xv = _oracle_kmeans(stack, k, iters)
        got = np.asarray(models[s]["centers"]).reshape(k, len(BANDS))
        assert np.allclose(got, centers, rtol=1e-8)
        # per-class sizes from the last Lloyd pass
        want_counts = np.bincount(
            ((xv[:, None, :] - centers[None]) ** 2).sum(2).argmin(1),
            minlength=k)
        # model counts come from the LAST update scan (assignment against
        # the penultimate centers) — compare classify output instead
        H, W = stack.shape[:2]
        plane = _mosaic_classes(pdf, s, H, W)
        valid = np.isfinite(stack).all(axis=2)
        assert (plane[~valid] == 255).all()
        flat = plane[valid]
        assert flat.shape[0] == xv.shape[0]
        assert (flat == a).all()          # exact assignment parity
        assert (np.bincount(flat, minlength=k) == want_counts).all()


def test_kmeans_empty_class_keeps_center(spark):
    # k exceeds the blob count: far-out seeds never win a pixel and must
    # keep their previous (init) center, exactly like the oracle's rule
    df, mosaics = _blob_tiles(spark, scenes=("S0",), n_blobs=2)
    k, iters = 5, 4
    model = classify.kmeans_model_df(df, BANDS, k=k, iters=iters)
    r = model.collect()[0]
    centers, _, _ = _oracle_kmeans(mosaics["S0"], k, iters)
    assert np.allclose(np.asarray(r["centers"]).reshape(k, -1), centers,
                       rtol=1e-8)
    assert 0 in r["counts"]               # at least one empty class existed


def test_maxlik_matches_numpy_discriminant(spark):
    df, mosaics = _blob_tiles(spark, spread=2.0)
    k, iters = 3, 6
    km = classify.kmeans_model_df(df, BANDS, k=k, iters=iters)
    ml = classify.maxlik_model_df(df, BANDS, km)
    out = classify.classify_tiles(df, BANDS, ml, method="maxlik")
    pdf = out.toPandas()
    for s, stack in mosaics.items():
        centers, a, xv = _oracle_kmeans(stack, k, iters)
        B = len(BANDS)
        means = np.zeros((k, B)); invcov = np.zeros((k, B, B))
        logdet = np.zeros(k)
        for c in range(k):
            sel = xv[a == c]
            mu = sel.mean(axis=0)
            cov = np.cov(sel, rowvar=False, ddof=1)
            means[c], invcov[c] = mu, np.linalg.inv(cov)
            logdet[c] = np.linalg.slogdet(cov)[1]
        g = np.stack([
            -0.5 * logdet[c]
            - 0.5 * np.einsum("nb,nb->n", (xv - means[c]) @ invcov[c],
                              xv - means[c]) for c in range(k)], axis=1)
        want = g.argmax(axis=1)
        mrow = {r["scene_id"]: r for r in ml.collect()}[s]
        assert np.allclose(np.asarray(mrow["means"]).reshape(k, B), means,
                           rtol=1e-7)
        assert np.allclose(np.asarray(mrow["logdet"]), logdet, rtol=1e-7)
        H, W = stack.shape[:2]
        plane = _mosaic_classes(pdf, s, H, W)
        valid = np.isfinite(stack).all(axis=2)
        got = plane[valid]
        # identical data, ~ulp model drift: demand exact agreement on all
        # but a vanishing fraction near discriminant ties, then exact
        # equality where the margin is non-trivial
        margin = np.sort(g, axis=1)
        tight = (margin[:, -1] - margin[:, -2]) < 1e-6
        assert (got[~tight] == want[~tight]).all()
        assert tight.mean() < 0.01


def test_maxlik_ridge_on_degenerate_class(spark):
    # a constant-valued blob has zero covariance -> ridge path must still
    # produce finite invertible signatures and classify deterministically
    rng = np.random.default_rng(3)
    H, W, B = 24, 32, len(BANDS)
    stack = np.where(rng.random((H, W, 1)) < 0.5,
                     np.full((H, W, B), 100.0),
                     rng.normal(200.0, 1.0, (H, W, B)))
    rows = [{"image_id": "d-img", "scene_id": "D", "tile_x": 0, "tile_y": 0,
             "w": W, "h": H,
             **{c: stack[:, :, b].astype("<f4").tobytes()
                for b, c in enumerate(BANDS)}}]
    df = spark.createDataFrame(pd.DataFrame(rows))
    km = classify.kmeans_model_df(df, BANDS, k=2, iters=4)
    ml = classify.maxlik_model_df(df, BANDS, km)
    r = ml.collect()[0]
    assert np.isfinite(np.asarray(r["invcov"])).all()
    assert np.isfinite(np.asarray(r["logdet"])).all()
    out = classify.classify_tiles(df, BANDS, ml, method="maxlik").collect()[0]
    plane = np.frombuffer(out["class_bytes"], dtype=np.uint8)
    assert set(np.unique(plane)) <= {0, 1}


def test_classify_missing_scene_and_bad_method(spark):
    df, _ = _blob_tiles(spark, scenes=("S0",))
    model = classify.kmeans_model_df(df, BANDS, k=2, iters=2)
    other = df.withColumn("scene_id",
                          df.scene_id.substr(1, 1))  # "S" — not in model
    out = classify.classify_tiles(other, BANDS, model).collect()
    assert all(set(np.frombuffer(r["class_bytes"], dtype=np.uint8)) == {255}
               for r in out)
    assert all(r["n_valid"] == 0 or
               np.isnan(np.frombuffer(r["score_bytes"], dtype=np.float32)).all()
               for r in out)
    with pytest.raises(ValueError):
        classify.classify_tiles(df, BANDS, model, method="qda")
    with pytest.raises(ValueError):
        classify.kmeans_model_df(df, BANDS, k=0)


def test_kappa_stats_vs_numpy(spark):
    # cross-tab two classifications of the same scene and check kappa
    # against a literal numpy confusion-matrix computation
    rng = np.random.default_rng(5)
    n, k = 4000, 4
    a = rng.integers(0, k, n)
    flip = rng.random(n) < 0.25
    bcls = np.where(flip, rng.integers(0, k, n), a)
    pdf = pd.DataFrame({"scene_id": "S0", "class_a": a, "class_b": bcls,
                        "n_px": 1})
    # some NULL rows that must be excluded
    pdf = pd.concat([pdf, pd.DataFrame(
        {"scene_id": "S0", "class_a": [-1, 2], "class_b": [1, -1],
         "n_px": [7, 9]})], ignore_index=True)
    ct = spark.createDataFrame(pdf)
    out = classify.kappa_stats(ct).collect()[0]
    cm = np.zeros((k, k), dtype=np.int64)
    np.add.at(cm, (a, bcls), 1)
    N = cm.sum()
    po = np.trace(cm) / N
    pe = (cm.sum(1) * cm.sum(0)).sum() / N ** 2
    assert out["n"] == N
    assert out["observed_agree"] == pytest.approx(po, rel=1e-12)
    assert out["chance_agree"] == pytest.approx(pe, rel=1e-12)
    assert out["kappa"] == pytest.approx((po - pe) / (1 - pe), rel=1e-12)
    assert out["n_classes"] == k


def test_kappa_on_crosstab_tiles(spark):
    # end-to-end: two quantized planes through crosstab_tiles -> kappa;
    # identical planes must score kappa == 1
    rng = np.random.default_rng(9)
    H, W = 24, 32
    plane = rng.normal(300.0, 10.0, (H, W)).astype(np.float32)
    rows = [{"scene_id": "S0", "tile_x": 0, "tile_y": 0, "w": W, "h": H,
             "lst_bytes": plane.tobytes(), "cwv_bytes": plane.tobytes()}]
    df = spark.createDataFrame(pd.DataFrame(rows))
    ct = series.crosstab_tiles(df, "lst_bytes", "cwv_bytes",
                               levels_a=8, levels_b=8)
    out = classify.kappa_stats(ct).collect()[0]
    assert out["kappa"] == pytest.approx(1.0, abs=1e-12)
    assert out["observed_agree"] == pytest.approx(1.0, abs=1e-12)


def test_kmeans_decodes_once_per_fit(spark, monkeypatch):
    """VERDICT-r5 item 10: the Lloyd loop consumes the persisted
    class_features frame, so a fit builds the decoded feature cache exactly
    once and every iteration's partials pass runs decoded=True (no tile-byte
    re-decode in the iterated scans)."""
    df, _ = _blob_tiles(spark)

    feat_calls = []
    part_calls = []
    orig_feats = classify.class_features
    orig_parts = classify._class_partials

    def counting_feats(tiles, band_cols):
        feat_calls.append(1)
        return orig_feats(tiles, band_cols)

    def counting_parts(tiles, band_cols, centers_df, with_cross,
                       decoded=False):
        part_calls.append(decoded)
        return orig_parts(tiles, band_cols, centers_df, with_cross,
                          decoded=decoded)

    def cached_rdds():
        return {int(i.id()) for i in
                spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    monkeypatch.setattr(classify, "class_features", counting_feats)
    monkeypatch.setattr(classify, "_class_partials", counting_parts)
    before = cached_rdds()
    model = classify.kmeans_model_df(df, BANDS, k=3, iters=4)
    assert model.count() > 0
    assert len(feat_calls) == 1, "feature decode pass must run exactly once"
    assert part_calls == [True] * 4, part_calls
    # the feature cache must not leak past the fit; the tiny per-iteration
    # localCheckpoint blocks of the centers frame (iters + init) may remain
    leaked = cached_rdds() - before
    assert len(leaked) <= 5, f"k-means fit leaked cached RDDs: {leaked}"


def test_model_scene_without_tiles_keeps_centers(spark, monkeypatch):
    """A model scene with no tile rows meets its class partials in a left
    join as one NULL-``cls`` row: a k-means step keeps its centers with zero
    counts, and the signatures give it the centers as means with identity
    inverse covariances and zero log-dets."""
    df, _ = _blob_tiles(spark, scenes=("S0",))
    k, b = 2, len(BANDS)
    ghost = [float(v) for v in range(1, k * b + 1)]
    init = classify._init_from_moments

    def with_ghost(moments, band_cols, kk):
        extra = spark.createDataFrame(
            [("Z", kk, len(band_cols), ghost, [0] * kk)],
            classify._KM_MODEL_SCHEMA)
        return init(moments, band_cols, kk).unionByName(extra)

    monkeypatch.setattr(classify, "_init_from_moments", with_ghost)
    model = classify.kmeans_model_df(df, BANDS, k=k, iters=1)
    km = {r["scene_id"]: r for r in model.collect()}
    assert km["Z"]["centers"] == ghost
    assert km["Z"]["counts"] == [0] * k
    assert sum(km["S0"]["counts"]) > 0

    ml = {r["scene_id"]: r for r in classify.maxlik_model_df(df, BANDS, model).collect()}
    assert ml["Z"]["means"] == ghost
    assert ml["Z"]["invcov"] == np.tile(np.eye(b), (k, 1, 1)).ravel().tolist()
    assert ml["Z"]["logdet"] == [0.0] * k
    assert ml["Z"]["counts"] == [0] * k
    assert sum(ml["S0"]["counts"]) > 0

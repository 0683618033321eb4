"""Spatial operator tests: PIP golden vectors (edges/vertices/non-convex),
R-tree query vs brute force, kNN vs brute force, Spark-level joins."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from i_landsat8_swlst_spark import spatial, synth


# --- PIP golden vectors -------------------------------------------------------

SQUARE = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
STAR = np.array(  # non-convex: concave notch at top
    [[0, 0], [4, 0], [4, 4], [2, 1.5], [0, 4], [0, 0]], dtype=float
)


def test_pip_golden_square():
    px = np.array([2.0, -1.0, 5.0, 0.0, 4.0, 2.0, 0.0, 2.0])
    py = np.array([2.0, 2.0, 2.0, 0.0, 4.0, 0.0, 2.0, 4.0])
    #              in    out   out  vert  vert  edge  edge  edge
    exp = np.array([1, 0, 0, 1, 1, 1, 1, 1], dtype=bool)
    got = spatial.points_in_ring(px, py, SQUARE)
    np.testing.assert_array_equal(got, exp)


def test_pip_golden_nonconvex():
    px = np.array([2.0, 2.0, 1.0, 3.0, 2.0])
    py = np.array([3.0, 1.0, 2.0, 2.0, 1.5])
    # (2,3) is inside the notch -> OUT; (2,1.5) is the concave vertex -> boundary
    exp = np.array([0, 1, 1, 1, 1], dtype=bool)
    got = spatial.points_in_ring(px, py, STAR)
    np.testing.assert_array_equal(got, exp)


def test_rtree_query_matches_bruteforce():
    aoi = synth.aoi_pdf("small")
    pp = spatial.PackedPolygons.from_pdf(aoi)
    rng = np.random.default_rng(11)
    # sample probe points around every polygon bbox
    px, py = [], []
    for k in range(len(pp.aoi_ids)):
        b = pp.bbox[k]
        px.append(rng.uniform(b[0] - 0.2, b[2] + 0.2, 60))
        py.append(rng.uniform(b[1] - 0.2, b[3] + 0.2, 60))
    px, py = np.concatenate(px), np.concatenate(py)
    pi, gi = spatial.query_polygons(pp, px, py)
    got = set(zip(pi.tolist(), gi.tolist()))
    exp = set()
    for k in range(len(pp.aoi_ids)):
        hit = spatial.points_in_ring(px, py, pp.ring(k))
        exp |= {(int(i), k) for i in np.nonzero(hit)[0]}
    assert got == exp
    assert len(exp) > 50  # fixture actually exercises hits


def test_knn_matches_bruteforce():
    st = synth.stations_pdf("small")
    rng = np.random.default_rng(12)
    plon = rng.uniform(-170, 170, 40)
    plat = rng.uniform(-80, 80, 40)
    d = spatial.haversine_km(plon[:, None], plat[:, None],
                             st["lon"].to_numpy()[None, :], st["lat"].to_numpy()[None, :])
    ids = st["station_id"].to_numpy(object)
    for k in (1, 3):
        # brute force with (dist, id) tie-break
        exp = []
        for i in range(len(plon)):
            order = sorted(range(len(ids)), key=lambda j: (d[i, j], ids[j]))
            exp.append([ids[j] for j in order[:k]])
        # engine path (numpy internals of knn_join)
        key = d + np.argsort(np.argsort(ids, kind="stable"))[None, :] * 1e-12
        top = np.argpartition(key, k - 1, axis=1)[:, :k]
        rowi = np.arange(len(plon))[:, None]
        top = top[rowi, np.argsort(key[rowi, top], axis=1)]
        got = ids[top]
        for i in range(len(plon)):
            assert list(got[i]) == exp[i], i


def test_pip_join_spark(spark):
    aoi = synth.aoi_pdf("tiny")
    pp = spatial.PackedPolygons.from_pdf(aoi)
    rng = np.random.default_rng(13)
    pts = []
    for kpoly in range(len(pp.aoi_ids)):
        b = pp.bbox[kpoly]
        for _ in range(25):
            pts.append((float(rng.uniform(b[0] - 0.1, b[2] + 0.1)),
                        float(rng.uniform(b[1] - 0.1, b[3] + 0.1))))
    pdf = pd.DataFrame(pts, columns=["lon", "lat"]).reset_index().rename(columns={"index": "pid"})
    points = spark.createDataFrame(pdf)
    got = spatial.pip_join(points, aoi, how="inner").toPandas()
    # numpy truth
    pi, gi = spatial.query_polygons(pp, pdf["lon"].to_numpy(), pdf["lat"].to_numpy())
    exp = {(int(pdf["pid"][i]), pp.aoi_ids[g]) for i, g in zip(pi, gi)}
    assert set(zip(got["pid"], got["aoi_id"])) == exp
    assert len(got) == len(exp) > 0
    # left join keeps everything
    left = spatial.pip_join(points, aoi, how="left").toPandas()
    assert set(left.loc[left.aoi_id.notna(), "pid"]) == {p for p, _ in exp}
    assert len(set(left["pid"])) == len(pdf)


def test_knn_join_spark(spark):
    st = synth.stations_pdf("tiny")
    pdf = pd.DataFrame({
        "pid": range(20),
        "lon": np.linspace(-170, 170, 20),
        "lat": np.linspace(-80, 80, 20),
    })
    got = spatial.knn_join(spark.createDataFrame(pdf), st, k=3).toPandas()
    assert len(got) == 60
    assert set(got["station_rank"]) == {1, 2, 3}
    g = got.sort_values(["pid", "station_rank"]).groupby("pid")
    for pid, rows in g:
        assert rows["station_km"].is_monotonic_increasing
        # spot-check rank 1 vs brute force
        d = spatial.haversine_km(pdf.loc[pdf.pid == pid, "lon"].iloc[0],
                                 pdf.loc[pdf.pid == pid, "lat"].iloc[0],
                                 st["lon"].to_numpy(), st["lat"].to_numpy())
        assert rows.iloc[0]["station_id"] == st["station_id"].iloc[int(np.argmin(d))]


def test_with_cells_spark(spark):
    pdf = pd.DataFrame({"lon": [5.0, 5.001, -120.0], "lat": [45.0, 45.001, -33.0]})
    out = spatial.with_cells(spark.createDataFrame(pdf)).toPandas()
    from i_landsat8_swlst_spark import geo
    np.testing.assert_array_equal(
        out["s2_cell"].to_numpy(), geo.s2_cell(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 14)
    )
    np.testing.assert_array_equal(
        out["hex_8"].to_numpy(), geo.hexcell(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 8)
    )


def test_enrich_pixels_matches_composed_ops(spark):
    """The fused cells+PIP+kNN hop must be row-for-row identical to the
    composition of with_cells -> pip_join(left) -> knn_join."""
    import pandas as pd

    from i_landsat8_swlst_spark import constants as C, pipeline, synth

    scenes = spark.createDataFrame(synth.scenes_pdf("tiny"))
    meta = spark.createDataFrame(synth.scene_meta_pdf("tiny"))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    pixels = pipeline.lst_pixels(
        pipeline.build_enriched_with_grid(scenes, meta, emis), window=5)
    aoi, stations = synth.aoi_pdf("tiny"), synth.stations_pdf("tiny")

    fused = spatial.enrich_pixels(pixels, aoi, stations, k=2, s2_level=14, how="left")
    composed = spatial.knn_join(
        spatial.pip_join(spatial.with_cells(pixels, s2_level=14), aoi, how="left"),
        stations, k=2)

    key = ["image_id", "px", "py", "aoi_id", "station_rank"]
    a = fused.toPandas().fillna("~")
    b = composed.toPandas().fillna("~")
    assert sorted(a.columns) == sorted(b.columns)
    a = a[sorted(a.columns)].sort_values(key).reset_index(drop=True)
    b = b[sorted(b.columns)].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_pip_join_cells_matches_broadcast_pip(spark):
    """The distributed (cell-equi-join) PIP must be row-for-row identical to
    the broadcast R-tree pip_join on the same points x polygons — same exact
    ray-cast, different candidate generation."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import synth
    from i_landsat8_swlst_spark.spatial import pip_join, pip_join_cells

    rng = np.random.default_rng(21)
    aoi = synth.aoi_pdf("tiny")
    # points sprayed over the AOI bounding region incl. outside-all-polygons
    allv = [p for ring in aoi["ring"] for p in ring]
    lons = np.array([p["lon"] for p in allv]); lats = np.array([p["lat"] for p in allv])
    pts = pd.DataFrame({
        "pid": range(3000),
        "lon": rng.uniform(lons.min() - 0.3, lons.max() + 0.3, 3000),
        "lat": rng.uniform(lats.min() - 0.3, lats.max() + 0.3, 3000),
    })
    points = spark.createDataFrame(pts)

    a = pip_join(points, aoi, how="inner").select("pid", "aoi_id").toPandas()
    sa = set(map(tuple, a.to_numpy()))
    for res in (7, 8):
        for verify in ("cogroup", "jvm"):
            b = pip_join_cells(points, aoi, res=res,
                               verify=verify).select("pid", "aoi_id").toPandas()
            sb = set(map(tuple, b.to_numpy()))
            assert sa == sb, (res, verify, len(sa), len(sb),
                              list(sa - sb)[:3], list(sb - sa)[:3])
    assert len(a) > 0 and a["aoi_id"].nunique() > 1


def test_hex_cover_bbox_is_superset_of_point_cells(spark):
    """Every cell any bbox point rounds to must appear in the bbox cover
    (the guarantee pip_join_cells candidates rely on)."""
    import numpy as np

    from i_landsat8_swlst_spark import geo

    rng = np.random.default_rng(5)
    for res in (7, 8, 9):
        lon0, lat0 = rng.uniform(-40, 40), rng.uniform(-40, 40)
        lon1, lat1 = lon0 + rng.uniform(0.05, 1.2), lat0 + rng.uniform(0.05, 1.2)
        cover = set(geo.hex_cover_bbox(lon0, lat0, lon1, lat1, res).tolist())
        px = rng.uniform(lon0, lon1, 5000)
        py = rng.uniform(lat0, lat1, 5000)
        cells = set(geo.hexcell(px, py, res).tolist())
        assert cells <= cover, (res, len(cells - cover))


def test_knn_join_cells_certified_matches_bruteforce(spark):
    """Distributed kNN (cell-registration equi join): every certified point's
    ranked station list must equal the exact brute-force top-k; the dense
    fixture certifies the vast majority of points."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark.spatial import haversine_km, knn_join_cells

    rng = np.random.default_rng(33)
    stations = pd.DataFrame({
        "station_id": [f"s{i:05d}" for i in range(4000)],
        "lon": rng.uniform(10.0, 10.3, 4000),
        "lat": rng.uniform(40.0, 40.3, 4000),
        "cwv_obs": rng.uniform(0, 6.3, 4000),
    })
    pts = pd.DataFrame({
        "pid": range(300),
        "lon": rng.uniform(10.05, 10.25, 300),
        "lat": rng.uniform(40.05, 40.25, 300),
    })
    out = knn_join_cells(spark.createDataFrame(pts), stations, k=3, res=7,
                         key_cols=["pid"]).toPandas()
    assert set(out.columns) >= {"pid", "station_id", "station_rank",
                                "station_km", "station_cwv", "knn_certified"}
    # each (point, station) pair surfaces exactly once
    assert not out.duplicated(["pid", "station_id"]).any()

    d = haversine_km(pts.lon.to_numpy()[:, None], pts.lat.to_numpy()[:, None],
                     stations.lon.to_numpy()[None, :], stations.lat.to_numpy()[None, :])
    certified = out[out.knn_certified]
    assert certified.pid.nunique() >= 0.8 * len(pts)
    for pid, grp in certified.groupby("pid"):
        grp = grp.sort_values("station_rank")
        brute = np.argsort(d[pid] + np.arange(len(stations)) * 1e-12)[:3]
        assert list(grp.station_id) == list(stations.station_id.iloc[brute]), pid
        np.testing.assert_allclose(grp.station_km.to_numpy(),
                                   np.sort(d[pid])[:3], rtol=1e-9)


# --------------------------------------------------------------------------
# Round 4: DataFrame big-side inputs (VERDICT r3 item 1), zero-candidate
# emission (ADVICE r3 medium), and the exact escalation loop (item 2).
# --------------------------------------------------------------------------


def test_pip_join_cells_dataframe_aoi_never_on_driver(spark, tmp_path):
    """The scale-path overload: the AOI layer arrives as a parquet-backed
    Spark DataFrame and must produce rows identical to the pandas-compat
    path — with NO driver materialization and NO Python hop in the verify
    (the plan carries exactly one Arrow python eval: the point cell-encode
    pandas UDF; the ray-cast runs in Catalyst)."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import synth
    from i_landsat8_swlst_spark.spatial import pip_join, pip_join_cells

    rng = np.random.default_rng(41)
    aoi = synth.aoi_pdf("tiny")
    spark.createDataFrame(aoi).write.mode("overwrite").parquet(
        str(tmp_path / "aoi"))
    aoi_df = spark.read.parquet(str(tmp_path / "aoi"))

    allv = [p for ring in aoi["ring"] for p in ring]
    lons = np.array([p["lon"] for p in allv]); lats = np.array([p["lat"] for p in allv])
    pts = pd.DataFrame({
        "pid": range(2000),
        "lon": rng.uniform(lons.min() - 0.3, lons.max() + 0.3, 2000),
        "lat": rng.uniform(lats.min() - 0.3, lats.max() + 0.3, 2000),
    })
    points = spark.createDataFrame(pts)

    exp = pip_join(points, aoi, how="inner").select("pid", "aoi_id").toPandas()
    se = set(map(tuple, exp.to_numpy()))
    assert len(exp) > 0
    for verify in ("cogroup", "jvm"):
        got = pip_join_cells(points, aoi_df, res=8, verify=verify)
        g = got.select("pid", "aoi_id").toPandas()
        assert set(map(tuple, g.to_numpy())) == se, verify

        plan = got._jdf.queryExecution().executedPlan().toString()
        # (the candidate-side shuffle carries no ring arrays in either mode;
        # plan text doesn't list Exchange output columns, so the byte-level
        # claim is measured instead — BENCH/SPATIAL_SHUFFLE.md)
        if verify == "jvm":
            # only Python hop is the per-POLYGON covering (aoi_cells_df):
            # the per-candidate verify is entirely JVM-side
            assert plan.count("MapInPandas") == 1
            assert "FlatMapCoGroupsInPandas" not in plan
        else:
            # cogroup verify: rings meet candidates once per (polygon, salt)
            assert "FlatMapCoGroupsInPandas" in plan


def test_knn_join_cells_dataframe_stations(spark, tmp_path):
    """Station side as a parquet-backed Spark DataFrame: identical rows to
    the pandas-compat path."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark.spatial import knn_join_cells

    rng = np.random.default_rng(42)
    stations = pd.DataFrame({
        "station_id": [f"s{i:04d}" for i in range(500)],
        "lon": rng.uniform(10.0, 10.2, 500),
        "lat": rng.uniform(40.0, 40.2, 500),
        "cwv_obs": rng.uniform(0, 6.3, 500),
    })
    spark.createDataFrame(stations).write.mode("overwrite").parquet(
        str(tmp_path / "st"))
    st_df = spark.read.parquet(str(tmp_path / "st"))
    pts = spark.createDataFrame(pd.DataFrame({
        "pid": range(100),
        "lon": rng.uniform(10.02, 10.18, 100),
        "lat": rng.uniform(40.02, 40.18, 100),
    }))
    a = knn_join_cells(pts, stations, k=3, res=7, key_cols=["pid"]).toPandas()
    b = knn_join_cells(pts, st_df, k=3, res=7, key_cols=["pid"]).toPandas()
    key = ["pid", "station_rank"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_knn_join_cells_emits_zero_candidate_points(spark):
    """ADVICE r3 (medium): a point whose cell 1-ring holds NO station must
    surface once with NULL station columns and knn_certified=false — not
    silently vanish."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark.spatial import knn_join_cells

    stations = pd.DataFrame({
        "station_id": ["lonely"],
        "lon": [10.0], "lat": [40.0], "cwv_obs": [3.0],
    })
    # point ~100 km away: far outside the res-7 1-ring of the station
    pts = spark.createDataFrame(pd.DataFrame({
        "pid": [0, 1],
        "lon": [10.0, 11.0], "lat": [40.0, 41.0],
    }))
    out = knn_join_cells(pts, stations, k=1, res=7, key_cols=["pid"]).toPandas()
    assert sorted(out["pid"]) == [0, 1]          # nobody vanishes
    far = out[out.pid == 1].iloc[0]
    assert far["station_id"] is None or pd.isna(far["station_id"])
    assert not far["knn_certified"]
    near = out[out.pid == 0].iloc[0]
    assert near["station_id"] == "lonely"


def test_knn_join_cells_exact_completes_and_matches_bruteforce(spark):
    """VERDICT r3 item 2: adversarially clustered stations leave round-0
    uncertified points (including zero-candidate ones); the escalation loop
    must return a COMPLETE result — every input point, k rows each, 100%
    certified — equal to brute force."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark.spatial import (haversine_km, knn_join_cells,
                                                knn_join_cells_exact)

    rng = np.random.default_rng(43)
    # stations in ONE tight cluster: points far from it have empty 1-rings
    stations = pd.DataFrame({
        "station_id": [f"s{i:03d}" for i in range(40)],
        "lon": rng.uniform(10.00, 10.02, 40),
        "lat": rng.uniform(40.00, 40.02, 40),
        "cwv_obs": rng.uniform(0, 6.3, 40),
    })
    # points sprayed over a much wider box (up to ~50 km out)
    pts = pd.DataFrame({
        "pid": range(120),
        "lon": rng.uniform(9.8, 10.4, 120),
        "lat": rng.uniform(39.8, 40.4, 120),
    })
    points = spark.createDataFrame(pts)
    k = 3

    # the adversarial premise holds: round 0 leaves uncertified points
    r0 = knn_join_cells(points, stations, k=k, res=7, key_cols=["pid"]).toPandas()
    assert (~r0.knn_certified).any()

    out = knn_join_cells_exact(points, stations, k=k, res=7,
                               key_cols=["pid"]).toPandas()
    assert out.knn_certified.all()
    assert sorted(out.pid.unique()) == list(range(120))
    assert (out.groupby("pid").size() == k).all()

    d = haversine_km(pts.lon.to_numpy()[:, None], pts.lat.to_numpy()[:, None],
                     stations.lon.to_numpy()[None, :], stations.lat.to_numpy()[None, :])
    for pid, grp in out.groupby("pid"):
        grp = grp.sort_values("station_rank")
        brute = np.argsort(d[pid] + np.arange(len(stations)) * 1e-12)[:k]
        assert list(grp.station_id) == list(stations.station_id.iloc[brute]), pid
        np.testing.assert_allclose(grp.station_km.to_numpy(),
                                   np.sort(d[pid])[:k], rtol=1e-9)


def test_enrich_pixels_cells_matches_broadcast_enrich(spark, tmp_path):
    """Round 4: the DISTRIBUTED composition of the north-star flow
    (with_cells -> pip_join_cells left -> knn_join_cells_exact fan-out, both
    vector sides parquet-backed DataFrames) must be row-for-row identical to
    the broadcast enrich_pixels(how='left') — modulo last-ulp haversine
    (numpy vs JVM sin), handled by rounding station_km."""
    import pandas as pd

    from i_landsat8_swlst_spark import constants as C, pipeline, spatial, synth

    scenes = spark.createDataFrame(synth.scenes_pdf("tiny"))
    meta = spark.createDataFrame(synth.scene_meta_pdf("tiny"))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    pixels = pipeline.lst_pixels(
        pipeline.build_enriched_with_grid(scenes, meta, emis), window=5)
    aoi, stations = synth.aoi_pdf("tiny"), synth.stations_pdf("tiny")
    spark.createDataFrame(aoi).write.mode("overwrite").parquet(str(tmp_path / "aoi"))
    spark.createDataFrame(stations).write.mode("overwrite").parquet(str(tmp_path / "st"))
    aoi_df = spark.read.parquet(str(tmp_path / "aoi"))
    st_df = spark.read.parquet(str(tmp_path / "st")).drop("observed_at")

    fused = spatial.enrich_pixels(pixels, aoi, stations, k=2, how="left")
    dist = spatial.enrich_pixels_cells(
        pixels, aoi_df, st_df, k=2, key_cols=["image_id", "px", "py"])

    key = ["image_id", "px", "py", "aoi_id", "station_rank"]
    a = fused.toPandas()
    b = dist.toPandas()
    assert sorted(a.columns) == sorted(b.columns)
    for df in (a, b):
        df["station_km"] = df["station_km"].round(6)
    a = a[sorted(a.columns)].fillna("~").sort_values(key).reset_index(drop=True)
    b = b[sorted(b.columns)].fillna("~").sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    assert len(a) > 0


def test_pip_join_cells_auto_res_parity_and_bounded_cover(spark):
    """res='auto' (round 4): per-polygon covering resolution. Parity with
    the broadcast pip_join must hold on a mixed-size layer (one huge polygon
    + many tiny ones), and the huge polygon's cover must stay bounded while
    tiny polygons register at the finest res."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import spatial
    from i_landsat8_swlst_spark.spatial import (aoi_cells_df, pip_join,
                                                pip_join_cells)

    rng = np.random.default_rng(47)

    def poly(aid, cx, cy, r, n=12):
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        ring = [{"lon": float(cx + r * np.cos(a)),
                 "lat": float(cy + r * np.sin(a))} for a in ang]
        ring.append(ring[0])
        return {"aoi_id": aid, "ring": ring, "category": "mix"}

    rows = [poly("huge", 10.0, 40.0, 1.5)]          # country-sized
    centers = []
    for i in range(30):                             # building-sized
        cx, cy = rng.uniform(8.2, 11.8), rng.uniform(38.2, 41.8)
        centers.append((cx, cy))
        rows.append(poly(f"tiny_{i:02d}", cx, cy, 0.003))
    aoi = pd.DataFrame(rows)

    # random spray + one guaranteed interior point per tiny polygon
    lon = np.concatenate([rng.uniform(8.0, 12.0, 4000),
                          np.array([c[0] for c in centers])])
    lat = np.concatenate([rng.uniform(38.0, 42.0, 4000),
                          np.array([c[1] for c in centers])])
    pts = pd.DataFrame({"pid": range(len(lon)), "lon": lon, "lat": lat})
    points = spark.createDataFrame(pts)

    exp = pip_join(points, aoi, how="inner").select("pid", "aoi_id").toPandas()
    got = pip_join_cells(points, aoi, res="auto").select("pid", "aoi_id").toPandas()
    assert set(map(tuple, got.to_numpy())) == set(map(tuple, exp.to_numpy()))
    assert (exp.aoi_id == "huge").sum() > 100      # the fixture exercises both
    assert exp.aoi_id.str.startswith("tiny").sum() > 0

    cover = aoi_cells_df(spark, aoi, res="auto").toPandas()
    per = cover.groupby("aoi_id").size()
    from i_landsat8_swlst_spark import geo
    res_of = cover.cell.to_numpy() >> 56
    by_poly_res = pd.DataFrame({"aoi_id": cover.aoi_id, "res": res_of}) \
        .groupby("aoi_id").res.first()
    # the huge polygon backed off to the coarsest res and stayed bounded
    assert by_poly_res["huge"] == 7
    # a fixed res-8 cover of the same polygon would be ~4x bigger
    fixed8 = aoi_cells_df(spark, aoi[aoi.aoi_id == "huge"], res=8).count()
    assert per["huge"] * 2 < fixed8
    # tiny polygons register at the finest res with tiny covers
    assert (by_poly_res[by_poly_res.index.str.startswith("tiny")] == 9).all()
    # (hex_cover_bbox pads by 2 edges per side, so even a point-sized
    # polygon covers ~80 res-9 cells — bounded by the cap, not by area)
    assert per[per.index.str.startswith("tiny")].max() <= 256


def test_pip_inside_expr_golden_boundary_vectors(spark):
    """The Catalyst HOF ray-cast (verify='jvm') must agree with the numpy
    kernel on the GOLDEN boundary cases — vertices, edge midpoints, the
    concave notch — not just on random points (where boundary hits have
    measure zero)."""
    import pandas as pd

    from i_landsat8_swlst_spark.spatial import _pip_inside_expr, points_in_ring

    for ring in (SQUARE, STAR):
        px = np.array([2.0, -1.0, 5.0, 0.0, 4.0, 2.0, 0.0, 2.0, 3.0, 1.0,
                       2.0, 2.0])
        py = np.array([2.0, 2.0, 2.0, 0.0, 4.0, 0.0, 2.0, 4.0, 2.0, 2.0,
                       1.5, 3.0])
        exp = points_in_ring(px, py, ring)
        pdf = pd.DataFrame({
            "pid": range(len(px)), "lon": px, "lat": py,
            "ring_x": [ring[:, 0].tolist()] * len(px),
            "ring_y": [ring[:, 1].tolist()] * len(px),
        })
        got = (spark.createDataFrame(pdf)
               .withColumn("inside", _pip_inside_expr("lon", "lat"))
               .orderBy("pid").select("inside").toPandas()["inside"].to_numpy())
        np.testing.assert_array_equal(got, exp, err_msg=str(ring[:3]))


def test_tight_cover_prunes_sliver_polygons(spark):
    """Round 4: the covering is trimmed to cells NEAR the polygon, not its
    bbox — a river/road-shaped diagonal sliver must cover a small fraction
    of its bbox cells, with PIP parity intact."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import geo
    from i_landsat8_swlst_spark.spatial import (aoi_cells_df, pip_join,
                                                pip_join_cells)

    # diagonal strip (8,38)->(11,41), half-width 0.01 deg
    n = 40
    ts = np.linspace(0.0, 1.0, n)
    cx, cy = 8.0 + 3.0 * ts, 38.0 + 3.0 * ts
    wx, wy = 0.01 / np.sqrt(2), 0.01 / np.sqrt(2)
    ring = ([{"lon": float(x + wx), "lat": float(y - wy)} for x, y in zip(cx, cy)]
            + [{"lon": float(x - wx), "lat": float(y + wy)}
               for x, y in zip(cx[::-1], cy[::-1])])
    ring.append(ring[0])
    aoi = pd.DataFrame([{"aoi_id": "sliver", "ring": ring, "category": "strip"}])

    n_tight = aoi_cells_df(spark, aoi, res=8).count()
    n_bbox = len(geo.hex_cover_bbox(8.0 - wx, 38.0 - wy, 11.0 + wx, 41.0 + wy, 8))
    assert n_tight * 20 < n_bbox, (n_tight, n_bbox)

    # parity on points hugging the strip (inside, near-outside, far)
    rng = np.random.default_rng(53)
    off = rng.uniform(-0.05, 0.05, 3000)
    t2 = rng.uniform(0, 1, 3000)
    pts = pd.DataFrame({
        "pid": range(3000),
        "lon": 8.0 + 3.0 * t2 + off / np.sqrt(2),
        "lat": 38.0 + 3.0 * t2 - off / np.sqrt(2),
    })
    points = spark.createDataFrame(pts)
    exp = pip_join(points, aoi, how="inner").select("pid").toPandas()
    got = pip_join_cells(points, aoi, res=8).select("pid").toPandas()
    assert set(got.pid) == set(exp.pid)
    assert len(exp) > 100


def test_zonal_stats_matches_pandas_oracle(spark):
    aoi = synth.aoi_pdf("tiny")
    pp = spatial.PackedPolygons.from_pdf(aoi)
    rng = np.random.default_rng(41)
    pts = []
    for kpoly in range(len(pp.aoi_ids)):
        b = pp.bbox[kpoly]
        for _ in range(40):
            pts.append((float(rng.uniform(b[0] - 0.1, b[2] + 0.1)),
                        float(rng.uniform(b[1] - 0.1, b[3] + 0.1))))
    pdf = pd.DataFrame(pts, columns=["lon", "lat"])
    pdf["pid"] = np.arange(len(pdf), dtype=np.int64)
    pdf["lst_k"] = rng.uniform(260.0, 330.0, len(pdf))
    # NULL values must count in n_pixels but not in the value stats
    pdf.loc[pdf.index % 7 == 0, "lst_k"] = np.nan
    points = spark.createDataFrame(pdf)

    got = spatial.zonal_stats(points, aoi, value_cols=("lst_k",),
                              how="left").toPandas()

    # pandas truth from the numpy PIP oracle
    pi, gi = spatial.query_polygons(pp, pdf["lon"].to_numpy(), pdf["lat"].to_numpy())
    rows = pdf.iloc[pi].copy()
    rows["aoi_id"] = pp.aoi_ids[gi]
    outside = pdf.loc[~pdf.index.isin(np.unique(pi))].copy()
    outside["aoi_id"] = None
    exp_src = pd.concat([rows, outside], ignore_index=True)
    exp = exp_src.groupby("aoi_id", dropna=False).agg(
        n_pixels=("pid", "size"), lst_k_valid=("lst_k", "count"),
        lst_k_mean=("lst_k", "mean"), lst_k_min=("lst_k", "min"),
        lst_k_max=("lst_k", "max"), lst_k_std=("lst_k", "std"),
    ).reset_index()

    assert len(got) == len(exp) > 2
    g = got.set_index(got["aoi_id"].fillna("__out__")).sort_index()
    e = exp.set_index(exp["aoi_id"].fillna("__out__")).sort_index()
    assert list(g.index) == list(e.index)
    np.testing.assert_array_equal(g["n_pixels"].to_numpy(), e["n_pixels"].to_numpy())
    np.testing.assert_array_equal(g["lst_k_valid"].to_numpy(), e["lst_k_valid"].to_numpy())
    for c in ("lst_k_mean", "lst_k_min", "lst_k_max", "lst_k_std"):
        np.testing.assert_allclose(g[c].to_numpy(np.float64),
                                   e[c].to_numpy(np.float64), rtol=1e-9)

    # distributed path: identical zone rows (inner semantics)
    dist = spatial.zonal_stats(points, aoi, value_cols=("lst_k",),
                               distributed=True).toPandas()
    gi_ = got[got["aoi_id"].notna()].sort_values("aoi_id").reset_index(drop=True)
    di = dist.sort_values("aoi_id").reset_index(drop=True)
    assert list(di["aoi_id"]) == list(gi_["aoi_id"])
    np.testing.assert_array_equal(di["n_pixels"].to_numpy(), gi_["n_pixels"].to_numpy())
    np.testing.assert_allclose(di["lst_k_mean"].to_numpy(np.float64),
                               gi_["lst_k_mean"].to_numpy(np.float64), rtol=1e-9)


def test_aoi_measures_matches_numpy(spark):
    from i_landsat8_swlst_spark import geo

    aoi = synth.aoi_pdf("tiny")
    got = spatial.aoi_measures(spark, aoi).toPandas().set_index("aoi_id")
    assert len(got) == len(aoi)
    for _, row in aoi.iterrows():
        ring = np.array([[p["lon"], p["lat"]] for p in row["ring"]])
        g = got.loc[row["aoi_id"]]
        assert g.area_km2 == pytest.approx(geo.ring_area_km2(ring), rel=1e-12)
        assert g.perimeter_km == pytest.approx(geo.ring_perimeter_km(ring), rel=1e-12)
        cx, cy = geo.ring_centroid(ring)
        assert (g.centroid_lon, g.centroid_lat) == pytest.approx((cx, cy))
        assert g.area_km2 > 0 and g.perimeter_km > 0
        # centroid of these fixture polygons lies inside their bbox
        assert ring[:, 0].min() <= g.centroid_lon <= ring[:, 0].max()
        assert ring[:, 1].min() <= g.centroid_lat <= ring[:, 1].max()


def test_knn_exact_releases_its_caches(spark):
    """VERDICT r4 item 7: the escalation loop persists per-round frames for
    driver loop control; after the call returns (result localCheckpointed)
    none of them may linger in the block manager."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark.spatial import knn_join_cells_exact

    rng = np.random.default_rng(47)
    stations = pd.DataFrame({
        "station_id": [f"s{i:03d}" for i in range(30)],
        "lon": rng.uniform(10.00, 10.02, 30),
        "lat": rng.uniform(40.00, 40.02, 30),
    })
    points = spark.createDataFrame(pd.DataFrame({
        "pid": range(60),
        "lon": rng.uniform(9.9, 10.3, 60),
        "lat": rng.uniform(39.9, 40.3, 60),
    }))

    def cached_rdds():
        return {int(i.id()) for i in
                spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = cached_rdds()
    out = knn_join_cells_exact(points, stations, k=2, res=7, key_cols=["pid"])
    assert out.count() == 120
    leaked = cached_rdds() - before
    # the localCheckpoint of the RESULT is the one legitimate new block;
    # every per-round persist must be gone
    assert len(leaked) <= 1, f"kNN exact leaked cached RDDs: {leaked}"


# ---- IDW rasterize (v.surf.idw / r.surf.idw analog) ---------------------

def _idw_fixture(spark, n_stations=24, seed=7):
    import pandas as pd

    rng = np.random.default_rng(seed)
    LON0, LAT0, LON1, LAT1 = 10.0, 40.0, 10.4, 40.4
    ntx = nty = 2
    W = H = 16
    tiles = spark.createDataFrame(pd.DataFrame([
        {"scene_id": "S1", "tile_x": tx, "tile_y": ty, "w": W, "h": H}
        for tx in range(ntx) for ty in range(nty)]))
    geom = spark.createDataFrame(pd.DataFrame([{
        "scene_id": "S1", "lon0": LON0, "lat0": LAT0,
        "lon1": LON1, "lat1": LAT1, "ntx": ntx, "nty": nty}]))
    st = pd.DataFrame({
        "station_id": [f"st{i:03d}" for i in range(n_stations)],
        "lon": rng.uniform(LON0 - 0.1, LON1 + 0.1, n_stations),
        "lat": rng.uniform(LAT0 - 0.1, LAT1 + 0.1, n_stations),
        "value": rng.uniform(0.0, 30.0, n_stations),
    })
    # one station EXACTLY on a pixel centroid (tile (0,0), px=3, py=5)
    st.loc[0, "lon"] = LON0 + (0 + (3 + 0.5) / W) * (LON1 - LON0) / ntx
    st.loc[0, "lat"] = LAT1 - (0 + (5 + 0.5) / H) * (LAT1 - LAT0) / nty
    return tiles, geom, st, (LON0, LAT0, LON1, LAT1, ntx, nty, W, H)


def _idw_oracle_plane(st, box, k, power, radius_km):
    """Independent per-pixel loop: haversine to every station, sort by
    (distance, station_id), take k (within radius), IDW in that order."""
    LON0, LAT0, LON1, LAT1, ntx, nty, W, H = box
    HH, WW = nty * H, ntx * W
    out = np.full((HH, WW), np.nan)
    dlon, dlat = (LON1 - LON0) / ntx, (LAT1 - LAT0) / nty
    for gy in range(HH):
        ty, py = divmod(gy, H)
        for gx in range(WW):
            tx, px = divmod(gx, W)
            lon = LON0 + (tx + (px + 0.5) / W) * dlon
            lat = LAT1 - (ty + (py + 0.5) / H) * dlat
            cand = []
            for r in st.itertuples():
                d = float(spatial.haversine_km(
                    np.array([lon]), np.array([lat]),
                    np.array([r.lon]), np.array([r.lat]))[0])
                if radius_km is not None and d > radius_km:
                    continue
                cand.append((d, r.station_id, r.value))
            cand.sort()
            cand = cand[:k]
            if not cand:
                continue
            if cand[0][0] == 0.0:
                out[gy, gx] = cand[0][2]
                continue
            sw = sv = 0.0
            for d, _sid, v in cand:
                wgt = 1.0 / d ** power
                sw += wgt
                sv += wgt * v
            out[gy, gx] = sv / sw
    return out


def _mosaic_idw(pdf, box):
    LON0, LAT0, LON1, LAT1, ntx, nty, W, H = box
    out = np.full((nty * H, ntx * W), np.nan, dtype=np.float32)
    for r in pdf.itertuples():
        p = np.frombuffer(r.idw_bytes, "<f4").reshape(r.h, r.w)
        out[r.tile_y * H:(r.tile_y + 1) * H,
            r.tile_x * W:(r.tile_x + 1) * W] = p
    return out


@pytest.mark.parametrize("k,power,radius", [(12, 2.0, None), (5, 1.5, 8.0)])
def test_idw_rasterize_matches_brute_oracle(spark, k, power, radius):
    tiles, geom, st, box = _idw_fixture(spark)
    got = _mosaic_idw(
        spatial.idw_rasterize(tiles, st, geom, k=k, power=power,
                              radius_km=radius).toPandas(), box)
    want = _idw_oracle_plane(st, box, k, power, radius).astype(np.float32)
    assert np.array_equal(np.isnan(got), np.isnan(want))
    np.testing.assert_allclose(got[~np.isnan(got)], want[~np.isnan(want)],
                               rtol=1e-6)
    # the exact-hit pixel carries the on-site station value verbatim
    assert got[5, 3] == np.float32(st.loc[0, "value"])


def test_idw_cells_bit_identical_to_broadcast(spark):
    tiles, geom, st, box = _idw_fixture(spark)
    radius = 6.0
    bpdf = spatial.idw_rasterize(tiles, st, geom, k=5, power=2.0,
                                 radius_km=radius).toPandas()
    spdf = spatial.idw_rasterize_cells(
        tiles, spark.createDataFrame(st), geom, radius_km=radius,
        k=5, power=2.0).toPandas()
    key = ["scene_id", "tile_x", "tile_y"]
    b = bpdf.sort_values(key).reset_index(drop=True)
    s = spdf.sort_values(key).reset_index(drop=True)
    assert len(b) == len(s) == 4
    assert (b.idw_bytes == s.idw_bytes).all()
    assert (b.n_interp == s.n_interp).all()
    assert b.n_interp.sum() > 0  # radius actually leaves coverage


def test_idw_validation(spark):
    tiles, geom, st, box = _idw_fixture(spark, n_stations=3)
    with pytest.raises(ValueError, match="k must be"):
        spatial.idw_rasterize(tiles, st, geom, k=0)
    with pytest.raises(ValueError, match="radius_km"):
        spatial.idw_rasterize_cells(tiles, spark.createDataFrame(st),
                                    geom, radius_km=0)
    import pandas as pd
    polar = spark.createDataFrame(pd.DataFrame([{
        "scene_id": "S1", "lon0": 0.0, "lat0": 86.0,
        "lon1": 1.0, "lat1": 87.0, "ntx": 1, "nty": 1}]))
    with pytest.raises(Exception, match="poles"):
        spatial.idw_rasterize_cells(tiles, spark.createDataFrame(st),
                                    polar, radius_km=5.0).toPandas()


def test_radius_candidates_driver_flat_at_many_scenes(spark, monkeypatch):
    """VERDICT-r5 item 4: the station gather's only driver-side value is a
    1-row max-|lat| aggregate, so a 10^4-scene catalog must run with O(1)
    driver memory. Structural guard: every DataFrame.collect() during the
    _cells path returns <= 1 row (the .first() of the aggregate); parity
    with the broadcast path is unchanged on the scene that has tiles."""
    import pandas as pd

    # runtime instances are the classic class, not the pyspark.sql facade
    from pyspark.sql.classic.dataframe import DataFrame as SparkDF

    tiles, geom, st, box = _idw_fixture(spark)
    many = pd.DataFrame([{
        "scene_id": f"X{i:05d}",
        "lon0": -120.0 + (i % 360) * 0.01, "lat0": 10.0,
        "lon1": -119.9 + (i % 360) * 0.01, "lat1": 10.1,
        "ntx": 2, "nty": 2} for i in range(10_000)])
    big_geom = geom.unionByName(spark.createDataFrame(many))

    collected = []
    orig_collect = SparkDF.collect
    orig_take = SparkDF.take

    def counting_collect(self):
        rows = orig_collect(self)
        collected.append(len(rows))
        return rows

    def counting_take(self, num):
        rows = orig_take(self, num)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(SparkDF, "collect", counting_collect)
    monkeypatch.setattr(SparkDF, "take", counting_take)
    got = spatial.idw_rasterize_cells(
        tiles, spark.createDataFrame(st), big_geom, radius_km=6.0,
        k=5, power=2.0).toPandas()
    monkeypatch.setattr(SparkDF, "collect", orig_collect)
    monkeypatch.setattr(SparkDF, "take", orig_take)

    assert collected, "expected the 1-row aggregate to run"
    assert max(collected) <= 1, f"driver pulled {max(collected)} rows"
    want = spatial.idw_rasterize(tiles, st, geom, k=5, power=2.0,
                                 radius_km=6.0).toPandas()
    key = ["scene_id", "tile_x", "tile_y"]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    assert len(g) == len(w) == 4
    assert (g.idw_bytes == w.idw_bytes).all()


# ---- KDE heatmap rasterize (v.kernel analog) -----------------------------

def _kde_oracle_plane(st, box, radius_km, kernel, weighted):
    LON0, LAT0, LON1, LAT1, ntx, nty, W, H = box
    HH, WW = nty * H, ntx * W
    out = np.zeros((HH, WW))
    dlon, dlat = (LON1 - LON0) / ntx, (LAT1 - LAT0) / nty
    h2 = radius_km * radius_km
    for gy in range(HH):
        ty, py = divmod(gy, H)
        for gx in range(WW):
            tx, px = divmod(gx, W)
            lon = LON0 + (tx + (px + 0.5) / W) * dlon
            lat = LAT1 - (ty + (py + 0.5) / H) * dlat
            acc = 0.0
            for r in st.sort_values("station_id").itertuples():
                d = float(spatial.haversine_km(
                    np.array([lon]), np.array([lat]),
                    np.array([r.lon]), np.array([r.lat]))[0])
                if d > radius_km:
                    continue
                if kernel == "epanechnikov":
                    kv = (2.0 / (np.pi * h2)) * (1.0 - d * d / h2)
                elif kernel == "uniform":
                    kv = 1.0 / (np.pi * h2)
                else:
                    s2 = h2 / 9.0
                    kv = np.exp(-(d * d) / (2.0 * s2)) / (2.0 * np.pi * s2)
                acc += kv * (r.value if weighted else 1.0)
            out[gy, gx] = acc
    return out


def _mosaic_kde(pdf, box):
    LON0, LAT0, LON1, LAT1, ntx, nty, W, H = box
    out = np.full((nty * H, ntx * W), np.nan, dtype=np.float32)
    for r in pdf.itertuples():
        p = np.frombuffer(r.kde_bytes, "<f4").reshape(r.h, r.w)
        out[r.tile_y * H:(r.tile_y + 1) * H,
            r.tile_x * W:(r.tile_x + 1) * W] = p
    return out


@pytest.mark.parametrize("kernel,weighted", [
    ("epanechnikov", False), ("gaussian", True), ("uniform", False)])
def test_kde_rasterize_matches_brute_oracle(spark, kernel, weighted):
    tiles, geom, st, box = _idw_fixture(spark)
    radius = 7.0
    got = _mosaic_kde(
        spatial.kde_rasterize(tiles, st, geom, radius_km=radius,
                              kernel=kernel, weighted=weighted).toPandas(),
        box)
    want = _kde_oracle_plane(st, box, radius, kernel, weighted)
    np.testing.assert_allclose(got, want.astype(np.float32), rtol=1e-6)
    assert (got >= 0).all() and got.max() > 0


def test_kde_cells_bit_identical_to_broadcast(spark):
    tiles, geom, st, box = _idw_fixture(spark)
    # park two stations FAR outside every tile's gather ring: their
    # contributions are exact zeros the cells path never even sees
    st = st.copy()
    st.loc[1, "lon"], st.loc[1, "lat"] = 14.0, 44.0
    st.loc[2, "lon"], st.loc[2, "lat"] = 5.0, 35.0
    b = spatial.kde_rasterize(tiles, st, geom, radius_km=5.0).toPandas()
    s = spatial.kde_rasterize_cells(
        tiles, spark.createDataFrame(st), geom, radius_km=5.0).toPandas()
    key = ["scene_id", "tile_x", "tile_y"]
    b = b.sort_values(key).reset_index(drop=True)
    s = s.sort_values(key).reset_index(drop=True)
    assert (b.kde_bytes == s.kde_bytes).all()


def test_kde_rejects_bad_args(spark):
    tiles, geom, st, _ = _idw_fixture(spark, n_stations=3)
    with pytest.raises(ValueError, match="kernel"):
        spatial.kde_rasterize(tiles, st, geom, radius_km=5.0,
                              kernel="triweight")
    with pytest.raises(ValueError, match="radius"):
        spatial.kde_rasterize(tiles, st, geom, radius_km=-1.0)


# ---- rasterize_lines (v.to.rast type=line) --------------------------------

def _seg_rect_dist(ax, ay, bx, by, cx0, cy0, cx1, cy1):
    """Min distance between segment and rectangle (0 if intersecting)."""
    # sample-free: clamp-project rectangle corners/edges is fiddly; use
    # dense parametric sampling (fine at test scale)
    t = np.linspace(0, 1, 4001)
    px = ax + (bx - ax) * t
    py = ay + (by - ay) * t
    dx = np.clip(px, cx0, cx1) - px
    dy = np.clip(py, cy0, cy1) - py
    return float(np.sqrt(dx * dx + dy * dy).min())


def test_supercover_two_sided_bound():
    """Traversal must contain every densely-sampled cell (no gaps) and
    touch only cells within epsilon of the segment (no spray)."""
    rng = np.random.default_rng(71)
    for _ in range(40):
        ax, ay, bx, by = rng.uniform(0, 10, 4)
        cells = set(spatial.supercover_cells(ax, ay, bx, by))
        t = np.linspace(0, 1, 5001)
        sampled = set(zip(np.floor(ax + (bx - ax) * t).astype(int),
                          np.floor(ay + (by - ay) * t).astype(int)))
        assert sampled <= cells, (ax, ay, bx, by)
        for cx, cy in cells:
            assert _seg_rect_dist(ax, ay, bx, by,
                                  cx, cy, cx + 1, cy + 1) < 1e-3, \
                (ax, ay, bx, by, cx, cy)


def test_rasterize_lines_matches_sampled_oracle(spark):
    import pandas as pd

    tiles, geom, _st, box = _idw_fixture(spark, n_stations=1)
    LON0, LAT0, LON1, LAT1, ntx, nty, W, H = box
    lines = pd.DataFrame([
        {"line_id": "road", "cat": 7,
         "xs": [10.02, 10.38], "ys": [40.05, 40.35]},     # long diagonal
        {"line_id": "canal", "cat": 3,
         "xs": [10.01, 10.39, 10.39], "ys": [40.2, 40.2, 40.01]},  # L shape
    ])
    got = spatial.rasterize_lines(tiles, lines, geom).toPandas()
    mosaic = np.full((nty * H, ntx * W), np.nan, dtype=np.float32)
    for r in got.itertuples():
        p = np.frombuffer(r.line_bytes, "<f4").reshape(r.h, r.w)
        m = np.isfinite(p)
        blk = mosaic[r.tile_y * H:(r.tile_y + 1) * H,
                     r.tile_x * W:(r.tile_x + 1) * W]
        blk[m] = p[m]
        assert r.n_cells == int(m.sum())
    gw, gh = ntx * W, nty * H
    # oracle: dense sampling of every segment in global pixel space must
    # land on burned cells with the right (max) category
    for xs, ys, cat in [(lines["xs"][0], lines["ys"][0], 7),
                        (lines["xs"][1], lines["ys"][1], 3)]:
        for i in range(len(xs) - 1):
            t = np.linspace(0, 1, 3000)
            u = (np.asarray(xs[i]) + (xs[i + 1] - xs[i]) * t - LON0) \
                / (LON1 - LON0) * gw
            v = (LAT1 - (np.asarray(ys[i]) + (ys[i + 1] - ys[i]) * t)) \
                / (LAT1 - LAT0) * gh
            for cx, cy in set(zip(np.floor(u).astype(int),
                                  np.floor(v).astype(int))):
                assert np.isfinite(mosaic[cy, cx]), (cx, cy)
                assert mosaic[cy, cx] >= cat  # >= : overlaps take the max
    # untouched tiles emit nothing
    assert len(got) < ntx * nty * 2 + 1
    # bad input raises
    bad = pd.DataFrame([{"line_id": "x", "cat": 1, "xs": [1.0], "ys": [2.0]}])
    with pytest.raises(ValueError, match="equal-length"):
        spatial.rasterize_lines(tiles, bad, geom)


# ---- sample_random_cells (r.random analog) --------------------------------

def test_sample_random_cells_matches_whole_scene_ranking(spark):
    import pandas as pd

    rng = np.random.default_rng(83)
    H, W, th, tw = 24, 36, 12, 12
    planes = {}
    rows = []
    for sid in ("SA", "SB"):
        p = rng.uniform(0, 100, (H, W))
        p[rng.random((H, W)) < 0.3] = np.nan
        p = p.astype(np.float32).astype(np.float64)
        planes[sid] = p
        for ty in range(H // th):
            for tx in range(W // tw):
                t = p[ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw]
                rows.append({"scene_id": sid, "tile_x": tx, "tile_y": ty,
                             "w": tw, "h": th,
                             "lst_bytes": t.astype("<f4").tobytes()})
    df = spark.createDataFrame(pd.DataFrame(rows))
    N, SEED = 17, 42
    got = spatial.sample_random_cells(df, N, seed=SEED).toPandas()
    for sid, p in planes.items():
        sub = got[got.scene_id == sid]
        assert len(sub) == N
        # oracle: whole-scene ranking with the same hash
        gy, gx = np.nonzero(np.isfinite(p))
        rk = spatial._cell_rank_hash(gx.astype(np.int64),
                                     gy.astype(np.int64), SEED)
        order = np.lexsort((gx, gy, rk))[:N]
        want = {(int(gx[i]), int(gy[i])) for i in order}
        assert {(r.gx, r.gy) for r in sub.itertuples()} == want
        for r in sub.itertuples():
            assert r.value == p[r.gy, r.gx]
    # deterministic: same seed -> same set; different seed -> different set
    again = spatial.sample_random_cells(df, N, seed=SEED).toPandas()
    assert ({(r.gx, r.gy) for r in again.itertuples()}
            == {(r.gx, r.gy) for r in got.itertuples()})
    other = spatial.sample_random_cells(df, N, seed=7).toPandas()
    assert ({(r.gx, r.gy) for r in other[other.scene_id == "SA"].itertuples()}
            != {(r.gx, r.gy) for r in got[got.scene_id == "SA"].itertuples()})
    # n larger than the valid count: every valid cell, no more
    tiny = spark.createDataFrame(pd.DataFrame([{
        "scene_id": "SC", "tile_x": 0, "tile_y": 0, "w": 2, "h": 2,
        "lst_bytes": np.array([[1.0, np.nan], [3.0, np.nan]],
                              "<f4").tobytes()}]))
    assert spatial.sample_random_cells(tiny, 10).count() == 2
    with pytest.raises(ValueError, match="n must be"):
        spatial.sample_random_cells(df, 0)


# ---- rasterize_lines_cells (distributed no-broadcast path) -----------------

def _random_lines(box, n_lines, seed, max_verts=4):
    import pandas as pd

    LON0, LAT0, LON1, LAT1 = box[:4]
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_lines):
        nv = int(rng.integers(2, max_verts + 1))
        # short wandering polylines (road-network shaped), some dangling
        # past the grid edge
        x0 = rng.uniform(LON0 - 0.02, LON1 + 0.02)
        y0 = rng.uniform(LAT0 - 0.02, LAT1 + 0.02)
        xs = np.cumsum(np.concatenate(([x0], rng.uniform(-0.04, 0.04, nv - 1))))
        ys = np.cumsum(np.concatenate(([y0], rng.uniform(-0.04, 0.04, nv - 1))))
        rows.append({"line_id": f"L{i:05d}", "cat": int(rng.integers(1, 9)),
                     "xs": xs.tolist(), "ys": ys.tolist()})
    return pd.DataFrame(rows)


def test_rasterize_lines_cells_byte_identical_to_broadcast(spark):
    tiles, geom, _st, box = _idw_fixture(spark, n_stations=1)
    lines = _random_lines(box, 60, seed=83)
    b = spatial.rasterize_lines(tiles, lines, geom).toPandas()
    s = spatial.rasterize_lines_cells(
        tiles, spark.createDataFrame(lines), geom).toPandas()
    key = ["scene_id", "tile_x", "tile_y"]
    b = b.sort_values(key).reset_index(drop=True)
    s = s.sort_values(key).reset_index(drop=True)
    assert len(b) == len(s) and len(b) > 0
    assert (b[key] == s[key]).all().all()
    assert (b.line_bytes == s.line_bytes).all()
    assert (b.n_cells == s.n_cells).all()


def test_rasterize_lines_cells_two_scenes(spark):
    import pandas as pd

    tiles, geom, _st, box = _idw_fixture(spark, n_stations=1)
    # second scene with a DIFFERENT grid overlapping the same lines
    t2 = spark.createDataFrame(pd.DataFrame([
        {"scene_id": "S2", "tile_x": tx, "tile_y": ty, "w": 16, "h": 16}
        for tx in range(3) for ty in range(2)]))
    g2 = spark.createDataFrame(pd.DataFrame([{
        "scene_id": "S2", "lon0": 10.15, "lat0": 40.1,
        "lon1": 10.75, "lat1": 40.5, "ntx": 3, "nty": 2}]))
    tiles2, geom2 = tiles.unionByName(t2), geom.unionByName(g2)
    lines = _random_lines(box, 30, seed=89)
    b = spatial.rasterize_lines(tiles2, lines, geom2).toPandas()
    s = spatial.rasterize_lines_cells(
        tiles2, spark.createDataFrame(lines), geom2).toPandas()
    key = ["scene_id", "tile_x", "tile_y"]
    b = b.sort_values(key).reset_index(drop=True)
    s = s.sort_values(key).reset_index(drop=True)
    assert set(b.scene_id) == {"S1", "S2"} and len(b) == len(s)
    assert (b.line_bytes == s.line_bytes).all()


def test_rasterize_lines_cells_scale_and_empty(spark):
    # 10^5 segments never touch the driver: the vector side goes in as a
    # Spark frame and explodes executor-side
    import pandas as pd

    tiles, geom, _st, box = _idw_fixture(spark, n_stations=1)
    n = 50_000  # 2-vertex lines -> 5*10^4 lines, 10^5 vertices
    rng = np.random.default_rng(97)
    LON0, LAT0, LON1, LAT1 = box[:4]
    x0 = rng.uniform(LON0, LON1, n)
    y0 = rng.uniform(LAT0, LAT1, n)
    pdf = pd.DataFrame({
        "line_id": [f"R{i}" for i in range(n)],
        "cat": rng.integers(1, 100, n),
        "xs": np.column_stack([x0, x0 + rng.uniform(-0.01, 0.01, n)]).tolist(),
        "ys": np.column_stack([y0, y0 + rng.uniform(-0.01, 0.01, n)]).tolist(),
    })
    out = spatial.rasterize_lines_cells(
        tiles, spark.createDataFrame(pdf), geom).toPandas()
    assert len(out) == 4                      # every tile touched
    # 5*10^4 segments inside a 32x32-px grid saturate every pixel
    assert (out.n_cells == 16 * 16).all()
    # empty vector side -> empty result, schema intact
    empty = spatial.rasterize_lines_cells(
        tiles, spark.createDataFrame(
            pdf.head(0), schema="line_id string, cat long, "
                                "xs array<double>, ys array<double>"),
        geom).toPandas()
    assert len(empty) == 0
    assert list(empty.columns) == [f.name for f in spatial._LINES_SCHEMA]


def test_rasterize_lines_cells_bad_input_raises_executor_side(spark):
    import pandas as pd

    tiles, geom, _st, _box = _idw_fixture(spark, n_stations=1)
    bad = pd.DataFrame([{"line_id": "x", "cat": 1,
                         "xs": [1.0], "ys": [2.0]}])
    with pytest.raises(Exception, match="equal-length"):
        spatial.rasterize_lines_cells(
            tiles, spark.createDataFrame(bad), geom).collect()


# ---- argument checks and duplicate point keys ------------------------------

def _tiny_points(spark, pids=(0, 1, 2), lons=(10.0, 10.01, 10.02)):
    return spark.createDataFrame(pd.DataFrame({
        "pid": list(pids), "lon": list(lons), "lat": [40.0] * len(pids)}))


_BAD_ARGS = {
    "knn_join_k0": lambda s, p: spatial.knn_join(p, synth.stations_pdf("tiny"), k=0),
    "knn_join_k-1": lambda s, p: spatial.knn_join(p, synth.stations_pdf("tiny"), k=-1),
    "enrich_k0": lambda s, p: spatial.enrich_pixels(
        p, synth.aoi_pdf("tiny"), synth.stations_pdf("tiny"), k=0),
    "enrich_how": lambda s, p: spatial.enrich_pixels(
        p, synth.aoi_pdf("tiny"), synth.stations_pdf("tiny"), how="outer"),
    "pip_join_how": lambda s, p: spatial.pip_join(p, synth.aoi_pdf("tiny"), how="right"),
    "zonal_how": lambda s, p: spatial.zonal_stats(p, synth.aoi_pdf("tiny"), how="outer"),
    "knn_cells_k0": lambda s, p: spatial.knn_join_cells(
        p, synth.stations_pdf("tiny"), k=0, key_cols=["pid"]),
    "knn_cells_k-1": lambda s, p: spatial.knn_join_cells(
        p, synth.stations_pdf("tiny"), k=-1, key_cols=["pid"]),
    "knn_exact_k0": lambda s, p: spatial.knn_join_cells_exact(
        p, synth.stations_pdf("tiny"), k=0, key_cols=["pid"]),
}


@pytest.mark.parametrize("case", sorted(_BAD_ARGS))
def test_bad_k_or_how_raises_on_the_driver(spark, case):
    """k < 1 and a ``how`` outside {inner, left} raise ValueError when the
    DataFrame is built, before any action: k=0 used to return zero rows,
    a negative k failed inside a Python worker, and an unknown ``how`` ran
    as inner."""
    pts = _tiny_points(spark)
    with pytest.raises(ValueError, match="k must be" if "_k" in case else "how must be"):
        _BAD_ARGS[case](spark, pts)


def _dup_stations():
    rng = np.random.default_rng(61)
    return pd.DataFrame({
        "station_id": [f"s{i:02d}" for i in range(20)],
        "lon": rng.uniform(10.0, 10.02, 20), "lat": rng.uniform(40.0, 40.02, 20),
        "cwv_obs": rng.uniform(0, 6, 20)})


@pytest.mark.parametrize("case", ["cells", "cells_no_candidates", "cells_exact",
                                  "enrich_cells"])
def test_duplicate_key_cols_raise_from_executors(spark, case):
    """A key_cols value held by two point rows used to fan out silently
    (each station ranked once per copy); the kNN rank window now raises.
    Covers two copies of one point, two different points under one key and
    two copies of a point with no candidate station (the LEFT join's NULL
    rows)."""
    pids, lons = (0, 1, 1, 2, 2), (10.01, 10.005, 10.005, 10.015, 10.012)
    if case == "cells_no_candidates":
        lons = (10.01, 10.005, 10.01, 12.0, 12.0)
        pids = (0, 1, 2, 3, 3)
    pts = _tiny_points(spark, pids, lons)
    st = _dup_stations()
    ops = {
        "cells": lambda: spatial.knn_join_cells(pts, st, k=2, key_cols=["pid"]),
        "cells_no_candidates": lambda: spatial.knn_join_cells(
            pts, st, k=2, key_cols=["pid"]),
        "cells_exact": lambda: spatial.knn_join_cells_exact(
            pts, st, k=2, key_cols=["pid"]),
        "enrich_cells": lambda: spatial.enrich_pixels_cells(
            pts, synth.aoi_pdf("tiny"), spark.createDataFrame(st), k=2,
            key_cols=["pid"], exact=False),
    }
    with pytest.raises(Exception, match="repeat across point rows"):
        ops[case]().collect()
    # one row per key: no error
    ok = _tiny_points(spark, (0, 1, 2), (10.01, 10.005, 10.015))
    assert spatial.knn_join_cells(ok, st, k=2, key_cols=["pid"]).count() == 6


def test_top_k_blocks_the_distance_matrix(monkeypatch):
    """The broadcast kNN's (points x stations) matrices stay ~4M doubles per
    block however large the coalesced batch, with the unblocked result:
    an 8192-row batch against 50k stations used to allocate 3.3 GB per
    matrix in enrich_pixels."""
    rng = np.random.default_rng(67)
    n, m, k = 9000, 1000, 3
    px, py = rng.uniform(0, 1, n), rng.uniform(0, 1, n)
    slon, slat = rng.uniform(0, 1, m), rng.uniform(0, 1, m)
    ids = np.array([f"s{i:04d}" for i in rng.permutation(m)], dtype=object)
    id_rank = np.argsort(np.argsort(ids, kind="stable"))
    shapes = []
    hav = spatial.haversine_km

    def spy(lon1, lat1, lon2, lat2):
        shapes.append(np.broadcast(lon1, lon2).shape)
        return hav(lon1, lat1, lon2, lat2)

    monkeypatch.setattr(spatial, "haversine_km", spy)
    top, km = spatial._top_k(px, py, slon, slat, id_rank, k)
    assert len(shapes) == 3 and max(a * b for a, b in shapes) <= 4_000_000
    d = hav(px[:, None], py[:, None], slon[None, :], slat[None, :])
    want = np.lexsort((np.broadcast_to(ids, d.shape), d), axis=1)[:, :k]
    np.testing.assert_array_equal(top, want)
    np.testing.assert_array_equal(km, np.take_along_axis(d, want, axis=1))


def test_enrich_pixels_aoi_without_category(spark):
    """An AOI table with no ``category`` column gives NULL aoi_category and
    otherwise the same rows; the fused hop used to raise ArrowTypeError on
    the pandas NaN placeholder."""
    aoi, st = synth.aoi_pdf("tiny"), synth.stations_pdf("tiny")
    pp = spatial.PackedPolygons.from_pdf(aoi)
    c = pp.ring(0)[:-1].mean(axis=0)
    pts = _tiny_points(spark, (0, 1), (float(c[0]), float(c[0]) + 5.0)) \
        .withColumn("lat", F.when(F.col("pid") == 0, float(c[1])).otherwise(F.col("lat")))
    key = ["pid", "aoi_id", "station_rank"]
    want = spatial.enrich_pixels(pts, aoi, st, k=2).toPandas().sort_values(key)
    got = spatial.enrich_pixels(pts, aoi.drop(columns="category"), st, k=2) \
        .toPandas().sort_values(key)
    assert want.aoi_id.notna().any() and got.aoi_category.isna().all()
    pd.testing.assert_frame_equal(got.drop(columns="aoi_category").reset_index(drop=True),
                                  want.drop(columns="aoi_category").reset_index(drop=True))

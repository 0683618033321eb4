#!/usr/bin/env python
"""Round-7 isolation bench: time ONE declared query (or a named operator
block) with the noop sink, optionally dumping .explain("formatted").

bench.py is FROZEN for the driver's measurement; this file exists so each
optimization can be measured in isolation (guide §1.4) without touching it.

Usage:
  python bench_extra.py q_ann_ivf [--reps 3] [--plan plans/r07/q_ann_ivf_before.txt]
  python bench_extra.py sun|texture|classify|kmeans|maxlik|pca|stretch|histo [--reps 3]
  python bench_extra.py idw|idw_cells|lines_cells|warp|raster|enrich [--reps 3]
  python bench_extra.py raster_stats|raster_halo|raster_pixels|raster_emis|rasterize [--reps 3]
  python bench_extra.py viewshed|viewshed_cva|horizon|tovect|contour [--reps 3]
  python bench_extra.py regions|segment|landscape [--reps 3]
  python bench_extra.py focal|costdist|flowaccum|drain|lake|sample|aoi [--reps 3]
  python bench_extra.py series|series_deep|temporal|gapfill|accumulate [--reps 3]
  python bench_extra.py pytasks [--reps 3]   # per-task Python-UDF hop cost

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1, as in bench.py),
SPARK_GRAFT_CPUS (default: this host's os.cpu_count()).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
RASTER_SCENES = int(os.environ.get("SPARK_GRAFT_BENCH_SCENES", "8"))


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _operator_df(spark, name: str, tmp: str):
    """Rebuild the exact DataFrame bench.py times for an operator block."""
    if name == "pytasks":
        # 32 one-row mapInArrow tasks: the per-task Python hop, no data work
        return spark.range(32, numPartitions=32).mapInArrow(
            lambda batches: batches, "id long")

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from i_landsat8_swlst_spark import constants as C, pipeline, synth

    if name in ("viewshed", "viewshed_cva", "horizon", "tovect", "contour",
                "regions", "segment", "landscape", "focal", "costdist",
                "flowaccum", "drain", "lake"):
        from i_landsat8_swlst_spark import (
            costdist as Cd, hydro as Hy, landscape as Ls, regions as Rg,
            segment as Sg, terrain as Tr, vectorize as Vz,
        )
        terr_path = f"{tmp}/terrain_tiles"
        if not os.path.isdir(terr_path):
            # deterministic 1024x1024 terrain (64 tiles of 128x128):
            # uniform base + two gaussian ridges, same recipe as the
            # test fixtures but at bench scale
            rng = np.random.default_rng(23)
            h = w = 1024
            base = rng.uniform(0.0, 30.0, (h, w))
            yy, xx = np.mgrid[0:h, 0:w]
            base += 60.0 * np.exp(-((xx - w * 0.7) ** 2
                                    + (yy - h * 0.3) ** 2) / 8000.0)
            base += 45.0 * np.exp(-((xx - w * 0.25) ** 2
                                    + (yy - h * 0.75) ** 2) / 12000.0)
            plane = base.astype(np.float32)
            trows = []
            for ty in range(8):
                for tx in range(8):
                    t = plane[ty * 128:(ty + 1) * 128, tx * 128:(tx + 1) * 128]
                    trows.append({"scene_id": "T0", "tile_x": tx,
                                  "tile_y": ty, "w": 128, "h": 128,
                                  "lst_bytes": np.ascontiguousarray(t)
                                  .astype("<f4").tobytes()})
            spark.createDataFrame(pd.DataFrame(trows)) \
                .write.mode("overwrite").parquet(terr_path)
        terr = spark.read.parquet(terr_path)
        if name == "viewshed":
            obs = pd.DataFrame([{"scene_id": "T0", "ox": 512, "oy": 512}])
            return Tr.viewshed_tiles(terr, obs, max_dist=96.0,
                                     n_sectors=256)
        if name == "viewshed_cva":
            obs = pd.DataFrame([
                {"scene_id": "T0", "obs_id": f"o{i}{j}",
                 "ox": 256 + 256 * i, "oy": 256 + 256 * j}
                for i in range(3) for j in range(3)])
            return Tr.viewshed_count_tiles(terr, obs, max_dist=64.0,
                                           n_sectors=128)
        if name == "horizon":
            small = terr.filter("tile_x < 4 AND tile_y < 4")
            return Tr.horizon_tiles(small, [90.0, 225.0, 315.0])
        if name == "tovect":
            return Vz.to_vect(terr, threshold=45.0)
        # the other connected-component operators on the same fixture
        if name == "regions":
            return Rg.extract_regions(terr, threshold=45.0)
        if name == "segment":
            return Sg.segment_tiles(terr, lam=12.0)
        if name == "landscape":
            return Ls.class_metrics(terr, levels=8)
        # the neighbourhood operators on the same fixture: one halo pass,
        # and two halo fixpoints (distance from the ridge tops, flow
        # accumulation)
        if name == "focal":
            return pipeline.focal_stats_tiles(terr, window=5, halo=True)
        if name == "costdist":
            return Cd.cost_distance_tiles(terr, threshold=80.0)
        if name == "flowaccum":
            return Hy.flow_accum_tiles(terr)
        if name == "drain":  # 300 seeded starts (the fixture has no NULL cell)
            rs = np.random.default_rng(37)
            return Hy.drain_paths(terr, spark.createDataFrame(pd.DataFrame({
                "scene_id": "T0", "pid": np.arange(300),
                "gx": rs.integers(0, 1024, 300), "gy": rs.integers(0, 1024, 300)})))
        if name == "lake":  # level 35 tops the 0-30 base: one seed 200 px off each ridge
            return Rg.lake_tiles(terr, spark.createDataFrame(pd.DataFrame(
                {"scene_id": "T0", "gx": [916, 56], "gy": [307, 768]})), 35.0)
        return Vz.contour_lines(terr, [20.0, 40.0, 60.0])
    if name in ("series", "series_deep", "temporal", "gapfill", "accumulate"):
        from i_landsat8_swlst_spark import series as Se
        rev_path = f"{tmp}/revisit_tiles"
        fps, n_rev = ("FA", "FB"), 16
        if not os.path.isdir(rev_path):
            # 2 footprints x 16 revisits x 8x8 tiles of 128x128, 10% NaN,
            # written one footprint at a time under a ".part" path that is
            # renamed only once both are in, so an interrupted build is redone
            part = f"{rev_path}.part"
            shutil.rmtree(part, ignore_errors=True)
            rng = np.random.default_rng(29)
            for fp in fps:
                rrows = []
                for r in range(n_rev):
                    plane = rng.uniform(260.0, 330.0, (1024, 1024)).astype(np.float32)
                    plane[rng.random(plane.shape) < 0.1] = np.nan
                    rrows += [{"scene_id": f"{fp}R{r}", "tile_x": tx, "tile_y": ty,
                               "w": 128, "h": 128, "lst_bytes": np.ascontiguousarray(
                                   plane[ty * 128:(ty + 1) * 128,
                                         tx * 128:(tx + 1) * 128]).tobytes()}
                              for ty in range(8) for tx in range(8)]
                spark.createDataFrame(pd.DataFrame(rrows)) \
                    .write.mode("append").parquet(part)
            os.rename(part, rev_path)
        rev = spark.read.parquet(rev_path)
        # acquisition instants 10 days apart, at 10:30 UTC
        rmeta = spark.createDataFrame(pd.DataFrame([
            {"scene_id": f"{fp}R{r}", "acquired_at": pd.Timestamp("2021-01-01 10:30")
             + pd.Timedelta(days=10 * r)} for fp in fps for r in range(n_rev)]))
        if name == "series":
            return Se.series_tiles(rev)
        if name == "series_deep":
            return Se.series_tiles_deep(rev)
        if name == "temporal":
            return Se.temporal_aggregate_tiles(rev, rmeta, "1 month")
        if name == "gapfill":
            return Se.gapfill_tiles(rev, rmeta)
        return Se.accumulate_tiles(rev, rmeta, lower=280.0)
    if name in ("enrich", "aoi"):
        from i_landsat8_swlst_spark import spatial
        aoi_pdf = synth.aoi_pdf("small")
        if name == "aoi":
            return spatial.aoi_measures(spark, aoi_pdf)
        st_pdf = synth.stations_pdf("small")
        allv = [p for ring in aoi_pdf["ring"] for p in ring]
        elons = np.array([p["lon"] for p in allv])
        elats = np.array([p["lat"] for p in allv])
        rng = np.random.default_rng(19)
        pts_path = f"{tmp}/enrich_points"
        if not os.path.isdir(pts_path):
            spark.createDataFrame(pd.DataFrame({
                "pid": np.arange(2000000),
                "lon": rng.uniform(elons.min() - 0.2, elons.max() + 0.2, 2000000),
                "lat": rng.uniform(elats.min() - 0.2, elats.max() + 0.2, 2000000),
                "lst_k": rng.uniform(260.0, 330.0, 2000000),
            })).repartition(CPUS).write.mode("overwrite").parquet(pts_path)
        epts = spark.read.parquet(pts_path)
        return spatial.enrich_pixels(epts, aoi_pdf, st_pdf, k=2, how="left")

    scenes_path = f"{tmp}/scenes"
    if not os.path.isdir(scenes_path):
        synth.synth_scenes_spark(spark, "bench", scenes=range(RASTER_SCENES)) \
            .write.mode("overwrite").parquet(scenes_path)
    scenes = spark.read.parquet(scenes_path)
    meta = spark.createDataFrame(synth.scene_meta_pdf("bench"))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))

    if name == "raster":
        return pipeline.lst_tiles(
            pipeline.build_enriched(scenes, meta, emis), window=C.DEFAULT_CWV_WINDOW)
    if name == "raster_stats":
        return pipeline.lst_tiles(
            pipeline.build_enriched(scenes, meta, emis), window=C.DEFAULT_CWV_WINDOW,
            emit_arrays=False)
    if name == "raster_halo":
        return pipeline.lst_tiles_halo(
            pipeline.build_enriched(scenes, meta, emis), window=C.DEFAULT_CWV_WINDOW)
    if name in ("raster_pixels", "rasterize"):
        # one pixel row per valid pixel: the first 8 tile rows of each scene
        # keep the exploded output a few million rows
        pixels = pipeline.lst_pixels(
            pipeline.build_enriched_with_grid(scenes, meta, emis)
            .filter(F.col("tile_y") < 8), window=C.DEFAULT_CWV_WINDOW)
        if name == "raster_pixels":
            return pixels
        # the scatter back to tiles, from those pixel rows written once
        px_path = f"{tmp}/pixel_rows"
        if not os.path.isdir(px_path):
            pixels.select("image_id", "scene_id", "tile_x", "tile_y", "px",
                          "py", "lst_k").write.mode("overwrite").parquet(px_path)
        return pipeline.rasterize_pixels(spark.read.parquet(px_path), 128, 128)
    if name == "raster_emis":
        # per-pixel emissivity planes (f32 LE, two dyadic constants
        # alternating by tile) written once next to the scenes
        emis_path = f"{tmp}/emis_tiles"
        if not os.path.isdir(emis_path):
            pipeline.parse_scenes(scenes).filter("band = 10").select(
                "scene_id", "tile_x", "tile_y", F.expr(
                    "unhex(repeat(CASE WHEN (tile_x + tile_y) % 2 = 0 "
                    "THEN '0000783F' ELSE '0000773F' END, w * h))")
                .alias("emis_bytes")).write.mode("overwrite").parquet(emis_path)
        return pipeline.lst_tiles_pixel_emissivity(
            pipeline.build_enriched(scenes, meta, emis),
            spark.read.parquet(emis_path), window=C.DEFAULT_CWV_WINDOW)

    tex_path = f"{tmp}/texture_tiles"
    if not os.path.isdir(tex_path):
        pipeline.lst_tiles(
            pipeline.build_enriched(scenes, meta, emis),
            window=C.DEFAULT_CWV_WINDOW).limit(2048) \
            .write.mode("overwrite").parquet(tex_path)
    ttiles = spark.read.parquet(tex_path)

    if name == "sample":  # 200k seeded points over the texture tiles' scene boxes
        from i_landsat8_swlst_spark import spatial
        geom = (pipeline.scene_grids(pipeline.parse_scenes(scenes))
                .join(meta.select("scene_id", "lon0", "lat0", "lon1", "lat1"), "scene_id"))
        spts_path = f"{tmp}/sample_points"
        if not os.path.isdir(spts_path):
            b = geom.join(ttiles.select("scene_id").distinct(), "scene_id").toPandas()
            rs = np.random.default_rng(41)
            k = rs.integers(0, len(b), 200000)
            lon, lat = rs.uniform(b[["lon0", "lat0"]].to_numpy()[k],
                                  b[["lon1", "lat1"]].to_numpy()[k]).T
            spark.createDataFrame(pd.DataFrame(
                {"pid": np.arange(200000), "lon": lon, "lat": lat})) \
                .write.mode("overwrite").parquet(spts_path)
        return spatial.sample_raster(ttiles, spark.read.parquet(spts_path), geom)
    if name == "texture":
        from i_landsat8_swlst_spark import texture
        return texture.glcm_texture_tiles(ttiles, window=5, levels=8)
    if name == "classify":
        # bench.py times ONLY the assignment pass (the model is built once
        # before its timed region); cache the fitted model across reps so
        # this harness measures the same thing
        from i_landsat8_swlst_spark import classify as Cl
        model = getattr(_operator_df, "_cls_model", None)
        if model is None:
            model = Cl.kmeans_model_df(ttiles, ["lst_bytes", "cwv_bytes"],
                                       k=5, iters=2)
            model.count()
            _operator_df._cls_model = model
        return Cl.classify_tiles(ttiles, ["lst_bytes", "cwv_bytes"], model)
    if name == "kmeans":
        # one uncached fit: the init and two Lloyd steps with their
        # grouped center updates
        from i_landsat8_swlst_spark import classify as Cl
        return Cl.kmeans_model_df(ttiles, ["lst_bytes", "cwv_bytes"], k=5, iters=2)
    if name == "maxlik":
        # the signature pass over a k-means model fitted once
        from i_landsat8_swlst_spark import classify as Cl
        model = getattr(_operator_df, "_cls_model", None)
        if model is None:
            model = Cl.kmeans_model_df(ttiles, ["lst_bytes", "cwv_bytes"],
                                       k=5, iters=2).localCheckpoint()
            _operator_df._cls_model = model
        return Cl.maxlik_model_df(ttiles, ["lst_bytes", "cwv_bytes"], model)
    if name in ("pca", "stretch", "histo"):
        from i_landsat8_swlst_spark import multiband as Mb
        if name == "pca":
            return Mb.pca_model_df(ttiles, ["lst_bytes", "cwv_bytes"])
        if name == "stretch":
            return Mb.stretch_luts_df(ttiles)
        ref = ttiles.select("scene_id").first().scene_id
        return Mb.histo_match_tiles(ttiles, ref)[0]
    if name == "sun":
        from i_landsat8_swlst_spark import terrain as Tr
        sun_in = ttiles.select("scene_id", "tile_x", "tile_y", "w", "h",
                               "lst_bytes").limit(512).repartition(CPUS)
        sun_scenes = [r.scene_id for r in
                      sun_in.select("scene_id").distinct().collect()]
        sun_pos = pd.DataFrame([
            {"scene_id": s, "azimuth_deg": 225.0, "altitude_deg": 30.0}
            for s in sun_scenes])
        return Tr.sun_tiles(sun_in, sun_pos)
    if name in ("idw", "idw_cells", "lines_cells"):
        # 512 grid tiles; 16 seeded stations and 400 seeded 8-vertex lines
        # per live scene
        from i_landsat8_swlst_spark import spatial
        grid = ttiles.select("scene_id", "tile_x", "tile_y", "w", "h") \
            .limit(512).repartition(CPUS)
        idw_geom = (pipeline.scene_grids(pipeline.parse_scenes(scenes))
                    .join(meta.select("scene_id", "lon0", "lat0", "lon1", "lat1"),
                          "scene_id"))
        live = {r.scene_id for r in
                pipeline.parse_scenes(scenes).select("scene_id").distinct().collect()}
        boxes = meta.select("scene_id", "lon0", "lat0", "lon1", "lat1").toPandas()
        boxes = boxes[boxes.scene_id.isin(live)]
        rs = np.random.default_rng(7)
        st_rows, line_rows = [], []
        for b in boxes.itertuples():
            for j in range(16):
                st_rows.append({
                    "station_id": f"st{b.scene_id}_{j:02d}",
                    "lon": float(rs.uniform(b.lon0, b.lon1)),
                    "lat": float(rs.uniform(b.lat0, b.lat1)),
                    "value": float(rs.uniform(0.5, 6.5))})
            if name == "lines_cells":
                for j in range(400):
                    line_rows.append({
                        "line_id": f"L{b.scene_id}_{j:03d}", "cat": j % 8 + 1,
                        "xs": np.cumsum(np.r_[rs.uniform(b.lon0, b.lon1),
                                              rs.uniform(-0.04, 0.04, 7)]).tolist(),
                        "ys": np.cumsum(np.r_[rs.uniform(b.lat0, b.lat1),
                                              rs.uniform(-0.04, 0.04, 7)]).tolist()})
        if name == "idw":
            return spatial.idw_rasterize(grid, pd.DataFrame(st_rows), idw_geom, k=12)
        if name == "idw_cells":
            return spatial.idw_rasterize_cells(
                grid, spark.createDataFrame(pd.DataFrame(st_rows)), idw_geom,
                radius_km=60.0, k=12)
        return spatial.rasterize_lines_cells(
            grid, spark.createDataFrame(pd.DataFrame(line_rows)), idw_geom)
    if name == "warp":
        from i_landsat8_swlst_spark import warp as Wp
        idw_geom = (pipeline.scene_grids(pipeline.parse_scenes(scenes))
                    .join(meta.select("scene_id", "lon0", "lat0", "lon1", "lat1"),
                          "scene_id"))
        gp = idw_geom.toPandas()
        ws = gp.iloc[0]
        wtiles = ttiles.filter(F.col("scene_id") == ws.scene_id)
        wntx = max(1, int(round(int(ws.ntx) * 128 / 160)))
        wnty = max(1, int(round(int(ws.nty) * 128 / 160)))
        dst = Wp.GridSpec(float(ws.lon0), float(ws.lat0), float(ws.lon1),
                          float(ws.lat1), ntx=wntx, nty=wnty,
                          tile_w=160, tile_h=160)
        return Wp.warp_tiles(wtiles, idw_geom, dst, method="bilinear")
    raise SystemExit(f"unknown operator {name}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("target")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plan", default=None)
    # fixtures stay on disk in the checkout's git-ignored BENCH/.tmp, not in
    # tmpfs memory
    ap.add_argument("--tmp", default=str(Path(__file__).resolve().parent / "BENCH/.tmp/bx"))
    args = ap.parse_args()

    from i_landsat8_swlst_spark.session import get_spark

    spark = get_spark(app=f"bx-{args.target}", cores=CPUS,
                      shuffle_partitions=max(CPUS, 32))
    os.makedirs(args.tmp, exist_ok=True)

    if args.target.startswith("q_"):
        from __spark_entry__ import queries
        q = queries()
        mk = lambda: q[args.target](spark, SF_DIR)  # noqa: E731
    else:
        mk = lambda: _operator_df(spark, args.target, args.tmp)  # noqa: E731

    df = mk()
    if args.plan:
        Path(args.plan).parent.mkdir(parents=True, exist_ok=True)
        Path(args.plan).write_text(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"))
    spark.sparkContext.setJobDescription(f"{args.target}: warm")
    _materialize(df)  # warm: JIT + codegen + workers
    walls = []
    for i in range(args.reps):
        spark.sparkContext.setJobDescription(f"{args.target}: rep{i}")
        t0 = time.perf_counter()
        _materialize(mk())
        walls.append(round(time.perf_counter() - t0, 3))
    print(json.dumps({"target": args.target, "sf_dir": SF_DIR,
                      "walls": walls, "best": min(walls),
                      "median": statistics.median(walls)}))
    spark.stop()


if __name__ == "__main__":
    main()

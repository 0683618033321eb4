#!/usr/bin/env python
"""Round-7 isolation bench: time ONE declared query (or a named operator
block) with the noop sink, optionally dumping .explain("formatted").

bench.py is FROZEN for the driver's measurement; this file exists so each
optimization can be measured in isolation (guide §1.4) without touching it.

Usage:
  python bench_extra.py q_ann_ivf [--reps 3] [--plan plans/r07/q_ann_ivf_before.txt]
  python bench_extra.py sun|texture|classify|idw|warp|raster|enrich [--reps 3]
  python bench_extra.py viewshed|viewshed_cva|horizon|tovect|contour [--reps 3]
  python bench_extra.py regions|segment|landscape [--reps 3]
  python bench_extra.py pytasks [--reps 3]   # per-task Python-UDF hop cost

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0 — the driver's
escalated scale), SPARK_GRAFT_CPUS (default: this host's os.cpu_count()).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
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

    tex_path = f"{tmp}/texture_tiles"
    if not os.path.isdir(tex_path):
        pipeline.lst_tiles(
            pipeline.build_enriched(scenes, meta, emis),
            window=C.DEFAULT_CWV_WINDOW).limit(2048) \
            .write.mode("overwrite").parquet(tex_path)
    ttiles = spark.read.parquet(tex_path)

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
    if name == "idw":
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
        st_rows = []
        for b in boxes.itertuples():
            for j in range(16):
                st_rows.append({
                    "station_id": f"st{b.scene_id}_{j:02d}",
                    "lon": float(rs.uniform(b.lon0, b.lon1)),
                    "lat": float(rs.uniform(b.lat0, b.lat1)),
                    "value": float(rs.uniform(0.5, 6.5))})
        return spatial.idw_rasterize(grid, pd.DataFrame(st_rows), idw_geom, k=12)
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
    if name in ("viewshed", "viewshed_cva", "horizon", "tovect", "contour",
                "regions", "segment", "landscape"):
        from i_landsat8_swlst_spark import (
            landscape as Ls, regions as Rg, segment as Sg, terrain as Tr,
            vectorize as Vz,
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
        return Vz.contour_lines(terr, [20.0, 40.0, 60.0])
    if name == "enrich":
        from i_landsat8_swlst_spark import spatial
        aoi_pdf = synth.aoi_pdf("small")
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
    raise SystemExit(f"unknown operator {name}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("target")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plan", default=None)
    ap.add_argument("--tmp", default="/dev/shm/swlst_bx")
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

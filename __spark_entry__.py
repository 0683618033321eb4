"""Driver contract for the spark-graft builder (PySpark target).

``entry``    — flagship: the full split-window physics (C2..C10 algebra:
               piecewise CWV-subrange coefficient selection + Du et al.
               quadratic LST) as pure Catalyst column algebra over sf0.001
               lineitem, aggregated per returnflag/subrange.
``queries``  — one entry per implemented operator (SURVEY.md §2); SQL-
               expressible ones are twinned in ``oracle_sql`` for the DuckDB
               gate; raster/spatial ops are rows-only (their correctness is
               carried by pytest vs the scalar oracle / numpy golden tests).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from i_landsat8_swlst_spark import relational  # noqa: E402
from i_landsat8_swlst_spark import textops  # noqa: E402,F401  (registers its queries)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    sf_dir = "/root/testdata/sf0.001"
    lst = relational.q_lst_sw(spark, sf_dir)
    li = relational.load(spark, sf_dir, "lineitem").filter("l_orderkey % 5 = 1")
    joined = lst.join(li, on=["l_orderkey", "l_linenumber"], how="inner")
    return (
        joined.groupBy("l_returnflag", "subrange")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.avg("lst_k"), 4).alias("avg_lst_k"),
            F.round(F.min("lst_c"), 4).alias("min_lst_c"),
            F.round(F.max("lst_c"), 4).alias("max_lst_c"),
        )
        .orderBy("l_returnflag", "subrange")
    )


def _q_lst_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only flagship raster pipeline: deterministic synthetic scenes
    (tiny) -> fused Arrow kernel -> per-scene LST stats. Not SQL-expressible
    (tile decode + moving-window CWV); pytest carries its parity vs the
    scalar oracle (tests/test_pipeline.py)."""
    tiles = _tiny_lst_tiles(spark, emit_arrays=False)
    return (
        tiles.groupBy("scene_id")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.sum("n_valid").alias("n_valid_px"),
            F.round(F.avg("lst_mean"), 4).alias("avg_tile_lst"),
        )
        .orderBy("scene_id")
    )


def _tiny_fixture(spark, with_qa: bool = False):
    import pandas as pd

    from i_landsat8_swlst_spark import constants as C, synth

    scenes = spark.createDataFrame(synth.scenes_pdf("tiny", with_qa=with_qa))
    meta = spark.createDataFrame(synth.scene_meta_pdf("tiny"))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    return scenes, meta, emis


def _tile_fixture(spark, scenes: dict) -> DataFrame:
    """Tile table of synthetic planes: ``scenes`` maps each scene_id to its
    {column: 2-D plane} dict; every plane is cut into 32 x 32 squares,
    one row (scene_id, tile_x, tile_y, w, h, *columns as f32 LE bytes) per
    square, scene by scene in row-major tile order."""
    import pandas as pd

    tile = 32
    rows = []
    for sid, planes in scenes.items():
        h, w = next(iter(planes.values())).shape
        for ty in range(h // tile):
            for tx in range(w // tile):
                sl = (slice(ty * tile, (ty + 1) * tile), slice(tx * tile, (tx + 1) * tile))
                rows.append({"scene_id": sid, "tile_x": tx, "tile_y": ty, "w": tile,
                             "h": tile, **{c: p[sl].astype("<f4").tobytes()
                                           for c, p in planes.items()}})
    return spark.createDataFrame(pd.DataFrame(rows))


def _tiny_lst_tiles(spark, with_qa: bool = False, **kw):
    """lst_tiles (window 5) over the tiny synthetic scenes; ``kw`` goes to
    lst_tiles."""
    from i_landsat8_swlst_spark import pipeline

    scenes, meta, emis = _tiny_fixture(spark, with_qa)
    return pipeline.lst_tiles(
        pipeline.build_enriched(scenes, meta, emis, with_qa=with_qa),
        window=5, **kw)


def _q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: broadcast R-tree point-in-polygon join of LST pixel
    centroids against AOI polygons; numpy-oracle parity in tests/test_spatial.py."""
    from i_landsat8_swlst_spark import pipeline, spatial, synth

    scenes, meta, emis = _tiny_fixture(spark)
    pixels = pipeline.lst_pixels(
        pipeline.build_enriched_with_grid(scenes, meta, emis), window=5
    ).select("scene_id", "tile_x", "tile_y", "px", "py", "lon", "lat", "lst_k")
    joined = spatial.pip_join(pixels, synth.aoi_pdf("tiny"), how="inner")
    return (
        joined.groupBy("aoi_id", "aoi_category")
        .agg(F.count(F.lit(1)).alias("n_pixels"), F.round(F.avg("lst_k"), 4).alias("avg_lst"))
        .orderBy("aoi_id")
    )


def _q_gradient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: Horn 3x3 slope/aspect/hillshade planes of the LST raster
    (r.slope.aspect analog; over LST this is the thermal-gradient / front-
    detection map) — pipeline.gradient_tiles, one mapInArrow hop.
    Golden-direction kernel vectors in tests/test_kernels.py; Spark-hop
    parity in tests/test_pipeline.py."""
    from i_landsat8_swlst_spark import pipeline

    tiles = _tiny_lst_tiles(spark)
    grad = pipeline.gradient_tiles(tiles, cell=1.0)
    return (
        grad.groupBy("scene_id")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_valid").alias("n_grad_valid"),
             F.round(F.max("slope_max"), 4).alias("steepest_deg"))
        .orderBy("scene_id")
    )


def _q_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: r.resamp.interp-style raster resampling (nearest +
    bilinear, cell-center aligned, NULL-poisoning corners) of the LST
    plane — algebra.resample_tiles, one mapInArrow hop. Naive-numpy
    oracle parity in tests/test_algebra.py."""
    from i_landsat8_swlst_spark import algebra

    tiles = _tiny_lst_tiles(spark)
    down = algebra.resample_tiles(tiles, scale=0.25, method="bilinear")
    return (
        down.groupBy("scene_id", "w", "h")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_valid").alias("n_valid_px"))
        .orderBy("scene_id")
    )


def _q_aoi_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: per-polygon vector measurements (v.to.db product) —
    exact spherical area, great-circle perimeter, label centroid — via
    spatial.aoi_measures (mapInPandas, polygon layer never on the driver).
    Golden-vector kernel tests (whole-sphere octant et al.) in
    tests/test_geo.py; Spark-hop parity in tests/test_spatial.py."""
    from i_landsat8_swlst_spark import spatial, synth

    m = spatial.aoi_measures(spark, synth.aoi_pdf("tiny"))
    return m.select(
        "aoi_id", "aoi_category",
        F.round("area_km2", 4).alias("area_km2"),
        F.round("perimeter_km", 4).alias("perimeter_km"),
        F.round("centroid_lon", 6).alias("centroid_lon"),
        F.round("centroid_lat", 6).alias("centroid_lat"),
    ).orderBy("aoi_id")


def _q_map_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: r.mapcalc-style map algebra — a user expression string
    (ast-whitelist compiled, no eval) evaluated vectorized over the LST/CWV
    tile planes in one mapInArrow hop (algebra.map_algebra). numpy parity +
    hostile-expression rejection in tests/test_algebra.py."""
    from i_landsat8_swlst_spark import algebra

    tiles = _tiny_lst_tiles(spark)
    out = algebra.map_algebra(
        tiles, "if_((lst > 290) and (cwv < 5), lst - 273.15, null())")
    return (
        out.groupBy("scene_id")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_valid").alias("n_selected"),
             F.round(F.min("out_min"), 4).alias("coldest_c"),
             F.round(F.max("out_max"), 4).alias("hottest_c"))
        .orderBy("scene_id")
    )


def _q_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: distributed principal-component transform of the LST/CWV
    plane stack (i.pca analog, multiband.pca_tiles) — per-tile exact f64
    cross-moment partials + ONE map-side-combining agg (B(B+3)/2 doubles
    per scene reach the driver, never pixels), driver-side eigh with a
    deterministic sign convention, then a shuffle-free broadcast projection
    pass. Whole-scene numpy-oracle parity in tests/test_multiband.py."""
    from i_landsat8_swlst_spark import multiband

    tiles = _tiny_lst_tiles(spark)
    out, model = multiband.pca_tiles(tiles, ["lst_bytes", "cwv_bytes"], k=2)
    expl = spark.createDataFrame(
        [(s, round(float(m["explained"][0]), 4)) for s, m in model.items()],
        "scene_id string, pc1_explained double")
    return (
        out.groupBy("scene_id")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_valid").alias("n_px"),
             F.round(F.avg("pc1_mean"), 2).alias("pc1_tile_mean"))
        .join(expl, "scene_id")
        .orderBy("scene_id")
    )


def _q_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: global histogram equalization of the LST plane
    (r.colors -e analog, multiband.stretch_tiles) — per-scene order
    statistics from a fixed-bin histogram folded in ONE map-side-combining
    agg (never a sort), LUT applied in a shuffle-free second pass.
    Byte-exact whole-scene-oracle parity in tests/test_multiband.py."""
    from i_landsat8_swlst_spark import multiband

    tiles = _tiny_lst_tiles(spark)
    out, _ = multiband.stretch_tiles(tiles, "lst_bytes", mode="equalize")
    return (
        out.groupBy("scene_id")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_valid").alias("n_px"),
             F.round(F.avg("out_mean"), 1).alias("u8_mean"))
        .orderBy("scene_id")
    )


def _q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: unsupervised per-scene k-means over the LST/CWV plane
    stack (i.cluster analog, classify.kmeans_model_df) — deterministic
    mean±std diagonal seeding, Lloyd iterations as one scan + one tiny
    positional agg each, centers broadcast-joined (never closure dicts),
    then the i.cluster assignment pass (classify_tiles nearest). Serial
    Lloyd-oracle parity (exact assignments) in tests/test_classify.py."""
    from i_landsat8_swlst_spark import classify

    tiles = _tiny_lst_tiles(spark)
    bands = ["lst_bytes", "cwv_bytes"]
    model = classify.kmeans_model_df(tiles, bands, k=3, iters=4)
    out = classify.classify_tiles(tiles, bands, model, method="nearest")
    return (
        out.select("scene_id", "n_valid",
                   F.posexplode("counts").alias("cls", "n_px"))
        .groupBy("scene_id", "cls")
        .agg(F.sum("n_px").alias("n_px"))
        .filter(F.col("n_px") > 0)
        .orderBy("scene_id", "cls")
    )


def _q_maxlik(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: Gaussian maximum-likelihood classification (i.maxlik
    analog) — full per-class covariance signatures derived distributed
    from the converged k-means assignment (classify.maxlik_model_df),
    equal-prior discriminant applied in ONE broadcast-join mapInArrow hop.
    numpy discriminant parity in tests/test_classify.py."""
    from i_landsat8_swlst_spark import classify

    tiles = _tiny_lst_tiles(spark)
    bands = ["lst_bytes", "cwv_bytes"]
    km = classify.kmeans_model_df(tiles, bands, k=3, iters=4)
    ml = classify.maxlik_model_df(tiles, bands, km)
    out = classify.classify_tiles(tiles, bands, ml, method="maxlik")
    return (
        out.groupBy("scene_id")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_valid").alias("n_px"),
             F.round(F.avg(F.expr("aggregate(counts, 0L, (a, x) -> a + x)")
                           / F.greatest(F.col("n_valid"), F.lit(1))), 4)
             .alias("classified_frac"))
        .orderBy("scene_id")
    )


def _q_to_vect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: raster -> vector boundary extraction (r.to.vect type=area
    analog, vectorize.to_vect) — one decode+label+edge pass, LEFT ANTI
    resolve of tile-border sides, min-label CC, then per-region ring
    stitching (exterior ring + holes, region-on-right orientation). Exact
    even-odd mask round-trip, extract_regions area parity, and tiling
    invariance in tests/test_vectorize.py."""
    import numpy as np

    from i_landsat8_swlst_spark import vectorize

    rng = np.random.default_rng(71)
    base = rng.uniform(260.0, 330.0, (12, 12))
    plane = np.kron(base, np.ones((8, 8))) + rng.uniform(-1.0, 1.0, (96, 96))
    plane[32:64, 32:64] = 310.0      # hot frame spanning the center tile...
    plane[40:56, 40:56] = 250.0      # ...with a cold hole across 4 tiles
    tiles = _tile_fixture(spark, {"S0": {"lst_bytes": plane}})
    r = vectorize.to_vect(tiles, threshold=300.0)
    return (
        r.groupBy("scene_id")
        .agg(F.count(F.lit(1)).alias("n_rings"),
             F.countDistinct("region_id").alias("n_regions"),
             F.sum(F.col("is_hole").cast("long")).alias("n_holes"),
             F.sum("n_vertices").alias("total_vertices"),
             F.round(F.sum(F.when(F.col("is_hole"), -F.col("area_px"))
                            .otherwise(F.col("area_px"))), 1)
             .alias("net_area_px"))
        .orderBy("scene_id")
    )


def _q_contour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: marching-squares isolines (r.contour analog,
    vectorize.contour_lines) — 1-px halo exchange, per-cell segments with
    bit-identical border crossings, per-(scene, level) chain assembly.
    Vertex-on-level, crossing-parity, and tiling-invariance oracles in
    tests/test_vectorize.py."""
    import numpy as np

    from i_landsat8_swlst_spark import vectorize

    rng = np.random.default_rng(72)
    base = rng.uniform(270.0, 320.0, (8, 8))
    plane = np.kron(base, np.ones((8, 8))) + rng.uniform(-0.5, 0.5, (64, 64))
    tiles = _tile_fixture(spark, {"S0": {"lst_bytes": plane}})
    c = vectorize.contour_lines(tiles, levels=[285.0, 295.0, 305.0])
    return (
        c.groupBy("level")
        .agg(F.count(F.lit(1)).alias("n_lines"),
             F.sum(F.col("closed").cast("long")).alias("n_closed"),
             F.sum("n_vertices").alias("total_vertices"),
             F.round(F.sum("length_px"), 4).alias("total_length_px"))
        .orderBy("level")
    )


def _q_extract_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: distributed raster connected-component labeling
    (regions.extract_regions) — threshold-region / hot-spot extraction with
    cross-tile stitching: tile-local two-pass labeling, border equi-join
    stitch, min-label CC over the region graph. Whole-scene BFS-oracle
    parity (incl. regions spanning tiles) in tests/test_regions.py."""
    import numpy as np

    from i_landsat8_swlst_spark import regions

    rng = np.random.default_rng(62)
    planes = {}
    for s in range(2):
        base = rng.uniform(260.0, 330.0, (12, 12))
        plane = np.kron(base, np.ones((8, 8))) + rng.uniform(-1.0, 1.0, (96, 96))
        plane[rng.random(plane.shape) < 0.03] = np.nan
        planes[f"S{s}"] = {"lst_bytes": plane}
    tiles = _tile_fixture(spark, planes)
    r = regions.extract_regions(tiles, threshold=300.0)
    return (
        r.groupBy("scene_id")
        .agg(F.count(F.lit(1)).alias("n_regions"),
             F.sum("area_px").alias("total_area_px"),
             F.max("area_px").alias("largest_area_px"),
             F.sum(F.when(F.col("n_parts") > 1, 1).otherwise(0)).alias("n_stitched"),
             F.round(F.max("max_val"), 4).alias("hottest"))
        .orderBy("scene_id")
    )


def _q_cost_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: distributed cost-distance (r.cost / r.grow.distance
    analog) — accumulated-cost surface from every pixel to the nearest
    hot LST cell, 3-4 chamfer metric, iterated 1-px halo exchange to the
    global fixpoint across tile borders (costdist.cost_distance_tiles).
    Bit-exact Dijkstra-oracle + whole-scene parity (incl. an adversarial
    multi-round spiral) in tests/test_costdist.py."""
    from i_landsat8_swlst_spark import costdist

    tiles = _tiny_lst_tiles(spark)
    d = costdist.cost_distance_tiles(tiles, threshold=305.0, cell=30.0)
    return (
        d.groupBy("scene_id")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_reached").alias("n_reached_px"),
             F.round(F.max("dist_max"), 4).alias("farthest_m"))
        .orderBy("scene_id")
    )


def _q_flow_accum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: distributed D8 flow accumulation (r.watershed analog) —
    static 1-px elevation halo for exact cross-tile flow directions, then
    an iterated f64 halo fixpoint for upstream-cell counts
    (hydro.flow_accum_tiles). Exact brute-oracle parity (incl. an
    adversarial multi-round serpentine channel) in tests/test_hydro.py."""
    from i_landsat8_swlst_spark import hydro

    tiles = _tiny_lst_tiles(spark)
    a = hydro.flow_accum_tiles(tiles)
    return (
        a.groupBy("scene_id")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_cells").alias("n_cells"),
             F.sum("n_pits").alias("n_pits"),
             F.round(F.max("accum_max"), 1).alias("largest_catchment_px"))
        .orderBy("scene_id")
    )


def _q_basins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: watershed basin labeling across tile borders — per-tile
    numpy pointer doubling + log-round equi self-joins on the
    perimeter-scale border link graph (hydro.basin_tiles). Exact
    whole-scene-oracle parity (incl. ragged tile grids and a
    single-basin long-chain case) in tests/test_hydro.py."""
    from i_landsat8_swlst_spark import hydro

    tiles = _tiny_lst_tiles(spark)
    b = hydro.basin_tiles(tiles)
    return (
        b.groupBy("scene_id")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_basins_local").alias("n_basin_tile_pairs"))
        .orderBy("scene_id")
    )


def _q_focal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: focal (neighborhood) statistics of the LST plane — the
    r.neighbors companion product (pipeline.focal_stats_tiles, one extra
    mapInArrow hop over the tile table; valid-cell window semantics).
    Kernel parity vs a naive numpy oracle in tests/test_kernels.py; the
    Spark hop vs the kernel in tests/test_pipeline.py."""
    from i_landsat8_swlst_spark import pipeline

    tiles = _tiny_lst_tiles(spark)
    focal = pipeline.focal_stats_tiles(tiles, window=5)
    return (
        focal.groupBy("scene_id")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_valid").alias("n_focal_valid"),
             F.sum(F.length("mean_bytes")).alias("mean_plane_bytes"))
        .orderBy("scene_id")
    )


def _q_texture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: GLCM Haralick texture features of the LST plane
    (r.texture analog, texture.glcm_texture_tiles) — global quantization
    from one tiny range agg, ONE halo exchange, then a tile-local
    box-filter kernel whose output is bit-identical to the whole-scene
    mosaic. Brute-force per-window-histogram oracle parity in
    tests/test_texture.py."""
    from i_landsat8_swlst_spark import texture

    tiles = _tiny_lst_tiles(spark)
    tex = texture.glcm_texture_tiles(tiles, window=5, levels=16)
    return (
        tex.groupBy("scene_id")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_valid").alias("n_px"),
             F.round(F.avg("contrast_mean"), 4).alias("avg_contrast"),
             F.round(F.avg("entropy_mean"), 4).alias("avg_entropy"),
             F.round(F.avg("energy_mean"), 4).alias("avg_energy"))
        .orderBy("scene_id")
    )


def _q_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: per-pixel temporal statistics across 4 revisits at PLANE
    granularity (r.series analog, series.series_tiles) — one hash shuffle
    of the plane bytes on the (footprint, tile) key, vectorized nan-stats
    over the k-deep stack, pixels never explode to rows. Whole-scene
    numpy-oracle parity in tests/test_series.py."""
    import pandas as pd

    from i_landsat8_swlst_spark import constants as C, pipeline, series, synth

    scenes = spark.createDataFrame(synth.revisit_scenes_pdf("tiny", scene=0, n_dates=4))
    meta = spark.createDataFrame(synth.revisit_meta_pdf("tiny", scene=0, n_dates=4))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    tiles = pipeline.lst_tiles(pipeline.build_enriched(scenes, meta, emis),
                               window=5)
    ser = series.series_tiles(tiles)
    return (
        ser.groupBy("footprint")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.max("n_dates").alias("n_dates"),
             F.sum("n_px_any").alias("n_px_any"),
             F.round(F.avg("median_mean"), 4).alias("avg_median"),
             F.round(F.avg("stddev_mean"), 4).alias("avg_stddev"))
        .orderBy("footprint")
    )


def _q_sample_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: raster value at point locations (r.what / v.what.rast
    analog, spatial.sample_raster) — broadcast bbox join, pure-Catalyst
    inverse geocode, ONE cogrouped decode-once gather on the tile key.
    Numpy lookup-oracle + centroid round-trip parity in
    tests/test_sample_raster.py."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import pipeline, spatial

    scenes, meta, emis = _tiny_fixture(spark)
    enriched = pipeline.build_enriched(scenes, meta, emis)
    tiles = pipeline.lst_tiles(enriched, window=5)
    parsed = pipeline.parse_scenes(scenes)
    geom = (pipeline.scene_grids(parsed)
            .join(meta.select("scene_id", "lon0", "lat0", "lon1", "lat1"),
                  "scene_id"))
    boxes = meta.select("lon0", "lat0", "lon1", "lat1").toPandas()
    rng = np.random.default_rng(11)
    n = 5000
    pts = spark.createDataFrame(pd.DataFrame({
        "pid": np.arange(n),
        "lon": rng.uniform(boxes.lon0.min(), boxes.lon1.max(), n),
        "lat": rng.uniform(boxes.lat0.min(), boxes.lat1.max(), n)}))
    s = spatial.sample_raster(tiles, pts, geom)
    return (
        s.groupBy("scene_id")
        .agg(F.count(F.lit(1)).alias("n_sampled"),
             F.count("value").alias("n_valid"),
             F.round(F.avg("value"), 4).alias("avg_lst"),
             F.round(F.min("value"), 4).alias("min_lst"),
             F.round(F.max("value"), 4).alias("max_lst"))
        .orderBy("scene_id")
    )


def _q_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: λ-flat-zone image segmentation (i.segment analog,
    segment.segment_tiles) — tile-local vectorized Shiloach–Vishkin CC
    over |Δ| <= λ adjacency, value-predicate border stitch, bounded-round
    min-label reduction. Whole-scene BFS oracle parity in
    tests/test_segment.py."""
    from i_landsat8_swlst_spark import segment

    tiles = _tiny_lst_tiles(spark)
    seg = segment.segment_tiles(tiles, lam=1.5)
    return (
        seg.groupBy("scene_id")
        .agg(F.count(F.lit(1)).alias("n_segments"),
             F.sum("area_px").alias("area_px"),
             F.max("area_px").alias("largest_px"),
             F.sum("n_parts").alias("n_parts"),
             F.round(F.avg("mean_val"), 4).alias("avg_seg_mean"))
        .orderBy("scene_id")
    )


def _q_landscape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: per-class landscape metrics (r.li analog,
    landscape.class_metrics) — one pixel scan emitting O(perimeter +
    classes) rows, then equi-join border stitching (regions decomposition)
    and a directed cross-tile edge join; plus the scene-level Shannon
    diversity roll-up. Brute flood-fill oracle parity in
    tests/test_landscape.py."""
    from i_landsat8_swlst_spark import landscape

    tiles = _tiny_lst_tiles(spark)
    m = landscape.class_metrics(tiles, levels=6)
    div = landscape.scene_diversity(m).select(
        "scene_id", "richness", F.round("shannon_h", 4).alias("shannon_h"),
        F.round("evenness", 4).alias("evenness"))
    return (
        m.groupBy("scene_id")
        .agg(F.sum("area_px").alias("area_px"),
             F.sum("edge_px").alias("edge_px"),
             F.sum("n_patches").alias("n_patches"),
             F.max("largest_patch_px").alias("largest_patch_px"))
        .join(div, on="scene_id")
        .orderBy("scene_id")
    )


def _q_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: per-pixel thermal anomaly detection against the revisit
    baseline (series.anomaly_tiles) — history folds through series_tiles
    (one shuffle), current attaches via ONE equi join, z-scores computed
    in a vectorized Arrow kernel. Numpy z-score oracle parity in
    tests/test_series.py."""
    import pandas as pd

    from i_landsat8_swlst_spark import constants as C, pipeline, series, synth

    scenes = spark.createDataFrame(synth.revisit_scenes_pdf("tiny", scene=0, n_dates=4))
    meta = spark.createDataFrame(synth.revisit_meta_pdf("tiny", scene=0, n_dates=4))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    tiles = pipeline.lst_tiles(pipeline.build_enriched(scenes, meta, emis),
                               window=5)
    hist = tiles.filter(~F.col("scene_id").endswith("R3"))
    cur = tiles.filter(F.col("scene_id").endswith("R3"))
    an = series.anomaly_tiles(hist, cur, k=2.0)
    return (
        an.groupBy("footprint")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_scored").alias("n_scored"),
             F.sum("n_anomaly").alias("n_anomaly"),
             F.round(F.max("max_abs_z"), 4).alias("max_abs_z"))
        .orderBy("footprint")
    )


def _q_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: LST-class x CWV-class co-occurrence area table
    (r.cross / r.stats analog, series.crosstab_tiles) — global per-scene
    quantization, per-tile 2-D bincount, ONE map-side-combining sum; the
    exchange carries occupied class cells, not pixels. Whole-scene
    dict-count oracle parity in tests/test_series.py."""
    from i_landsat8_swlst_spark import series

    tiles = _tiny_lst_tiles(spark)
    ct = series.crosstab_tiles(tiles, levels_a=6, levels_b=4)
    return ct.orderBy("scene_id", "class_a", "class_b")


def _q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: per-zone LST statistics (the r.univar-per-region consumer
    product) via spatial.zonal_stats — PIP zone assignment + ONE map-side-
    combining agg; how='left' adds the outside-all-zones complement row so
    pixel totals reconcile. Pandas-oracle parity in tests/test_spatial.py."""
    from i_landsat8_swlst_spark import pipeline, spatial, synth

    scenes, meta, emis = _tiny_fixture(spark)
    pixels = pipeline.lst_pixels(
        pipeline.build_enriched_with_grid(scenes, meta, emis), window=5
    ).select("scene_id", "lon", "lat", "lst_k")
    z = spatial.zonal_stats(pixels, synth.aoi_pdf("tiny"),
                            value_cols=("lst_k",), how="left")
    return z.select(
        "aoi_id", "aoi_category", "n_pixels", "lst_k_valid",
        F.round("lst_k_mean", 4).alias("lst_k_mean"),
        F.round("lst_k_min", 4).alias("lst_k_min"),
        F.round("lst_k_max", 4).alias("lst_k_max"),
        F.round("lst_k_std", 4).alias("lst_k_std"),
    ).orderBy(F.col("aoi_id").asc_nulls_last())


def _q_pip_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: DISTRIBUTED point-in-polygon join (hex-cell equi join +
    exact ray-cast verify, NO polygon broadcast) — the scale path when the
    AOI layer outgrows a broadcast; row-for-row parity vs the broadcast
    R-tree pip_join in tests/test_spatial.py."""
    from i_landsat8_swlst_spark import pipeline, spatial, synth

    scenes, meta, emis = _tiny_fixture(spark)
    pixels = pipeline.lst_pixels(
        pipeline.build_enriched_with_grid(scenes, meta, emis), window=5
    ).select("scene_id", "tile_x", "tile_y", "px", "py", "lon", "lat", "lst_k")
    joined = spatial.pip_join_cells(pixels, synth.aoi_pdf("tiny"), res=8)
    return (
        joined.groupBy("aoi_id", "aoi_category")
        .agg(F.count(F.lit(1)).alias("n_pixels"), F.round(F.avg("lst_k"), 4).alias("avg_lst"))
        .orderBy("aoi_id")
    )


def _q_knn_stations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: kNN join of tile centroids to CWV stations (broadcast +
    vectorized haversine); brute-force parity in tests/test_spatial.py."""
    from i_landsat8_swlst_spark import pipeline, spatial, synth

    scenes, meta, emis = _tiny_fixture(spark)
    parsed = pipeline.parse_scenes(scenes).filter("band = 10")
    grids = pipeline.scene_grids(pipeline.parse_scenes(scenes))
    cent = (
        parsed.join(F.broadcast(meta), "scene_id").join(F.broadcast(grids), "scene_id")
        .select(
            "image_id", "scene_id", "tile_x", "tile_y",
            (F.col("lon0") + (F.col("tile_x") + 0.5) * (F.col("lon1") - F.col("lon0")) / F.col("ntx")).alias("lon"),
            (F.col("lat1") - (F.col("tile_y") + 0.5) * (F.col("lat1") - F.col("lat0")) / F.col("nty")).alias("lat"),
        )
    )
    knn = spatial.knn_join(cent, synth.stations_pdf("tiny"), k=3)
    return knn.select("image_id", "station_id", "station_rank",
                      F.round("station_km", 4).alias("station_km"),
                      F.round("station_cwv", 4).alias("station_cwv"))


def _q_knn_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: DISTRIBUTED kNN join (7-cell station registration -> equi
    join -> Catalyst haversine + window rank, NO broadcast) with per-point
    exactness certificate; certified-row parity vs brute force in
    tests/test_spatial.py."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark.spatial import knn_join_cells

    rng = np.random.default_rng(17)
    stations = pd.DataFrame({
        "station_id": [f"s{i:05d}" for i in range(3000)],
        "lon": rng.uniform(10.0, 10.3, 3000),
        "lat": rng.uniform(40.0, 40.3, 3000),
        "cwv_obs": rng.uniform(0, 6.3, 3000),
    })
    pts = pd.DataFrame({
        "pid": range(200),
        "lon": rng.uniform(10.05, 10.25, 200),
        "lat": rng.uniform(40.05, 40.25, 200),
    })
    out = knn_join_cells(spark.createDataFrame(pts), stations, k=3, res=7,
                         key_cols=["pid"])
    return (
        out.groupBy("knn_certified")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.countDistinct("pid").alias("n_points"),
             F.round(F.avg("station_km"), 4).alias("avg_km"))
        .orderBy("knn_certified")
    )


def _q_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: COMPLETE exact distributed kNN (round 4) — adversarially
    clustered stations leave round-0 uncertified points; the escalation loop
    (ring 2/4/8 probes on the pending subset, then a tiny-point-side
    broadcast exact fallback) must return every point 100% certified.
    Brute-force equality in tests/test_spatial.py."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark.spatial import knn_join_cells_exact

    rng = np.random.default_rng(29)
    stations = pd.DataFrame({
        "station_id": [f"s{i:03d}" for i in range(40)],
        "lon": rng.uniform(10.00, 10.02, 40),       # one tight cluster
        "lat": rng.uniform(40.00, 40.02, 40),
        "cwv_obs": rng.uniform(0, 6.3, 40),
    })
    pts = pd.DataFrame({
        "pid": range(80),
        "lon": rng.uniform(9.8, 10.4, 80),          # up to ~50 km out
        "lat": rng.uniform(39.8, 40.4, 80),
    })
    out = knn_join_cells_exact(spark.createDataFrame(pts), stations, k=3,
                               res=7, key_cols=["pid"])
    return (
        out.groupBy("knn_certified")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.countDistinct("pid").alias("n_points"),
             F.round(F.avg("station_km"), 4).alias("avg_km"))
        .orderBy("knn_certified")
    )


def _q_enrich_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: the complete north-star enrichment with NO broadcast of
    either vector side (round 4) — with_cells -> distributed PIP (left) ->
    exact distributed kNN fan-out, AOI + station sides as DataFrames.
    Row-parity vs the broadcast enrich_pixels in tests/test_spatial.py."""
    from i_landsat8_swlst_spark import pipeline, spatial, synth

    scenes, meta, emis = _tiny_fixture(spark)
    # materialize the point table once INSIDE this invocation: the
    # enrichment composition consumes its points side in four subtrees
    # (PIP candidates, the unmatched anti-join, the kNN loop, the final
    # fan-out join) and production points come from a materialized
    # parquet table — without this the query times 4+ recomputes of the
    # raster kernel pipeline instead of the enrichment (27 s -> ~8 s).
    # Rows unchanged; nothing persists across invocations.
    pixels = pipeline.lst_pixels(
        pipeline.build_enriched_with_grid(scenes, meta, emis),
        window=5).localCheckpoint()
    aoi_df = spark.createDataFrame(synth.aoi_pdf("tiny"))
    st_df = spark.createDataFrame(
        synth.stations_pdf("tiny").drop(columns=["observed_at"]))
    out = spatial.enrich_pixels_cells(
        pixels, aoi_df, st_df, k=2, key_cols=["image_id", "px", "py"])
    return (
        out.groupBy("aoi_category", "station_rank")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.round(F.avg("station_km"), 4).alias("avg_km"),
             F.round(F.avg("lst_k"), 4).alias("avg_lst"))
        .orderBy("aoi_category", "station_rank")
    )


def _q_tile_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: batched cell-encode (hex 7/8/9 + S2) of tile centroids —
    the tile_assignments output table (FIXTURES.md §7)."""
    from i_landsat8_swlst_spark import pipeline, spatial

    scenes, meta, emis = _tiny_fixture(spark)
    parsed = pipeline.parse_scenes(scenes).filter("band = 10")
    grids = pipeline.scene_grids(pipeline.parse_scenes(scenes))
    cent = (
        parsed.join(F.broadcast(meta), "scene_id").join(F.broadcast(grids), "scene_id")
        .select(
            "image_id",
            (F.col("lon0") + (F.col("tile_x") + 0.5) * (F.col("lon1") - F.col("lon0")) / F.col("ntx")).alias("lon"),
            (F.col("lat1") - (F.col("tile_y") + 0.5) * (F.col("lat1") - F.col("lat0")) / F.col("nty")).alias("lat"),
        )
    )
    return spatial.with_cells(cent).select("image_id", "hex_7", "hex_8", "hex_9", "s2_cell")


def _q_rasterize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: raster -> pixel rows -> raster round-trip counts."""
    from i_landsat8_swlst_spark import pipeline

    scenes, meta, emis = _tiny_fixture(spark)
    pixels = pipeline.lst_pixels(
        pipeline.build_enriched_with_grid(scenes, meta, emis), window=5
    )
    rast = pipeline.rasterize_pixels(pixels, w=32, h=32)
    return rast.groupBy("scene_id").agg(
        F.count(F.lit(1)).alias("n_tiles"), F.sum("n_valid").alias("n_valid_px")
    ).orderBy("scene_id")


def _q_full_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only flagship: the complete north-star flow — fused LST kernel ->
    pixel rows -> cell-encode -> broadcast R-tree PIP -> kNN stations —
    aggregated per (aoi, nearest station) for a stable small result."""
    from i_landsat8_swlst_spark import pipeline, synth

    scenes, meta, emis = _tiny_fixture(spark)
    out = pipeline.full_pixel_pipeline(
        scenes, meta, emis, synth.aoi_pdf("tiny"), synth.stations_pdf("tiny"),
        window=5, knn_k=1,
    )
    return (
        out.filter("aoi_id IS NOT NULL")
        .groupBy("aoi_id", "station_id")
        .agg(F.count(F.lit(1)).alias("n_pixels"),
             F.round(F.avg("lst_k"), 4).alias("avg_lst_k"),
             F.round(F.avg("station_km"), 4).alias("avg_station_km"))
        .orderBy("aoi_id", "station_id")
    )


def _q_media_overviews(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: mean-pool overview pyramid (resize path) over tiles;
    numpy-pooling parity in tests/test_mediaops.py."""
    from i_landsat8_swlst_spark import mediaops

    scenes, _, _ = _tiny_fixture(spark)
    ov = mediaops.tile_overviews(scenes, levels=(2, 4))
    return (
        ov.groupBy("level")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.round(F.avg("px_mean"), 4).alias("avg_px_mean"))
        .orderBy("level")
    )


def _q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: every-4th-frame sampling of packed u16seq videos;
    exact-slice parity in tests/test_mediaops.py."""
    from i_landsat8_swlst_spark import mediaops

    videos = spark.createDataFrame(mediaops.videos_pdf(n=4, frames=12))
    return mediaops.frame_sample(videos, every=4).select(
        "video_id", "frame_idx", "w", "h", "px_mean"
    ).orderBy("video_id", "frame_idx")


def _q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: pcm16 rms/zero-crossing features; numpy parity in
    tests/test_mediaops.py."""
    from i_landsat8_swlst_spark import mediaops

    clips = spark.createDataFrame(mediaops.audio_pdf(n=6))
    return mediaops.audio_features(clips).orderBy("clip_id")


def _q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: tolerant decode catalog over mixed formats (undecodable
    fmts catalogued, not failed; png16 rows exercise the real-container
    stdlib PNG codec end-to-end through the Spark surface)."""
    import pandas as pd

    from i_landsat8_swlst_spark import codecs, mediaops, synth

    scenes, _, _ = _tiny_fixture(spark)
    pdf = synth.scenes_pdf("tiny")
    base = pdf[pdf.fmt == codecs.FMT_RAW].iloc[:4]
    png = pd.DataFrame({
        "image_id": (base.image_id + "/png").to_numpy(),
        "bytes": [
            codecs.encode_png16(codecs.decode_tile_dn(b, int(w), int(h), f))
            for b, w, h, f in zip(base["bytes"], base.w, base.h, base.fmt)
        ],
        "w": base.w.to_numpy(), "h": base.h.to_numpy(),
        "fmt": codecs.FMT_PNG,
    })
    jpeg = pd.DataFrame({  # no jpeg lib in this container -> catalogued, not failed
        "image_id": ["synthetic/jpeg/0"], "bytes": [b"\xff\xd8\xff\xe0 not decodable"],
        "w": [8], "h": [8], "fmt": ["jpeg"],
    })
    scenes = scenes.select("image_id", "bytes", "w", "h", "fmt").unionAll(
        spark.createDataFrame(png)).unionAll(spark.createDataFrame(jpeg))
    return (
        mediaops.media_meta(scenes)
        .groupBy("fmt", "decoded")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.round(F.avg("px_mean"), 4).alias("avg_px"))
        .orderBy("fmt", "decoded")
    )


def _q_lst_halo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: the halo-exchange mosaic path (9-strip emit -> one shuffle
    on the receiving tile key -> stream assemble); pytest parity vs the
    whole-scene mosaic kernel in tests/test_halo.py."""
    from i_landsat8_swlst_spark import pipeline

    scenes, meta, emis = _tiny_fixture(spark)
    tiles = pipeline.lst_tiles_halo(pipeline.build_enriched(scenes, meta, emis), window=5)
    return (
        tiles.groupBy("scene_id")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_valid").alias("n_valid_px"),
             F.round(F.avg("lst_mean"), 4).alias("avg_tile_lst"))
        .orderBy("scene_id")
    )


def _q_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: banded-LSH near-duplicate image pairs over the phash column
    (4x16-bit bands -> equi self-join -> bit_count verify, all JVM-side);
    brute-force all-pairs parity in tests/test_mediaops.py. The fixture
    injects bit-flipped duplicates so the result is non-trivially non-empty."""
    from i_landsat8_swlst_spark import mediaops, synth

    pdf = synth.scenes_pdf("tiny")[["image_id", "phash"]]
    dups = pdf.iloc[:4].copy()
    dups["image_id"] = dups["image_id"] + "/dup"
    flips = [(1 << (13 * i + 2)) for i in range(len(dups))]
    dups["phash"] = [int(p) ^ f for p, f in zip(dups["phash"], flips)]
    dups["phash"] = dups["phash"].astype("int64")
    import pandas as pd

    scenes = spark.createDataFrame(pd.concat([pdf, dups], ignore_index=True))
    return mediaops.phash_neardup(scenes, max_hamming=3).orderBy("id_a", "id_b")


def _q_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: Structured Streaming ingest (file source -> watermark dedup
    -> Arrow decode -> checkpointed partitioned sink) drained twice with a
    duplicate re-delivery in drop 2; semantics tested in tests/test_streaming.py."""
    import shutil
    import tempfile

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from i_landsat8_swlst_spark import streaming, synth

    tmp = tempfile.mkdtemp(prefix="swlst_qstream_")
    try:
        in_dir, out, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
        import os
        os.makedirs(in_dir)
        s0 = synth.scenes_pdf("tiny", scenes=[0])
        s1 = synth.scenes_pdf("tiny", scenes=[1])
        pq.write_table(pa.Table.from_pandas(s0, preserve_index=False), f"{in_dir}/d1.parquet")
        streaming.stream_tile_stats(spark, in_dir, out, ckpt)
        # drop 2 re-delivers scene 0 alongside new scene 1 -> deduped
        pq.write_table(pa.Table.from_pandas(
            pd.concat([s1, s0], ignore_index=True), preserve_index=False),
            f"{in_dir}/d2.parquet")
        streaming.stream_tile_stats(spark, in_dir, out, ckpt)
        return (
            streaming.read_stats(spark, out)
            .groupBy("scene_id", "band")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.round(F.avg("dn_mean"), 4).alias("avg_dn"))
            .orderBy("scene_id", "band")
            .localCheckpoint()  # materialize before the temp dir vanishes
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_stream_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: custom stateful streaming operator (applyInPandasWithState)
    — per-(scene,band) ingest progress whose keyed state survives across two
    availableNow drains via the state store; semantics tested in
    tests/test_streaming.py."""
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from i_landsat8_swlst_spark import streaming, synth

    tmp = tempfile.mkdtemp(prefix="swlst_qprog_")
    try:
        import os

        in_dir, out, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
        os.makedirs(in_dir)
        s0 = synth.scenes_pdf("tiny", scenes=[0]).sort_values("image_id")
        h1, h2 = s0.iloc[::2], s0.iloc[1::2]
        pq.write_table(pa.Table.from_pandas(h1, preserve_index=False), f"{in_dir}/h1.parquet")
        streaming.stream_scene_progress(spark, in_dir, out, ckpt,
                                        expected_tiles=len(s0) // 2)
        pq.write_table(pa.Table.from_pandas(h2, preserve_index=False), f"{in_dir}/h2.parquet")
        streaming.stream_scene_progress(spark, in_dir, out, ckpt,
                                        expected_tiles=len(s0) // 2)
        return (
            streaming.read_stats(spark, out)
            .select("batch_id", "scene_id", "band", "tiles_seen", "px_seen", "complete")
            .orderBy("batch_id", "band")
            .localCheckpoint()  # materialize before the temp dir vanishes
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# Driver evidence: exactly the FIRST 50 dict entries get correctness rows
# each round, so order decides attestation coverage. ROTATION INVARIANT
# (VERDICT r2 item 2): no twin's newest driver row may be more than 1 round
# old. Mechanically, each round:
#   _ATTEST_FIRST := last round's _ATTEST_LAST (their rows are now the
#                    oldest) + every twin changed or added this round;
#   _ATTEST_LAST  := (n_twins - 50) stable, unchanged twins that DID get a
#                    row this round (they can safely sit out the next one).
_ATTEST_FIRST = [
    # sat out r06 (newest row is r05) -> re-attest first in r07
    "q_minhash_lsh_pairs",
    "q_ann_ivf", "q_string_agg", "q_bit_ops", "q_percent_rank_band",
    "q_kappa", "q_epoch_agg", "q_reclass",
    "q_sort_limit", "q_null_logic", "q_set_ops", "q_intersect",
    "q_except_all", "q_distinct_agg", "q_date_math", "q_string_funcs",
    "q_json_extract", "q_histogram", "q_pivot", "q_array_agg",
    "q_scalar_subquery", "q_explode_words",
    "q_ngram_jaccard", "q_simhash64", "q_repetition_ratio",
    "q_hamming_join", "q_range_frame", "q_upsert", "q_vector_explode",
    "q_fuzzy_join", "q_ntile_first_last", "q_lag_lead", "q_grouping_sets",
    "q_asof_join", "q_session_window", "q_sessionize",
    # twins whose Spark builders changed in the r07 optimization round
    # (Arrow minhash pass, vectorized IVF assignment, spread repartitions)
    # -> re-attest first even though green in r06
    "q_minhash_signatures", "q_dedup_clusters", "q_cluster_canonical",
    "q_tfidf", "q_embed_cosine_topk", "q_embed_neardup", "q_range_join",
    "q_lst_sw",
    # changed in the second r07 session (Arrow shingle/entropy passes,
    # CC pointer jumping, decontamination materialization)
    "q_winnow_fingerprint", "q_decontaminate", "q_decontaminate_bloom",
    "q_char_entropy",
]
_ATTEST_LAST = [
    # green in r06, builders unchanged in r07; 86 twins - 50 window = 36
    # demoted. The second r07 session changed 4 more builders (promoted
    # into _ATTEST_FIRST above), so 4 UNCHANGED r06-green headline twins
    # (q_cwv_ratio_window, q_broadcast_join, q_agg_stats, q_window_topk)
    # sit out this round — their newest green row stays <= 1 round old;
    # q_radiance / q_bt / q_lst_sw remain in the window.
    "q_cwv_ratio_window", "q_broadcast_join", "q_agg_stats",
    "q_window_topk",
    "q_pii_scrub", "q_paragraph_dedup", "q_token_stats", "q_lang_id",
    "q_quality_score", "q_fingerprint", "q_bpe_tokens",
    "q_regr_manual", "q_grouped_map", "q_rollup",
    "q_cube", "q_percentile", "q_semi_join", "q_anti_join",
    "q_caption_roundtrip", "q_salted_agg", "q_interval_overlap",
    "q_skyline", "q_grid_density", "q_hash_split", "q_stratified_sample",
    "q_unpivot",
    "q_mode_per_group", "q_token_shards", "q_ann_lsh_buckets",
    "q_tumbling_window", "q_correlated_subquery",
    "q_udf_bt", "q_knn_sql", "q_bbox_join", "q_dedup_latest",
    "q_dedup_exact",
]


def _ordered(base: dict) -> dict:
    missing = [n for n in _ATTEST_FIRST + _ATTEST_LAST if n not in base]
    assert not missing, f"attestation order names unknown queries: {missing}"
    out = {n: base[n] for n in _ATTEST_FIRST}
    out.update({n: v for n, v in base.items()
                if n not in _ATTEST_FIRST and n not in _ATTEST_LAST})
    out.update({n: base[n] for n in _ATTEST_LAST})
    return out


def _q_viewshed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: line-of-sight visibility from an observer point
    (r.viewshed analog, terrain.viewshed_tiles) — exact R3 semantics over
    an angular-sector decomposition; pixel planes never hash-shuffle, only
    (sector, cell) small rows do. Brute whole-plane ray-march oracle
    parity (cross-tile sightlines, ragged tiles, NaN transparency,
    max_dist, sector-count invariance) in tests/test_terrain.py."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import terrain

    rng = np.random.default_rng(73)
    base = rng.uniform(0.0, 25.0, (12, 12))
    plane = np.kron(base, np.ones((8, 8))) + rng.uniform(-0.5, 0.5, (96, 96))
    yy, xx = np.mgrid[0:96, 0:96]
    plane += 70.0 * np.exp(-((xx - 64.0) ** 2 + (yy - 30.0) ** 2) / 220.0)
    plane = plane.astype("<f4").astype(np.float64)
    tiles = _tile_fixture(spark, {"S0": {"lst_bytes": plane}})
    obs = pd.DataFrame([{"scene_id": "S0", "ox": 20, "oy": 70}])
    v = terrain.viewshed_tiles(tiles, obs, obs_height=2.0, max_dist=55.0,
                               n_sectors=32)
    return (
        v.groupBy("scene_id")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_visible").alias("n_visible"),
             F.sum("n_evaluated").alias("n_evaluated"),
             F.round(F.sum("n_visible")
                     / F.greatest(F.sum("n_evaluated"), F.lit(1)), 4)
             .alias("visible_frac"))
        .orderBy("scene_id")
    )


def _q_viewshed_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: cumulative multi-observer viewshed (r.viewshed.cva
    analog, terrain.viewshed_count_tiles) — per-observer exact-R3 sector
    decomposition, visible cells collapsed by a map-side-combining SUM
    into per-cell coverage counts. Sum-of-singles oracle parity in
    tests/test_terrain.py."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import terrain

    rng = np.random.default_rng(75)
    base = rng.uniform(0.0, 25.0, (12, 12))
    plane = np.kron(base, np.ones((8, 8))) + rng.uniform(-0.5, 0.5, (96, 96))
    yy, xx = np.mgrid[0:96, 0:96]
    plane += 60.0 * np.exp(-((xx - 48.0) ** 2 + (yy - 48.0) ** 2) / 200.0)
    plane = plane.astype("<f4").astype(np.float64)
    tiles = _tile_fixture(spark, {"S0": {"lst_bytes": plane}})
    obs = pd.DataFrame([
        {"scene_id": "S0", "obs_id": "a", "ox": 10, "oy": 10},
        {"scene_id": "S0", "obs_id": "b", "ox": 80, "oy": 20},
        {"scene_id": "S0", "obs_id": "c", "ox": 48, "oy": 85},
    ])
    v = terrain.viewshed_count_tiles(tiles, obs, max_dist=45.0,
                                     n_sectors=32)
    return (
        v.groupBy("scene_id")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_covered").alias("n_covered"),
             F.sum("n_evaluated").alias("n_evaluated"))
        .orderBy("scene_id")
    )


def _q_sun(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: instantaneous clear-sky solar irradiance with cast
    shadows (r.sun analog, terrain.sun_tiles) — parallel-ray strip
    decomposition: one decode pass to (strip, cell) small rows, per-strip
    running-max scan emits only shaded cells, 1-px halo exchange feeds the
    Horn incidence kernel. Whole-scene bit-identical oracle + tiling
    invariance in tests/test_terrain.py."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import terrain

    rng = np.random.default_rng(74)
    base = rng.uniform(0.0, 20.0, (12, 12))
    plane = np.kron(base, np.ones((8, 8))) + rng.uniform(-0.3, 0.3, (96, 96))
    yy, xx = np.mgrid[0:96, 0:96]
    plane += 90.0 * np.exp(-((xx - 30.0) ** 2 + (yy - 60.0) ** 2) / 160.0)
    plane = plane.astype("<f4").astype(np.float64)
    tiles = _tile_fixture(spark, {"S0": {"lst_bytes": plane}})
    sun = pd.DataFrame([{"scene_id": "S0", "azimuth_deg": 240.0,
                         "altitude_deg": 22.0}])
    v = terrain.sun_tiles(tiles, sun)
    return (
        v.groupBy("scene_id")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_shaded").alias("n_shaded"),
             F.sum("n_valid").alias("n_valid"),
             F.round(F.sum("n_shaded")
                     / F.greatest(F.sum("n_valid"), F.lit(1)), 4)
             .alias("shaded_frac"))
        .orderBy("scene_id")
    )


def _q_ndvi_emissivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: NDVI + NDVI-threshold emissivity (i.vi / i.emissivity
    analogs, multiband.ndvi_emissivity_tiles) — per-pixel emissivity from
    the red/NIR bands themselves (Sobrino threshold method, Carlson-Ripley
    FVC^2), the standard alternative to the reference's landcover lookup
    (C5). One mapInArrow hop, zero shuffles. numpy oracle + threshold
    goldens in tests/test_multiband.py."""
    import numpy as np

    from i_landsat8_swlst_spark import multiband

    rng = np.random.default_rng(77)
    red = rng.uniform(0.02, 0.45, (96, 96)).astype(np.float32)
    nir = rng.uniform(0.05, 0.65, (96, 96)).astype(np.float32)
    red[10:14, 20:24] = np.nan
    tiles = _tile_fixture(spark, {"S0": {"red_bytes": red, "nir_bytes": nir}})
    v = multiband.ndvi_emissivity_tiles(tiles, "red_bytes", "nir_bytes")
    return (
        v.groupBy("scene_id")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_valid").alias("n_valid"),
             F.round(F.avg("ndvi_mean"), 4).alias("avg_tile_ndvi"))
        .orderBy("scene_id")
    )


def _q_lst_ndvi_emissivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: the NDVI->emissivity->LST loop closed end-to-end — derive
    per-pixel emissivity planes from synthetic red/NIR (Sobrino threshold,
    multiband.ndvi_emissivity_tiles), join them onto the enriched band
    pairs (a co-keyed tile equi join), and run the
    fused split-window kernel through lst_from_bt's ARRAY branch
    (pipeline.lst_tiles_pixel_emissivity). Constant-plane bit-identity to
    the scalar path + per-pixel kernel parity in tests/test_pipeline.py."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import multiband, pipeline

    scenes, meta, emis = _tiny_fixture(spark)
    enriched = pipeline.build_enriched(scenes, meta, emis)
    grid = enriched.select("scene_id", "tile_x", "tile_y", "w", "h") \
        .toPandas()
    rng = np.random.default_rng(78)
    rows = []
    for r in grid.itertuples():
        w, h = int(r.w), int(r.h)
        rows.append({
            "scene_id": r.scene_id, "tile_x": r.tile_x, "tile_y": r.tile_y,
            "w": w, "h": h,
            "red_bytes": rng.uniform(0.02, 0.45, (h, w)).astype("<f4")
            .tobytes(),
            "nir_bytes": rng.uniform(0.05, 0.65, (h, w)).astype("<f4")
            .tobytes()})
    bands = spark.createDataFrame(pd.DataFrame(rows))
    etiles = multiband.ndvi_emissivity_tiles(bands, "red_bytes",
                                             "nir_bytes")
    out = pipeline.lst_tiles_pixel_emissivity(enriched, etiles, window=5)
    return (
        out.groupBy("scene_id")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_valid").alias("n_valid"),
             F.round(F.avg("lst_mean"), 2).alias("avg_lst_k"))
        .orderBy("scene_id")
    )


def _q_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: horizon-angle maps (r.horizon analog,
    terrain.horizon_tiles) — per-azimuth parallel-ray strips, exact
    convex-hull scan per strip (O(n log n), max slope to any azimuth-ward
    cell), plane regroup by equi join. Brute per-strip oracle parity +
    shadow-consistency cross-check in tests/test_terrain.py."""
    import numpy as np

    from i_landsat8_swlst_spark import terrain

    rng = np.random.default_rng(76)
    base = rng.uniform(0.0, 25.0, (12, 12))
    plane = np.kron(base, np.ones((8, 8))) + rng.uniform(-0.5, 0.5, (96, 96))
    plane = plane.astype("<f4").astype(np.float64)
    tiles = _tile_fixture(spark, {"S0": {"lst_bytes": plane}})
    v = terrain.horizon_tiles(tiles, [90.0, 180.0, 270.0])
    return (
        v.groupBy("azimuth")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_valid").alias("n_valid"))
        .orderBy("azimuth")
    )


def _q_lst_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: per-pixel linear LST trend across 4 revisits (closed-form
    OLS sums — every term partial-aggregable, ONE map-side-combining
    shuffle, pure JVM arithmetic). numpy polyfit parity in
    tests/test_pipeline.py."""
    import pandas as pd

    from i_landsat8_swlst_spark import constants as C, pipeline, synth

    scenes = spark.createDataFrame(synth.revisit_scenes_pdf("tiny", scene=0, n_dates=4))
    meta = spark.createDataFrame(synth.revisit_meta_pdf("tiny", scene=0, n_dates=4))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    pixels = pipeline.lst_pixels(
        pipeline.build_enriched_with_grid(scenes, meta, emis), window=5)
    trend = pipeline.trend_pixels(pixels)
    return (
        trend.groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_pixels"),
             F.count("slope").alias("n_with_trend"),
             F.round(F.avg("slope"), 6).alias("avg_slope"),
             F.round(F.max(F.abs("slope")), 4).alias("max_abs_slope"))
        .orderBy("tile_x", "tile_y")
    )


def _q_lst_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: per-pixel temporal median composite across 3 revisits of
    one footprint (grids align exactly; clouds/NaN dropped per observation) —
    the classic cloud-free LST product. Pandas merge/median parity in
    tests/test_pipeline.py."""
    import pandas as pd

    from i_landsat8_swlst_spark import constants as C, pipeline, synth

    scenes = spark.createDataFrame(synth.revisit_scenes_pdf("tiny", scene=0, n_dates=3))
    meta = spark.createDataFrame(synth.revisit_meta_pdf("tiny", scene=0, n_dates=3))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    pixels = pipeline.lst_pixels(
        pipeline.build_enriched_with_grid(scenes, meta, emis), window=5)
    comp = pipeline.composite_pixels(pixels)
    return (
        comp.groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_pixels"),
             F.sum("n_obs").alias("n_obs_total"),
             F.round(F.avg("lst_median"), 4).alias("avg_median_lst"),
             F.round(F.avg(F.col("lst_hi") - F.col("lst_lo")), 4).alias("avg_spread"))
        .orderBy("tile_x", "tile_y")
    )


def _q_lst_mosaic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: priority mosaic (r.patch analog) — per pixel keep the
    lowest-CWV observation across 3 revisits via ONE partial-aggregable
    min-over-struct (pipeline.mosaic_pixels). Pandas argmin parity in
    tests/test_pipeline.py."""
    import pandas as pd

    from i_landsat8_swlst_spark import constants as C, pipeline, synth

    scenes = spark.createDataFrame(synth.revisit_scenes_pdf("tiny", scene=0, n_dates=3))
    meta = spark.createDataFrame(synth.revisit_meta_pdf("tiny", scene=0, n_dates=3))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    pixels = pipeline.lst_pixels(
        pipeline.build_enriched_with_grid(scenes, meta, emis), window=5)
    mos = pipeline.mosaic_pixels(pixels)
    return (
        mos.groupBy("tile_x", "tile_y", "src_scene")
        .agg(F.count(F.lit(1)).alias("n_pixels"),
             F.round(F.avg("lst_mosaic"), 4).alias("avg_lst"),
             F.round(F.avg("src_priority"), 4).alias("avg_cwv"))
        .orderBy("tile_x", "tile_y", "src_scene")
    )


def _q_stream_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: stream-stream band-pair join (watermarked inner self-join
    with event-time bound) -> the SAME fused LST kernel as batch; band-10
    tiles from drop 1 pair with band-11 partners arriving in drop 2 via the
    join state store. Batch parity in tests/test_streaming.py."""
    import shutil
    import tempfile

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from i_landsat8_swlst_spark import constants as C, streaming, synth

    tmp = tempfile.mkdtemp(prefix="swlst_qpair_")
    try:
        import os

        in_dir, out, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
        os.makedirs(in_dir)
        s0 = synth.scenes_pdf("tiny", scenes=[0])
        b10 = s0[s0.image_id.str.contains("/B10/")]
        b11 = s0[s0.image_id.str.contains("/B11/")]
        half = len(b11) // 2
        meta_pdf = synth.scene_meta_pdf("tiny")
        emis_pdf = pd.DataFrame([e._asdict() for e in C.load_emissivities()])
        pq.write_table(pa.Table.from_pandas(
            pd.concat([b10, b11.iloc[:half]], ignore_index=True),
            preserve_index=False), f"{in_dir}/d1.parquet")
        streaming.stream_pair_lst(spark, in_dir, out, ckpt, meta_pdf, emis_pdf)
        pq.write_table(pa.Table.from_pandas(
            b11.iloc[half:], preserve_index=False), f"{in_dir}/d2.parquet")
        streaming.stream_pair_lst(spark, in_dir, out, ckpt, meta_pdf, emis_pdf)
        return (
            spark.read.parquet(out)
            .groupBy("scene_id")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.sum("n_valid").alias("n_valid_px"),
                 F.round(F.avg("lst_mean"), 4).alias("avg_tile_lst"))
            .orderBy("scene_id")
            .localCheckpoint()  # materialize before the temp dir vanishes
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: streaming spatial enrichment (round 4) — two incremental
    drains of point drops through the stream-static fused cells+PIP+kNN hop;
    batch parity in tests/test_streaming.py."""
    import shutil
    import tempfile

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from i_landsat8_swlst_spark import streaming, synth

    tmp = tempfile.mkdtemp(prefix="swlst_qenr_")
    try:
        import os

        in_dir, out, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
        os.makedirs(in_dir)
        aoi, stations = synth.aoi_pdf("tiny"), synth.stations_pdf("tiny")
        # spray around scene 0's polygons (the tiny fixture's scenes sit far
        # apart; the full hull would put most points in the empty gap)
        a0 = aoi[aoi["aoi_id"].str.startswith("aoi_000")]
        allv = [p for ring in a0["ring"] for p in ring]
        lons = np.array([p["lon"] for p in allv])
        lats = np.array([p["lat"] for p in allv])
        rng = np.random.default_rng(37)
        pts = pd.DataFrame({
            "pid": np.arange(400, dtype=np.int64),
            "lon": rng.uniform(lons.min() - 0.2, lons.max() + 0.2, 400),
            "lat": rng.uniform(lats.min() - 0.2, lats.max() + 0.2, 400),
            "lst_k": rng.uniform(260.0, 330.0, 400),
        })
        for i, sl in enumerate((slice(0, 200), slice(200, 400))):
            pq.write_table(pa.Table.from_pandas(pts.iloc[sl], preserve_index=False),
                           f"{in_dir}/d{i}.parquet")
            streaming.stream_enrich_pixels(spark, in_dir, out, ckpt,
                                           aoi, stations, k=2)
        return (
            spark.read.parquet(out)
            .groupBy("aoi_category", "station_rank")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.round(F.avg("station_km"), 4).alias("avg_km"))
            .orderBy("aoi_category", "station_rank")
            .localCheckpoint()  # materialize before the temp dir vanishes
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_warp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: reprojection onto a shared target grid (r.proj /
    g.region-resampling analog) — two deliberately MIS-REGISTERED revisits
    of one footprint (shifted bbox, different tiling) are warped onto one
    GridSpec, then stacked with series_tiles (which raises on the raw,
    unwarped stack — pinned in tests/test_warp.py along with whole-scene
    numpy-oracle parity: nearest exact, bilinear to f32 precision)."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import series, warp

    def scene(sid, seed, bbox, ntx, nty, tw, th):
        rng = np.random.default_rng(seed)
        plane = rng.uniform(270.0, 330.0, (nty * th, ntx * tw)).astype("<f4")
        plane[3, 4] = np.nan
        rows = [{"scene_id": sid, "tile_x": tx, "tile_y": ty, "w": tw,
                 "h": th,
                 "lst_bytes": plane[ty * th:(ty + 1) * th,
                                    tx * tw:(tx + 1) * tw].tobytes()}
                for ty in range(nty) for tx in range(ntx)]
        geom = [{"scene_id": sid, "lon0": bbox[0], "lat0": bbox[1],
                 "lon1": bbox[2], "lat1": bbox[3], "ntx": ntx, "nty": nty}]
        return pd.DataFrame(rows), pd.DataFrame(geom)

    t0, g0 = scene("WXR0", 11, (10.0, 40.0, 13.0, 42.0), 3, 2, 16, 12)
    t1, g1 = scene("WXR1", 12, (10.3, 40.2, 13.3, 42.2), 4, 3, 12, 8)
    tiles = spark.createDataFrame(pd.concat([t0, t1]))
    geom = spark.createDataFrame(pd.concat([g0, g1]))
    dst = warp.GridSpec(10.0, 40.0, 13.3, 42.2, ntx=3, nty=2,
                        tile_w=15, tile_h=12)
    warped = warp.warp_tiles(tiles, geom, dst, method="bilinear")
    stacked = series.series_tiles(warped, src_col="out_bytes",
                                  stats=("count", "mean", "min"))
    return (stacked.select(
        "footprint", "tile_x", "tile_y", "w", "h", "n_dates", "n_px_any",
        F.round("mean_mean", 6).alias("mean_mean"),
        F.round("min_mean", 6).alias("min_mean"))
        .orderBy("tile_x", "tile_y"))


def _q_cost_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: distributed cost ALLOCATION (r.cost "nearest" output /
    cost-weighted Voronoi) — every reachable pixel labeled with the target
    cell its least-cost path terminates at, lexicographic (dist, label)
    fixpoint so equal-cost ties resolve canonically to the lowest label
    regardless of tiling (costdist.cost_allocation_tiles). Exact lex-min
    Dijkstra-oracle parity (labels AND distances) in
    tests/test_costdist.py."""
    from i_landsat8_swlst_spark import costdist

    tiles = _tiny_lst_tiles(spark)
    a = costdist.cost_allocation_tiles(tiles, threshold=305.0, cell=30.0)
    return (
        a.groupBy("scene_id")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_reached").alias("n_reached_px"),
             F.sum("n_labels").alias("sum_tile_labels"),
             F.round(F.max("dist_max"), 4).alias("farthest_m"))
        .orderBy("scene_id")
    )


def _q_pansharpen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: pan-sharpening (i.pansharpen analog, Brovey fusion) —
    tile-local bilinear band upsample to a 2x pan grid + ratio fusion, one
    mapInArrow hop, zero shuffle (multiband.pansharpen_tiles). Per-tile
    numpy-oracle parity + band-ratio invariant in tests/test_multiband.py.
    The pan plane is synthesized deterministically from the LST product
    (2x nearest upsample + a fixed checker offset) so the query needs no
    extra input table."""
    import numpy as np

    from pyspark.sql.types import BinaryType, StructField, StructType

    from i_landsat8_swlst_spark import multiband
    from i_landsat8_swlst_spark.algebra import resample_plane
    from i_landsat8_swlst_spark.pipeline import (_batch_from_cols,
                                                 _batch_rows)

    tiles = _tiny_lst_tiles(spark)
    src = tiles.select("image_id", "scene_id", "tile_x", "tile_y", "w", "h",
                       "lst_bytes", "cwv_bytes")
    out_schema = StructType(list(src.schema.fields)
                            + [StructField("pan_bytes", BinaryType())])

    def synth_pan(batches):
        from i_landsat8_swlst_spark import codecs
        for batch in batches:
            cols = {f.name: [] for f in out_schema}
            ap = {k: v.append for k, v in cols.items()}
            for row in _batch_rows(batch):
                w, h = int(row.w), int(row.h)
                lst = codecs.decode_f32bt(row.lst_bytes, w, h)
                pan = resample_plane(lst.astype("float64"), h * 2, w * 2,
                                     "nearest")
                yy, xx = np.meshgrid(np.arange(h * 2), np.arange(w * 2),
                                     indexing="ij")
                pan = pan + ((yy + xx) % 2) * 0.5
                for name in out_schema.names[:-1]:
                    ap[name](getattr(row, name))
                ap["pan_bytes"](pan.astype("<f4").tobytes())
            if cols["scene_id"]:
                yield _batch_from_cols(cols, out_schema)

    with_pan = src.mapInArrow(synth_pan, out_schema)
    ps = multiband.pansharpen_tiles(with_pan, "pan_bytes",
                                    ["lst_bytes", "cwv_bytes"])
    return (ps.groupBy("scene_id")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.sum("n_valid").alias("n_valid_px"),
                 F.round(F.avg("ps1_mean"), 4).alias("avg_ps1"))
            .orderBy("scene_id"))


def _q_histo_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: histogram matching (i.histo.match analog) — every
    scene's LST distribution remapped onto the first scene's via fixed-bin
    CDF matching; distributed LUT derivation + broadcast-join apply
    (multiband.histo_match_tiles). Byte-exact serial-oracle parity in
    tests/test_multiband.py."""
    from i_landsat8_swlst_spark import multiband

    # the tile fixture feeds three subtrees (ref lookup, LUT derivation,
    # apply join): materialize once per invocation — production input is
    # a stored tile table (see q_enrich_cells)
    tiles = _tiny_lst_tiles(spark).localCheckpoint()
    ref = tiles.select("scene_id").orderBy("scene_id").first()["scene_id"]
    out, _ = multiband.histo_match_tiles(tiles, ref, "lst_bytes", bins=1024)
    return (out.groupBy("scene_id")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.sum("n_valid").alias("n_valid_px"),
                 F.round(F.avg("out_mean"), 4).alias("avg_matched"))
            .orderBy("scene_id"))


def _q_series_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: deep-archive r.series (series.series_tiles_deep) — the
    streaming histogram fold holding O(bins) state planes instead of
    buffering all k revisit planes; median_approx within one bin width of
    the exact median and bit-identical to the grouped kernel's
    median_approx (tests/test_series.py)."""
    import pandas as pd

    from i_landsat8_swlst_spark import constants as C, pipeline, series, synth

    scenes = spark.createDataFrame(
        synth.revisit_scenes_pdf("tiny", scene=0, n_dates=3))
    meta = spark.createDataFrame(
        synth.revisit_meta_pdf("tiny", scene=0, n_dates=3))
    emis = spark.createDataFrame(
        pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    tiles = pipeline.lst_tiles(pipeline.build_enriched(scenes, meta, emis),
                               window=5)
    ser = series.series_tiles_deep(tiles)
    return (ser.groupBy("footprint")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.sum("n_px_any").alias("n_px_any"),
                 F.round(F.avg("median_approx_mean"), 4).alias("avg_med"))
            .orderBy("footprint"))



def _q_temporal_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: t.rast.aggregate analog (series.temporal_aggregate_tiles)
    — the revisit archive collapsed into one stat map per (footprint,
    2-month calendar window): broadcast join of the acquisition instants,
    pure-Catalyst epoch bucketing (series.epoch_start, the arithmetic the
    q_epoch_agg twin hash-attests), then the exact series_tiles kernel per
    window. Bit-parity with per-window series_tiles in
    tests/test_series.py."""
    import pandas as pd

    from i_landsat8_swlst_spark import constants as C, pipeline, series, synth

    scenes = spark.createDataFrame(
        synth.revisit_scenes_pdf("tiny", scene=0, n_dates=4))
    meta = spark.createDataFrame(
        synth.revisit_meta_pdf("tiny", scene=0, n_dates=4))
    emis = spark.createDataFrame(
        pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    tiles = pipeline.lst_tiles(pipeline.build_enriched(scenes, meta, emis),
                               window=5)
    agg = series.temporal_aggregate_tiles(
        tiles, meta.select("scene_id", "acquired_at"), "2 months")
    return (agg.groupBy("footprint", "epoch")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.max("n_dates").alias("n_dates"),
                 F.sum("n_px_any").alias("n_px_any"),
                 F.round(F.avg("mean_mean"), 4).alias("avg_mean"))
            .orderBy("footprint", "epoch"))


def _q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: t.rast.gapfill analog (series.gapfill_tiles) — per-pixel
    temporal NaN gaps (QA cloud holes) filled by time-weighted linear
    interpolation between the nearest valid revisit before and after; no
    extrapolation past the endpoints. Per-pixel-loop oracle parity in
    tests/test_series.py."""
    import pandas as pd

    from i_landsat8_swlst_spark import constants as C, pipeline, series, synth

    scenes = spark.createDataFrame(
        synth.revisit_scenes_pdf("tiny", scene=0, n_dates=4, with_qa=True))
    meta = spark.createDataFrame(
        synth.revisit_meta_pdf("tiny", scene=0, n_dates=4))
    emis = spark.createDataFrame(
        pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    tiles = pipeline.lst_tiles(
        pipeline.build_enriched(scenes, meta, emis, with_qa=True), window=5)
    filled = series.gapfill_tiles(tiles, meta.select("scene_id", "acquired_at"))
    return (filled.groupBy("footprint", "scene_id")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.sum("n_filled").alias("n_filled"))
            .orderBy("footprint", "scene_id"))


def _q_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: IDW interpolation of scattered station observations onto
    the tile grid (v.surf.idw analog) — BOTH paths: the broadcast-station
    mapInArrow pass (zero hash exchanges, plan-gated) and the distributed
    cell-equi-join gather, asserted bit-identical per tile in
    tests/test_spatial.py; here the broadcast path aggregates per scene."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import pipeline, spatial

    scenes, meta, emis = _tiny_fixture(spark)
    tiles = pipeline.parse_scenes(scenes).filter(F.col("band") == 10).select(
        "scene_id", "tile_x", "tile_y", "w", "h")
    geom = (pipeline.scene_grids(pipeline.parse_scenes(scenes))
            .join(meta.select("scene_id", "lon0", "lat0", "lon1", "lat1"),
                  "scene_id"))
    boxes = meta.select("lon0", "lat0", "lon1", "lat1").toPandas()
    rng = np.random.default_rng(23)
    n = 64
    st = pd.DataFrame({
        "station_id": [f"st{i:03d}" for i in range(n)],
        "lon": rng.uniform(boxes.lon0.min(), boxes.lon1.max(), n),
        "lat": rng.uniform(boxes.lat0.min(), boxes.lat1.max(), n),
        "value": rng.uniform(1.0, 6.5, n)})
    out = spatial.idw_rasterize(tiles, st, geom, k=12, power=2.0)
    return (out.groupBy("scene_id")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.sum("n_interp").alias("n_interp"))
            .orderBy("scene_id"))


def _q_kde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: kernel-density heatmap of station locations rasterized
    onto the tile grid (v.kernel analog, spatial.kde_rasterize) — same
    zero-exchange broadcast plan as q_idw; the distributed cell-join path
    is asserted bit-identical in tests/test_spatial.py."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import pipeline, spatial

    scenes, meta, emis = _tiny_fixture(spark)
    tiles = pipeline.parse_scenes(scenes).filter(F.col("band") == 10).select(
        "scene_id", "tile_x", "tile_y", "w", "h")
    geom = (pipeline.scene_grids(pipeline.parse_scenes(scenes))
            .join(meta.select("scene_id", "lon0", "lat0", "lon1", "lat1"),
                  "scene_id"))
    boxes = meta.select("lon0", "lat0", "lon1", "lat1").toPandas()
    rng = np.random.default_rng(29)
    n = 48
    st = pd.DataFrame({
        "station_id": [f"st{i:03d}" for i in range(n)],
        "lon": rng.uniform(boxes.lon0.min(), boxes.lon1.max(), n),
        "lat": rng.uniform(boxes.lat0.min(), boxes.lat1.max(), n),
        "value": rng.uniform(1.0, 6.5, n)})
    out = spatial.kde_rasterize(tiles, st, geom, radius_km=8.0)
    return (out.groupBy("scene_id")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.sum("n_interp").alias("n_px"))
            .orderBy("scene_id"))


def _q_raster_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: per-scene OLS between the co-registered CWV and LST
    planes (r.regression.line analog, series.regression_tiles) — six
    partial sums per tile, ONE map-side-combining aggregate per scene,
    closed-form a/b/R/F. numpy polyfit/corrcoef parity in
    tests/test_series.py."""
    from i_landsat8_swlst_spark import series

    tiles = _tiny_lst_tiles(spark)
    out = series.regression_tiles(tiles, col_x="cwv_bytes",
                                  col_y="lst_bytes")
    return out.select(
        "scene_id", "n",
        F.round("a", 4).alias("a"), F.round("b", 4).alias("b"),
        F.round("r", 6).alias("r")).orderBy("scene_id")


def _q_accumulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: per-pixel running accumulation across time-sorted
    revisits (t.rast.accumulate analog, series.accumulate_tiles — the
    growing-degree-day form clip(v, lower, upper) - lower). Kernel
    semantics + whole-scene parity in tests/test_series.py."""
    import pandas as pd

    from i_landsat8_swlst_spark import constants as C, pipeline, series, synth

    scenes = spark.createDataFrame(
        synth.revisit_scenes_pdf("tiny", scene=0, n_dates=4))
    meta = spark.createDataFrame(
        synth.revisit_meta_pdf("tiny", scene=0, n_dates=4))
    emis = spark.createDataFrame(
        pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    tiles = pipeline.lst_tiles(pipeline.build_enriched(scenes, meta, emis),
                               window=5)
    acc = series.accumulate_tiles(
        tiles, meta.select("scene_id", "acquired_at"), lower=285.0)
    return (acc.groupBy("footprint", "step")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.sum(F.length("accum_bytes")).alias("plane_bytes"))
            .orderBy("footprint", "step"))


def _q_convolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: custom matrix filter (r.mfilter analog,
    pipeline.convolve_tiles) — a 3x3 sharpen kernel with GRASS divisor-0
    renormalization over the LST plane, exact cross-tile halo. Whole-scene
    parity in tests/test_pipeline.py; naive-loop kernel oracle in
    tests/test_kernels.py."""
    import numpy as np

    from i_landsat8_swlst_spark import pipeline

    tiles = _tiny_lst_tiles(spark)
    sharpen = np.array([[0., -1, 0], [-1, 5, -1], [0, -1, 0]])
    out = pipeline.convolve_tiles(tiles, sharpen, divisor=0.0)
    return (out.groupBy("scene_id")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.sum("n_valid").alias("n_valid"))
            .orderBy("scene_id"))


def _q_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: r.lake analog (regions.lake_tiles) — flood-fill below a
    water level from seed cells: only the 4-connected below-level
    components CONTAINING a seed flood (cross-tile, min-label fixpoint);
    per-pixel depth + per-tile area/volume. BFS flood-fill oracle parity
    in tests/test_regions.py."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import regions

    tiles = _tiny_lst_tiles(spark)
    # flood the coolest spot of one scene up to its 20th LST percentile;
    # the scene's tiles feed four subtrees (level stats, seed argmin, the
    # fill's pass + regroup) — materialize once per invocation
    one = tiles.filter(F.col("scene_id") == "LC08_00000").localCheckpoint()
    stats = one.agg(
        F.min("lst_min").alias("lo"),
        F.percentile_approx("lst_mean", 0.2).alias("level")).first()
    # seed: scene pixel with the minimum LST (deterministic argmin)
    seed_row = (one.orderBy("lst_min", "tile_x", "tile_y").first())
    w, h = int(seed_row["w"]), int(seed_row["h"])
    p = np.frombuffer(seed_row["lst_bytes"], "<f4").reshape(h, w)
    py, px = np.unravel_index(np.nanargmin(p), p.shape)
    seeds = spark.createDataFrame(pd.DataFrame([{
        "scene_id": "LC08_00000",
        "gx": int(seed_row["tile_x"]) * w + int(px),
        "gy": int(seed_row["tile_y"]) * h + int(py)}]))
    lake = regions.lake_tiles(one, seeds, float(stats["level"]))
    return (lake.groupBy("scene_id")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.sum("area_px").alias("area_px"),
                 F.round(F.sum("volume"), 2).alias("volume"))
            .orderBy("scene_id"))


def _q_reclass_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: r.reclass over the LST plane (algebra.reclass_tiles) —
    the same first-match rule engine the hash-attested q_reclass twin
    exercises cross-engine, here applied per tile (Kelvin bands to
    categories). Plane-oracle parity in tests/test_algebra.py."""
    from i_landsat8_swlst_spark import algebra

    tiles = _tiny_lst_tiles(spark)
    out = algebra.reclass_tiles(
        tiles, "0 thru 279 = 1\n280 thru 299 = 2\n* = 3")
    return (out.groupBy("scene_id")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.sum("n_valid").alias("n_classified"),
                 F.round(F.avg("out_mean"), 4).alias("avg_class"))
            .orderBy("scene_id"))


def _q_grow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: r.grow analog (pipeline.grow_tiles) — QA cloud pinholes
    in the LST plane closed by nearest-valid-value growth (radius 2.5,
    exact cross-tile halo). Naive-loop kernel oracle + whole-scene halo
    parity in tests/test_kernels.py / test_pipeline.py."""
    from i_landsat8_swlst_spark import pipeline

    tiles = _tiny_lst_tiles(spark, with_qa=True)
    out = pipeline.grow_tiles(tiles, radius=2.5)
    return (out.groupBy("scene_id")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.sum("n_grown").alias("n_grown"))
            .orderBy("scene_id"))


def _q_rasterize_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: polyline rasterization (v.to.rast type=line analog,
    spatial.rasterize_lines) — supercover grid traversal (no diagonal
    gaps), highest category wins on overlap, broadcast vector side, zero
    hash exchanges. Two-sided traversal bound + sampled-cell oracle in
    tests/test_spatial.py."""
    import pandas as pd

    from i_landsat8_swlst_spark import pipeline, spatial

    scenes, meta, emis = _tiny_fixture(spark)
    tiles = pipeline.parse_scenes(scenes).filter(F.col("band") == 10).select(
        "scene_id", "tile_x", "tile_y", "w", "h")
    geom = (pipeline.scene_grids(pipeline.parse_scenes(scenes))
            .join(meta.select("scene_id", "lon0", "lat0", "lon1", "lat1"),
                  "scene_id"))
    boxes = meta.select("scene_id", "lon0", "lat0", "lon1", "lat1").toPandas()
    rows = []
    for b in boxes.itertuples():  # one diagonal + one bar PER scene bbox
        sx = lambda f: b.lon0 + f * (b.lon1 - b.lon0)
        sy = lambda f: b.lat0 + f * (b.lat1 - b.lat0)
        rows.append({"line_id": f"diag-{b.scene_id}", "cat": 7,
                     "xs": [sx(0.05), sx(0.95)], "ys": [sy(0.1), sy(0.9)]})
        rows.append({"line_id": f"bar-{b.scene_id}", "cat": 3,
                     "xs": [sx(0.1), sx(0.9)], "ys": [sy(0.5), sy(0.5)]})
    lines = pd.DataFrame(rows)
    out = spatial.rasterize_lines(tiles, lines, geom)
    return (out.groupBy("scene_id")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.sum("n_cells").alias("n_cells"))
            .orderBy("scene_id"))


def _q_rasterize_lines_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: the DISTRIBUTED no-broadcast line-rasterization path
    (spatial.rasterize_lines_cells) — segments explode executor-side and
    meet tiles in ONE degree-cell hash equi join; byte-identical to the
    broadcast path (shared burn kernel; parity + 10^5-segment scale test
    in tests/test_spatial.py, no-vector-broadcast gate in test_plans)."""
    import pandas as pd

    from i_landsat8_swlst_spark import pipeline, spatial

    scenes, meta, emis = _tiny_fixture(spark)
    tiles = pipeline.parse_scenes(scenes).filter(F.col("band") == 10).select(
        "scene_id", "tile_x", "tile_y", "w", "h")
    geom = (pipeline.scene_grids(pipeline.parse_scenes(scenes))
            .join(meta.select("scene_id", "lon0", "lat0", "lon1", "lat1"),
                  "scene_id"))
    boxes = meta.select("scene_id", "lon0", "lat0", "lon1", "lat1").toPandas()
    rows = []
    for b in boxes.itertuples():
        sx = lambda f: b.lon0 + f * (b.lon1 - b.lon0)
        sy = lambda f: b.lat0 + f * (b.lat1 - b.lat0)
        rows.append({"line_id": f"diag-{b.scene_id}", "cat": 7,
                     "xs": [sx(0.05), sx(0.95)], "ys": [sy(0.1), sy(0.9)]})
        rows.append({"line_id": f"bar-{b.scene_id}", "cat": 3,
                     "xs": [sx(0.1), sx(0.9)], "ys": [sy(0.5), sy(0.5)]})
    lines = spark.createDataFrame(pd.DataFrame(rows))
    out = spatial.rasterize_lines_cells(tiles, lines, geom)
    return (out.groupBy("scene_id")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.sum("n_cells").alias("n_cells"))
            .orderBy("scene_id"))


def _q_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: D8 flow-path tracing (r.drain analog, hydro.drain_paths)
    — per round every live path walks vectorized inside its current tile,
    only the tiny live-point set crosses the exchange; whole-scene-walk
    oracle parity incl. multi-tile paths in tests/test_hydro.py."""
    import pandas as pd

    from i_landsat8_swlst_spark import hydro

    tiles = _tiny_lst_tiles(spark)
    one = tiles.filter(F.col("scene_id") == "LC08_00000")
    # start a path at the center of each corner tile (LST as "elevation")
    pts = spark.createDataFrame(pd.DataFrame([
        {"scene_id": "LC08_00000", "pid": i,
         "gx": 16 + 96 * (i % 2), "gy": 16 + 96 * (i // 2)}
        for i in range(4)]))
    paths = hydro.drain_paths(one, pts)
    return (paths.groupBy("pid")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.round(F.max("dist"), 4).alias("path_len"))
            .orderBy("pid"))


def _q_fillnulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: smooth IDW hole filling (r.fillnulls analog,
    pipeline.fillnulls_tiles) — QA cloud holes blended from all valid
    cells within the radius (vs q_grow's nearest-copy), exact cross-tile
    halo. Naive oracle + whole-scene halo parity in tests/test_kernels.py
    / test_pipeline.py."""
    from i_landsat8_swlst_spark import pipeline

    tiles = _tiny_lst_tiles(spark, with_qa=True)
    out = pipeline.fillnulls_tiles(tiles, radius=2.5)
    return (out.groupBy("scene_id")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.sum("n_grown").alias("n_filled"))
            .orderBy("scene_id"))


def _q_random_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: exact-N deterministic raster cell sampling (r.random
    analog, spatial.sample_random_cells) — per-tile top-N preselection
    bounds exchange rows by N x tiles, one window rank per scene; the
    sampled set is a pure function of (scene, seed), independent of
    tiling. Whole-scene ranking oracle in tests/test_spatial.py."""
    from i_landsat8_swlst_spark import spatial

    tiles = _tiny_lst_tiles(spark)
    pts = spatial.sample_random_cells(tiles, n=200, seed=11)
    return (pts.groupBy("scene_id")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.round(F.avg("value"), 4).alias("avg_lst"))
            .orderBy("scene_id"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = _ordered(dict(relational.queries()))
    # rows-only (untwinned) entries go after every twinned query so they
    # never displace a hash-attestable twin from the driver's 50-entry window
    # (q_simhash64 left the rows-only set in r3: its md5-fold form is twinned)
    q["q_sketch_stats"] = q.pop("q_sketch_stats")
    q["q_lst_pipeline"] = _q_lst_pipeline
    q["q_pip_join"] = _q_pip_join
    q["q_zonal_stats"] = _q_zonal_stats
    q["q_focal_stats"] = _q_focal_stats
    q["q_texture"] = _q_texture
    q["q_series"] = _q_series
    q["q_anomaly"] = _q_anomaly
    q["q_crosstab"] = _q_crosstab
    q["q_landscape"] = _q_landscape
    q["q_sample_raster"] = _q_sample_raster
    q["q_segment"] = _q_segment
    q["q_extract_regions"] = _q_extract_regions
    q["q_cost_distance"] = _q_cost_distance
    q["q_flow_accum"] = _q_flow_accum
    q["q_basins"] = _q_basins
    q["q_map_algebra"] = _q_map_algebra
    q["q_pca"] = _q_pca
    q["q_equalize"] = _q_equalize
    q["q_aoi_measures"] = _q_aoi_measures
    q["q_resample"] = _q_resample
    q["q_gradient"] = _q_gradient
    q["q_pip_cells"] = _q_pip_cells
    q["q_knn_stations"] = _q_knn_stations
    q["q_knn_cells"] = _q_knn_cells
    q["q_knn_exact"] = _q_knn_exact
    q["q_enrich_cells"] = _q_enrich_cells
    q["q_tile_assignments"] = _q_tile_assignments
    q["q_rasterize_roundtrip"] = _q_rasterize_roundtrip
    q["q_full_spatial"] = _q_full_spatial
    q["q_media_overviews"] = _q_media_overviews
    q["q_frame_sample"] = _q_frame_sample
    q["q_audio_features"] = _q_audio_features
    q["q_media_meta"] = _q_media_meta
    q["q_lst_halo"] = _q_lst_halo
    q["q_phash_neardup"] = _q_phash_neardup
    q["q_stream_ingest"] = _q_stream_ingest
    q["q_stream_progress"] = _q_stream_progress
    q["q_stream_pair"] = _q_stream_pair
    q["q_stream_enrich"] = _q_stream_enrich
    q["q_lst_composite"] = _q_lst_composite
    q["q_lst_mosaic"] = _q_lst_mosaic
    q["q_lst_trend"] = _q_lst_trend
    q["q_warp"] = _q_warp
    q["q_cost_allocation"] = _q_cost_allocation
    q["q_pansharpen"] = _q_pansharpen
    q["q_histo_match"] = _q_histo_match
    q["q_series_deep"] = _q_series_deep
    q["q_temporal_agg"] = _q_temporal_agg
    q["q_gapfill"] = _q_gapfill
    q["q_idw"] = _q_idw
    q["q_kde"] = _q_kde
    q["q_raster_regression"] = _q_raster_regression
    q["q_accumulate"] = _q_accumulate
    q["q_convolve"] = _q_convolve
    q["q_lake"] = _q_lake
    q["q_reclass_tiles"] = _q_reclass_tiles
    q["q_grow"] = _q_grow
    q["q_rasterize_lines"] = _q_rasterize_lines
    q["q_rasterize_lines_cells"] = _q_rasterize_lines_cells
    q["q_drain"] = _q_drain
    q["q_fillnulls"] = _q_fillnulls
    q["q_random_cells"] = _q_random_cells
    q["q_kmeans"] = _q_kmeans
    q["q_maxlik"] = _q_maxlik
    q["q_to_vect"] = _q_to_vect
    q["q_contour"] = _q_contour
    q["q_viewshed"] = _q_viewshed
    q["q_sun"] = _q_sun
    q["q_viewshed_count"] = _q_viewshed_count
    q["q_horizon"] = _q_horizon
    q["q_ndvi_emissivity"] = _q_ndvi_emissivity
    q["q_lst_ndvi_emissivity"] = _q_lst_ndvi_emissivity
    return q


def oracle_sql() -> dict[str, str]:
    return _ordered(dict(relational.oracle_sql()))

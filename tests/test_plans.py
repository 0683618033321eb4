"""Physical-plan shape gates for the scale-critical queries.

Correctness gates can't see a plan regress from an equi hash join into a
nested-loop — results stay identical while the 100-TB cost explodes. These
tests pin the plan shapes the round-1 verdict audited:

- near-dup / LSH / minhash candidate generation must be EQUI joins
  (hash-partitionable), never BroadcastNestedLoopJoin or CartesianProduct;
- the IVF assignment stage is |V| x |C| BY DESIGN but only survives because
  the centroid side is broadcast — assert the broadcast actually happens;
- the brute-force cosine top-k is the one sanctioned nested-loop (it is the
  small-scale oracle, excluded from the bench headline).
"""

import pytest
from pyspark.sql import functions as F

from i_landsat8_swlst_spark import textops

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_embed_neardup_has_no_nested_loop(spark):
    plan = _plan(textops.q_embed_neardup(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan  # the band-bucket equi self-join


def test_minhash_lsh_pairs_has_no_nested_loop(spark):
    plan = _plan(textops.q_minhash_lsh_pairs(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_minhash_plan_has_single_aggregate_shuffle(spark):
    # the round-2 rewrite dropped the shingle distinct: the only exchange
    # left before the signature aggregate is the aggregate's own shuffle
    plan = _plan(textops.q_minhash_signatures(spark, SF_DIR))
    assert "Distinct" not in plan and "distinct" not in plan.lower().replace(
        "countdistinct", "")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 1, f"expected <=1 hash exchange, plan had {n_exchanges}"


def test_ann_ivf_assignment_is_broadcast(spark):
    plan = _plan(textops.q_ann_ivf(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the candidate -> embedding rejoin stages stay equi
    assert "HashJoin" in plan


def test_hamming_join_is_equi(spark):
    from i_landsat8_swlst_spark import relational

    plan = _plan(relational.queries()["q_hamming_join"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_ngram_jaccard_candidates_are_equi(spark):
    plan = _plan(textops.q_ngram_jaccard(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan  # df-capped shingle equi self-join


def test_dedup_clusters_round_is_bounded(spark):
    """The iterative CC job costs rounds x one propagation plan: that plan
    must stay one edge-join + one aggregate + one label-rejoin — at most 4
    hash exchanges (edges, labels, aggregate, rejoin), never a nested loop.
    A regression here multiplies by the round count at 100 TB."""
    import pandas as pd

    edges = spark.createDataFrame(
        pd.DataFrame({"v": [1, 2, 2, 3], "u": [2, 1, 3, 2]}))
    lab = edges.select("v").distinct().select("v", F.col("v").alias("label"))
    plan = _plan(textops._cc_round(edges, lab))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    n_ex = plan.count("Exchange hashpartitioning")
    assert n_ex <= 4, f"CC round plan grew to {n_ex} hash exchanges"


def test_bucketed_band_pair_join_is_shuffle_free(spark, tmp_path):
    """The documented 100-TB table layout: both band tables bucketed+sorted
    on (scene_id, tile_x, tile_y) make the pair join a zero-exchange
    sort-merge join (BENCH/BASELINE.md measured 0.91 scaling efficiency on
    exactly this layout). Gate the plan so a regression can't silently
    reintroduce the shuffle."""
    import re

    import pandas as pd

    from i_landsat8_swlst_spark import constants as C, pipeline, synth

    scenes = spark.createDataFrame(synth.scenes_pdf("tiny", scenes=[0]))
    meta = spark.createDataFrame(synth.scene_meta_pdf("tiny"))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    parsed = pipeline.parse_scenes(scenes)
    key = ["scene_id", "tile_x", "tile_y"]
    b10 = parsed.filter("band = 10").select(
        *key, F.col("image_id").alias("image_id_b10"),
        F.col("bytes").alias("bytes_b10"), F.col("fmt").alias("fmt_b10"),
        "w", "h", F.col("caption").alias("caption_b10"), "landcover")
    b11 = parsed.filter("band = 11").select(
        *key, F.col("image_id").alias("image_id_b11"),
        F.col("bytes").alias("bytes_b11"), F.col("fmt").alias("fmt_b11"),
        F.col("caption").alias("caption_b11"))
    for name, df in (("plans_b10_bkt", b10), ("plans_b11_bkt", b11)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (df.write.bucketBy(8, *key).sortBy(*key)
         .mode("overwrite").format("parquet").saveAsTable(name))
    try:
        paired = spark.table("plans_b10_bkt").join(
            spark.table("plans_b11_bkt"), on=key, how="inner")
        tiles = pipeline.lst_tiles(
            pipeline.with_emissivity(pipeline.with_meta(paired, meta), emis),
            window=5)
        plan = _plan(tiles)
        # broadcasts of the tiny dims are fine; a shuffle prints as
        # "Exchange hashpartitioning(...)"
        assert not re.search(r"(?<!Broadcast)Exchange\s+\w*[Pp]artitioning", plan), plan
        assert tiles.count() > 0  # the zero-shuffle plan actually executes
    finally:
        for name in ("plans_b10_bkt", "plans_b11_bkt"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_pip_join_cells_candidates_are_equi(spark):
    """The distributed PIP's candidate stage must be an equi join on the
    cell key — never a nested loop (that is the broadcast path's job)."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import synth
    from i_landsat8_swlst_spark.spatial import pip_join_cells

    rng = np.random.default_rng(3)
    pts = spark.createDataFrame(pd.DataFrame({
        "pid": range(200),
        "lon": rng.uniform(-10, 10, 200), "lat": rng.uniform(-10, 10, 200)}))
    plan = _plan(pip_join_cells(pts, synth.aoi_pdf("tiny"), res=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan


def test_knn_join_cells_is_equi(spark):
    """The distributed kNN candidate stage is an equi join on the cell key;
    the only window is the per-point rank."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark.spatial import knn_join_cells

    rng = np.random.default_rng(4)
    stations = pd.DataFrame({
        "station_id": [f"s{i}" for i in range(50)],
        "lon": rng.uniform(0, 1, 50), "lat": rng.uniform(0, 1, 50),
        "cwv_obs": rng.uniform(0, 6, 50)})
    pts = spark.createDataFrame(pd.DataFrame({
        "pid": range(100),
        "lon": rng.uniform(0, 1, 100), "lat": rng.uniform(0, 1, 100)}))
    plan = _plan(knn_join_cells(pts, stations, k=2, res=7, key_cols=["pid"]))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan


def test_knn_probe_ring_is_equi(spark):
    """Round 4: the escalation rounds of knn_join_cells_exact (point-side
    ring expansion) must also stay plain equi joins on the cell key — the
    only permitted nested loop in the exact path is the final tiny-POINT-
    side-broadcast fallback."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark.spatial import _knn_probe_ring, _stations_df

    rng = np.random.default_rng(6)
    st_pdf = pd.DataFrame({
        "station_id": [f"s{i}" for i in range(50)],
        "lon": rng.uniform(0, 1, 50), "lat": rng.uniform(0, 1, 50),
        "cwv_obs": rng.uniform(0, 6, 50)})
    pts = spark.createDataFrame(pd.DataFrame({
        "pid": range(40),
        "lon": rng.uniform(0, 1, 40), "lat": rng.uniform(0, 1, 40)}))
    st, has_cwv = _stations_df(spark, st_pdf)
    plan = _plan(_knn_probe_ring(pts, st, has_cwv, 2, 7, 4, ["pid"],
                                 "lon", "lat"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan


def test_enrich_pixels_is_single_arrow_hop_no_exchange(spark):
    """The fused enrichment (bench headline q_enrich_bench) must stay ONE
    MapInArrow over the point scan with NO exchange — cells + PIP + kNN are
    partition-local against broadcast variables."""
    import numpy as np
    import pandas as pd
    import re

    from i_landsat8_swlst_spark import spatial, synth

    rng = np.random.default_rng(9)
    pts = spark.createDataFrame(pd.DataFrame({
        "pid": range(500),
        "lon": rng.uniform(9, 11, 500), "lat": rng.uniform(39, 41, 500)}))
    df = spatial.enrich_pixels(pts, synth.aoi_pdf("tiny"),
                               synth.stations_pdf("tiny"), k=2, how="left")
    plan = _plan(df)
    assert plan.count("MapInArrow") == 1
    assert not re.search(r"Exchange\s+\w*[Pp]artitioning", plan), plan
    # the broadcast PIP and kNN joins: one Python map step each, no exchange
    for df in (spatial.pip_join(pts, synth.aoi_pdf("tiny"), how="left"),
               spatial.knn_join(pts, synth.stations_pdf("tiny"), k=2)):
        plan = _plan(df)
        assert plan.count("MapInPandas") + plan.count("MapInArrow") == 1, plan
        assert not re.search(r"Exchange\s+\w*[Pp]artitioning", plan), plan


def test_extract_regions_stitch_is_equi(spark):
    """The border stitch must stay an EQUI join on (scene_id, gx, gy) —
    the only shuffle that touches per-pixel (border) rows. extract_regions
    runs eagerly (iterative CC inside), so gate the stitch stage's plan
    directly on the same dataframes the operator builds."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import regions

    rng = np.random.default_rng(63)
    plane = np.kron(rng.uniform(260, 330, (6, 6)), np.ones((8, 8)))
    rows = []
    for ty in range(2):
        for tx in range(2):
            t = plane[ty * 24:(ty + 1) * 24, tx * 24:(tx + 1) * 24]
            rows.append({"scene_id": "S", "tile_x": tx, "tile_y": ty,
                         "w": 24, "h": 24,
                         "lst_bytes": t.astype("<f4").tobytes()})
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    ex = regions._extract_pass(tiles, 300.0, "lst_bytes", 32, 32)
    cells = ex.filter("kind = 1").select("scene_id", "gx", "gy", "node")
    probes = (ex.filter("kind = 2")
              .select("scene_id", "gx", "gy", F.col("node").alias("pnode")))
    plan = _plan(probes.join(cells, on=["scene_id", "gx", "gy"]))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_cost_distance_round_shuffles_once(spark):
    """One round of the cost-distance iteration (uniform-cost path) must be
    exactly ONE exchange — the repartition on the receiving tile key that
    carries the plane + 1-px strips — with no join anywhere, so the
    per-round cost stays ~1.06x plane bytes at any scale."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark.pipeline import halo_plane_tiles

    plane = np.zeros((16, 16), dtype="<f4")
    state = spark.createDataFrame(pd.DataFrame([{
        "scene_id": "S0", "tile_x": tx, "tile_y": ty, "w": 16, "h": 16,
        "dist_bytes": plane.tobytes(),
    } for tx in range(2) for ty in range(2)]))
    plan = _plan(halo_plane_tiles(state, r=1, src_col="dist_bytes"))
    assert "Join" not in plan
    n_exchanges = plan.count("Exchange")
    assert n_exchanges == 1, f"expected exactly 1 exchange, got {n_exchanges}"


def test_decontaminate_joins_are_equi(spark):
    """Every decontamination join (df-cap, test-side match, contaminated
    left join) must stay an equi hash join — same inverted-index shape and
    justification as ngram-Jaccard."""
    plan = _plan(textops.q_decontaminate(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_basin_link_round_is_equi_join(spark):
    """One pointer-doubling round of the watershed border-link table must be
    an EQUI join on (scene_id, gid) — hash/sort-merge partitionable —
    never a nested loop: at scale the link table is perimeter-sized but
    still far too big for a Cartesian shape."""
    import pandas as pd

    from i_landsat8_swlst_spark.hydro import _link_round

    links = spark.createDataFrame(pd.DataFrame([
        {"scene_id": "S0", "gid": 1, "nxt": 2, "final": 0},
        {"scene_id": "S0", "gid": 2, "nxt": 99, "final": 1},
    ]))
    plan = _plan(_link_round(links))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_decontaminate_bloom_prefilter_is_map_side(spark):
    """The Bloom probe must run as an Arrow-batched filter on the SCAN side
    of the contamination join — before any exchange ships train-side
    shingles — and every join must stay equi (hash/sort-merge)."""
    plan = _plan(textops.q_decontaminate_bloom(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan
    # Catalyst pushes the deterministic probe through the sh-keyed joins
    # (it may appear in several branches); at least one instance must sit
    # DIRECTLY over a SCAN — i.e. rows drop before any Exchange ships
    # them. Since the r7 optimization the probed side is the per-invocation
    # localCheckpoint of the df-capped shingle table, so the scan node is
    # the checkpointed-RDD scan ("Scan ExistingRDD"); a FileScan also
    # qualifies (the pre-checkpoint shape). Children print below their
    # parent, so scanning downward from an ArrowEvalPython line, a scan
    # must appear before any Exchange.
    lines = plan.splitlines()
    starts = [i for i, ln in enumerate(lines) if "ArrowEvalPython" in ln]
    assert starts, "Bloom probe missing from the physical plan"

    def scan_adjacent(i: int) -> bool:
        for ln in lines[i + 1:]:
            if "Exchange" in ln:
                return False
            if "FileScan" in ln or "Scan ExistingRDD" in ln:
                return True
        return False

    assert any(scan_adjacent(i) for i in starts), \
        "no Bloom probe is map-side (scan-adjacent before an Exchange)"


def test_pca_moments_single_aggregation_no_join(spark):
    """The PCA moments pass must reach the driver as ONE map-side-combining
    aggregation chain over tiny (scene, pos, v) rows — no join anywhere,
    and no exchange of pixel-scale data (the only mapInArrow feeds the
    partials, which are B(B+3)/2 doubles per TILE)."""
    import pandas as pd
    import numpy as np

    from i_landsat8_swlst_spark import multiband

    rows = []
    for tx in range(2):
        plane = np.full((4, 4), 1.0 + tx, dtype="<f4").tobytes()
        rows.append({"image_id": "i", "scene_id": "S", "tile_x": tx,
                     "tile_y": 0, "w": 4, "h": 4,
                     "a_bytes": plane, "b_bytes": plane})
    df = spark.createDataFrame(pd.DataFrame(rows))
    plan = _plan(multiband.band_moments(df, ["a_bytes", "b_bytes"]))
    assert "Join" not in plan
    assert "HashAggregate" in plan  # partial/final pairs, map-side combine


def test_landscape_stitch_and_edge_joins_are_equi(spark):
    """Both perimeter-row joins in landscape.class_metrics must stay EQUI:
    the class-aware patch stitch on (scene, cls, gx, gy) and the directed
    cross-tile edge join on (scene, gx, gy). Gated on the same dataframes
    the operator builds (class_metrics itself runs eagerly)."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import landscape

    rng = np.random.default_rng(71)
    plane = np.kron(rng.uniform(260, 330, (4, 4)), np.ones((8, 8)))
    rows = []
    for ty in range(2):
        for tx in range(2):
            t = plane[ty * 16:(ty + 1) * 16, tx * 16:(tx + 1) * 16]
            rows.append({"scene_id": "S", "tile_x": tx, "tile_y": ty,
                         "w": 16, "h": 16,
                         "lst_bytes": t.astype("<f4").tobytes()})
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    from i_landsat8_swlst_spark.multiband import scene_ranges_df
    ex = landscape._extract(tiles, "lst_bytes", 4,
                            scene_ranges_df(tiles, "lst_bytes"), 16, 16)
    cells = ex.filter("kind = 1").select("scene_id", "cls", "gx", "gy", "node")
    probes = (ex.filter("kind = 2")
              .select("scene_id", "cls", "gx", "gy",
                      F.col("node").alias("pnode")))
    plan = _plan(probes.join(cells, on=["scene_id", "cls", "gx", "gy"]))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan

    ec = ex.filter("kind = 3").select("scene_id", "gx", "gy",
                                      F.col("cls").alias("ca"))
    ep = ex.filter("kind = 4").select("scene_id", "gx", "gy",
                                      F.col("cls").alias("cb"))
    plan = _plan(ep.join(ec, on=["scene_id", "gx", "gy"])
                 .filter(F.col("ca") != F.col("cb")))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_sample_raster_bbox_join_is_broadcast(spark):
    """sample_raster's point->scene bbox join is non-equi BY DESIGN (range
    containment) and only survives at scale because the scene-geometry
    side is explicitly broadcast — assert the broadcast actually happens,
    and that one Python step gathers the points of each tile."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import spatial

    plane = np.ones((8, 10), "<f4")
    tiles = spark.createDataFrame(pd.DataFrame([
        {"scene_id": "S", "tile_x": 0, "tile_y": 0, "w": 10, "h": 8,
         "lst_bytes": plane.tobytes()}]))
    geom = spark.createDataFrame(pd.DataFrame([
        {"scene_id": "S", "lon0": 0.0, "lat0": 0.0, "lon1": 1.0,
         "lat1": 1.0, "ntx": 1, "nty": 1}]))
    pts = spark.createDataFrame(pd.DataFrame(
        {"pid": [0], "lon": [0.5], "lat": [0.5]}))
    plan = _plan(spatial.sample_raster(tiles, pts, geom))
    assert "BroadcastNestedLoopJoin" in plan  # the sanctioned tiny-side NLJ
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    # one Python step gathers each tile's points: a cogroup or a packed join
    assert plan.count("FlatMapCoGroupsInPandas") + plan.count("MapInArrow") == 1


def test_segment_stitch_is_equi(spark):
    """The λ-segmentation border stitch must stay an EQUI join on
    (scene_id, gx, gy) with the |Δ| <= λ predicate as a post-join filter —
    never a nested loop over border rows."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import segment

    rng = np.random.default_rng(83)
    plane = np.kron(rng.uniform(260, 330, (4, 4)), np.ones((8, 8)))
    rows = []
    for ty in range(2):
        for tx in range(2):
            t = plane[ty * 16:(ty + 1) * 16, tx * 16:(tx + 1) * 16]
            rows.append({"scene_id": "S", "tile_x": tx, "tile_y": ty,
                         "w": 16, "h": 16,
                         "lst_bytes": t.astype("<f4").tobytes()})
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    ex = segment._seg_extract(tiles, 2.0, "lst_bytes", 8, 8)
    cells = ex.filter("kind = 1").select("scene_id", "gx", "gy", "node", "val")
    probes = (ex.filter("kind = 2")
              .select("scene_id", "gx", "gy", F.col("node").alias("pnode"),
                      F.col("val").alias("pval")))
    plan = _plan(probes.join(cells, on=["scene_id", "gx", "gy"])
                 .filter(F.abs(F.col("pval") - F.col("val")) <= 2.0))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_warp_is_one_exchange_plus_broadcast_geom(spark):
    """warp_tiles: the scale shape is broadcast(geom) join -> ONE mapInArrow
    fragment pass -> ONE hash exchange -> the dst-tile assemble. Pixel bytes
    cross the exchange exactly once as fragments; never per-point rows, no
    nested loop, no second shuffle."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import warp
    from i_landsat8_swlst_spark.warp import GridSpec

    rng = np.random.default_rng(5)
    rows = [{"scene_id": "S", "tile_x": tx, "tile_y": ty, "w": 8, "h": 8,
             "lst_bytes": rng.uniform(270, 330, (8, 8)).astype("<f4").tobytes()}
            for tx in range(2) for ty in range(2)]
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    geom = spark.createDataFrame(pd.DataFrame([{
        "scene_id": "S", "lon0": 0.0, "lat0": 0.0, "lon1": 1.0, "lat1": 1.0,
        "ntx": 2, "nty": 2}]))
    dst = GridSpec(-0.1, -0.1, 1.1, 1.1, 2, 2, 9, 9)
    plan = _plan(warp.warp_tiles(tiles, geom, dst))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan       # geom + nominal-dims join
    n_exchanges = plan.count("Exchange hashpartitioning")
    # one for the tiny dims agg (metadata only), one for the assemble
    assert n_exchanges <= 2, f"expected <=2 hash exchanges, plan had {n_exchanges}"
    # the operator's two Python stages (fragment pass + assemble), counted
    # under either physical operator name the assemble may run as
    assert plan.count("MapInArrow") + plan.count("FlatMapGroupsInPandas") == 2


def test_scene_model_passes_are_broadcast_joins(spark):
    """VERDICT-r4 item 4: the per-scene models (PCA components, stretch
    LUTs, quantization ranges) must reach the executors as broadcast-joined
    tiny DataFrames, NOT closure dicts — a closure grows O(scenes) and
    re-serializes into every task. Gate: every consumer pass's plan shows a
    BroadcastHashJoin and no hash-partitioning exchange of the tile side
    before the Python stage."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import multiband, series, texture

    rng = np.random.default_rng(9)
    rows = []
    for s in range(3):
        for tx in range(2):
            t = rng.uniform(260, 330, (8, 8)).astype("<f4")
            rows.append({"image_id": f"S{s}-i", "scene_id": f"S{s}",
                         "tile_x": tx, "tile_y": 0, "w": 8, "h": 8,
                         "lst_bytes": t.tobytes(), "cwv_bytes": t.tobytes()})
    tiles = spark.createDataFrame(pd.DataFrame(rows))

    out, _ = multiband.pca_tiles(tiles, ["lst_bytes", "cwv_bytes"], k=2)
    assert "BroadcastHashJoin" in _plan(out)

    out, _ = multiband.stretch_tiles(tiles, "lst_bytes", bins=64)
    assert "BroadcastHashJoin" in _plan(out)

    plan = _plan(texture.glcm_texture_tiles(tiles, window=3, levels=4))
    assert "BroadcastHashJoin" in plan

    plan = _plan(series.crosstab_tiles(tiles, levels_a=4, levels_b=4))
    assert "BroadcastHashJoin" in plan


def test_classify_passes_are_broadcast_joins_no_pixel_shuffle(spark):
    """The classification model (k-means centers / maxlik signatures) must
    reach executors as a broadcast-joined tiny DataFrame — never a closure
    dict — and the classify pass itself must not shuffle tile bytes: plan
    = scan -> BroadcastHashJoin -> one Python (Arrow) stage."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import classify

    rng = np.random.default_rng(4)
    rows = []
    for s in range(3):
        for tx in range(2):
            t = rng.uniform(260, 330, (8, 8)).astype("<f4")
            u = rng.uniform(1, 6, (8, 8)).astype("<f4")
            rows.append({"image_id": f"S{s}-i", "scene_id": f"S{s}",
                         "tile_x": tx, "tile_y": 0, "w": 8, "h": 8,
                         "lst_bytes": t.tobytes(), "cwv_bytes": u.tobytes()})
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    bands = ["lst_bytes", "cwv_bytes"]

    model = classify.kmeans_model_df(tiles, bands, k=2, iters=2)
    out = classify.classify_tiles(tiles, bands, model, method="nearest")
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # tile bytes must not cross a hash exchange before the Python stage:
    # the only exchange below the Arrow eval feeds the broadcast side
    import re
    arrow_and_below = plan[plan.index("MapInArrow"):] if "MapInArrow" in plan \
        else plan[plan.index("ArrowEvalPython"):]
    assert "Exchange hashpartitioning" not in arrow_and_below

    ml = classify.maxlik_model_df(tiles, bands, model)
    plan2 = _plan(classify.classify_tiles(tiles, bands, ml, method="maxlik"))
    assert "BroadcastHashJoin" in plan2
    assert "BroadcastNestedLoopJoin" not in plan2


def test_idw_broadcast_path_has_zero_hash_exchanges(spark):
    """idw_rasterize is geom-broadcast + one mapInArrow — the plane is
    computed where the grid rows live; any hash exchange is a regression."""
    from i_landsat8_swlst_spark import spatial
    from tests.test_spatial import _idw_fixture

    from tests.test_spatial import _random_lines

    tiles, geom, st, box = _idw_fixture(spark, n_stations=4)
    for df in (spatial.idw_rasterize(tiles, st, geom, k=3),
               spatial.kde_rasterize(tiles, st, geom, radius_km=6.0),
               spatial.rasterize_lines(tiles, _random_lines(box, 5, seed=3),
                                       geom)):
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
        n = plan.count("Exchange hashpartitioning")
        assert n == 0, f"expected 0 hash exchanges, plan had {n}"


def test_idw_cells_path_is_equi_join(spark):
    """The distributed no-broadcast station gather must be a hash EQUI
    join on the cell key — never a nested loop over the station table."""
    from i_landsat8_swlst_spark import spatial
    from tests.test_spatial import _idw_fixture

    tiles, geom, st, _ = _idw_fixture(spark, n_stations=4)
    for df in (spatial.idw_rasterize_cells(
                   tiles, spark.createDataFrame(st), geom, radius_km=6.0, k=3),
               spatial.kde_rasterize_cells(
                   tiles, spark.createDataFrame(st), geom, radius_km=6.0)):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "HashJoin" in plan


def test_to_vect_equi_only_and_no_plane_shuffle(spark):
    """to_vect: every join in the stitch/resolve graph is an equi join (the
    pending-edge resolve is a LEFT ANTI hash join); pixel planes reach ONE
    MapInArrow with no hash exchange below it."""
    import pandas as pd
    import numpy as np

    from i_landsat8_swlst_spark import vectorize

    rng = np.random.default_rng(5)
    rows = []
    for ty in range(2):
        for tx in range(2):
            t = rng.uniform(0, 10, (8, 8)).astype("<f4")
            rows.append({"scene_id": "S0", "tile_x": tx, "tile_y": ty,
                         "w": 8, "h": 8, "lst_bytes": t.tobytes()})
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    plan = _plan(vectorize.to_vect(tiles, 5.0))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # rings come back localCheckpointed (the pass cache is released); gate
    # the pre-collapse plan instead: the edge->region join graph
    nom = tiles.agg(F.max("w").alias("w"), F.max("h").alias("h")).first()
    ex = vectorize._tovect_pass(tiles, 5.0, "lst_bytes",
                                int(nom["w"]), int(nom["h"]))
    cells = ex.filter("kind = 1").select("scene_id", "gx", "gy")
    pend = (ex.filter("kind = 4")
            .join(cells, on=["scene_id", "gx", "gy"], how="left_anti"))
    p2 = _plan(pend)
    assert "BroadcastNestedLoopJoin" not in p2 and "CartesianProduct" not in p2
    # one decode pass: the plane source feeds MapInArrow directly, no
    # exchange between the scan and the Python stage
    pre = p2[:p2.index("MapInArrow")]
    assert "Exchange hashpartitioning" not in pre


def test_contour_shuffles_only_halo_and_assembly(spark):
    """contour_lines: the ONLY hash exchanges are the 1-px halo
    repartition and the per-(scene, level) assembly — pixel planes never
    hash-shuffle beyond the r-strip exchange."""
    import pandas as pd
    import numpy as np

    from i_landsat8_swlst_spark import vectorize

    rng = np.random.default_rng(6)
    rows = []
    for ty in range(2):
        for tx in range(2):
            t = rng.uniform(0, 10, (8, 8)).astype("<f4")
            rows.append({"scene_id": "S0", "tile_x": tx, "tile_y": ty,
                         "w": 8, "h": 8, "lst_bytes": t.tobytes()})
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    plan = _plan(vectorize.contour_lines(tiles, [5.0]))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    n = plan.count("Exchange hashpartitioning")
    assert n <= 2, f"expected <=2 hash exchanges (halo + assemble), got {n}"


def test_viewshed_shuffles_small_rows_only(spark):
    """viewshed_tiles: pixel planes never hash-shuffle — the only hash
    exchanges carry (sector, gx, gy, z) / (gx, gy, vis) small rows (sector
    grouping + tile regroup); the observer and layout sides ride broadcast
    joins; no nested loop anywhere."""
    import pandas as pd
    import numpy as np

    from i_landsat8_swlst_spark import terrain

    rng = np.random.default_rng(7)
    rows = []
    for ty in range(2):
        for tx in range(2):
            t = rng.uniform(0, 10, (8, 8)).astype("<f4")
            rows.append({"scene_id": "S0", "tile_x": tx, "tile_y": ty,
                         "w": 8, "h": 8, "lst_bytes": t.tobytes()})
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    obs = pd.DataFrame([{"scene_id": "S0", "ox": 3, "oy": 3}])
    plan = _plan(terrain.viewshed_tiles(tiles, obs, n_sectors=8))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # sector grouping, vis->tile regroup join, final tile grouping
    n = plan.count("Exchange hashpartitioning")
    assert n <= 3, f"expected <=3 hash exchanges, got {n}"
    # the tile scan feeds MapInArrow with no exchange in between: planes
    # are decomposed to small rows BEFORE any shuffle (plans print
    # root-first, so the deepest stage — the sector pass — is the LAST
    # MapInArrow; its subtree is everything after it)
    below = plan[plan.rindex("MapInArrow"):]
    assert "Exchange hashpartitioning" not in below


def test_rasterize_lines_cells_no_vector_broadcast(spark):
    """The distributed line-rasterization path must meet tiles in ONE hash
    equi join on the degree-cell key — the vector side is never broadcast
    and never driver-iterated; no nested loop anywhere."""
    import pandas as pd

    from i_landsat8_swlst_spark import spatial
    from tests.test_spatial import _idw_fixture, _random_lines

    tiles, geom, _st, box = _idw_fixture(spark, n_stations=1)
    lines = spark.createDataFrame(_random_lines(box, 20, seed=101))
    # at test scale Catalyst would size-broadcast the tiny seg side and
    # hide the scale plan; disable auto-broadcast so the gate sees the
    # at-scale shape (the scene_geom broadcast is HINTED, so it survives)
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spatial.rasterize_lines_cells(tiles, lines, geom))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the cell-key join is the shuffled equi join; the only broadcast is
    # the tiny scene_geom onto the tile side
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    n_bc = plan.count("BroadcastExchange")
    assert n_bc == 1, f"expected only the scene_geom broadcast, got {n_bc}"


def test_build_enriched_reuses_bucketing_of_parsed_table(spark):
    """parse_scenes must NOT re-derive key columns a pre-parsed table
    already stores — re-deriving replaces the stored columns and discards
    bucketing, silently reintroducing the pair-join shuffle. Over the
    documented layout (pre-parsed, bucketed+sorted on the tile key) the
    WHOLE standard build_enriched -> lst_tiles plan must be exchange-free."""
    import re

    import pandas as pd

    from i_landsat8_swlst_spark import constants as C, pipeline, synth

    scenes = spark.createDataFrame(synth.scenes_pdf("tiny", scenes=[0]))
    meta = spark.createDataFrame(synth.scene_meta_pdf("tiny"))
    emis = spark.createDataFrame(
        pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    key = ["scene_id", "tile_x", "tile_y"]
    spark.sql("DROP TABLE IF EXISTS plans_scenes_bkt")
    (pipeline.parse_scenes(scenes).write.bucketBy(8, *key).sortBy(*key)
     .mode("overwrite").format("parquet").saveAsTable("plans_scenes_bkt"))
    try:
        tiles = pipeline.lst_tiles(
            pipeline.build_enriched(spark.table("plans_scenes_bkt"),
                                    meta, emis), window=5)
        plan = _plan(tiles)
        assert not re.search(r"(?<!Broadcast)Exchange\s+\w*[Pp]artitioning",
                             plan), plan
        # identical rows to the raw-table path (bit-compare the planes)
        raw = pipeline.lst_tiles(
            pipeline.build_enriched(scenes, meta, emis), window=5)
        a = {(r.scene_id, r.tile_x, r.tile_y): (r.lst_bytes, r.n_valid)
             for r in tiles.collect()}
        b = {(r.scene_id, r.tile_x, r.tile_y): (r.lst_bytes, r.n_valid)
             for r in raw.collect()}
        assert a == b and len(a) == 16
    finally:
        spark.sql("DROP TABLE IF EXISTS plans_scenes_bkt")


def test_sun_tiles_shuffles_small_rows_and_one_halo(spark):
    """sun_tiles: the only plane-bytes exchange is the 1-px halo
    repartition; shadow work travels as O(cells) small rows into the
    strip scan and O(shaded) rows out; no nested loop."""
    import pandas as pd
    import numpy as np

    from i_landsat8_swlst_spark import terrain

    rng = np.random.default_rng(9)
    rows = []
    for ty in range(2):
        for tx in range(2):
            t = rng.uniform(0, 40, (8, 8)).astype("<f4")
            rows.append({"scene_id": "S0", "tile_x": tx, "tile_y": ty,
                         "w": 8, "h": 8, "lst_bytes": t.tobytes()})
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    sun = pd.DataFrame([{"scene_id": "S0", "azimuth_deg": 225.0,
                         "altitude_deg": 30.0}])
    plan = _plan(terrain.sun_tiles(tiles, sun))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    n = plan.count("Exchange hashpartitioning")
    assert n <= 5, f"expected <=5 hash exchanges, got {n}"
    # both decode stages (cell emit + halo strip emit) sit directly on
    # scans: nothing below the deepest MapInArrow shuffles
    below = plan[plan.rindex("MapInArrow"):]
    assert "Exchange hashpartitioning" not in below


def test_viewshed_count_regroup_is_aggregated_small_rows(spark):
    """Cumulative viewshed: visible (cell, observer) rows collapse through
    a map-side-combining SUM before the tile regroup; planes never
    hash-shuffle; no nested loop."""
    import pandas as pd
    import numpy as np

    from i_landsat8_swlst_spark import terrain

    rng = np.random.default_rng(11)
    rows = []
    for ty in range(2):
        for tx in range(2):
            t = rng.uniform(0, 10, (8, 8)).astype("<f4")
            rows.append({"scene_id": "S0", "tile_x": tx, "tile_y": ty,
                         "w": 8, "h": 8, "lst_bytes": t.tobytes()})
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    obs = pd.DataFrame([
        {"scene_id": "S0", "obs_id": "a", "ox": 3, "oy": 3},
        {"scene_id": "S0", "obs_id": "b", "ox": 12, "oy": 12}])
    plan = _plan(terrain.viewshed_count_tiles(tiles, obs, n_sectors=8))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    n = plan.count("Exchange hashpartitioning")
    assert n <= 4, f"expected <=4 hash exchanges, got {n}"
    below = plan[plan.rindex("MapInArrow"):]
    assert "Exchange hashpartitioning" not in below


def test_horizon_tiles_plan_shape(spark):
    """horizon_tiles: pixel planes never hash-shuffle — only (azimuth,
    strip, cell) small rows do; the sole nested-loop is the tiny broadcast
    azimuth fan-out onto tile METADATA (w/h keys, no plane bytes)."""
    import pandas as pd
    import numpy as np

    from i_landsat8_swlst_spark import terrain

    rng = np.random.default_rng(13)
    rows = []
    for ty in range(2):
        for tx in range(2):
            t = rng.uniform(0, 10, (8, 8)).astype("<f4")
            rows.append({"scene_id": "S0", "tile_x": tx, "tile_y": ty,
                         "w": 8, "h": 8, "lst_bytes": t.tobytes()})
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    plan = _plan(terrain.horizon_tiles(tiles, [90.0, 270.0]))
    assert "CartesianProduct" not in plan
    # the azimuth fan-out is the one sanctioned broadcast nested loop: it
    # replicates O(tiles x azimuths) metadata rows, never plane bytes
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    n = plan.count("Exchange hashpartitioning")
    assert n <= 4, f"expected <=4 hash exchanges, got {n}"
    below = plan[plan.rindex("MapInArrow"):]
    assert "Exchange hashpartitioning" not in below


def _nodes(plan):
    """Every node of a physical plan, through AQE's wrapper and its query
    stages (both are leaves in the tree they sit in)."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _nodes(plan.executedPlan())
        return
    yield plan
    if name.endswith("QueryStageExec"):
        yield from _nodes(plan.plan())
    kids = plan.children()
    for i in range(kids.size()):
        yield from _nodes(kids.apply(i))


def _names(seq) -> list[str]:
    return [seq.apply(i).name() for i in range(seq.size())]


def test_band_pair_is_one_scan_one_pinned_exchange_no_join(spark, tmp_path):
    """Unbucketed input: the band pair scans the table once and hash-
    partitions it once on the tile key into defaultParallelism partitions
    (pinned, so AQE neither coalesces the kernel stage nor rewrites a pair
    join into a runtime broadcast); no join has tile bytes on both sides,
    and the final AQE plan broadcasts no band-11 bytes."""
    import pandas as pd

    from i_landsat8_swlst_spark import constants as C, pipeline, synth

    src = str(tmp_path / "scenes")
    spark.createDataFrame(synth.scenes_pdf("tiny", scenes=[0, 1])).write.parquet(src)
    meta = spark.createDataFrame(synth.scene_meta_pdf("tiny"))
    emis = spark.createDataFrame(
        pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    tiles = pipeline.lst_tiles(
        pipeline.build_enriched(spark.read.parquet(src), meta, emis), window=5)
    qe = tiles._jdf.queryExecution()
    plans = {"initial": list(_nodes(qe.executedPlan()))}
    assert len(tiles.collect()) == 32
    plans["final"] = list(_nodes(qe.executedPlan()))
    assert "isFinalPlan=true" in qe.executedPlan().toString()
    kind = lambda n: n.getClass().getSimpleName()                    # noqa: E731
    for when, nodes in plans.items():
        assert sum(kind(n) == "FileSourceScanExec" for n in nodes) == 1, when
        shuffles = [n for n in nodes if kind(n) == "ShuffleExchangeExec"]
        assert len(shuffles) == 1, when
        part = shuffles[0].outputPartitioning()
        assert kind(part) == "HashPartitioning", when
        assert _names(part.expressions()) == ["scene_id", "tile_x", "tile_y"], when
        assert part.numPartitions() == spark.sparkContext.defaultParallelism, when
        for j in (n for n in nodes if "Join" in kind(n)):
            kids = j.children()
            carry = [any(a.startswith("bytes") for a in _names(kids.apply(i).output()))
                     for i in range(kids.size())]
            assert sum(carry) <= 1, f"{when}: {kind(j)} joins tile bytes to tile bytes"
    assert not [n for n in plans["final"] if kind(n) == "BroadcastExchangeExec"
                and "bytes_b11" in _names(n.output())]


@pytest.mark.parametrize("with_qa", [False, True])
def test_band_pair_metadata_pass_reads_no_bytes(spark, tmp_path, with_qa):
    """A pass over the band pairs that reads no plane (the durable job's
    slice fingerprints) scans no ``bytes`` column: the partner columns
    nobody reads prune away, as the two sides of a join would."""
    import pandas as pd

    from i_landsat8_swlst_spark import constants as C, pipeline, synth

    src = str(tmp_path / "scenes")
    spark.createDataFrame(synth.scenes_pdf("tiny", scenes=[0], with_qa=True)).write.parquet(src)
    meta = spark.createDataFrame(synth.scene_meta_pdf("tiny"))
    emis = spark.createDataFrame(
        pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    enriched = pipeline.build_enriched(spark.read.parquet(src), meta, emis, with_qa=with_qa)
    meta_pass = enriched.groupBy("scene_id").agg(
        F.expr("bit_xor(xxhash64(image_id_b10))"), F.count(F.lit(1)),
        F.sum(F.col("w") * F.col("h")))
    scans = [n for n in _nodes(meta_pass._jdf.queryExecution().executedPlan())
             if n.getClass().getSimpleName() == "FileSourceScanExec"]
    assert scans
    for scan in scans:
        assert "bytes" not in _names(scan.output())
    assert meta_pass.collect()[0][2] == 16

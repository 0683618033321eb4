#!/usr/bin/env python
"""Physical-plan audit -> PLANS.md.

Captures `.explain("formatted")` for the flagship plans and annotates the
properties that matter at 100 TB: column pruning reaching the parquet scan,
broadcast joins on every small side, whole-stage codegen spans around the
scalar algebra, AQE nodes, and exactly ONE Arrow hop on the raster path.
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pandas as pd  # noqa: E402

REPO = Path(__file__).resolve().parent.parent


def grab(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()
    # keep the operator tree + scan details; drop long column dumps
    lines = []
    for ln in text.splitlines():
        if len(ln) > 220:
            ln = ln[:217] + "..."
        lines.append(ln)
    return "\n".join(lines[:130])


def main() -> None:
    from i_landsat8_swlst_spark import constants as C, pipeline, synth
    from i_landsat8_swlst_spark.session import get_spark
    from __spark_entry__ import queries

    spark = get_spark(app="plans", cores=8)
    spark.sparkContext.setLogLevel("ERROR")

    scenes = spark.createDataFrame(synth.scenes_pdf("tiny"))
    meta = spark.createDataFrame(synth.scene_meta_pdf("tiny"))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))

    sections = []

    tiles = pipeline.lst_tiles(pipeline.build_enriched(scenes, meta, emis))
    sections.append((
        "Flagship raster pipeline (lst_tiles)",
        "Checklist: ONE scan; ONE MapInArrow node (fused kernel, C11); "
        "BroadcastHashJoin for scene_meta and emissivities only; the band "
        "pair is ONE Exchange hashpartitioning on (scene_id, tile_x, tile_y) "
        "with defaultParallelism partitions (REPARTITION_BY_NUM), then a "
        "Window (collect_list of the band-11 bytes, collect_list of their other "
        "columns, and their count) and Generate explode — no join on the "
        "band-pair key; AQE wrapper present.",
        grab(tiles),
    ))

    halo = pipeline.lst_tiles_halo(pipeline.build_enriched(scenes, meta, emis))
    sections.append((
        "Halo-exchange mosaic path (lst_tiles_halo)",
        "Checklist: exactly TWO Arrow hops (strip emit, stream assemble) with "
        "ONE exchange between them on the receiving tile key; strips sorted "
        "within partitions so assembly is a single streaming pass. Below the "
        "first hop sits the band pair of the flagship plan (its one tile-key "
        "exchange, Window and Generate).",
        grab(halo),
    ))

    grids = pipeline.scene_grids(pipeline.parse_scenes(scenes))
    sections.append((
        "Metadata-only aggregation (scene_grids)",
        "Checklist: ReadSchema must contain image_id ONLY — the bytes column "
        "is never read for grid/fingerprint/skew bookkeeping.",
        grab(grids),
    ))

    from i_landsat8_swlst_spark import spatial

    pixels = pipeline.lst_pixels(
        pipeline.build_enriched_with_grid(scenes, meta, emis), window=5)
    enrich = spatial.enrich_pixels(pixels, synth.aoi_pdf("tiny"),
                                   synth.stations_pdf("tiny"), k=2, how="left")
    sections.append((
        "Fused pixel enrichment (enrich_pixels — bench: q_enrich_bench)",
        "Checklist: exactly ONE additional Arrow hop (MapInArrow) on top of "
        "the pixel pipeline — cells + R-tree PIP + kNN computed together; "
        "NO extra exchange (the hop is partition-local, vector sides are "
        "broadcast variables). The distributed variants (pip_join_cells / "
        "knn_join_cells) are plan-gated in tests/test_plans.py and "
        "byte-measured in BENCH/SPATIAL_SHUFFLE.md.",
        grab(enrich),
    ))

    import numpy as np

    idw_st = pd.DataFrame({
        "station_id": [f"st{i}" for i in range(8)],
        "lon": np.linspace(10.01, 10.39, 8),
        "lat": np.linspace(40.01, 40.39, 8),
        "value": np.linspace(1.0, 5.0, 8)})
    idw_geom = spark.createDataFrame(pd.DataFrame([{
        "scene_id": "S1", "lon0": 10.0, "lat0": 40.0,
        "lon1": 10.4, "lat1": 40.4, "ntx": 2, "nty": 2}]))
    idw_tiles = spark.createDataFrame(pd.DataFrame([
        {"scene_id": "S1", "tile_x": tx, "tile_y": ty, "w": 16, "h": 16}
        for tx in range(2) for ty in range(2)]))
    sections.append((
        "IDW rasterize, broadcast path (idw_rasterize — round 5)",
        "Checklist: ONE BroadcastHashJoin (tiny scene_geom) + ONE MapInArrow "
        "— ZERO hash exchanges; the interpolated plane is written where the "
        "grid rows already live. Stations ride a broadcast variable. The "
        "distributed cell-join path (idw_rasterize_cells / "
        "kde_rasterize_cells) is plan-gated equi in tests/test_plans.py and "
        "bit-identical to this path.",
        grab(spatial.idw_rasterize(idw_tiles, idw_st, idw_geom, k=4)),
    ))

    q = queries()
    for name, note in [
        ("q_lst_sw", "all-scalar physics: one WholeStageCodegen span over the "
                     "piecewise CASE + polynomial — no Python anywhere"),
        ("q_broadcast_join", "both dims broadcast; partial_count/partial_sum "
                             "(map-side combine) before the exchange"),
        ("q_range_join", "5-row build side -> BroadcastNestedLoopJoin (correct "
                         "for non-equi); never a cartesian on the big side"),
        ("q_window_topk", "single shuffle on o_custkey, rank filter pushed "
                          "below the exchange by Spark's TopK optimization"),
        ("q_embed_neardup", "LSH near-dup (round 2): candidate stage is an "
                            "EQUI join on (band, bucket) — no "
                            "BroadcastNestedLoopJoin/CartesianProduct anywhere "
                            "(gated by tests/test_plans.py)"),
        ("q_minhash_lsh_pairs", "signatures from ONE vectorized Arrow pass "
                                "(min() is duplicate-insensitive, no "
                                "distinct); band-key SHUFFLE-HASH self-join "
                                "so both sides reuse one exchange"),
        ("q_ann_ivf", "the |V| x |C| assignment runs in one mapInArrow pass "
                      "against the sc.broadcast centroid matrix (r07); "
                      "rounding/ranking stay in the JVM over a provably "
                      "sufficient candidate subset; candidate/verify stages "
                      "stay equi"),
        ("q_ngram_jaccard", "round 3: df-capped candidates — the shingle df "
                            "agg + kept-join + self-join share the shingle "
                            "hash partitioning; no nested loop"),
        ("q_simhash64", "round 3 md5-fold twin: ONE map-side-combining "
                        "aggregate (64 parallel sum columns) is the only "
                        "exchange"),
        ("q_char_entropy", "per-char counts then ONE per-doc aggregate with "
                           "a sequential list fold — two exchanges, no "
                           "Python"),
    ]:
        sections.append((name, note, grab(q[name](spark, "/root/testdata/sf0.001"))))

    # ---- nested-loop census over ALL twins (part of the generator since
    # round 4, so a regeneration can never drop it again) ----
    from __spark_entry__ import oracle_sql

    twins = list(oracle_sql())
    sites: dict[str, list[str]] = {}
    for name in twins:
        plan = (q[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        hits = [kw for kw in ("BroadcastNestedLoopJoin", "CartesianProduct")
                if kw in plan]
        if hits:
            sites[name] = hits
    census = [
        f"## Nested-loop census across all {len(twins)} twins "
        "(auto-generated each run)\n",
        f"{len(twins) - len(sites)} twins compile to fully equi/broadcast-"
        f"hash plans. {len(sites)} carry a nested-loop node — every one a "
        "non-equi predicate or scalar/range build whose build side is a "
        "tiny broadcast (5-row coefficient ranges, scalar subquery results, "
        "percentile cutoffs), never a nested loop over two large inputs "
        "(tests/test_plans.py gates the candidate stages of every "
        "LSH/minhash/IVF/ngram/spatial operator against BNLJ/Cartesian):\n",
        "| twin | nested-loop nodes |",
        "| --- | --- |",
    ]
    for name in sorted(sites):
        census.append(f"| {name} | {', '.join(sites[name])} |")
    census.append("")
    clean = sorted(set(twins) - set(sites))
    census.append(
        "Fully equi/broadcast-hash twins (the other "
        f"{len(clean)}): " + ", ".join(clean) + "\n")

    out = ["# PLANS — physical plan audit (generated by jobs/dump_plans.py)\n"]
    for title, note, plan in sections:
        out.append(f"## {title}\n\n{note}\n\n```\n{plan}\n```\n")
    out.append("\n".join(census))
    (REPO / "PLANS.md").write_text("\n".join(out))
    print(f"wrote PLANS.md ({len(sites)} nested-loop twins: {sorted(sites)})")
    spark.stop()


if __name__ == "__main__":
    main()

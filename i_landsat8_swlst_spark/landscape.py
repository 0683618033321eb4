"""Landscape metrics over a quantized raster — the r.li analog.

Per-(scene, class) structure metrics of a globally-quantized plane
(class = linear bin over the per-scene finite range, the same
`multiband.scene_ranges` contract as texture/stretch/crosstab):

- ``area_px``     — pixels of the class;
- ``edge_px``     — 4-adjacent valid-valid pixel pairs whose classes
                    differ, credited to BOTH classes (NaN and scene-edge
                    boundaries are not edges — documented choice);
- ``n_patches``   — 4-connected components of the class across tile
                    borders;
- ``mean_patch_px`` / ``largest_patch_px`` — patch-size stats.

Everything comes out of ONE pixel scan (mapInArrow): each tile
quantizes once, labels each present class with the shared
`regions.label_tile` kernel (labels offset to a per-tile dense space so
packed nodes stay unique across classes), counts its WITHIN-tile edge
credits and class areas, and emits only O(perimeter + classes) rows:

  kind 0  local patch        (class, node, area)
  kind 1  patch border cell  (class, node, gx, gy)
  kind 2  patch border probe (class, node, gx±1, gy±1)
  kind 3  edge cell          (class, gx, gy)   left/top border pixels
  kind 4  edge probe         (class, gx, gy)   right/bottom, directed
  kind 5  tile partials      (class, area, within-tile edge credits)

Cross-tile patch stitching is the shared regions.py stitch
(`regions._stitched`: probe->cell equi join on (scene, class, gx, gy) +
ONE grouped min-label pass over the patch graph);
cross-tile edges are one directed probe->cell equi join (right/down
only, so each boundary crossing is counted exactly once). The pixel
planes never travel: the exchanges carry border pixels and per-class
partials.
"""

from __future__ import annotations

from functools import partial

import numpy as np

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

from .multiband import scene_ranges_df
from .regions import _Rows, _stitched, _tile_pass, label_tile
from .texture import _quantize

_LS_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("kind", IntegerType()),
    StructField("cls", IntegerType()),
    StructField("node", LongType()),
    StructField("area_px", LongType()),
    StructField("edge_px", LongType()),
    StructField("gx", IntegerType()),
    StructField("gy", IntegerType()),
])


def _extract(tiles: DataFrame, src_col: str, levels: int,
             ranges_df: DataFrame, nom_w: int, nom_h: int) -> DataFrame:
    def tile(rows: _Rows, plane: np.ndarray) -> None:
        # all-NaN scene -> no range row (NULL after the left join); any
        # range quantizes it identically (every pixel level -1)
        vmin = 0.0 if rows.row.vmin is None else float(rows.row.vmin)
        vmax = 1.0 if rows.row.vmin is None else float(rows.row.vmax)
        q = _quantize(plane, vmin, vmax, levels)
        h, w = q.shape

        # within-tile edge credits: right + down valid-valid pairs
        for a, b in ((q[:, :-1], q[:, 1:]), (q[:-1, :], q[1:, :])):
            m = (a >= 0) & (b >= 0) & (a != b)
            credits = np.bincount(np.concatenate([a[m], b[m]]), minlength=levels)
            c = np.flatnonzero(credits)
            rows.add(5, cls=c, edge_px=credits[c])

        # per-class areas + per-class patch labeling, labels offset into
        # one dense per-tile space so packed nodes are unique
        base = 0
        for c in np.unique(q[q >= 0]):
            mask = q == c
            labels, n = label_tile(mask)
            rows.add(0, cls=c, node=rows.node(base + np.arange(n)),
                     area_px=np.bincount(labels[mask], minlength=n))
            rows.add(5, cls=c, area_px=int(mask.sum()))
            rows.border(labels, base, cls=c)
            base += n

        # directed cross-tile edge rows: cells on left/top borders, probes
        # shot right/down from right/bottom borders. A horizontal probe
        # lands on a left-column cell, a vertical probe on a top-row cell —
        # both land AT the partner's coordinate, so the (0,0) corner must
        # emit its cell ONCE (the top-row side skips x=0) or crossings into
        # it would join twice.
        edges_sides = (
            (q[:, 0], np.zeros(h, np.int64), np.arange(h), 3, 0, 0),
            (q[0, 1:], np.arange(1, w), np.zeros(w - 1, np.int64), 3, 0, 0),
            (q[:, w - 1], np.full(h, w - 1, np.int64), np.arange(h), 4, 1, 0),
            (q[h - 1, :], np.arange(w), np.full(w, h - 1, np.int64), 4, 0, 1),
        )
        for sq, xs, ys, kind, dx, dy in edges_sides:
            sm = sq >= 0
            rows.add(kind, cls=sq[sm], gx=rows.ox + xs[sm] + dx,
                     gy=rows.oy + ys[sm] + dy)

    # mapInArrow cannot column-prune: select only what the kernel reads.
    # The per-scene range rides as a tiny broadcast-joined DataFrame (a
    # closure dict would grow O(scenes) and ship per task).
    src = (tiles.select("scene_id", "tile_x", "tile_y", "w", "h", src_col)
           .join(F.broadcast(ranges_df), on="scene_id", how="left"))
    return _tile_pass(src, _LS_SCHEMA, src_col, nom_w, nom_h, tile)


def class_metrics(tiles: DataFrame, src_col: str = "lst_bytes",
                  levels: int = 8) -> DataFrame:
    """Per-(scene, class) landscape metrics of one globally-quantized
    plane column. Returns scene_id, cls, area_px, edge_px, n_patches,
    mean_patch_px, largest_patch_px.

    Plan: one pixel scan; then equi joins / aggs over border-pixel and
    patch-graph rows only (O(perimeter + patches), never O(pixels)).
    """
    if not 2 <= levels <= 64:
        raise ValueError(f"levels must be in [2, 64], got {levels}")
    ranges_df = scene_ranges_df(tiles, src_col)
    with _stitched(tiles, partial(_extract, tiles, src_col, levels, ranges_df),
                   keys=("cls",)) as (ex, lab, _nom):
        patch_px = (
            ex.filter("kind = 0").withColumnRenamed("node", "v")
            .join(lab, on=["scene_id", "v"])
            .groupBy("scene_id", "cls", "label")
            .agg(F.sum("area_px").alias("patch_px"))
        )
        patch_stats = patch_px.groupBy("scene_id", "cls").agg(
            F.count(F.lit(1)).alias("n_patches"),
            (F.sum("patch_px") / F.count(F.lit(1))).alias("mean_patch_px"),
            F.max("patch_px").alias("largest_patch_px"),
        )

        # cross-tile edge crossings: directed probe -> cell, differing
        # classes credit both sides
        ec = (ex.filter("kind = 3")
              .select("scene_id", "gx", "gy", F.col("cls").alias("ca")))
        ep = (ex.filter("kind = 4")
              .select("scene_id", "gx", "gy", F.col("cls").alias("cb")))
        crossing = (ep.join(ec, on=["scene_id", "gx", "gy"])
                    .filter(F.col("ca") != F.col("cb")))
        cross_credit = (
            crossing.select("scene_id", F.explode(F.array("ca", "cb"))
                            .alias("cls"))
            .groupBy("scene_id", "cls")
            .agg(F.count(F.lit(1)).alias("edge_cross")))

        partials = (ex.filter("kind = 5")
                    .groupBy("scene_id", "cls")
                    .agg(F.sum("area_px").alias("area_px"),
                         F.sum("edge_px").alias("edge_in")))

        return (
            partials
            .join(cross_credit, on=["scene_id", "cls"], how="left")
            .join(patch_stats, on=["scene_id", "cls"], how="left")
            .select(
                "scene_id", "cls", "area_px",
                (F.col("edge_in")
                 + F.coalesce("edge_cross", F.lit(0))).alias("edge_px"),
                "n_patches", "mean_patch_px", "largest_patch_px")
            .localCheckpoint()  # materialize before unpersisting the base
        )


def scene_diversity(metrics: DataFrame) -> DataFrame:
    """Scene-level composition metrics from class_metrics output: class
    richness, Shannon diversity H' = -sum p ln p over class area shares,
    evenness H'/ln(richness), and the largest-class share. Pure Catalyst
    window + agg — no raster access."""
    tot = F.sum("area_px").over(Window.partitionBy("scene_id"))
    per = metrics.select("scene_id", "cls",
                         (F.col("area_px") / tot).alias("p"))
    return (per.groupBy("scene_id").agg(
        F.count(F.lit(1)).alias("richness"),
        (-F.sum(F.col("p") * F.log("p"))).alias("shannon_h"),
        F.max("p").alias("dominance"),
    ).withColumn(
        "evenness",
        F.when(F.col("richness") > 1,
               F.col("shannon_h") / F.log(F.col("richness").cast("double")))))

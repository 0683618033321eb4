"""Distributed image segmentation — the i.segment analog (λ-flat zones).

Segments are the connected components of the pixel graph whose
4-adjacency edges keep only |value(p) - value(q)| <= lam (both finite):
the "λ-flat zone" of mathematical morphology — the parallelizable
formulation of threshold region growing. (GRASS i.segment's full
algorithm iteratively merges by REGION-MEAN similarity, which is
merge-order-dependent and inherently sequential; λ-flat zones are the
order-independent variant, so the tiled distributed result can be — and
is, tested — EXACTLY the whole-scene result. Documented capability
boundary, not an approximation of it.)

Decomposition (the regions.py pattern with a value predicate):

1. **Tile-local labeling** (mapInArrow, zero shuffle): the shared
   `regions._label` run-graph kernel over the tile's λ-edges — pure
   numpy, no Python-per-pixel work.
2. **Border stitch** (one equi join on (scene, gx, gy)): border pixels
   carry their VALUE; a probe->cell match becomes an edge iff the
   cross-border pair satisfies the same |Δ| <= lam predicate. Only
   O(perimeter) rows shuffle.
3. **Label reduction**: ONE grouped min-label pass per scene over the
   segment graph (`regions._cc_min_label` — nodes are LOCAL segments,
   vastly fewer than pixels).
4. **Final fold**: ONE aggregation merges the partial stats (area, sum,
   min, max, scene-coordinate bbox — all partial-aggregable).

The pixel planes never travel; the exchanges carry border pixels,
segment partials, and the segment graph.
"""

from __future__ import annotations

from functools import partial

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType

from .regions import EXTRACT_SCHEMA, _fold, _label, _stats_pass, _stitched


def lambda_label(plane: np.ndarray, lam: float) -> tuple[np.ndarray, int]:
    """Connected components of |Δ| <= lam 4-adjacency on one plane.

    Returns (labels, n): int64 labels, -1 on non-finite cells, dense ids
    in [0, n) ordered by first pixel (see `regions._label`)."""
    v = np.isfinite(plane)
    return _label(v, v[:, :-1] & v[:, 1:] & (np.abs(np.diff(plane, axis=1)) <= lam),
                  v[:-1] & v[1:] & (np.abs(np.diff(plane, axis=0)) <= lam))


# the regions pass schema plus each border cell's / probe's pixel value
_SEG_SCHEMA = StructType(EXTRACT_SCHEMA.fields + [StructField("val", DoubleType())])


def _seg_extract(tiles: DataFrame, lam: float, src_col: str,
                 nom_w: int, nom_h: int) -> DataFrame:
    return _stats_pass(tiles, src_col, nom_w, nom_h,
                       lambda p: lambda_label(p, lam), _SEG_SCHEMA)


def segment_tiles(tiles: DataFrame, lam: float,
                  src_col: str = "lst_bytes") -> DataFrame:
    """λ-flat-zone segmentation across tile borders: one row per segment
    of the WHOLE scene — scene_id, segment_id (stable packed label),
    area_px, mean_val, min_val, max_val, scene-coordinate bbox, n_parts.

    Same grid convention as regions.extract_regions (scene pixel coords
    are tile_x * nom_w + px with NOMINAL max-over-grid tile dims, so
    ragged right/bottom-edge tiles place correctly).
    """
    if not np.isfinite(lam) or lam < 0:
        raise ValueError(f"lam must be finite and >= 0, got {lam}")
    with _stitched(tiles, partial(_seg_extract, tiles, lam, src_col),
                   lam=lam) as (ex, lab, _nom):
        return _fold(ex, lab, "segment_id")

"""Distributed raster connected-component labeling — threshold-region
("urban heat island" / hot-spot) extraction over a tiled LST product,
and the shared labeling pipeline of every connected-component operator.

The classic raster->object step the reference workflow runs after the LST
map (r.reclass + r.clump + r.report in GRASS terms): binarize the plane at
a threshold, label 4-connected regions, report per-region area / value
stats / bounding box. A region routinely spans many tiles, so a
single-machine labeling pass does not scale. Five operators —
`extract_regions`, `lake_tiles`, `segment.segment_tiles`,
`landscape.class_metrics` and `vectorize.to_vect` — run one textbook
distributed decomposition, whose every step lives here once:

1. **Label** (`_tile_pass`, one mapInArrow, zero shuffle): each tile is
   decoded once and `_label` labels its pixel graph — horizontal runs of
   kept right-edges, kept down-edges as unique run pairs, one numpy
   min-root Shiloach–Vishkin step (`_min_root`) over the run graph,
   roots ranked densely, so labels are dense by first pixel in raster
   order. `label_tile` keeps every mask edge; `segment.lambda_label`
   keeps the edges with |Δ| <= lam. Each local component is one node row
   (kind 0), packed (tile_x, tile_y, label) by `_pack_node`.
2. **Border rows** (`_Rows.border`): every labelled border pixel in SCENE
   pixel coordinates (kind 1) and its across-border 4-neighbour probe
   (kind 2) — O(perimeter) rows, not O(area).
3. **Stitch** (`_stitched`): one equi join of probes onto cells on
   (scene, [class,] gx, gy) yields symmetric edges between local nodes.
4. **Min label** (`_cc_min_label`): each node's label is the minimum
   node id of its component, from the same `_min_root` step run in ONE
   grouped pass per scene over the node graph (one node per LOCAL
   component, vastly fewer than pixels).
5. **Fold**: regions and segments merge their partial stats per
   (scene, label) in one aggregation (`_fold`); lakes, patches and rings
   consume the labels their own way.

Scale shape: step 1 is pixel-parallel with zero shuffle; steps 2-5 touch
only node/border rows. The pixel planes never travel.
"""

from __future__ import annotations

from contextlib import contextmanager
from functools import partial
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from . import codecs
from .pipeline import (
    _TILE_IDS, _TILE_KEY, _arrow_schema, _batch_rows, _nominal_grid, _tile_rows,
)

# ONE extraction pass emits both row kinds (kind 0 = local region with
# partial stats; kind 1 = masked border cell; kind 2 = across-border probe)
# so each tile is decoded and labeled exactly once — two passes would scan
# the pixel bytes twice, the dominant cost at scale. Unused fields are 0.
EXTRACT_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("kind", IntegerType()),
    StructField("node", LongType()),      # packed (tile_x, tile_y, local label)
    StructField("area_px", LongType()),
    StructField("sum_val", DoubleType()),
    StructField("min_val", DoubleType()),
    StructField("max_val", DoubleType()),
    StructField("gx0", IntegerType()),    # inclusive bbox, scene pixel coords
    StructField("gy0", IntegerType()),
    StructField("gx1", IntegerType()),
    StructField("gy1", IntegerType()),
    StructField("gx", IntegerType()),     # border cell / probe coordinate
    StructField("gy", IntegerType()),
])


def _pack_node(tile_x: int, tile_y: int, label: np.ndarray) -> np.ndarray:
    # 21 bits each is far beyond any real tile grid; labels are per-tile
    return (np.int64(tile_x) << 42) | (np.int64(tile_y) << 21) | label.astype(np.int64)


def _min_root(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Component minimum of every vertex 0..n-1 of the undirected graph
    with edges (a, b). Vectorized Shiloach–Vishkin: each round hooks the
    larger root of every edge onto the smaller (np.minimum.at) and then
    pointer-jumps twice. parent[v] <= v always holds and only decreases,
    so an unchanged round is a star forest whose roots are the component
    minima — O(log n) rounds, no per-edge Python."""
    parent = np.arange(n, dtype=np.int64)
    while True:
        before = parent.copy()
        ra, rb = parent[a], parent[b]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        parent = parent[parent]
        parent = parent[parent]
        if np.array_equal(parent, before):
            return parent


def _label(valid: np.ndarray, right: np.ndarray,
           down: np.ndarray) -> tuple[np.ndarray, int]:
    """Connected components of one tile's pixel graph: ``valid`` (h, w)
    marks the vertices, ``right`` (h, w-1) and ``down`` (h-1, w) the kept
    4-adjacency edges (both ends valid). Returns (labels, n): int64, -1
    off ``valid``, else a dense id in [0, n) ordered by each component's
    first pixel in raster order.

    Horizontal runs of kept right-edges get run ids; kept down-edges
    become unique run pairs (O(runs) edges, not O(pixels)) and
    `_min_root` reduces the run graph."""
    h, w = valid.shape
    start = valid.copy()
    start[:, 1:] &= ~right
    run = np.cumsum(start).reshape(h, w) - 1     # run id per valid cell
    n_runs = int(run[-1, -1]) + 1
    if not n_runs:
        return np.full((h, w), -1, dtype=np.int64), 0
    pair = np.unique(run[:-1][down] * n_runs + run[1:][down])
    roots, dense = np.unique(_min_root(n_runs, pair // n_runs, pair % n_runs),
                             return_inverse=True)
    return np.where(valid, dense[run], -1), len(roots)


def label_tile(mask: np.ndarray) -> tuple[np.ndarray, int]:
    """4-connectivity labeling of one boolean plane (see `_label`)."""
    return _label(mask, mask[:, :-1] & mask[:, 1:], mask[:-1] & mask[1:])


def _sides(h: int, w: int) -> tuple[np.ndarray, ...]:
    """(ys, xs, dy, dx): the tile border walked top, bottom, left, right —
    a corner pixel once per side it touches — with each side's outward
    step."""
    xw, yh = np.arange(w), np.arange(h)
    return (np.concatenate([np.zeros(w, np.int64), np.full(w, h - 1), yh, yh]),
            np.concatenate([xw, xw, np.zeros(h, np.int64), np.full(h, w - 1)]),
            np.repeat([-1, 1, 0, 0], [w, w, h, h]),
            np.repeat([0, 0, -1, 1], [w, w, h, h]))


class _Rows:
    """Column blocks of one output batch of a pass schema, filled tile by
    tile: `at` enters a tile, `add` appends rows (arrays broadcast against
    scalars; a column left out is 0, or NULL for strings and binaries)."""

    def __init__(self, schema: StructType, nom_w: int, nom_h: int):
        self.schema = _arrow_schema(schema)
        self.nom = (nom_w, nom_h)
        self.blocks: list[tuple[int, dict]] = []

    def at(self, row) -> None:
        self.row = row
        self.scene, self.tx, self.ty = row.scene_id, int(row.tile_x), int(row.tile_y)
        # NOMINAL dims, not this tile's: ragged right/bottom-edge tiles are
        # shorter, and using their own w/h would shift their scene coords
        # so border cell/probe joins miss
        self.ox, self.oy = self.tx * self.nom[0], self.ty * self.nom[1]

    def node(self, labels: np.ndarray) -> np.ndarray:
        return _pack_node(self.tx, self.ty, labels)

    def add(self, kind, **cols) -> None:
        n = max((len(v) for v in cols.values() if isinstance(v, np.ndarray)),
                default=1)
        if n:
            self.blocks.append((n, {"scene_id": self.scene, "kind": kind, **cols}))

    def border(self, labels: np.ndarray, base: int = 0, **extra) -> None:
        """Kinds 1 and 2, the one border emit: each labelled border pixel
        (node ``base`` + label) in scene coordinates and the probe across
        its side. An ``extra`` plane is read at the border pixels (kind 2
        carries the cell's value too); a scalar is copied."""
        ys, xs, dy, dx = _sides(*labels.shape)
        lab = labels[ys, xs]
        m = lab >= 0
        node, gx, gy = self.node(base + lab[m]), self.ox + xs[m], self.oy + ys[m]
        ext = {k: v[ys, xs][m] if isinstance(v, np.ndarray) else v
               for k, v in extra.items()}
        self.add(1, node=node, gx=gx, gy=gy, **ext)
        self.add(2, node=node, gx=gx + dx[m], gy=gy + dy[m], **ext)

    def batch(self) -> pa.RecordBatch:
        cols = []
        for f in self.schema:
            # np.full would route bytes through a NUL-stripping "S" array
            obj = f.type in (pa.string(), pa.binary())
            parts = [v if isinstance(v, np.ndarray)
                     else np.array([v] * n, dtype=object) if obj
                     else np.full(n, v)
                     for n, blk in self.blocks
                     for v in [blk.get(f.name, None if obj else 0)]]
            arr = np.concatenate(parts)
            cols.append(pa.array(arr if obj else arr.astype(f.type.to_pandas_dtype()),
                                 type=f.type))
        return pa.RecordBatch.from_arrays(cols, schema=self.schema)


def _tile_pass(src: DataFrame, schema: StructType, src_col: str,
               nom_w: int, nom_h: int, tile) -> DataFrame:
    """Step 1 skeleton: decode each tile's f32 plane once and let
    ``tile(rows, plane)`` add its rows; one Arrow batch per input batch."""
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = _Rows(schema, nom_w, nom_h)
            for row in _batch_rows(batch):
                rows.at(row)
                tile(rows, codecs.decode_f32bt(getattr(row, src_col),
                                               int(row.w), int(row.h)))
            if rows.blocks:
                yield rows.batch()

    return src.mapInArrow(fn, schema)


def _stats_pass(tiles: DataFrame, src_col: str, nom_w: int, nom_h: int,
                label, schema: StructType = EXTRACT_SCHEMA) -> DataFrame:
    """Step 1 of extract_regions and segment_tiles: ``label(plane)`` ->
    (labels, n); each local component is a kind-0 row with its partial
    stats (area, sum, min, max, scene-coordinate bbox — all
    partial-aggregable), then the border rows (carrying the pixel value
    when ``schema`` has a ``val`` column)."""
    val = "val" in schema.fieldNames()

    def tile(rows: _Rows, plane: np.ndarray) -> None:
        labels, n = label(plane)
        if not n:
            return
        m = labels >= 0
        lab, vals = labels[m], plane[m]
        yy, xx = np.nonzero(m)
        h, w = plane.shape

        def fold(ufunc, init, v):
            out = np.full(n, init)
            ufunc.at(out, lab, v)
            return out

        rows.add(0, node=rows.node(np.arange(n)),
                 area_px=np.bincount(lab, minlength=n),
                 sum_val=np.bincount(lab, weights=vals, minlength=n),
                 min_val=fold(np.minimum, np.inf, vals),
                 max_val=fold(np.maximum, -np.inf, vals),
                 gx0=rows.ox + fold(np.minimum, w, xx),
                 gy0=rows.oy + fold(np.minimum, h, yy),
                 gx1=rows.ox + fold(np.maximum, 0, xx),
                 gy1=rows.oy + fold(np.maximum, 0, yy))
        rows.border(labels, **({"val": plane} if val else {}))

    # mapInArrow cannot column-prune: select only what the kernel reads
    src = tiles.select("scene_id", "tile_x", "tile_y", "w", "h", src_col)
    return _tile_pass(src, schema, src_col, nom_w, nom_h, tile)


def _extract_pass(tiles: DataFrame, threshold: float, src_col: str,
                  nom_w: int, nom_h: int) -> DataFrame:
    return _stats_pass(tiles, src_col, nom_w, nom_h, lambda p: label_tile(
        np.isfinite(p) & (p.astype(np.float64) > threshold)))


def _cc_min_label(nodes: DataFrame, edges: DataFrame, key: str = "scene_id") -> DataFrame:
    """Per-(key) minimum label over connected components: each node row
    (key, v) gets label = min node id reachable from it through (key, v, u)
    edges — exactly the fixpoint of min-label propagation, computed in ONE
    grouped pass instead of O(graph diameter) join rounds.

    Join rounds pay ~4 Spark jobs (two equi joins + checkpoint + change
    count) PER ROUND and a chain of regions across k tiles takes k rounds,
    so wall time is diameter-bound with tiny data per round (measured 15 s
    of a 21 s to_vect on a 1 Mpx scene). A key's stitch graph is O(local
    regions + cross-tile adjacencies) small rows — the same per-task bound
    the ring/sector assemblies already accept — so the whole reduction fits
    one applyInPandas task per key: one exchange, zero iteration. Node ids
    are factorized with np.unique (sorted, so the minimum index of a
    component is its minimum id) and reduced by `_min_root`; labels are
    IDENTICAL (min over component is order-free)."""
    sch = StructType([
        StructField(key, StringType()),
        StructField("v", LongType()),
        StructField("label", LongType()),
    ])
    # node rows carry u = -1 (node ids are packed nonnegative int64); a
    # NULL here would make pandas coerce the long column to float64 and
    # corrupt ids above 2^53 (packed tile_x >= 2^11)
    both = (nodes.select(key, "v", F.lit(-1).cast("long").alias("u"))
            .unionAll(edges.select(key, F.col("v").cast("long"),
                                   F.col("u").cast("long"))))

    def min_label(pdf: pd.DataFrame) -> pd.DataFrame:
        v, u = pdf.v.to_numpy(np.int64), pdf.u.to_numpy(np.int64)
        em = u != -1
        ids, idx = np.unique(np.concatenate([v, u[em]]), return_inverse=True)
        iv = idx[:len(v)]
        root = _min_root(len(ids), iv[em], idx[len(v):])
        return pd.DataFrame({key: pdf[key].to_numpy()[~em], "v": v[~em],
                             "label": ids[root[iv[~em]]]})

    return both.groupBy(key).applyInPandas(lambda _k, pdf: min_label(pdf), sch)


@contextmanager
def _stitched(tiles: DataFrame, make_pass, keys: tuple[str, ...] = (),
              lam: float | None = None):
    """Steps 3-4, the one stitch: ``make_pass(nom_w, nom_h)`` builds the
    operator's step-1 rows; they are persisted (the extraction is
    O(nodes + perimeter), tiny vs the pixel planes, and feeds several
    consumers), border cells and probes meet on (scene_id, *keys, gx, gy)
    — with ``lam``, a pair also needs |Δval| <= lam — and the symmetric
    edges reduce by `_cc_min_label`. Yields (rows, labels, (nom_w,
    nom_h)) with labels = (scene_id, v, label) per kind-0 node; the rows
    are unpersisted on exit, so the caller materializes (localCheckpoint)
    what it returns."""
    from pyspark import StorageLevel

    nom = _nominal_grid(tiles)
    ex = make_pass(*nom).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        on = ["scene_id", *keys, "gx", "gy"]
        val = [] if lam is None else ["val"]
        cells = ex.filter("kind = 1").select(*on, "node", *val)
        probes = ex.filter("kind = 2").select(
            *on, F.col("node").alias("pnode"),
            *[F.col(c).alias("p" + c) for c in val])
        keep = F.col("pnode") != F.col("node")
        if lam is not None:
            keep &= F.abs(F.col("pval") - F.col("val")) <= F.lit(lam)
        stitched = (
            probes.join(cells, on=on).filter(keep)
            .select("scene_id", F.col("pnode").alias("v"), F.col("node").alias("u"))
            .localCheckpoint()
        )
        edges = stitched.unionAll(
            stitched.select("scene_id", F.col("u").alias("v"), F.col("v").alias("u")))
        nodes = ex.filter("kind = 0").select("scene_id", F.col("node").alias("v"))
        yield ex, _cc_min_label(nodes, edges), nom
    finally:
        ex.unpersist()


def _fold(ex: DataFrame, lab: DataFrame, id_col: str) -> DataFrame:
    """Step 5 of extract_regions and segment_tiles: one aggregation keyed
    by (scene, root label) merges the kind-0 partial stats."""
    return (
        ex.filter("kind = 0").withColumnRenamed("node", "v")
        .join(lab, on=["scene_id", "v"])
        .groupBy("scene_id", F.col("label").alias(id_col))
        .agg(F.sum("area_px").alias("area_px"),
             (F.sum("sum_val") / F.sum("area_px")).alias("mean_val"),
             F.min("min_val").alias("min_val"),
             F.max("max_val").alias("max_val"),
             F.min("gx0").alias("gx0"), F.min("gy0").alias("gy0"),
             F.max("gx1").alias("gx1"), F.max("gy1").alias("gy1"),
             F.count(F.lit(1)).alias("n_parts"))
        .localCheckpoint()  # materialize before unpersisting the base
    )


def extract_regions(tiles: DataFrame, threshold: float,
                    src_col: str = "lst_bytes") -> DataFrame:
    """Threshold-region extraction over a tile table (``lst_tiles`` output):
    one row per 4-connected region of ``plane > threshold`` ACROSS tile
    borders, with exact area / value stats / scene-coordinate bbox.

    Scene pixel coords are tile_x * nom_w + px where nom_w/nom_h are the
    NOMINAL (max-over-grid) tile dims, so ragged right/bottom-edge tiles
    place correctly. Returns: scene_id, region_id (stable packed label),
    area_px, mean_val, min_val, max_val, gx0/gy0/gx1/gy1, n_parts
    (tile-local parts merged into the region).
    """
    with _stitched(tiles, partial(_extract_pass, tiles, threshold,
                                  src_col)) as (ex, lab, _nom):
        return _fold(ex, lab, "region_id")


# --------------------------------------------------------------------------
# r.lake: flood-fill below a water level from seed cells
# --------------------------------------------------------------------------

_LAKE_PASS_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("kind", IntegerType()),    # 0 node, 1 border cell, 2 probe,
    StructField("node", LongType()),       # 3 label+depth planes
    StructField("gx", IntegerType()),
    StructField("gy", IntegerType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("label_bytes", BinaryType()),
    StructField("depth_bytes", BinaryType()),
])

LAKE_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("lake_bytes", BinaryType()),   # f32 depth, NaN off-lake
    StructField("area_px", LongType()),
    StructField("volume", DoubleType()),       # sum of depths (px * depth)
    StructField("n_regions", IntegerType()),
])

_SEED_NODE_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("v", LongType()),
])


def _lake_pass(tiles: DataFrame, level: float, src_col: str,
               nom_w: int, nom_h: int) -> DataFrame:
    """One decode+label pass for the lake mask ``elev < level`` (finite):
    kinds 0-2 are the shared node and border rows; kind 3 carries the
    tile's dense label plane (<i4, -1 dry) and depth plane (<f4 level -
    elev, NaN dry) so the filter pass never re-decodes."""
    def tile(rows: _Rows, plane: np.ndarray) -> None:
        plane = plane.astype(np.float64)
        mask = np.isfinite(plane) & (plane < level)
        if not mask.any():
            return
        labels, n = label_tile(mask)
        depth = np.where(mask, level - plane, np.nan)
        rows.add(3, tile_x=rows.tx, tile_y=rows.ty, w=plane.shape[1],
                 h=plane.shape[0], label_bytes=labels.astype("<i4").tobytes(),
                 depth_bytes=depth.astype("<f4").tobytes())
        rows.add(0, node=rows.node(np.arange(n)))
        rows.border(labels)

    return _tile_pass(tiles, _LAKE_PASS_SCHEMA, src_col, nom_w, nom_h, tile)


def lake_tiles(tiles: DataFrame, seeds: DataFrame, level: float,
               src_col: str = "lst_bytes") -> DataFrame:
    """r.lake analog: the lake filled to ``level`` from seed cells — the
    4-connected components of ``elev < level`` that CONTAIN a seed, with
    per-pixel depth (level − elev) and per-tile area/volume. Components
    below the level but hydrologically separate from every seed stay dry
    (the whole point of r.lake vs a plain threshold).

    ``seeds`` carries (scene_id, gx, gy) scene-pixel coordinates (lon/lat
    callers geocode exactly like `spatial.sample_raster`). A seed on a dry
    cell (elev >= level, NULL, or off every masked tile) raises — GRASS
    refuses seeds above the water level too.

    Plan: ONE decode+label pass (planes + O(perimeter) stitch rows), the
    shared stitch and ONE grouped min-label pass on the border graph
    (`_stitched`), a broadcast seed lookup, then ONE equi join of each
    tile's kept node labels, packed into one row by a `collect_list`
    aggregate, with its label and depth planes. Only tiles that hold a
    kept node send their planes through Python, once; everything else is
    O(regions + perimeter).
    """
    with _stitched(tiles, partial(_lake_pass, tiles, level, src_col)) \
            as (ex, lab, (nom_w, nom_h)):
        planes = ex.filter("kind = 3").select(
            *_TILE_IDS, "label_bytes", "depth_bytes")

        s = seeds.select(
            "scene_id",
            (F.col("gx") / nom_w).cast("int").alias("tile_x"),
            (F.col("gy") / nom_h).cast("int").alias("tile_y"),
            (F.col("gx") % nom_w).alias("px"),
            (F.col("gy") % nom_h).alias("py"))
        sj = planes.join(F.broadcast(s), on=_TILE_KEY)

        def seed_fn(row, w, h):
            labels = np.frombuffer(row.label_bytes, "<i4").reshape(h, w)
            lv = int(labels[int(row.py), int(row.px)])
            if lv < 0:
                raise ValueError(
                    f"lake_tiles: seed ({row.px}, {row.py}) of tile "
                    f"({row.tile_x}, {row.tile_y}) scene "
                    f"{row.scene_id!r} is not below the water level")
            yield (int(_pack_node(int(row.tile_x), int(row.tile_y),
                                  np.array([lv]))[0]),)

        seed_nodes = _tile_rows(sj, _SEED_NODE_SCHEMA, seed_fn, ("scene_id",))
        n_matched = seed_nodes.count()
        n_seeds = seeds.count()
        if n_matched != n_seeds:
            raise ValueError(
                f"lake_tiles: {n_seeds - n_matched} of {n_seeds} seeds hit "
                f"no below-level cell (off-grid or dry tile)")
        seed_regions = (seed_nodes.join(lab, on=["scene_id", "v"])
                        .select("scene_id", "label").distinct())
        keep = (lab.join(F.broadcast(seed_regions), on=["scene_id", "label"])
                .select("scene_id", "v", "label",
                        F.shiftright("v", 42).cast("int").alias("tile_x"),
                        (F.shiftright("v", 21) % (1 << 21)).cast("int")
                        .alias("tile_y")))

        packed = keep.groupBy(*_TILE_KEY).agg(
            F.collect_list("v").alias("vs"),
            F.size(F.collect_set("label")).cast("int").alias("n_regions"))

        def lake_fill(row, w, h):
            labels = np.frombuffer(row.label_bytes, "<i4").reshape(h, w)
            depth = np.frombuffer(row.depth_bytes, "<f4").reshape(h, w)
            m = np.isin(labels, np.array(row.vs, np.int64) & ((1 << 21) - 1))
            if m.any():
                yield (np.where(m, depth, np.float32(np.nan)).astype("<f4").tobytes(),
                       int(m.sum()), float(depth[m].astype(np.float64).sum()),
                       row.n_regions)

        # materialize before unpersisting base
        return _tile_rows(planes.join(packed, _TILE_KEY), LAKE_SCHEMA,
                          lake_fill, _TILE_IDS).localCheckpoint()

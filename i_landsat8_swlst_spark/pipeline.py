"""The LST pipeline — Spark-first restatement of the reference's 5 stages.

Logical plan (SURVEY.md §3.4):

    scan(scenes)                          # parquet/Iceberg; bytes pruned away
      -> parse image_id                   # Catalyst column algebra
      -> pair band 10 x band 11           # one tile-key exchange, paired per partition
      -> broadcast-join scene_meta (MTL)  # C1
      -> broadcast-join emissivities      # C5 (dict lookup == broadcast join)
      -> ONE fused mapInArrow kernel      # C2+C3+C4+C6+C7+C8+C9+C10+C11
      -> tile stats / pixel rows

Key physical decisions (SURVEY.md §4): Catalyst cannot fuse across two
Python-UDF nodes, so the whole array path is a single ``mapInArrow`` — one
JVM->Python Arrow hop per tile, exactly analogous to the reference's "one
big mapcalc expression" ([U] i.landsat8.swlst.py :: estimate_lst /
estimate_cwv_big_expression). Metadata-only aggregations never touch the
``bytes`` column, so parquet column pruning keeps them cheap at 100 TB.
"""

from __future__ import annotations

import itertools
from operator import attrgetter
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType, StructField, StructType,
)

from . import codecs
from . import constants as C
from . import kernels as K
from .session import ARROW_BATCH_ROWS

_ID_RE = r"^([^/]+)/B(\d+)/(\d+)_(\d+)$"

META_COLS = ["ml_b10", "al_b10", "ml_b11", "al_b11", "k1_b10", "k2_b10", "k1_b11", "k2_b11"]


def parse_scenes(scenes: DataFrame) -> DataFrame:
    """Derive (scene_id, band, tile_x, tile_y, landcover) from image_id/caption.

    Pure Catalyst projections — whole-stage codegen, no Python. Columns the
    input already carries are REUSED, not re-derived: re-deriving would
    replace the stored column with a new expression and throw away the
    table's bucketing metadata — the documented 100-TB layout (pre-parsed,
    bucketed+sorted on (scene_id, tile_x, tile_y)) keeps `pair_bands`
    zero-shuffle precisely because the stored key columns survive here.
    """
    derive = {
        "scene_id": F.regexp_extract("image_id", _ID_RE, 1),
        "band": F.regexp_extract("image_id", _ID_RE, 2).cast("int"),
        "tile_x": F.regexp_extract("image_id", _ID_RE, 3).cast("int"),
        "tile_y": F.regexp_extract("image_id", _ID_RE, 4).cast("int"),
        "landcover": F.regexp_extract("caption", r"landcover=(\w+)", 1),
    }
    # fail fast on a reused column of the wrong type (ADVICE r6): a stale
    # or mis-typed stored column (band as string, float tile_x) would flow
    # into downstream pairing/joins silently; the bucketing-preservation
    # benefit only applies to correctly-typed stored keys
    want = {"scene_id": ("string",), "band": ("int", "bigint"),
            "tile_x": ("int", "bigint"), "tile_y": ("int", "bigint"),
            "landcover": ("string",)}
    have = dict(scenes.dtypes)
    for name, ok_types in want.items():
        if name in have and have[name] not in ok_types:
            raise TypeError(
                f"parse_scenes: reused column {name!r} has dtype "
                f"{have[name]!r}, expected one of {ok_types}; drop or "
                "re-derive it before calling")
    out = scenes
    for name, col in derive.items():
        if name not in scenes.columns:
            out = out.withColumn(name, col)
    return out


def _hash_placed(df: DataFrame, key: list[str]) -> bool:
    """True when ``df``'s physical plan already hash-partitions its rows on
    exactly ``key`` (a table bucketed on it): EnsureRequirements then
    serves the tile-key clustering from the scan, with no exchange."""
    part = df._jdf.queryExecution().sparkPlan().outputPartitioning()
    if part.getClass().getSimpleName() != "HashPartitioning":
        return False
    exprs = [part.expressions().apply(i) for i in range(part.expressions().size())]
    return (all(e.getClass().getSimpleName() == "AttributeReference" for e in exprs)
            and sorted(e.name() for e in exprs) == sorted(key))


def pair_bands(parsed: DataFrame, with_qa: bool = False) -> DataFrame:
    """Pair each band-10 tile row with the band-11 rows of its tile key.

    The semantics are an inner join of band 10 to band 11 on (scene_id,
    tile_x, tile_y), then a left join of the band-0 QA rows when
    ``with_qa``: duplicates give the cross product, an unmatched band-10 or
    band-11 row is dropped, a tile without QA gets a NULL ``bytes_qa``.

    The plan is one scan and at most one exchange, with no join: the
    wanted bands are hash-partitioned on the tile key into
    ``defaultParallelism`` partitions (pinned, so AQE neither coalesces the
    kernel stage nor turns a join into a runtime broadcast of band-11
    bytes), and each partition pairs its own rows: a window over the tile
    key collects the band-11 (and QA) rows' columns as lists beside every
    band-10 row, and ``explode`` over their count turns them back into
    rows. A table bucketed on the tile key already has that placement and
    takes no exchange at all.
    """
    bands = [10, 11] + ([0] if with_qa else [])
    rows = parsed.filter(F.col("band").isin(bands)).dropna(subset=_TILE_KEY)
    if not _hash_placed(rows, _TILE_KEY):
        rows = rows.repartition(rows.sparkSession.sparkContext.defaultParallelism,
                                *_TILE_KEY)
    tile = Window.partitionBy(*_TILE_KEY)
    band = F.col("band")
    # the partner rows' columns as lists over the tile window: the bytes in
    # one list, the other columns in another, so a consumer that reads no
    # partner bytes prunes that list away and metadata passes (checkpoint
    # fingerprints) never read the bytes. Elements are structs, so a NULL
    # value keeps its slot and a band's lists stay aligned.
    partner = {11: ["image_id", "bytes", "fmt", "caption"], 0: ["bytes"]}
    lists, counts = [], []
    for b in bands[1:]:
        meta = [c for c in partner[b] if c != "bytes"]
        lists.append(F.collect_list(F.when(band == b, F.struct("bytes"))).over(tile)
                     .alias(f"_bytes{b}"))
        if meta:
            lists.append(F.collect_list(F.when(band == b, F.struct(*meta))).over(tile)
                         .alias(f"_meta{b}"))
        counts.append(F.count(F.when(band == b, 1)).over(tile).alias(f"_n{b}"))
    # each row carries its bytes into the window sort once: as a band-10
    # column or inside its band's list
    b10 = {"image_id_b10": "image_id", "bytes_b10": "bytes", "fmt_b10": "fmt",
           "caption_b10": "caption"}
    paired = (rows.select(*_TILE_KEY, "band",
                          *[F.when(band == 10, F.col(c)).alias(n) for n, c in b10.items()],
                          "w", "h", "landcover", *lists, *counts)
              .filter((band == 10) & (F.col("_n11") > 0)))
    for b in bands[1:]:
        # at least one row per band-10 row: a tile without QA keeps its row
        # with a NULL bytes_qa (the left join's outer row)
        n = F.col(f"_n{b}").cast("int")
        paired = paired.withColumn(
            f"_i{b}", F.explode(F.sequence(F.lit(1), F.greatest(n, F.lit(1)))))

    def partner_col(b: int, c: str, name: str) -> F.Column:
        lst = "_bytes" if c == "bytes" else "_meta"
        return (F.when(F.col(f"_n{b}") > 0,
                       F.element_at(f"{lst}{b}", F.col(f"_i{b}")).getField(c)).alias(name))

    return paired.select(
        *_TILE_KEY, "image_id_b10", "bytes_b10", "fmt_b10", "w", "h", "caption_b10",
        "landcover", *[partner_col(11, c, f"{c}_b11") for c in partner[11]],
        *([partner_col(0, "bytes", "bytes_qa")] if with_qa else []))


def with_meta(paired: DataFrame, scene_meta: DataFrame) -> DataFrame:
    """Broadcast MTL constants (C1): tiny dim table, never shuffled."""
    return paired.join(F.broadcast(scene_meta), on="scene_id", how="inner")


def with_emissivity(df: DataFrame, emissivities: DataFrame) -> DataFrame:
    """C5 — the reference's namedtuple dict lookup IS a broadcast hash join."""
    return df.join(
        F.broadcast(emissivities), df["landcover"] == emissivities["landcover_class"], "left"
    ).drop("landcover_class")


def scene_grids(parsed: DataFrame) -> DataFrame:
    """Tiles-per-scene grid (ntx, nty) used to geocode pixel centroids.

    Metadata-only aggregation — parquet column pruning means the bytes
    column is never read for this pass.
    """
    return parsed.groupBy("scene_id").agg(
        (F.max("tile_x") + 1).alias("ntx"), (F.max("tile_y") + 1).alias("nty")
    )


TILE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("caption", StringType()),
    StructField("lst_bytes", BinaryType()),   # float32 LE, NaN = NULL cell
    StructField("cwv_bytes", BinaryType()),   # float32 LE
    StructField("n_valid", LongType()),
    StructField("lst_min", DoubleType()),
    StructField("lst_max", DoubleType()),
    StructField("lst_mean", DoubleType()),
    StructField("cwv_mean", DoubleType()),
    StructField("bt10_mean", DoubleType()),
    StructField("bt11_mean", DoubleType()),
])

PIXEL_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("px", IntegerType()),
    StructField("py", IntegerType()),
    StructField("lon", DoubleType()),
    StructField("lat", DoubleType()),
    StructField("bt10", DoubleType()),
    StructField("bt11", DoubleType()),
    StructField("cwv", DoubleType()),
    StructField("subrange", StringType()),
    StructField("emissivity_avg", DoubleType()),
    StructField("emissivity_delta", DoubleType()),
    StructField("lst_k", DoubleType()),
    StructField("lst_c", DoubleType()),
])

_SUBRANGE_NAMES = np.array(C.SUBRANGE_ORDER + [""], dtype=object)  # idx -1 -> ""


def _arrow_schema(spark_schema: StructType) -> pa.Schema:
    return pa.schema([pa.field(f.name, to_arrow_type(f.dataType)) for f in spark_schema])


def _arrow_batch(cols: list[list], arrow: pa.Schema) -> pa.RecordBatch:
    """Arrow batch straight from per-column Python lists in ``arrow``'s
    field order — skips the pandas.DataFrame detour in the hot tile loop."""
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)


def _batch_from_cols(cols: dict[str, list], spark_schema: StructType) -> pa.RecordBatch:
    """`_arrow_batch` of per-column lists keyed by field name."""
    return _arrow_batch([cols[f.name] for f in spark_schema], _arrow_schema(spark_schema))


def spread_tiles(tiles: DataFrame) -> DataFrame:
    """Round-robin repartition a tile table up to the core count when the
    incoming layout cannot scan with enough effective parallelism.

    A tile table written as one or two parquet files (a limit() write, a
    small export) holds a handful of row groups, so no matter how many
    byte-range splits the scheduler creates, only the 2-3 tasks whose
    range covers a row-group midpoint read ANY data — every decode-pass
    operator fed from it then runs near-serially regardless of cluster
    size (measured: 4.2 s wall for 7.7 core-seconds of work on the
    classify assignment pass; guide §2.5: unsplittable input ->
    repartition after the read). The partition COUNT is useless for
    detecting this (the empty splits still count), so the test is the
    plan's size estimate: a source whose bytes cannot fill half the
    cluster's cores at one split per core gets spread; bigger inputs —
    production tables, bucketed layouts — pass through UNTOUCHED and
    never pay a shuffle. Per-tile operator outputs are row-wise and do
    not depend on placement."""
    spark = tiles.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        split_b = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        plan = tiles._jdf.queryExecution().optimizedPlan()
        pstr = plan.toString()
        if "Repartition" in pstr:
            return tiles          # caller already chose a distribution
        if "parquet" not in pstr:
            # in-memory state (iteration rounds, test fixtures, checkpoint
            # RDDs) is already placed by whatever produced it; spreading
            # it would add one exchange PER ROUND to iterative operators
            return tiles
        size_b = int(plan.stats().sizeInBytes())
    except Exception:
        return tiles
    if size_b >= (target // 2) * split_b:
        return tiles
    return tiles.repartition(target)


def _coalesce_batches(batches, min_rows: int = 8192):
    """Re-chunk an Arrow batch stream to >= min_rows rows per batch.

    The session-wide maxRecordsPerBatch is sized for ~65 KB binary tile
    rows (64/batch); point-row operators fed through the same hop would see
    thousands of 64-row batches, and their per-batch numpy setup dominates
    the kernel (guide §4.2: keep batches large enough for vectorization to
    pay off). Row order is preserved — consecutive batches concatenate —
    so operator output is row-identical, only batch boundaries move."""
    buf: list[pa.RecordBatch] = []
    n = 0
    for b in batches:
        if b.num_rows == 0:
            continue
        if b.num_rows >= min_rows and not buf:
            yield b
            continue
        buf.append(b)
        n += b.num_rows
        if n >= min_rows:
            yield from pa.Table.from_batches(buf).combine_chunks() \
                .to_batches(max_chunksize=None)
            buf, n = [], 0
    if buf:
        yield from pa.Table.from_batches(buf).combine_chunks() \
            .to_batches(max_chunksize=None)


def _batch_rows(batch: pa.RecordBatch):
    """Iterate an Arrow batch as attribute-access rows without converting to
    pandas (object boxing of 17 columns per tile showed up in the profile)."""
    import collections

    Row = collections.namedtuple("Row", batch.schema.names, rename=True)
    return map(Row._make, zip(*(batch.column(i).to_pylist()
                                for i in range(batch.num_columns))))


_TILE_KEY = ["scene_id", "tile_x", "tile_y"]
_TILE_IDS = (*_TILE_KEY, "w", "h")
_PLANE_IDS = ("image_id",) + _TILE_IDS


def _row_map(src: DataFrame, schema: StructType, emit, ids) -> DataFrame:
    """The package's one per-row Arrow map: ``emit(row)`` yields 0..n value
    tuples per row of ``src``; each becomes one ``schema`` row, the ``ids``
    columns copied from the input row (None where it has no such column)
    followed by the tuple. Values are converted with ``schema``'s Arrow
    types (a float NaN stays NaN). The mapInArrow step carries ``emit``'s
    name, so plans name the operator's step."""
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        arrow = _arrow_schema(schema)
        for batch in batches:
            cols: list[list] = [[] for _ in arrow]
            heads, vals = cols[:len(ids)], cols[len(ids):]
            for row in _batch_rows(batch):
                # one input row's tuples go into the column lists at once:
                # keeping a whole batch of tuples alive makes the cyclic GC
                # rescan them (2x on the shingle pass)
                out = list(emit(row))
                for c, col in zip(vals, zip(*out)):
                    c += col
                for c, k in zip(heads, ids):
                    c += [getattr(row, k, None)] * len(out)
            if cols[0]:
                yield _arrow_batch(cols, arrow)

    fn.__name__ = emit.__name__
    return src.mapInArrow(fn, schema)


def _grouped(src: DataFrame, key: list[str], order, schema: StructType,
             consume) -> DataFrame:
    """The per-key stream of the halo and revisit-stack operators:
    hash-partition ``src`` on ``key``, sort each partition by ``key +
    order`` and hand ``consume`` one lazy iterator of rows per key value
    (NULL keys form one group), in that order, without pandas machinery
    (FlatMapGroupsInPandas paid ~1 ms per 9-row group). ``consume(groups)``
    yields Arrow batches of ``schema``; each group's iterator is spent
    once the next one is taken. The mapInArrow step carries ``consume``'s
    name."""
    parts = src.repartition(*[F.col(c) for c in key]) \
               .sortWithinPartitions(*key, *order)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rows = (row for batch in batches for row in _batch_rows(batch))
        return consume(g for _, g in itertools.groupby(rows, attrgetter(*key)))

    fn.__name__ = consume.__name__
    return parts.mapInArrow(fn, schema)


def _group_rows(src: DataFrame, key: list[str], order, schema: StructType,
                emit) -> DataFrame:
    """The per-key case of `_grouped`, the grouped sibling of `_row_map`:
    ``emit(rows)`` gets one key's rows in ``order`` and yields 0..n
    ``schema`` tuples; batches go out every ``ARROW_BATCH_ROWS`` rows."""
    def fn(groups) -> Iterator[pa.RecordBatch]:
        arrow = _arrow_schema(schema)
        cols: list[list] = [[] for _ in arrow]
        for rows in groups:
            for c, col in zip(cols, zip(*emit(rows))):
                c += col
            if len(cols[0]) >= ARROW_BATCH_ROWS:
                yield _arrow_batch(cols, arrow)
                cols = [[] for _ in arrow]
        if cols[0]:
            yield _arrow_batch(cols, arrow)

    fn.__name__ = emit.__name__
    return _grouped(src, key, order, schema, fn)


def _nan_none(v: float) -> float | None:
    """NaN -> None, the NULL a pandas hop made of a NaN: for `_row_map`
    emits that replaced one."""
    return None if v != v else v


def _tile_rows(src: DataFrame, schema: StructType, emit, ids) -> DataFrame:
    """The per-tile case of `_row_map`: ``emit(row, w, h)`` also gets the
    tile row's ``w`` and ``h`` as ints."""
    def sized(row):
        return emit(row, int(row.w), int(row.h))

    sized.__name__ = emit.__name__
    return _row_map(src, schema, sized, ids)


def _tile_map(src: DataFrame, schema: StructType, build, ids) -> DataFrame:
    """_tile_rows with exactly one row per tile: the ``ids`` columns, then
    the values of ``build(row, w, h)``."""
    def one(row, w, h):
        return (build(row, w, h),)

    one.__name__ = build.__name__
    return _tile_rows(src, schema, one, ids)


def _nominal_grid(tiles: DataFrame) -> tuple[int, int]:
    """(nom_w, nom_h): the tile pitch — every tile but the ragged edge ones
    has this size, so (tile_x * nom_w + lx, tile_y * nom_h + ly) is a
    cell's scene coordinate. One tiny metadata-only job."""
    nom = tiles.agg(F.max("w").alias("w"), F.max("h").alias("h")).first()
    return int(nom["w"]), int(nom["h"])


def _finite_stats(a: np.ndarray) -> tuple[int, float | None, float | None, float | None]:
    """(n_finite, min, max, mean) in one compaction pass — np.nanmin/nanmean
    each copy the full array internally; for 128^2 tiles the four of them
    cost as much as the LST polynomial itself."""
    v = a.ravel()
    v = v[np.isfinite(v)]
    if v.size == 0:
        return 0, None, None, None
    return int(v.size), float(v.min()), float(v.max()), float(v.mean())


def _f32(a: np.ndarray) -> bytes:
    return a.astype("<f4").tobytes()


_CLOUD_VALUES = np.array(C.DEFAULT_CLOUD_QA_VALUES, dtype=np.float64)


# Max tiles stacked per fused-kernel call. Round-3 interleaved A/B (ALL
# arms round-robin in ONE process, 5 passes/arm, 32 workers, sf0.1-scale
# input — the only protocol that puts every arm in the same host-steal
# weather): per-arm minima
# stack1 4.56s / stack4 4.42s / stack8 4.65s / stack16 4.69s / stack64 4.83s
# (88.3 / 91.1 / 86.5 / 85.9 / 83.4 Mpx/s) — the arms sit within 9%, so the
# earlier cross-session swings (5.1s -> 8.2s -> 13.6s for ONE config) were
# environmental steal, not tuning. 4 wins on both min and median: enough
# stacking to amortize numpy dispatch while the (4, 4, h, w) float64 plane
# family stays cache-resident per worker. Full table: BENCH/KERNEL_SWEEP.md.
_KERNEL_STACK = 4


def _bt_input(fmt10: str, fmt11: str) -> bool:
    """True when a band pair holds Kelvin BT (f32bt) rather than DN counts;
    a pair mixing the two raises."""
    bt = fmt10 == codecs.FMT_BT
    if bt != (fmt11 == codecs.FMT_BT):
        raise ValueError(f"mixed DN/BT band pair: fmt_b10={fmt10!r} fmt_b11={fmt11!r}")
    return bt


def _fused_stacked(items: list, window: int, key, planes) -> list[dict | None]:
    """The one stacked fused-kernel dispatch behind the four LST operators.

    ``key(item)`` -> (meta_vals, e10, e11, has_qa, bt_input, *shape): what a
    stacked call needs to be homogeneous; e10/e11 are the scalar
    emissivities, or None for per-pixel planes. A None key skips the item
    (its result stays None). ``planes(item)`` -> (a10, a11, qa, e10, e11)
    arrays, None where the key says absent (a None e11 beside an e10 plane
    reuses that plane for both bands): decoded tile bytes, an assembled
    halo pad or decoded emissivity planes.

    Each group runs _KERNEL_STACK items per K.fused_lst_kernel call,
    bit-identical to per-tile calls (cwv_ratio is leading-dim generic;
    every other stage is elementwise or a gather) while the ~86 numpy
    dispatches per tile collapse to ~86 per stack. Returns the per-item
    result dicts in input order.
    """
    groups: dict[tuple, list[int]] = {}
    for i, item in enumerate(items):
        k = key(item)
        if k is not None:
            groups.setdefault(k, []).append(i)
    out: list[dict | None] = [None] * len(items)
    for (meta_vals, e10, e11, has_qa, bt_in, *_), gidxs in groups.items():
        meta = dict(zip(META_COLS, meta_vals))
        for s in range(0, len(gidxs), _KERNEL_STACK):
            idxs = gidxs[s:s + _KERNEL_STACK]
            a10, a11, qa, p10, p11 = (
                None if p[0] is None else np.stack(p)
                for p in zip(*(planes(items[i]) for i in idxs)))
            p11 = p10 if p11 is None else p11
            r = K.fused_lst_kernel(
                a10, a11, meta, e10=e10 if p10 is None else p10,
                e11=e11 if p11 is None else p11, window=window, qa=qa,
                cloud_values=_CLOUD_VALUES if has_qa else None, bt_input=bt_in)
            for j, i in enumerate(idxs):
                out[i] = {k: v[j] for k, v in r.items()}
    return out


def _row_key(row, e10: float | None = None, e11: float | None = None) -> tuple:
    """_fused_stacked key of a paired-band tile row."""
    return (tuple(float(getattr(row, k)) for k in META_COLS), e10, e11,
            getattr(row, "bytes_qa", None) is not None,
            _bt_input(row.fmt_b10, row.fmt_b11),
            int(row.w), int(row.h), row.fmt_b10, row.fmt_b11)


def _row_planes(row, e10_col: str | None = None, e11_col: str | None = None) -> tuple:
    """(dn10, dn11, qa, e10, e11) decoded from a paired-band tile row; the
    emissivity planes come from the f32 columns named."""
    w, h = int(row.w), int(row.h)
    qa = getattr(row, "bytes_qa", None)
    e10 = None if e10_col is None else codecs.decode_f32bt(getattr(row, e10_col), w, h)
    e11 = None if e11_col is None else codecs.decode_f32bt(getattr(row, e11_col), w, h)
    return (codecs.decode_tile_dn(row.bytes_b10, w, h, row.fmt_b10),
            codecs.decode_tile_dn(row.bytes_b11, w, h, row.fmt_b11),
            None if qa is None else codecs.decode_u16le(qa, w, h), e10, e11)


def _class_emis_kernel(rows: list, window: int) -> list[dict]:
    """_fused_stacked over paired-band rows with landcover-class emissivities."""
    return _fused_stacked(rows, window, lambda row: _row_key(
        row, float(row.emissivity_b10), float(row.emissivity_b11)), _row_planes)


def _row_ids(row) -> tuple:
    return (row.image_id_b10, row.scene_id, row.tile_x, row.tile_y,
            row.w, row.h, row.caption_b10)


def _tile_cols(tiles, celsius: bool = False,
               emit_arrays: bool = True) -> dict[str, list]:
    """TILE_SCHEMA columns from (ids, result) pairs: ``ids`` fills the
    seven identity columns (image_id .. caption), ``result`` is a
    fused-kernel dict whose LST and CWV planes go out as f32 LE bytes
    (empty when not emit_arrays) next to their finite stats.

    Pass ``tiles`` as a temporary and build the Arrow batch after this
    returns, so the kernel results behind it are released first: a
    batch's result planes (~50 MB for 64 tiles of 128^2) held across the
    Arrow build doubled the worker's page faults in a 64-tile in-process
    timing."""
    cols: dict[str, list] = {f.name: [] for f in TILE_SCHEMA}
    ap = {k: v.append for k, v in cols.items()}
    for ids, r in tiles:
        for name, v in zip(TILE_SCHEMA.names, ids):
            ap[name](v)
        lst = r["lst_c"] if celsius else r["lst_k"]
        n_valid, lst_min, lst_max, lst_mean = _finite_stats(lst)
        ap["n_valid"](n_valid)
        ap["lst_min"](lst_min); ap["lst_max"](lst_max); ap["lst_mean"](lst_mean)
        ap["cwv_mean"](_finite_stats(r["cwv"])[3])
        ap["bt10_mean"](_finite_stats(r["bt10"])[3])
        ap["bt11_mean"](_finite_stats(r["bt11"])[3])
        ap["lst_bytes"](lst.astype("<f4").tobytes() if emit_arrays else b"")
        ap["cwv_bytes"](r["cwv"].astype("<f4").tobytes() if emit_arrays else b"")
    return cols


def lst_tiles(enriched: DataFrame, window: int = C.DEFAULT_CWV_WINDOW,
              emit_arrays: bool = True, celsius: bool = False) -> DataFrame:
    """Fused raster kernel -> tile-level LST/CWV arrays + stats (C11).

    emit_arrays=False keeps the byte columns empty for stats-only consumers:
    Catalyst cannot prune columns *through* a Python UDF node, so the UDF
    offers the projection control itself (3.4 GB less Arrow traffic per
    6k-tile batch in the bench job).

    celsius=True emits the lst arrays + stats in deg C instead of K — the
    reference's ``-c`` flag ([U] i.landsat8.swlst.py); conversion happens in
    the kernel (C10), not as a post-pass."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = list(_batch_rows(batch))
            if rows:
                cols = _tile_cols(zip(map(_row_ids, rows), _class_emis_kernel(rows, window)),
                                  celsius, emit_arrays)
                yield _batch_from_cols(cols, TILE_SCHEMA)

    return enriched.mapInArrow(fn, TILE_SCHEMA)


def lst_tiles_pixel_emissivity(enriched: DataFrame, emis_tiles: DataFrame,
                               window: int = C.DEFAULT_CWV_WINDOW,
                               celsius: bool = False,
                               e10_col: str = "emis_bytes",
                               e11_col: str | None = None,
                               emit_arrays: bool = True) -> DataFrame:
    """C5 alternative source: per-PIXEL emissivity planes (e.g. the
    NDVI-threshold method, multiband.ndvi_emissivity_tiles) instead of the
    scalar landcover-class values — the same fused physics through
    lst_from_bt's ARRAY branch, which the kernel documents as bit-identical
    in IEEE op order to the folded scalar path (tests assert byte equality
    on constant planes).

    ``emis_tiles``: (scene_id, tile_x, tile_y, e10_col [, e11_col]) f32
    planes co-registered with the band tiles; ``e11_col=None`` reuses the
    one plane for both bands (the single-plane NDVI-threshold output).
    The join is a co-keyed tile equi join (the bucketed layout makes it
    shuffle-free). Semantics: a NaN emissivity PIXEL poisons that pixel's
    LST to NaN while its BT/CWV (emissivity-independent) stay valid; a
    tile with a MISSING emissivity plane (no join match for e10, or a null
    e11 when ``e11_col`` is set) is refused wholesale — every output plane
    of that tile, including BT/CWV, is NaN (the tile never reaches the
    kernel, so nothing is computed for it).
    """
    ecols = [e10_col] + ([e11_col] if e11_col else [])
    joined = enriched.join(
        emis_tiles.select("scene_id", "tile_x", "tile_y", *ecols),
        on=["scene_id", "tile_x", "tile_y"], how="left")

    def key(row):
        # emissivity is per-row array data, not a key
        if any(getattr(row, c) is None for c in ecols):
            return None
        return _row_key(row)

    def results(rows: list):
        for row, r in zip(rows, _fused_stacked(
                rows, window, key, lambda row: _row_planes(row, e10_col, e11_col))):
            if r is None:             # no emissivity tile: LST refused
                r = dict.fromkeys(("lst_k", "lst_c", "cwv", "bt10", "bt11"),
                                  np.full((int(row.h), int(row.w)), np.nan))
            yield _row_ids(row), r

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = list(_batch_rows(batch))
            if rows:
                yield _batch_from_cols(_tile_cols(results(rows), celsius, emit_arrays),
                                       TILE_SCHEMA)

    return joined.mapInArrow(fn, TILE_SCHEMA)


def lst_pixels(
    enriched_with_grid: DataFrame,
    window: int = C.DEFAULT_CWV_WINDOW,
    valid_only: bool = True,
) -> DataFrame:
    """Raster -> vector: explode each tile into geocoded pixel rows.

    Input must carry scene bbox (lon0/lat0/lon1/lat1 from scene_meta) and the
    scene grid (ntx, nty from scene_grids). Pixel centroid geocoding is the
    north-up affine over the scene footprint.
    """

    pa_schema = _arrow_schema(PIXEL_SCHEMA)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # one output RecordBatch per tile (mapInArrow may yield many per
        # input batch): numpy-native columns go to Arrow zero-copy, no
        # pandas detour, no per-batch concat
        for batch in batches:
            rows = list(_batch_rows(batch))
            for row, r in zip(rows, _class_emis_kernel(rows, window)):
                w, h = int(row.w), int(row.h)
                lst = r["lst_k"].ravel()
                keep = np.isfinite(lst) if valid_only else np.ones(lst.size, bool)
                n = int(np.count_nonzero(keep))
                if n == 0:
                    continue
                py, px = np.divmod(np.arange(w * h, dtype=np.int64)[keep], w)
                dlon = (row.lon1 - row.lon0) / row.ntx
                dlat = (row.lat1 - row.lat0) / row.nty
                lon = row.lon0 + (row.tile_x + (px + 0.5) / w) * dlon
                lat = row.lat1 - (row.tile_y + (py + 0.5) / h) * dlat
                idx = r["subrange_idx"].ravel()[keep]
                e10 = float(row.emissivity_b10)
                e11 = float(row.emissivity_b11)
                arrays = [
                    pa.array([row.image_id_b10] * n, type=pa.string()),
                    pa.array([row.scene_id] * n, type=pa.string()),
                    pa.array(np.full(n, row.tile_x, np.int32)),
                    pa.array(np.full(n, row.tile_y, np.int32)),
                    pa.array(px.astype(np.int32)),
                    pa.array(py.astype(np.int32)),
                    pa.array(lon), pa.array(lat),
                    pa.array(r["bt10"].ravel()[keep]),
                    pa.array(r["bt11"].ravel()[keep]),
                    pa.array(r["cwv"].ravel()[keep]),
                    pa.array(_SUBRANGE_NAMES[idx], type=pa.string()),
                    pa.array(np.full(n, (e10 + e11) / 2.0)),
                    pa.array(np.full(n, e10 - e11)),
                    pa.array(lst[keep]),
                    pa.array(r["lst_c"].ravel()[keep]),
                ]
                yield pa.RecordBatch.from_arrays(arrays, schema=pa_schema)

    return enriched_with_grid.mapInArrow(fn, PIXEL_SCHEMA)


def build_enriched(
    scenes: DataFrame, scene_meta: DataFrame, emissivities: DataFrame,
    with_qa: bool = False,
) -> DataFrame:
    """scan -> parse -> pair -> broadcast meta -> broadcast emissivity."""
    parsed = parse_scenes(scenes)
    return with_emissivity(
        with_meta(pair_bands(parsed, with_qa=with_qa), scene_meta), emissivities)


def build_enriched_with_grid(
    scenes: DataFrame, scene_meta: DataFrame, emissivities: DataFrame
) -> DataFrame:
    parsed = parse_scenes(scenes)
    enriched = with_emissivity(with_meta(pair_bands(parsed), scene_meta), emissivities)
    return enriched.join(F.broadcast(scene_grids(parsed)), on="scene_id", how="inner")


def full_pixel_pipeline(
    scenes: DataFrame,
    scene_meta: DataFrame,
    emissivities: DataFrame,
    aoi_pdf,
    stations_pdf,
    window: int = C.DEFAULT_CWV_WINDOW,
    knn_k: int = 3,
    s2_level: int = 14,
) -> DataFrame:
    """The complete north-star flow (BASELINE.json:6) in one logical plan:

    decode -> BT -> CWV -> LST (fused kernel) -> pixel rows -> batched
    H3-role/S2 cell-encode -> broadcast R-tree PIP join to AOIs (left) ->
    kNN match to CWV stations -> FIXTURES.md §7 lst_pixels shape.

    Everything after the kernel is embarrassingly parallel (broadcast-only
    joins), so the plan has exactly two exchanges end-to-end: the band-pair
    join and none after — and exactly TWO Python hops: the fused raster
    kernel, then spatial.enrich_pixels fusing cells+PIP+kNN (chaining the
    composable ops instead costs 3 extra full-row Arrow round trips; the
    fused op is row-for-row identical and each stage keeps its own oracle
    tests).
    """
    from . import spatial

    pixels = lst_pixels(
        build_enriched_with_grid(scenes, scene_meta, emissivities), window=window
    )
    return spatial.enrich_pixels(pixels, aoi_pdf, stations_pdf,
                                 k=knn_k, s2_level=s2_level, how="left")


def _halo_pieces(row, w: int, h: int, r: int) -> list[tuple]:
    """(rx, ry, dx, dy, (ys, xs)) for every piece tile (tile_x, tile_y)
    sends in a margin-r halo exchange: the whole tile to itself (dx = dy =
    0) and the r-wide edge strip or corner each 8-neighbour (rx, ry) needs.
    A tile narrower than the margin raises: slice(w - r, w) would wrap to
    the array end and the short strip land left-aligned in the pad."""
    if w < r or h < r:
        raise ValueError(
            f"halo margin r={r} exceeds tile dims {w}x{h} "
            f"(scene {row.scene_id}, tile "
            f"({int(row.tile_x)},{int(row.tile_y)})); retile "
            "with tiles at least r pixels on each side")
    xs = {-1: slice(0, r), 0: slice(None), 1: slice(w - r, w)}
    ys = {-1: slice(0, r), 0: slice(None), 1: slice(h - r, h)}
    return [(row.tile_x + dx, row.tile_y + dy, dx, dy, (ys[dy], xs[dx]))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if row.tile_x + dx >= 0 and row.tile_y + dy >= 0]


def _halo_pad(strips: list, col: str, dt: str, w: int, h: int, r: int,
              pad_dt: str = "<f8") -> np.ndarray:
    """One tile's (h+2r, w+2r) plane mosaicked from the ``col`` pieces of
    its received strips; a missing neighbour stays NaN (true scene edge)."""
    pad = np.full((h + 2 * r, w + 2 * r), np.nan, dtype=pad_dt)
    for s in strips:
        # sender = receiver - (dx,dy): a dx=+1 piece came from the left
        # neighbor, so it lands on the padded-left strip, etc.
        x0 = 0 if s.dx == 1 else (r + w if s.dx == -1 else r)
        y0 = 0 if s.dy == 1 else (r + h if s.dy == -1 else r)
        pad[y0:y0 + s.ph, x0:x0 + s.pw] = \
            np.frombuffer(getattr(s, col), dtype=dt).reshape(s.ph, s.pw)
    return pad


_HALO_KEY = ["scene_id", "rx", "ry"]
_STRIP_KEY = [StructField("scene_id", StringType()),
              StructField("rx", IntegerType()),         # receiving tile key
              StructField("ry", IntegerType()),
              StructField("dx", IntegerType()),         # where the piece sits
              StructField("dy", IntegerType())]


def lst_tiles_halo(enriched: DataFrame, window: int = C.DEFAULT_CWV_WINDOW) -> DataFrame:
    """Fused kernel with cross-tile halo exchange: scene-mosaic semantics.

    ``lst_tiles`` reproduces the reference exactly at tile-as-scene
    granularity (windows hanging off a tile -> NULL). For seamless scene
    mosaics the CWV window must see r = window//2 pixels of the 8 neighbor
    tiles. Implemented as the classic halo exchange, Spark-style:

      pass 1 (mapInArrow):   decode once, emit the center tile plus the 8
                             r-wide DN edge strips each neighbor needs
                             (shuffle volume ~ (1 + 2r(w+h)/(wh))x, NOT 9x);
      shuffle:               hash on the receiving tile key, sorted within
                             partitions;
      pass 2 (mapInArrow):   assemble the (h+2r, w+2r) padded arrays
                             (missing neighbors = NaN = true scene edge),
                             run the same fused kernel, crop the halo.

    Tiles must be at least r pixels on each side.
    """
    r = window // 2
    strip_schema = StructType(_STRIP_KEY + [
        StructField("piece10", BinaryType()),    # u16le DN pieces (f32le when bt=1)
        StructField("piece11", BinaryType()),
        StructField("pw", IntegerType()),
        StructField("ph", IntegerType()),
        StructField("bt", IntegerType()),        # 1 = pieces are Kelvin BT f32le
        # center-only passthrough (None on strips)
        StructField("image_id", StringType()),
        StructField("caption", StringType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("emissivity_b10", DoubleType()),
        StructField("emissivity_b11", DoubleType()),
    ] + [StructField(k, DoubleType()) for k in META_COLS])

    def emit_strips(row, w, h):
        bt_in = _bt_input(row.fmt_b10, row.fmt_b11)
        pieces = _halo_pieces(row, w, h, r)
        # BT tiles carry float Kelvin: pieces travel as f32le and the bt flag
        # tells assembly to skip DN->BT (same contract as the batch path's
        # bt_input)
        piece_dt = "<f4" if bt_in else "<u2"
        # u16le and f32bt whole-tile center pieces ARE the stored payload
        passthrough = (row.fmt_b10 == codecs.FMT_RAW
                       and row.fmt_b11 == codecs.FMT_RAW) or bt_in
        dn10 = np.asarray(codecs.decode_tile_dn(row.bytes_b10, w, h, row.fmt_b10), dtype=piece_dt)
        dn11 = np.asarray(codecs.decode_tile_dn(row.bytes_b11, w, h, row.fmt_b11), dtype=piece_dt)
        center_tail = (row.image_id_b10, row.caption_b10, w, h,
                       float(row.emissivity_b10), float(row.emissivity_b11),
                       *(float(getattr(row, k)) for k in META_COLS))
        strip_tail = (None, None, w, h) + (None,) * (2 + len(META_COLS))
        for rx, ry, dx, dy, sl in pieces:
            center = dx == 0 and dy == 0
            if center and passthrough:
                b10, b11, pw, ph = row.bytes_b10, row.bytes_b11, w, h
            else:
                p10 = np.ascontiguousarray(dn10[sl])
                b10, b11 = p10.tobytes(), np.ascontiguousarray(dn11[sl]).tobytes()
                ph, pw = p10.shape
            yield (rx, ry, dx, dy, b10, b11, pw, ph, 1 if bt_in else 0,
                   *(center_tail if center else strip_tail))

    def padded(acc: list):
        """(center strip, pad10, pad11) of one tile, or None for halo strips
        sent to a tile outside the input (scene edge)."""
        center = next((s for s in acc if s.dx == 0 and s.dy == 0
                       and s.image_id is not None), None)
        if center is None:
            return None
        for s in acc:
            # cross-tile analog of the per-tile mixed DN/BT guard in
            # emit_strips: a neighbor strip whose bt flag differs from
            # the center would mosaic raw DN counts into a Kelvin plane
            # (or vice versa), silently corrupting CWV/LST at borders.
            if bool(s.bt) != bool(center.bt):
                raise ValueError(
                    f"mixed DN/BT strips for tile "
                    f"({center.scene_id}, {center.rx}, {center.ry}): "
                    f"center bt={bool(center.bt)} but strip from "
                    f"d=({s.dx},{s.dy}) has bt={bool(s.bt)}")
        w, h, dt = int(center.w), int(center.h), "<f4" if center.bt else "<u2"
        return (center, _halo_pad(acc, "piece10", dt, w, h, r),
                _halo_pad(acc, "piece11", dt, w, h, r))

    def key(t):
        c = t[0]
        return (tuple(float(getattr(c, k)) for k in META_COLS),
                float(c.emissivity_b10), float(c.emissivity_b11), False,
                bool(c.bt), t[1].shape)

    def cropped(t, planes: dict):
        """The center tile's ids and kernel planes without the halo."""
        c = t[0]
        w, h = int(c.w), int(c.h)
        return ((c.image_id, c.scene_id, int(c.rx), int(c.ry), w, h, c.caption),
                {k: v[r:r + h, r:r + w] for k, v in planes.items()})

    def kernel_batch(pending: list) -> pa.RecordBatch:
        # pads are float, so BT takes the arithmetic path
        cols = _tile_cols(map(cropped, pending, _fused_stacked(
            pending, window, key, lambda t: (t[1], t[2], None, None, None))))
        pending.clear()
        return _batch_from_cols(cols, TILE_SCHEMA)

    def assemble(tiles) -> Iterator[pa.RecordBatch]:
        pending: list = []
        for acc in tiles:
            t = padded(list(acc))
            if t is not None:
                pending.append(t)
            if len(pending) >= _KERNEL_STACK:
                yield kernel_batch(pending)
        if pending:
            yield kernel_batch(pending)

    return _grouped(_tile_rows(enriched, strip_schema, emit_strips, ("scene_id",)),
                    _HALO_KEY, (), TILE_SCHEMA, assemble)


def composite_pixels(pixels: DataFrame,
                     keys: tuple[str, ...] = ("tile_x", "tile_y", "px", "py",
                                              "lon", "lat"),
                     ) -> DataFrame:
    """Per-pixel temporal composite across revisits of one footprint — the
    classic cloud-free LST product (median of the valid observations at each
    pixel; clouds/NaN were already dropped by lst_pixels(valid_only=True),
    so n_obs varies per pixel exactly like a real compositing stack).

    lon/lat are part of the default key: revisits of one footprint are
    grid-aligned (bit-identical centroids), while same-index pixels from a
    DIFFERENT footprint have different centroids and land in their own
    groups instead of silently merging into one composite.

    One shuffle on the pixel key, partial counts map-side. ``percentile`` is
    the exact aggregate; at 100 TB swap it for ``approx_percentile`` (GK
    sketch, merge-able — q_sketch_stats attests that path's error bound).
    """
    return pixels.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.expr("percentile(lst_k, 0.5)").alias("lst_median"),
        F.min("lst_k").alias("lst_lo"),
        F.max("lst_k").alias("lst_hi"),
    )


def mosaic_pixels(pixels: DataFrame,
                  keys: tuple[str, ...] = ("tile_x", "tile_y", "px", "py",
                                           "lon", "lat"),
                  priority=None) -> DataFrame:
    """Priority mosaic across revisits (r.patch analog): at each pixel keep
    the single BEST valid observation instead of a median — the default
    priority is ascending CWV (the driest atmosphere gives the most
    reliable split-window retrieval), tie-broken by scene_id so the result
    is deterministic.

    Implemented as ONE min-over-struct aggregate: lexicographic struct min
    is partial-aggregable, so the whole mosaic is a single map-side-
    combining shuffle with no per-group buffering (cheaper than the
    composite's exact percentile). ``priority`` accepts any Column; NaN
    priorities sort last under Spark ordering, so cloud-degraded
    observations lose to clean ones automatically. A SQL NULL priority is
    coalesced to NaN first — a bare NULL sorts FIRST in a struct min, which
    would make the degraded observation beat every valid one.
    """
    pr = priority if priority is not None else F.col("cwv")
    pr = F.coalesce(pr.cast("double"), F.lit(float("nan")))
    chosen = F.min(F.struct(pr.alias("p"), F.col("scene_id").alias("s"),
                            F.col("lst_k").alias("v")))
    agg = pixels.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_obs"), chosen.alias("ch"))
    return agg.select(
        *keys, "n_obs",
        F.col("ch.v").alias("lst_mosaic"),
        F.col("ch.s").alias("src_scene"),
        F.col("ch.p").alias("src_priority"),
    )


def rasterize_pixels(
    pixels: DataFrame, w: int, h: int, value_col: str = "lst_k"
) -> DataFrame:
    """Vector -> raster: scatter pixel rows back into per-tile float32 arrays
    ("rasterized back tile-by-tile", BASELINE.json:6). Inverse of lst_pixels
    up to dropped-NULL cells (which come back as NaN). One shuffle on the
    tile key, then an embarrassingly-parallel grouped scatter."""
    out_schema = StructType([
        StructField("image_id", StringType()),
        StructField("scene_id", StringType()),
        StructField("tile_x", IntegerType()),
        StructField("tile_y", IntegerType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("raster_bytes", BinaryType()),
        StructField("n_valid", LongType()),
    ])

    def scatter(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # the packed lists are read as flat numpy columns: a Python object
        # per pixel (a row tuple, or a list item through _row_map) measured
        # 1.2-4.6x slower than a pandas scatter per tile
        arrow = _arrow_schema(out_schema)
        for batch in batches:
            px, py, v = (batch.column(c).flatten().to_numpy(zero_copy_only=False)
                         for c in ("px", "py", "v"))
            ends = np.cumsum(batch.column("px").value_lengths().to_numpy())
            planes, n_valid = [], []
            for lo, hi in zip(np.r_[0, ends[:-1]], ends):
                grid = np.full((h, w), np.nan, dtype=np.float32)
                grid[py[lo:hi], px[lo:hi]] = v[lo:hi]
                planes.append(grid.tobytes())
                n_valid.append(int(np.isfinite(grid).sum()))
            n = batch.num_rows
            yield _arrow_batch([*(batch.column(c).to_pylist()
                                  for c in ("image_id", *_TILE_KEY)),
                                [w] * n, [h] * n, planes, n_valid], arrow)

    # each tile's pixels become one row of aligned lists in a Catalyst
    # aggregate (partial map-side); collect_list skips NULLs, so NULL -> NaN
    src = pixels.groupBy(*_TILE_KEY).agg(
        F.first("image_id").alias("image_id"),
        F.collect_list("px").alias("px"), F.collect_list("py").alias("py"),
        F.collect_list(F.coalesce(F.col(value_col).cast("double"),
                                  F.lit(float("nan")))).alias("v"))
    return src.mapInArrow(scatter, out_schema)


FOCAL_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("mean_bytes", BinaryType()),   # float32 LE planes
    StructField("std_bytes", BinaryType()),
    StructField("min_bytes", BinaryType()),
    StructField("max_bytes", BinaryType()),
    StructField("n_valid", LongType()),        # pixels with >= 1 valid cell
])


def focal_stats_tiles(tiles: DataFrame, window: int = 5,
                      src_col: str = "lst_bytes",
                      halo: bool = False) -> DataFrame:
    """Neighborhood (focal) statistics over a tile raster column — the
    r.neighbors companion product: smooth/roughness/extreme maps of the
    LST (or CWV) plane produced by ``lst_tiles``.

    Raster in, raster out: decodes the f32 plane per tile, runs
    kernels.focal_stats (valid-cell semantics; see its docstring for how
    this differs from the CWV poison window), emits f32 mean/std/min/max
    planes. One mapInArrow hop, embarrassingly parallel per tile.

    ``halo=False`` is tile-LOCAL (windows do not cross borders).
    ``halo=True`` routes through halo_plane_tiles first: windows see
    window//2 pixels of the 8 neighbor tiles, making the output EXACTLY
    equal to running the kernel on the assembled whole-scene plane
    (tests pin this tile-for-tile) at ~(1 + 2r(w+h)/(wh))x shuffle cost.
    """
    def kernel(plane, core):
        r = K.focal_stats(plane, window=window)
        return (*(_f32(r[k][core]) for k in ("mean", "std", "min", "max")),
                int((r["count"][core] > 0).sum()))

    return _plane_map(tiles, window // 2 if halo else 0, src_col,
                      FOCAL_SCHEMA, kernel)


def trend_pixels(pixels: DataFrame,
                 keys: tuple[str, ...] = ("tile_x", "tile_y", "px", "py",
                                          "lon", "lat"),
                 t_col: str | None = None) -> DataFrame:
    """Per-pixel linear LST trend across revisits — the warming-trend map
    companion to composite_pixels. Ordinary least squares per pixel via the
    closed-form sums (n, Σt, Σy, Σt², Σty): every term is a partial-
    aggregable SUM, so the whole trend map is ONE map-side-combining
    shuffle on the pixel key with JVM-side arithmetic only — unlike the
    composite's exact percentile there is no per-group buffering at all.

    ``t_col`` names the time column (e.g. epoch days); by default the
    revisit index is parsed from the ``...R<k>`` scene ids the revisit
    fixture uses, making slope "Kelvin per revisit step". Pixels with < 2
    observations (or zero time variance) get NULL slope/intercept.
    """
    t = (F.col(t_col) if t_col is not None
         else F.regexp_extract("scene_id", r"R(\d+)$", 1).cast("double"))
    y = F.col("lst_k")
    agg = pixels.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(t).alias("st"), F.sum(y).alias("sy"),
        F.sum(t * t).alias("stt"), F.sum(t * y).alias("sty"),
    )
    den = F.col("n_obs") * F.col("stt") - F.col("st") * F.col("st")
    slope = F.when(
        (F.col("n_obs") >= 2) & (den != 0.0),
        (F.col("n_obs") * F.col("sty") - F.col("st") * F.col("sy")) / den)
    intercept = (F.col("sy") - F.col("slope") * F.col("st")) / F.col("n_obs")
    return (
        agg.withColumn("slope", slope)
        .withColumn("intercept",
                    F.when(F.col("slope").isNotNull(), intercept))
        .drop("st", "sy", "stt", "sty")
    )


GRADIENT_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("slope_bytes", BinaryType()),    # float32 LE planes
    StructField("aspect_bytes", BinaryType()),
    StructField("hillshade_bytes", BinaryType()),
    StructField("n_valid", LongType()),
    StructField("slope_max", DoubleType()),
])


def gradient_tiles(tiles: DataFrame, cell: float = 1.0,
                   src_col: str = "lst_bytes",
                   halo: bool = False) -> DataFrame:
    """Horn 3x3 gradient products per tile (r.slope.aspect analog):
    slope / downslope compass aspect / hillshade planes of any raster
    column — over LST it is the thermal-gradient map (front detection).
    One mapInArrow hop. ``halo=False`` is tile-local (poison-NULL ring at
    tile borders, same trade as the CWV window); ``halo=True`` exchanges a
    1-pixel halo first, making the output exactly the whole-scene-mosaic
    gradient (tests pin tile-for-tile equality). Kernel golden-direction
    vectors in tests/test_kernels.py."""
    def kernel(plane, core):
        r = {k: v[core] for k, v in K.slope_aspect(plane, cell=cell).items()}
        n_valid, _, smax, _ = _finite_stats(r["slope_deg"])
        return (_f32(r["slope_deg"]), _f32(r["aspect_deg"]),
                _f32(r["hillshade"]), n_valid, smax)

    return _plane_map(tiles, 1 if halo else 0, src_col, GRADIENT_SCHEMA,
                      kernel)


HALO_PLANE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("pad_bytes", BinaryType()),   # (h+2r, w+2r) float LE
                                              # (dtype of the src plane)
])


def halo_plane_tiles(tiles: DataFrame, r: int,
                     src_col: str = "lst_bytes",
                     dtype: str = "<f4") -> DataFrame:
    """Generic halo exchange for ONE float plane column of a tile table:
    every tile comes back with an (h+2r, w+2r) NaN-padded plane holding
    r pixels of each 8-neighbor (missing neighbor = NaN = true scene
    edge). The window/gradient operators consume this to get EXACT
    whole-scene-mosaic semantics from tile-local kernels.

    ``dtype`` is the plane encoding of ``src_col`` ("<f4" default; "<f8"
    for planes where f32 rounding is not acceptable, e.g. upstream-cell
    counts in hydro.flow_accum_tiles that must stay exact past 2**24).
    ``pad_bytes`` comes back in the same dtype.

    Same strip geometry and exchange as the band-pair halo in
    lst_tiles_halo (_halo_pieces, _halo_pad, and `_group_rows` on the
    receiving tile key): strips are r-wide (shuffle ~ (1 + 2r(w+h)/(wh))
    x the plane bytes, not 9x), the shuffle is a plain repartition on the
    receiving tile key, assembly streams sorted partitions.
    """
    if r < 1:
        raise ValueError(f"halo margin must be >= 1, got {r}")
    if dtype not in ("<f4", "<f8"):
        raise ValueError(f"unsupported plane dtype {dtype!r}")
    # NOTE: no spread_tiles here — the halo's own repartition spreads every
    # downstream consumer, and the strip emit is cheap enough that paying
    # an extra plane shuffle to parallelize it measures net-negative
    strip_schema = StructType(_STRIP_KEY + [
        StructField("piece", BinaryType()),
        StructField("pw", IntegerType()),
        StructField("ph", IntegerType()),
        StructField("image_id", StringType()),   # center-only passthrough
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
    ])
    def emit(row, w, h):
        pieces = _halo_pieces(row, w, h, r)
        plane = np.frombuffer(getattr(row, src_col), dtype=dtype).reshape(h, w)
        for rx, ry, dx, dy, sl in pieces:
            center = dx == 0 and dy == 0
            if center:
                piece, pw, ph = getattr(row, src_col), w, h
            else:
                p = np.ascontiguousarray(plane[sl], dtype=dtype)
                piece, (ph, pw) = p.tobytes(), p.shape
            yield (rx, ry, dx, dy, piece, pw, ph,
                   getattr(row, "image_id", None) if center else None, w, h)

    def assemble(strips):
        acc = list(strips)
        # a tile key that only received strips (outside the input grid)
        # has no center piece: it is scene margin, not a tile — no row
        center = next((s for s in acc if s.dx == 0 and s.dy == 0), None)
        if center is not None:
            w, h = int(center.w), int(center.h)
            yield (center.image_id, center.scene_id, int(center.rx), int(center.ry),
                   w, h, _halo_pad(acc, "piece", dtype, w, h, r, dtype).tobytes())

    return _group_rows(_tile_rows(tiles, strip_schema, emit, ("scene_id",)),
                       _HALO_KEY, (), HALO_PLANE_SCHEMA, assemble)


def _plane_map(tiles: DataFrame, m: int, src_col: str, schema: StructType,
               kernel, ids=_PLANE_IDS) -> DataFrame:
    """_tile_map of a kernel over one f32 plane column, halo optional.

    With m == 0 the tiles go in as they are; with m > 0 they go through
    halo_plane_tiles first, so the plane comes with m pixels of each
    8-neighbour. ``kernel(plane, core)`` gets the decoded (h+2m, w+2m)
    float64 plane and ``core``, the slices that crop an array of that
    shape to the tile's own cells, and returns the values after ``ids``."""
    src = halo_plane_tiles(tiles, r=m, src_col=src_col) if m else tiles
    col = "pad_bytes" if m else src_col

    def fn(row, w, h):
        plane = codecs.decode_f32bt(getattr(row, col), w + 2 * m, h + 2 * m)
        return kernel(plane, (slice(m, m + h), slice(m, m + w)))

    return _tile_map(src, schema, fn, ids)


def _halo_fixpoint(state: DataFrame, exchange, step, schema: StructType,
                   max_rounds: int, name: str) -> DataFrame:
    """Iterate a tile state table to its fixpoint. Each round
    ``exchange(state)`` builds the round's input (the operator's state
    halo joined to its static pads), ``step`` maps it tile by tile to the
    next ``schema`` state with a per-tile ``changed`` flag, and the result
    is persisted with localCheckpoint. Returns the state of the first
    round in which no tile changed; raises after ``max_rounds`` rounds
    without one."""
    for _ in range(max_rounds):
        state = _tile_map(exchange(state), schema, step, _TILE_IDS) \
            .localCheckpoint()
        if state.filter("changed").count() == 0:
            return state
    raise RuntimeError(f"{name} did not converge in {max_rounds} rounds")


CONV_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("conv_bytes", BinaryType()),
    StructField("n_valid", LongType()),
])


def convolve_tiles(tiles: DataFrame, weights, divisor: float | None = None,
                   src_col: str = "lst_bytes",
                   halo: bool = True) -> DataFrame:
    """Custom matrix filter over a tile raster column — the r.mfilter
    analog (arbitrary user kernel: sharpen, emboss, directional gradient,
    asymmetric smoothing), with the GRASS NULL/divisor conventions
    implemented in kernels.convolve_plane.

    ``weights`` must be an odd-dimensioned 2-D matrix (SQUARE when
    halo=True — halo_plane_tiles pads one margin). halo=True (default)
    exchanges max(kh,kw)//2 neighbor-pixel strips first so the output is
    EXACTLY the whole-scene convolution, tile for tile; halo=False stays
    tile-local (windows see NULL outside the tile). One mapInArrow hop
    either way; the weights matrix is a tiny task closure constant.
    """
    weights = np.asarray(weights, dtype=np.float64)
    if weights.ndim != 2 or any(s % 2 != 1 for s in weights.shape):
        raise ValueError(
            f"weights must be an odd-dimensioned 2-D matrix, "
            f"got shape {weights.shape}")
    if halo and weights.shape[0] != weights.shape[1]:
        raise ValueError(
            "halo=True needs a square weights matrix (the halo margin is "
            "one radius); pass halo=False for rectangular kernels")
    def kernel(plane, core):
        p32 = K.convolve_plane(plane, weights, divisor)[core].astype("<f4")
        return p32.tobytes(), int(np.isfinite(p32).sum())

    return _plane_map(tiles, weights.shape[0] // 2 if halo else 0, src_col,
                      CONV_SCHEMA, kernel)


GROW_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("grown_bytes", BinaryType()),
    StructField("n_grown", LongType()),
])


def _filled(plane: np.ndarray, core: tuple, out: np.ndarray) -> tuple:
    """(grown_bytes, n_grown) of a grow/fill kernel's output plane."""
    p32 = out[core].astype("<f4")
    return p32.tobytes(), int((np.isfinite(p32) & ~np.isfinite(plane[core])).sum())


def grow_tiles(tiles: DataFrame, radius: float = 1.01,
               value: float | None = None,
               src_col: str = "lst_bytes",
               halo: bool = True) -> DataFrame:
    """r.grow analog: expand the non-NULL area of a tile raster column by
    a Euclidean radius — close QA-mask pinholes before zonal/series
    consumers, or grow class patches. New cells take the nearest valid
    cell's value (or the constant ``value``); kernels.grow_plane defines
    the deterministic tie-break.

    halo=True (default) exchanges floor(radius) neighbor-pixel strips so
    growth crosses tile borders EXACTLY like one whole-scene pass;
    halo=False stays tile-local. One mapInArrow hop either way.
    """
    if radius <= 0:
        raise ValueError(f"radius must be positive, got {radius}")
    def kernel(plane, core):
        return _filled(plane, core, K.grow_plane(plane, radius, value))

    return _plane_map(tiles, int(np.floor(radius)) if halo else 0, src_col,
                      GROW_SCHEMA, kernel)


def fillnulls_tiles(tiles: DataFrame, radius: float = 3.0,
                    power: float = 2.0, src_col: str = "lst_bytes",
                    halo: bool = True, method: str = "idw",
                    sweeps: int | None = None) -> DataFrame:
    """r.fillnulls analog over the tile table: interpolation of NULL holes
    from the valid cells within a Euclidean radius — the cloud-hole repair
    companion to grow_tiles (which copies the single nearest value).
    ``method="idw"`` blends all in-range neighbors; ``method="spline"``
    refines that fill with ``sweeps`` Jacobi sweeps of the membrane
    equation (kernels.fillnulls_plane — the tension→∞ RST limit).
    halo=True (default) exchanges floor(radius) strips — plus ``sweeps``
    more for the spline, whose Jacobi dependence radius grows one cell per
    sweep — so filling crosses tile borders exactly like one whole-scene
    kernels.fillnulls_plane pass. Output reuses GROW_SCHEMA (grown_bytes /
    n_grown = filled cells)."""
    if radius <= 0:
        raise ValueError(f"radius must be positive, got {radius}")
    if method not in ("idw", "spline"):
        raise ValueError(f"unknown fillnulls method {method!r}")
    k_sw = (2 * int(np.floor(radius)) if sweeps is None
            else int(sweeps)) if method == "spline" else 0
    def kernel(plane, core):
        return _filled(plane, core, K.fillnulls_plane(
            plane, radius, power, method=method,
            sweeps=k_sw if method == "spline" else None))

    return _plane_map(tiles, (int(np.floor(radius)) + k_sw) if halo else 0,
                      src_col, GROW_SCHEMA, kernel)

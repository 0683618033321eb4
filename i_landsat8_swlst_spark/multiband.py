"""Multi-band raster statistics — the i.pca / i.landsat.rgb analogs.

Principal-component transform over co-registered raster planes (GRASS
``i.pca``; SURVEY.md §2 imagery-group surface) and global-histogram
contrast operations, structured for the 100 TB execution model:

- **Moments pass** (``band_moments``): per-tile partial sums of the
  cross-moment matrix — ``n``, ``Σx_i``, ``Σx_i·x_j`` over pixels valid in
  EVERY band — in one mapInArrow hop, then ONE map-side-combining groupBy.
  What reaches the driver is B + B(B+1)/2 + 1 doubles per scene, never
  pixels, so the pass costs one scan regardless of scale.
- **Eigendecomposition on the driver**: the covariance matrix is B×B
  (bands, not pixels); ``np.linalg.eigh`` plus a deterministic sign
  convention (the largest-|loading| element of every component is
  positive, ties to the lower band index by eigh's ordering).
- **Projection pass** (``pca_tiles``): the per-scene model rides as a TINY
  DataFrame broadcast-joined onto the tile table on ``scene_id`` (never a
  closure dict — a dict serializes into every task and grows O(scenes),
  which at 10^5+ scenes is a multi-MB tax per task). The join is
  broadcast, so tiles never shuffle; the projection itself is a second
  mapInArrow hop reading the model columns off each row.
  ``pca_model_df`` computes the eigendecomposition DISTRIBUTED
  (one row map over the tiny one-row-per-scene moments), so no pixel- or
  scene-proportional state ever lands on the driver unless the caller
  asks for the dict form.

Float caveat, stated rather than hidden: Spark's cross-tile ``sum`` order
is nondeterministic, so moments (hence eigenvectors) can differ from a
serial fold by ~1 ulp per tile. Tests therefore compare against the
whole-scene numpy oracle with 1e-8 relative tolerance; the per-tile
partials themselves are exact f64 sums over f32 planes.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from . import codecs
from .pipeline import (
    _PLANE_IDS, _TILE_IDS, _TILE_KEY, _group_rows, _row_map, _tile_map, _tile_rows,
)

_MOMENT_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("n", LongType()),
    StructField("sums", ArrayType(DoubleType())),  # B means, then upper-tri Σx_i·x_j
])


def _decode_stack(row, band_cols: list[str]) -> np.ndarray:
    """(h*w, B) float64 stack of one tile's planes."""
    w, h = int(row.w), int(row.h)
    return np.stack(
        [codecs.decode_f32bt(getattr(row, c), w, h).astype(np.float64).ravel()
         for c in band_cols], axis=1)


def _kernel_src(tiles: DataFrame, *cols: str) -> DataFrame:
    """mapInArrow cannot column-prune: keep the plane-id columns ``tiles``
    has and the planes a per-tile kernel reads, so sibling planes never
    serialize through Arrow."""
    ids = [c for c in _PLANE_IDS if c in tiles.columns]
    return tiles.select(*dict.fromkeys([*ids, *cols]))


def _moment_sums(x: np.ndarray) -> np.ndarray:
    """ΣX (B values), then the upper-triangular ΣX·Xᵀ of an (n, B) stack:
    exact f64 partials within the tile."""
    return np.concatenate([x.sum(axis=0), (x.T @ x)[np.triu_indices(x.shape[1])]])


def _positional_sum(parts: DataFrame, keys: list[str]) -> DataFrame:
    """The partials fold: (*keys, n, sums) rows summed position by position
    per ``keys`` in ONE map-side-combining aggregation, then the positions
    collected back into one ordered ``sums`` array."""
    return (
        parts.select(*keys, "n", F.posexplode("sums").alias("pos", "v"))
        .groupBy(*keys, "pos")
        .agg(F.sum("v").alias("v"),
             # n repeats across a part's positions; fold it once
             F.sum(F.when(F.col("pos") == 0, F.col("n"))).alias("n_part"))
        .groupBy(*keys)
        .agg(F.max("n_part").alias("n"),
             F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("sv"))
        .select(*keys, "n", F.expr("transform(sv, s -> s.v)").alias("sums"))
    )


def band_moments(tiles: DataFrame, band_cols: list[str]) -> DataFrame:
    """Per-scene cross-moments of the band stack: one tiny row per scene
    holding n (pixels valid in every band), ΣX (B values) and the
    upper-triangular ΣX·Xᵀ (B(B+1)/2 values). Pixels never shuffle: the
    tile pass emits one (scene, partials) row per tile, and the positional
    sum is a single map-side-combining aggregation."""
    def fn(row, w, h):
        x = _decode_stack(row, band_cols)
        x = x[np.isfinite(x).all(axis=1)]
        yield x.shape[0], _moment_sums(x)

    return _positional_sum(_tile_rows(tiles, _MOMENT_SCHEMA, fn, ("scene_id",)),
                           ["scene_id"])


def _eig_components(n: int, sums: list[float], b: int, k: int):
    """Covariance (ddof=1) from the moment vector, then the top-k
    eigen-system with the deterministic sign convention."""
    mean = np.asarray(sums[:b])
    if n < 2:
        raise ValueError(f"PCA needs >= 2 valid pixels per scene, got {n}")
    mean = mean / n
    cov = np.zeros((b, b))
    iu = np.triu_indices(b)
    cov[iu] = sums[b:]
    cov = cov + np.triu(cov, 1).T
    cov = (cov - n * np.outer(mean, mean)) / (n - 1)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    vals, vecs = vals[order], vecs[:, order]
    for j in range(vecs.shape[1]):  # largest-|loading| positive
        if vecs[np.argmax(np.abs(vecs[:, j])), j] < 0:
            vecs[:, j] = -vecs[:, j]
    total = max(float(np.trace(cov)), 1e-300)
    return mean, vecs, vals, [float(v) / total for v in vals]


_PCA_MODEL_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("mean", ArrayType(DoubleType())),       # B values
    StructField("comps", ArrayType(DoubleType())),      # (B, k) row-major
    StructField("eigvals", ArrayType(DoubleType())),
    StructField("explained", ArrayType(DoubleType())),
])


def pca_model_df(tiles: DataFrame, band_cols: list[str],
                 k: int | None = None) -> DataFrame:
    """Per-scene PCA model as a TINY DataFrame (one row per scene): the
    eigendecomposition runs DISTRIBUTED, one row map over the moments
    rows, so nothing scene-proportional ever reaches the driver. This is
    the scale path; ``pca_components`` is its collect()ed dict form."""
    b = len(band_cols)
    k = b if k is None else min(k, b)

    def eig(row):
        mean, vecs, vals, expl = _eig_components(row.n, row.sums, b, k)
        yield mean.tolist(), vecs.ravel().tolist(), vals.tolist(), expl

    return _row_map(band_moments(tiles, band_cols), _PCA_MODEL_SCHEMA, eig,
                    ("scene_id",))


def pca_components(tiles: DataFrame, band_cols: list[str],
                   k: int | None = None) -> dict[str, dict]:
    """Collect the per-scene PCA model: {scene_id: {mean, components (B,k),
    eigvals, explained}} — the only driver-side materialization is
    scene-count × B(B+3)/2 doubles."""
    b = len(band_cols)
    k = b if k is None else min(k, b)
    out = {}
    for r in pca_model_df(tiles, band_cols, k).collect():
        out[r["scene_id"]] = {
            "mean": np.asarray(r["mean"]),
            "components": np.asarray(r["comps"]).reshape(b, k),
            "eigvals": list(r["eigvals"]),
            "explained": list(r["explained"])}
    return out


def _pca_schema(k: int) -> StructType:
    fields = [
        StructField("image_id", StringType()),
        StructField("scene_id", StringType()),
        StructField("tile_x", IntegerType()),
        StructField("tile_y", IntegerType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("n_valid", LongType()),
    ]
    for i in range(1, k + 1):
        fields.append(StructField(f"pc{i}_bytes", BinaryType()))
        fields.append(StructField(f"pc{i}_mean", DoubleType()))
    return StructType(fields)


def pca_tiles(tiles: DataFrame, band_cols: list[str], k: int | None = None,
              model: dict[str, dict] | None = None):
    """i.pca analog: project every tile's band stack onto the per-scene
    principal components. Returns (DataFrame of pc planes, model dict).

    The model reaches the executors as a TINY DataFrame broadcast-joined
    on scene_id (per scene: B + B×k doubles), NOT a closure dict — a
    closure grows O(scenes) and re-serializes into every task. The
    projection emits k f32 planes per tile with NaN wherever ANY input
    band is NaN — the same all-bands validity rule the moments pass used,
    so projected stats and moments agree."""
    import pandas as pd

    b = len(band_cols)
    k = b if k is None else min(k, b)
    spark = tiles.sparkSession
    if isinstance(model, DataFrame):
        # the unbounded-scene path: a pca_model_df output joins straight in,
        # the driver never materializes anything scene-proportional
        model_df = model.select("scene_id", "mean", "comps")
    else:
        model = pca_components(tiles, band_cols, k) if model is None else model
        model_df = spark.createDataFrame(
            pd.DataFrame([{"scene_id": s,
                           "mean": [float(v) for v in m["mean"]],
                           "comps": [float(v) for v in
                                     np.asarray(m["components"]).ravel()]}
                          for s, m in model.items()]),
            schema="scene_id string, mean array<double>, comps array<double>")
    schema = _pca_schema(k)

    def fn(row, w, h):
        x = _decode_stack(row, band_cols)
        ok = np.isfinite(x).all(axis=1)
        proj = (np.nan_to_num(x) - np.asarray(row.mean)) \
            @ np.asarray(row.comps).reshape(b, k)
        proj[~ok] = np.nan
        planes = [proj[:, i].reshape(h, w) for i in range(k)]
        return (int(ok.sum()),
                *[v for p in planes for v in (
                    p.astype("<f4").tobytes(),
                    float(np.nanmean(p)) if ok.any() else None)])

    # inner join: a scene without a model row (degenerate) cannot project
    src = _kernel_src(tiles, *band_cols).join(F.broadcast(model_df), on="scene_id",
                                              how="inner")
    return _tile_map(src, schema, fn, _PLANE_IDS), model


# --------------------------------------------------------------------------
# Global-histogram contrast operations — the r.colors -e (histogram
# equalization) / i.landsat.rgb percentile-stretch analog.
#
# Both need GLOBAL per-scene order statistics, which at 100 TB can't come
# from a sort: instead a fixed-bin histogram is folded in one scan (per-tile
# np.bincount -> tiny (scene, bin, count) rows -> ONE map-side-combining
# agg), the driver derives the cut points / CDF LUT from <= `bins` counts,
# and a second shuffle-free pass applies the LUT per tile. The binning
# formula is shared verbatim with the numpy oracle in tests, so results are
# bit-identical to a whole-scene serial computation (histogram methods are
# exact given the same bins — the approximation is the bin width itself,
# which is the documented contract, not a divergence).
# --------------------------------------------------------------------------

_RANGE_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("vmin", DoubleType()),
    StructField("vmax", DoubleType()),
])

_HIST_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("bin", IntegerType()),
    StructField("cnt", LongType()),
])


def _plane64(row, src_col: str) -> np.ndarray:
    return codecs.decode_f32bt(
        getattr(row, src_col), int(row.w), int(row.h)).astype(np.float64)


def _finite_range(buf: bytes, w: int, h: int) -> list[tuple[float, float]]:
    """[(min, max)] of a plane's finite cells; [] when it has none."""
    x = codecs.decode_f32bt(buf, w, h)
    x = x[np.isfinite(x)]
    return [(float(x.min()), float(x.max()))] if x.size else []


def scene_ranges_df(tiles: DataFrame, src_col: str) -> DataFrame:
    """Per-scene finite (min, max) of one plane column as a TINY DataFrame
    (scene_id, vmin, vmax) — one scan, one map-side-combining agg, nothing
    on the driver. Consumers broadcast-join it back onto the tile table on
    scene_id (texture / landscape / crosstab / stretch); a scene with zero
    finite pixels has no row, so those joins are LEFT and the kernels fall
    back to the (0.0, 1.0) dummy range (an all-NaN plane quantizes
    identically under any range)."""
    def fn(row, w, h):
        return _finite_range(getattr(row, src_col), w, h)

    from .pipeline import spread_tiles

    # mapInArrow cannot column-prune: select only what the scan reads so
    # sibling plane columns never serialize through Arrow for a range agg
    src = spread_tiles(tiles.select("scene_id", "w", "h", src_col))
    return (_tile_rows(src, _RANGE_SCHEMA, fn, ("scene_id",))
            .groupBy("scene_id")
            .agg(F.min("vmin").alias("vmin"), F.max("vmax").alias("vmax")))


def scene_ranges(tiles: DataFrame, src_col: str) -> dict[str, tuple]:
    """Dict form of scene_ranges_df (collected) — for driver-side oracles
    and small-scale callers; the engine's own consumers use the DataFrame
    form joined on scene_id."""
    return {r["scene_id"]: (float(r["vmin"]), float(r["vmax"]))
            for r in scene_ranges_df(tiles, src_col).collect()}


def _bin_plane(x: np.ndarray, vmin: float, vmax: float, bins: int) -> np.ndarray:
    """The shared binning formula (tests replicate it verbatim): linear in
    [vmin, vmax], right-edge value lands in the last bin."""
    span = max(vmax - vmin, 1e-300)
    return np.clip(((x - vmin) * (bins / span)).astype(np.int64), 0, bins - 1)


def scene_histograms_df(tiles: DataFrame, src_col: str,
                        ranges_df: DataFrame, bins: int) -> DataFrame:
    """Per-scene fixed-bin histogram as (scene_id, bin, cnt) rows: the
    per-scene range broadcast-joins onto the tiles, per-tile np.bincount,
    ONE map-side-combining agg. Only non-empty bins emit, so the exchange
    carries <= bins tiny rows per scene."""
    def fn(row, w, h):
        if row.vmin is not None:  # zero-finite scene: no histogram rows
            x = _plane64(row, src_col)
            c = np.bincount(_bin_plane(x[np.isfinite(x)], row.vmin, row.vmax, bins),
                            minlength=bins)
            yield from ((int(b), int(c[b])) for b in np.flatnonzero(c))

    src = (tiles.select("scene_id", "w", "h", src_col)
           .join(F.broadcast(ranges_df), on="scene_id", how="left"))
    return (_tile_rows(src, _HIST_SCHEMA, fn, ("scene_id",))
            .groupBy("scene_id", "bin").agg(F.sum("cnt").alias("cnt")))


def _scene_hist(rows, bins: int):
    """One scene's (bin, cnt, vmin, vmax) histogram rows folded to its
    last row (scene_id, vmin, vmax) and the dense int64 bin counts."""
    h = np.zeros(bins, dtype=np.int64)
    for r in rows:
        h[r.bin] = r.cnt
    return r, h


STRETCH_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("out_bytes", BinaryType()),   # uint8 plane; 0 also = NULL cell
    StructField("mask_bytes", BinaryType()),  # uint8 validity plane (1 = valid)
    StructField("n_valid", LongType()),
    StructField("out_mean", DoubleType()),
])


_LUT_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("vmin", DoubleType()),
    StructField("vmax", DoubleType()),
    StructField("lut_bytes", BinaryType()),   # bins x uint8
])


def stretch_luts_df(tiles: DataFrame, src_col: str = "lst_bytes",
                    mode: str = "equalize", lo_pct: float = 2.0,
                    hi_pct: float = 98.0, bins: int = 4096) -> DataFrame:
    """Per-scene stretch model as a TINY DataFrame (scene_id, vmin, vmax,
    lut_bytes): range agg, histogram agg, then the LUT derivation runs
    DISTRIBUTED (one grouped pass over each scene's <= bins histogram
    rows). Nothing scene-proportional touches the driver."""
    if mode not in ("equalize", "linear"):
        raise ValueError(f"unknown stretch mode {mode!r}")
    ranges_df = scene_ranges_df(tiles, src_col)
    hist = scene_histograms_df(tiles, src_col, ranges_df, bins)
    joined = hist.join(ranges_df, on="scene_id")  # both tiny, same key

    def stretch_lut(rows):
        r, h = _scene_hist(rows, bins)
        vmin, vmax = r.vmin, r.vmax
        n = int(h.sum())
        if n == 0:
            lut = np.zeros(bins, dtype=np.uint8)
        elif mode == "equalize":
            lut = np.round(np.cumsum(h) / n * 255.0).astype(np.uint8)
        else:
            width = max(vmax - vmin, 1e-300) / bins
            edges = vmin + width * np.arange(bins + 1)
            cum = np.concatenate([[0], np.cumsum(h)]) / n * 100.0
            cut_lo = float(np.interp(lo_pct, cum, edges))
            cut_hi = float(np.interp(hi_pct, cum, edges))
            centers = edges[:-1] + width / 2
            scaled = (centers - cut_lo) / max(cut_hi - cut_lo, 1e-300)
            lut = np.round(np.clip(scaled, 0.0, 1.0) * 255.0).astype(np.uint8)
        yield r.scene_id, vmin, vmax, lut.tobytes()

    return _group_rows(joined, ["scene_id"], [], _LUT_SCHEMA, stretch_lut)


def stretch_tiles(tiles: DataFrame, src_col: str = "lst_bytes",
                  mode: str = "equalize", lo_pct: float = 2.0,
                  hi_pct: float = 98.0, bins: int = 4096):
    """Render a float plane to display-ready uint8 with GLOBAL per-scene
    contrast: ``mode="equalize"`` maps each pixel to 255*CDF(bin(x))
    (histogram equalization, r.colors -e); ``mode="linear"`` clips at the
    lo/hi percentile cuts (interpolated within their bin — the standard
    2-98% satellite stretch) and scales linearly. Three scans total (range,
    histogram, apply), zero pixel shuffles; the per-scene LUT rides as a
    TINY DataFrame broadcast-joined onto the tiles (never a closure dict —
    that grows O(scenes) and re-serializes per task). A scene with zero
    finite pixels gets no LUT row and degrades to an all-zero output plane
    with an all-zero mask. Returns (DataFrame, luts) where luts[scene] is
    the bins->u8 mapping used (test oracle replays it serially; the dict
    is a driver collect of the tiny LUT table — use stretch_luts_df
    directly when scene count makes even that undesirable)."""
    # materialize the tiny LUT table ONCE (it feeds both the broadcast join
    # and the returned dict; without this the range+histogram scans would
    # re-run inside the apply pass's lineage)
    luts_df = stretch_luts_df(tiles, src_col, mode, lo_pct, hi_pct,
                              bins).localCheckpoint()

    def fn(row, w, h):
        x = _plane64(row, src_col)
        out = np.zeros(x.shape, dtype=np.uint8)
        if row.lut_bytes is None:     # zero-finite scene: no model
            ok = np.zeros(x.shape, dtype=bool)
        else:
            lut = np.frombuffer(row.lut_bytes, dtype=np.uint8)
            ok = np.isfinite(x)
            out[ok] = lut[_bin_plane(x[ok], row.vmin, row.vmax, bins)]
        return (out.tobytes(), ok.astype(np.uint8).tobytes(), int(ok.sum()),
                float(out[ok].mean()) if ok.any() else None)

    src = _kernel_src(tiles, src_col).join(F.broadcast(luts_df), on="scene_id", how="left")
    luts = {r["scene_id"]: np.frombuffer(r["lut_bytes"], dtype=np.uint8)
            for r in luts_df.collect()}
    return _tile_map(src, STRETCH_SCHEMA, fn, _PLANE_IDS), luts


# --------------------------------------------------------------------------
# Pan-sharpening — the i.pansharpen analog (Brovey and IHS fusion of a
# high-resolution panchromatic plane with lower-resolution spectral
# planes). Purely tile-local: the pan plane lives at an integer multiple of
# the band grid inside the SAME tile row, the bands upsample bilinearly
# (algebra.resample_plane — cell-center aligned, NULL-poisoning), and the
# fusion is closed-form arithmetic. One mapInArrow hop, zero shuffle.
# --------------------------------------------------------------------------


def _pansharp_schema(n_bands: int) -> StructType:
    fields = [
        StructField("image_id", StringType()),
        StructField("scene_id", StringType()),
        StructField("tile_x", IntegerType()),
        StructField("tile_y", IntegerType()),
        StructField("w", IntegerType()),      # OUTPUT (pan) dims
        StructField("h", IntegerType()),
        StructField("n_valid", LongType()),
    ]
    for i in range(1, n_bands + 1):
        fields.append(StructField(f"ps{i}_bytes", BinaryType()))
        fields.append(StructField(f"ps{i}_mean", DoubleType()))
    return StructType(fields)


def pansharpen_tiles(tiles: DataFrame, pan_col: str, band_cols: list[str],
                     method: str = "brovey", ratio: int = 2) -> DataFrame:
    """i.pansharpen analog: fuse a high-res pan plane with co-registered
    lower-res spectral planes of the SAME tile.

    ``pan_col`` holds a (ratio*h, ratio*w) f32 plane per tile (the Landsat
    15 m pan vs 30 m MS shape at the default ratio=2); a pan payload whose
    byte length disagrees raises. Bands upsample bilinearly to the pan
    grid, then:

    - ``method="brovey"``: out_i = band_i * pan / mean(bands) — the band
      ratios are preserved exactly, intensity comes from pan;
    - ``method="ihs"``: out_i = band_i + (pan - mean(bands)) — the
      classic intensity substitution in the simplified (I = channel
      mean) form.

    NULL semantics: an output pixel is NaN when the pan pixel is NaN or
    ANY upsampled band contribution is NaN (resample_plane's 4-corner
    poisoning); a zero Brovey intensity divides to NaN rather than +-inf.
    """
    from .algebra import resample_plane

    if method not in ("brovey", "ihs"):
        raise ValueError(f"unknown pansharpen method {method!r}")
    if len(band_cols) < 2:
        raise ValueError("pansharpen needs at least 2 spectral bands")
    if ratio < 1:
        raise ValueError(f"ratio must be >= 1, got {ratio}")
    nb = len(band_cols)
    schema = _pansharp_schema(nb)

    def fn(row, w, h):
        pw, ph = w * ratio, h * ratio
        pan_bytes = getattr(row, pan_col)
        if len(pan_bytes) != pw * ph * 4:
            raise ValueError(
                f"pan payload is {len(pan_bytes)} bytes, expected "
                f"{pw}x{ph} f32 = {pw * ph * 4} (ratio={ratio}, "
                f"scene {row.scene_id}, tile "
                f"({int(row.tile_x)},{int(row.tile_y)}))")
        pan = codecs.decode_f32bt(pan_bytes, pw, ph).astype(np.float64)
        stack = np.stack([resample_plane(
            codecs.decode_f32bt(getattr(row, c), w, h).astype(np.float64),
            ph, pw, "bilinear") for c in band_cols])
        intensity = stack.mean(axis=0)
        with np.errstate(invalid="ignore", divide="ignore"):
            if method == "brovey":
                out = stack * np.where(intensity == 0, np.nan, pan / intensity)
            else:
                out = stack + (pan - intensity)
        planes = [out[i].astype("<f4") for i in range(nb)]
        return (pw, ph, int(np.isfinite(out).all(axis=0).sum()),
                *[v for p in planes for v in (
                    p.tobytes(),
                    float(np.nanmean(p)) if np.isfinite(p).any() else None)])

    return _tile_map(_kernel_src(tiles, pan_col, *band_cols), schema, fn,
                     ("image_id", *_TILE_KEY))


# --------------------------------------------------------------------------
# Histogram matching — the i.histo.match analog (make every scene's plane
# distribution match a reference scene's, the standard radiometric
# normalization before mosaicking heterogeneous acquisitions). Reuses the
# fixed-bin histogram machinery: per-scene histograms fold distributed,
# the per-scene matching LUT derives DISTRIBUTED (one grouped pass per scene
# against the broadcast reference CDF), and the apply pass broadcast-joins
# the LUT — the stretch_tiles plan shape exactly.
# --------------------------------------------------------------------------

_MATCH_LUT_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("vmin", DoubleType()),
    StructField("vmax", DoubleType()),
    StructField("lut_bytes", BinaryType()),   # bins x f32 matched values
])

HISTO_MATCH_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("out_bytes", BinaryType()),   # f32 matched plane; NaN = NULL
    StructField("n_valid", LongType()),
    StructField("out_mean", DoubleType()),
])


def histo_match_tiles(tiles: DataFrame, ref_scene: str,
                      src_col: str = "lst_bytes",
                      bins: int = 4096):
    """i.histo.match analog: remap every scene's plane so its distribution
    matches the reference scene's, via CDF matching on fixed-bin
    histograms (the shared multiband._bin_plane contract).

    For a source value in bin i, the matched value is the reference
    quantile at the source CDF level of bin i's center rank —
    ``interp(cdf_src(i), cdf_ref, ref_bin_centers)`` — so both the bin
    width of the source range and of the reference range bound the
    approximation (documented contract, same as stretch/texture). The
    reference scene maps onto (approximately) itself; NaN stays NaN.

    Plan: range scan + histogram scan (both fold map-side to tiny rows),
    the reference histogram broadcasts into a DISTRIBUTED per-scene LUT
    derivation, and ONE shuffle-free apply pass broadcast-joins the LUTs.
    Returns (DataFrame, luts_df) where luts_df is the tiny per-scene LUT
    table (scene_id, vmin, vmax, lut_bytes as f32[bins])."""
    ranges_df = scene_ranges_df(tiles, src_col)
    # the range and histogram scans run once: the reference collect and the
    # LUT derivation both read this checkpoint
    hist = (scene_histograms_df(tiles, src_col, ranges_df, bins)
            .join(ranges_df, on="scene_id").localCheckpoint())
    ref_rows = hist.filter(F.col("scene_id") == ref_scene).collect()
    if not ref_rows:
        raise ValueError(f"reference scene {ref_scene!r} has no histogram "
                         "(unknown scene or zero finite pixels)")
    ref, ref_h = _scene_hist(ref_rows, bins)
    ref_width = max(ref.vmax - ref.vmin, 1e-300) / bins
    ref_centers = ref.vmin + (np.arange(bins) + 0.5) * ref_width
    ref_cdf = np.cumsum(ref_h) / max(int(ref_h.sum()), 1)

    def match_lut(rows):
        r, h = _scene_hist(rows, bins)
        n = max(int(h.sum()), 1)
        # CDF at each source bin's center rank (half the bin's own mass):
        # strictly inside (0, 1], monotone, so the interp is well-defined
        cdf = (np.cumsum(h) - h / 2.0) / n
        lut = np.interp(cdf, ref_cdf, ref_centers,
                        left=ref_centers[0], right=ref_centers[-1])
        yield r.scene_id, r.vmin, r.vmax, lut.astype("<f4").tobytes()

    luts_df = _group_rows(hist, ["scene_id"], [], _MATCH_LUT_SCHEMA,
                          match_lut).localCheckpoint()

    def fn(row, w, h):
        x = _plane64(row, src_col)
        out = np.full(x.shape, np.nan, dtype=np.float64)
        if row.lut_bytes is not None:
            lut = np.frombuffer(row.lut_bytes, dtype="<f4")
            ok = np.isfinite(x)
            out[ok] = lut[_bin_plane(x[ok], row.vmin, row.vmax, bins)]
        ok = np.isfinite(out)
        return (out.astype("<f4").tobytes(), int(ok.sum()),
                float(out[ok].mean()) if ok.any() else None)

    src = _kernel_src(tiles, src_col).join(F.broadcast(luts_df), on="scene_id", how="left")
    return _tile_map(src, HISTO_MATCH_SCHEMA, fn, _PLANE_IDS), luts_df


# --------------------------------------------------------------------------
# NDVI + NDVI-threshold emissivity (i.vi ndvi / i.emissivity analogs)
# --------------------------------------------------------------------------

NDVI_EMIS_SCHEMA = StructType([
    StructField("scene_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("ndvi_bytes", BinaryType()),   # f32 [-1, 1]
    StructField("emis_bytes", BinaryType()),   # f32 emissivity
    StructField("n_valid", LongType()),
    StructField("ndvi_mean", DoubleType()),
])


def ndvi_plane(red: np.ndarray, nir: np.ndarray) -> np.ndarray:
    """NDVI = (NIR - RED) / (NIR + RED); zero-sum pixels and any NaN input
    poison to NaN (never +-inf)."""
    red = np.asarray(red, dtype=np.float64)
    nir = np.asarray(nir, dtype=np.float64)
    den = nir + red
    with np.errstate(invalid="ignore", divide="ignore"):
        out = (nir - red) / den
    out[~np.isfinite(out)] = np.nan
    return out


def emissivity_from_ndvi_plane(ndvi: np.ndarray,
                               ndvi_soil: float = 0.2,
                               ndvi_veg: float = 0.5,
                               eps_soil: float = 0.97,
                               eps_veg: float = 0.99,
                               cavity: float = 0.005) -> np.ndarray:
    """The NDVI-threshold emissivity method (Sobrino et al. 2004, 2008):

    - NDVI < ndvi_soil: bare soil, eps = eps_soil;
    - NDVI > ndvi_veg: full vegetation, eps = eps_veg + cavity;
    - between: eps = eps_veg * FVC + eps_soil * (1 - FVC) + cavity * FVC,
      with the fractional vegetation cover
      FVC = ((NDVI - ndvi_soil) / (ndvi_veg - ndvi_soil))^2 (Carlson &
      Ripley 1997).

    This is the standard alternative to the reference's landcover-class
    emissivity lookup (C5): it derives per-pixel emissivity from the
    red/NIR bands themselves instead of an external map. NaN NDVI stays
    NaN."""
    if not (ndvi_veg > ndvi_soil):
        raise ValueError("ndvi_veg must exceed ndvi_soil")
    ndvi = np.asarray(ndvi, dtype=np.float64)
    with np.errstate(invalid="ignore"):
        fvc = np.clip((ndvi - ndvi_soil) / (ndvi_veg - ndvi_soil),
                      0.0, 1.0) ** 2
        eps = eps_veg * fvc + eps_soil * (1.0 - fvc) + cavity * fvc
    eps[np.isnan(ndvi)] = np.nan
    return eps


def ndvi_emissivity_tiles(tiles: DataFrame, red_col: str, nir_col: str,
                          ndvi_soil: float = 0.2, ndvi_veg: float = 0.5,
                          eps_soil: float = 0.97, eps_veg: float = 0.99,
                          cavity: float = 0.005) -> DataFrame:
    """i.vi (NDVI) + i.emissivity analog over co-registered red/NIR plane
    columns of the same tile row: ONE mapInArrow hop, zero shuffles —
    embarrassingly parallel band algebra, the plan shape of pansharpen.
    Returns NDVI and emissivity planes plus per-tile mean NDVI (for the
    scene-level vegetation summaries GRASS users pull from r.univar)."""
    if not (ndvi_veg > ndvi_soil):
        raise ValueError("ndvi_veg must exceed ndvi_soil")

    def fn(row, w, h):
        nd = ndvi_plane(codecs.decode_f32bt(getattr(row, red_col), w, h),
                        codecs.decode_f32bt(getattr(row, nir_col), w, h))
        eps = emissivity_from_ndvi_plane(
            nd, ndvi_soil, ndvi_veg, eps_soil, eps_veg, cavity)
        m = np.isfinite(nd)
        return (nd.astype("<f4").tobytes(), eps.astype("<f4").tobytes(),
                int(m.sum()), float(np.nanmean(nd)) if m.any() else float("nan"))

    src = tiles.select("scene_id", "tile_x", "tile_y", "w", "h",
                       red_col, nir_col)
    return _tile_map(src, NDVI_EMIS_SCHEMA, fn, _TILE_IDS)

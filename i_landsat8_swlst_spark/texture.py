"""GLCM texture features — the r.texture analog.

Per-pixel Haralick features from the gray-level co-occurrence matrix of a
moving window, distributed with EXACT whole-scene semantics:

1. **Global quantization** — gray levels come from the per-scene finite
   (min, max) (`multiband.scene_ranges`, one scan + one tiny agg), so every
   tile quantizes identically; NaN cells map to level -1 and never pair.
2. **Halo exchange** — one `pipeline.halo_plane_tiles` round with margin
   r = window//2 + max(|dx|,|dy|), so each tile sees every neighbor pixel
   any of its windows can pair with: tile-local results are bit-identical
   to running the kernel on the mosaicked scene (the brute oracle in
   tests/test_texture.py checks exactly that).
3. **Tile-local vectorized kernel** — the co-occurrence matrix is never
   materialized per pixel. For each unordered level pair {a, b} the
   pointwise pair-indicator plane folds through ONE box filter (integral
   image), and every feature accumulates from those G(G+1)/2 + 1 filtered
   planes.

Pair convention: a position pair (p, p+offset) contributes iff BOTH
pixels lie inside the moving window (and both are valid) — the
scikit-image `graycomatrix(patch, symmetric=True)` semantics applied to
each window patch, and the convention under which the symmetric GLCM is
exact by construction: every in-window pair is also its own reversed
pair when traversed from the other end, so M[a,b] == M[b,a] cell-for-
cell and energy/entropy (which see individual matrix cells) are
well-defined from the unordered pair counts. The window-pair sum is a
box filter over the rectangle W ∩ (W − offset) — a (k−|dy|)×(k−|dx|)
window with a fixed offset from the center — so the integral-image cost
is unchanged.

Features: contrast Σp·(a-b)², dissimilarity Σp·|a-b|, homogeneity
Σp/(1+(a-b)²), energy Σp² (ASM), entropy -Σp·ln p. Windows whose pair
count is zero (isolated valid pixel at a scene corner) emit NaN.

Cost model at 100 TB: two scans (range, kernel) + the halo's one strip
repartition; compute is O(G²/2) box filters per tile, each O(w·h) —
levels=16 default keeps that at 137 cumsum passes, all numpy-vectorized,
zero Python-per-pixel work, no shuffle of pixel data beyond the r-wide
halo strips (~(1 + 2r(w+h)/(wh))× plane bytes).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from . import codecs
from .multiband import _bin_plane, scene_ranges_df
from .pipeline import _PLANE_IDS, _tile_map, halo_plane_tiles

FEATURES = ("contrast", "dissimilarity", "homogeneity", "energy", "entropy")


def _pair_box(p: np.ndarray, m: int, dy: int, dx: int) -> np.ndarray:
    """Windowed sum of p over the pair rectangle W ∩ (W − o): the set of
    positions whose pair partner at offset o=(dx,dy) also falls inside the
    (2m+1)² window. For input (H, W) on the pair grid returns
    (H-2m, W-2m); output[i, j] sums rows [i+max(0,−dy), i+2m−max(0,dy)]
    × cols [j+max(0,−dx), j+2m−max(0,dx)] (inclusive) of p.

    The summed values are 0/1/2 indicators, so every cumsum cell is an
    exact integer (far below 2^53 / 2^31): int32 accumulation returns the
    SAME numbers as the original float64 cumsum, bit-for-bit once cast."""
    s = np.zeros((p.shape[0] + 1, p.shape[1] + 1), dtype=np.int32)
    np.cumsum(p, axis=0, dtype=np.int32, out=s[1:, 1:])
    np.cumsum(s[1:, 1:], axis=1, out=s[1:, 1:])
    y1, y2 = max(0, -dy), 2 * m - max(0, dy)
    x1, x2 = max(0, -dx), 2 * m - max(0, dx)
    h, w = p.shape[0] - 2 * m, p.shape[1] - 2 * m
    return (s[y2 + 1:y2 + 1 + h, x2 + 1:x2 + 1 + w]
            - s[y2 + 1:y2 + 1 + h, x1:x1 + w]
            - s[y1:y1 + h, x2 + 1:x2 + 1 + w]
            + s[y1:y1 + h, x1:x1 + w]).astype(np.float64)


def _quantize(x: np.ndarray, vmin: float, vmax: float, levels: int) -> np.ndarray:
    """Global linear quantization to [0, levels); NaN -> -1 (never pairs).
    Finite cells bin through multiband._bin_plane — THE shared formula —
    so texture/crosstab/landscape classes match the stretch/histogram
    bins by construction, not by copy."""
    q = np.full(x.shape, -1, dtype=np.int16)
    ok = np.isfinite(x)
    q[ok] = _bin_plane(x[ok], vmin, vmax, levels)
    return q


def glcm_features(pad: np.ndarray, h: int, w: int, r: int, window: int,
                  offset: tuple[int, int], levels: int,
                  vmin: float, vmax: float,
                  features: tuple[str, ...] = FEATURES) -> dict[str, np.ndarray]:
    """The tile-local kernel over a NaN-padded (h+2r, w+2r) plane; returns
    (h, w) f64 feature planes for the core. Shared verbatim with the
    whole-scene oracle path in tests (pad = whole scene, r = margin)."""
    m = window // 2
    dx, dy = offset
    q = _quantize(pad, vmin, vmax, levels)
    # ordered-pair planes on the pair grid: position p pairs with p+offset.
    # The pair grid must cover every window position of every core center:
    # rows m-pad around the core -> slice [r-m : r-m+h+2m] of the padded.
    y0, x0 = r - m, r - m
    ph, pw = h + 2 * m, w + 2 * m
    a = q[y0:y0 + ph, x0:x0 + pw]
    b = q[y0 + dy:y0 + dy + ph, x0 + dx:x0 + dx + pw]
    valid = (a >= 0) & (b >= 0)
    # T = total ordered pairs (each in-window pair counted in both matrix
    # directions) per window
    t = 2.0 * _pair_box(valid.astype(np.uint8), m, dy, dx)
    want = set(features)
    acc = {f: np.zeros((h, w), dtype=np.float64) for f in want}
    # one-hot level masks built ONCE (the pair loop used to rebuild
    # levels^2 boolean planes); levels absent from both sides skip their
    # pairs outright — identical to the old k.any() skip, which
    # contributed nothing (counts are exact integers, see _pair_box)
    am = [a == l for l in range(levels)]
    bm = [b == l for l in range(levels)]
    has_a = [x.any() for x in am]
    has_b = [x.any() for x in bm]
    with np.errstate(divide="ignore", invalid="ignore"):
        for la in range(levels):
            ia = am[la]
            for lb in range(la, levels):
                if la == lb:
                    if not (has_a[la] and has_b[la]):
                        continue
                    pair = (ia & bm[la]).astype(np.uint8) * 2
                    mult = 1.0
                else:
                    if not ((has_a[la] and has_b[lb])
                            or (has_a[lb] and has_b[la])):
                        continue
                    pair = ((ia & bm[lb]) |
                            (am[lb] & bm[la])).view(np.uint8)
                    mult = 2.0  # (a,b) and (b,a) matrix cells
                k = _pair_box(pair, m, dy, dx)
                if not k.any():
                    continue
                p = k / t
                d = la - lb
                if "contrast" in want:
                    acc["contrast"] += mult * p * (d * d)
                if "dissimilarity" in want:
                    acc["dissimilarity"] += mult * p * abs(d)
                if "homogeneity" in want:
                    acc["homogeneity"] += mult * p / (1.0 + d * d)
                if "energy" in want:
                    acc["energy"] += mult * p * p
                if "entropy" in want:
                    ent = np.where(k > 0,
                                   p * np.log(np.where(k > 0, p, 1.0)), 0.0)
                    acc["entropy"] -= mult * ent
        empty = t <= 0
        for f in want:
            acc[f][empty] = np.nan
    return acc


def _texture_schema(features: tuple[str, ...]) -> StructType:
    fields = [
        StructField("image_id", StringType()),
        StructField("scene_id", StringType()),
        StructField("tile_x", IntegerType()),
        StructField("tile_y", IntegerType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("n_valid", LongType()),
    ]
    for f in features:
        fields.append(StructField(f"{f}_bytes", BinaryType()))
        fields.append(StructField(f"{f}_mean", DoubleType()))
    return StructType(fields)


def glcm_texture_tiles(tiles: DataFrame, src_col: str = "lst_bytes",
                       window: int = 5, levels: int = 16,
                       offset=(1, 0),
                       features: tuple[str, ...] = FEATURES) -> DataFrame:
    """r.texture analog over a tile table: per-pixel GLCM Haralick feature
    planes (f32, NaN where the window has no valid pair).

    ``offset`` is one (dx, dy) pair, or a tuple of pairs for the
    direction-AVERAGED features (the r.texture ``-a`` convention: each
    direction's features are computed from its own symmetric GLCM, then
    averaged per pixel — a pixel whose window has pairs in only some
    directions averages over those). Multi-offset shares ONE halo
    exchange (margin sized by the largest offset) and ONE quantization:
    the marginal cost per extra direction is kernel-only, not another
    scan.
    """
    if window % 2 != 1 or window < 3:
        raise ValueError(f"window must be odd >= 3, got {window}")
    if not 2 <= levels <= 64:
        raise ValueError(f"levels must be in [2, 64], got {levels}")
    unknown = set(features) - set(FEATURES)
    if unknown:
        raise ValueError(f"unknown GLCM features {sorted(unknown)}")
    offsets = (tuple(offset),) if np.isscalar(offset[0]) else \
        tuple(tuple(o) for o in offset)
    if not offsets:
        raise ValueError("need at least one offset")
    for dx, dy in offsets:
        if max(abs(dx), abs(dy)) < 1:
            raise ValueError("offset must move at least one pixel")
        if max(abs(dx), abs(dy)) > window - 1:
            raise ValueError(
                f"offset {(dx, dy)} exceeds window {window}: no pixel pair "
                "at that offset fits inside one window")
    # per-scene range as a tiny DataFrame broadcast-joined onto the halo
    # output (a closure dict would grow O(scenes) and ship per task)
    ranges_df = scene_ranges_df(tiles, src_col)
    r = window // 2 + max(max(abs(dx), abs(dy)) for dx, dy in offsets)
    schema = _texture_schema(tuple(features))

    def fn(row, w, h):
        pad = codecs.decode_f32bt(row.pad_bytes, w + 2 * r, h + 2 * r)
        # a scene with zero finite pixels has no range row (NULL after the
        # left join); any range quantizes its all-NaN planes identically
        # (level -1)
        vmin = 0.0 if row.vmin is None else float(row.vmin)
        vmax = 1.0 if row.vmin is None else float(row.vmax)
        per = [glcm_features(pad, h, w, r, window, o, levels, vmin, vmax,
                             tuple(features)) for o in offsets]
        if len(per) == 1:
            out = per[0]
        else:  # nan-aware per-pixel direction average (-a)
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                out = {f: np.nanmean(np.stack([p[f] for p in per]), axis=0)
                       for f in features}
        vals = [int(np.isfinite(pad[r:r + h, r:r + w]).sum())]
        for f in features:
            plane = out[f].astype("<f4")
            vals += [plane.tobytes(), float(np.nanmean(plane))
                     if np.isfinite(plane).any() else None]
        return vals

    src = (halo_plane_tiles(tiles, r=r, src_col=src_col)
           .join(F.broadcast(ranges_df), on="scene_id", how="left"))
    return _tile_map(src, schema, fn, _PLANE_IDS)

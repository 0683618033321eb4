"""Vectorized numpy kernels — the array-path physics.

These are the executor-side bodies of the fused Arrow UDF (SURVEY.md §2.1):
the reference builds one big ``r.mapcalc`` expression string and shells out
to GRASS ([U] i.landsat8.swlst.py :: estimate_cwv_big_expression,
split_window_lst.py :: sw_lst_mapcalc); here the same fusion is a single
numpy pass per tile inside ``mapInArrow`` (C11). GRASS NULL == NaN inside
arrays; NaN propagates through every op exactly like mapcalc NULLs (C14).

All kernels take/return float64 ndarrays and are shape-agnostic (whole tile
or flat pixel vectors).
"""

from __future__ import annotations

import numpy as np

from . import constants as C

# ---------------------------------------------------------------------------
# C2: DN -> TOA spectral radiance     L = ML * Qcal + AL
# ---------------------------------------------------------------------------


def dn_to_radiance(dn: np.ndarray, ml: float, al: float) -> np.ndarray:
    """[U] i.landsat8.swlst.py :: digital_numbers_to_radiance."""
    return ml * dn.astype(np.float64) + al


# ---------------------------------------------------------------------------
# C3: radiance -> at-satellite brightness temperature   T = K2 / ln(K1/L + 1)
# ---------------------------------------------------------------------------


def radiance_to_bt(rad: np.ndarray, k1: float, k2: float) -> np.ndarray:
    """[U] i.landsat8.swlst.py :: radiance_to_brightness_temperature."""
    with np.errstate(divide="ignore", invalid="ignore"):
        out = k2 / np.log(k1 / rad + 1.0)
    return np.where(rad > 0, out, np.nan)


_BT_LUT: dict = {}


def _bt_lut(ml: float, al: float, k1: float, k2: float) -> np.ndarray:
    """65536-entry DN->BT table: BT is a pure function of the 16-bit DN given
    per-scene MTL constants, so one gather replaces the whole per-pixel
    mul/add/log/div chain. Bit-identical to the arithmetic path — every table
    entry is computed by dn_to_bt itself over arange(65536), the exact IEEE
    op sequence the elementwise form would run. 512 KB per distinct
    (ml, al, k1, k2), L2-resident; built once per scene per worker."""
    key = (ml, al, k1, k2)
    lut = _BT_LUT.get(key)
    if lut is None:
        if len(_BT_LUT) >= 256:  # worker-lifetime backstop (256 x 512 KB)
            _BT_LUT.clear()
        lut = dn_to_bt(np.arange(65536, dtype=np.float64), ml, al, k1, k2)
        _BT_LUT[key] = lut
    return lut


def dn_to_bt(dn: np.ndarray, ml: float, al: float, k1: float, k2: float) -> np.ndarray:
    """Fused C2+C3 with in-place float64 ops (bit-identical to the composed
    form: IEEE mul/add/log/div in the same order, one buffer instead of 5 —
    the kernel is memory-bound at high core counts, BENCH/BASELINE.md).
    Integer DN input (lossless tiles via codecs.decode_tile_dn) takes the
    LUT-gather fast path; float input (lossy tiles, halo pads with NaN)
    takes the arithmetic path."""
    if dn.dtype in (np.uint8, np.uint16):
        # LUT gather is only safe when every value is a valid index into the
        # 65536-entry table; wider/signed ints (negative DNs would wrap to the
        # table tail) fall through to the arithmetic path.
        return _bt_lut(ml, al, k1, k2)[dn]
    rad = dn.astype(np.float64)
    rad *= ml
    rad += al
    bad = rad <= 0  # non-physical radiance -> NULL (C14)
    with np.errstate(divide="ignore", invalid="ignore"):
        bt = np.divide(k1, rad, out=rad)  # rad no longer needed
        bt += 1.0
        np.log(bt, out=bt)
        np.divide(k2, bt, out=bt)
    if bad.any():
        bt[bad] = np.nan
    return bt


# ---------------------------------------------------------------------------
# C4: cloud mask — QA values in the cloud set -> NaN
# ---------------------------------------------------------------------------


def apply_cloud_mask(x: np.ndarray, qa: np.ndarray, cloud_values: np.ndarray) -> np.ndarray:
    """[U] i.landsat8.swlst.py :: mask_clouds (OQ-4: exact value set)."""
    return np.where(np.isin(qa, cloud_values), np.nan, x)


# ---------------------------------------------------------------------------
# Windowed box sums with exact NaN propagation (building block for C7)
# ---------------------------------------------------------------------------


def _box_from_padded(p: np.ndarray, win: int) -> np.ndarray:
    """win x win box sums per pixel: inclusion-exclusion over the 2-D cumsum
    of an already zero-padded plane family — O(1) per pixel via cumsum, and
    cwv_ratio stacks all its planes into one (k, H, W) buffer so one alloc +
    two cumsum calls replace per-plane np.pad/cumsum (whose Python-side
    setup dominates at small tile sizes); values bit-identical, op order
    unchanged. In-place second cumsum + inclusion-exclusion: the kernel is
    memory-bound at high core counts (BENCH/BASELINE.md)."""
    cs = p.cumsum(axis=-2)
    np.cumsum(cs, axis=-1, out=cs)
    out = cs[..., win:, win:] - cs[..., :-win, win:]
    out -= cs[..., win:, :-win]
    out += cs[..., :-win, :-win]
    return out


# ---------------------------------------------------------------------------
# C7: column water vapor (MSWCVM) over an N x N moving window
#   R = sum_k (T10_k - mean10)(T11_k - mean11) / sum_k (T10_k - mean10)^2
#   CWV = c2 * R^2 + c1 * R + c0
# ---------------------------------------------------------------------------


def cwv_ratio(t10: np.ndarray, t11: np.ndarray, window: int = C.DEFAULT_CWV_WINDOW) -> np.ndarray:
    """Band-ratio R per pixel ([U] column_water_vapor.py :: Column_Water_Vapor).

    Reference semantics: any window cell that is NULL (cloud) or off-map
    makes the output pixel NULL. Implemented as cumsum box filters plus an
    exact per-window NaN count — O(1) per pixel, window-size independent.

    Shape-generic over leading batch dims: (..., h, w) inputs run each
    (h, w) plane independently (cumsum along axis -2/-1 never mixes
    leading-dim slices), so a stacked (k, h, w) call is bit-identical to k
    separate 2-D calls while amortizing the numpy dispatch overhead — the
    stacked dispatch of the LST operators (pipeline._fused_stacked) relies
    on this.
    """
    if window % 2 != 1 or window < 3:
        raise ValueError(f"window must be odd and >= 3, got {window}")
    n = float(window * window)
    r = window // 2

    # NaN bookkeeping: a NaN in EITHER band poisons the window, so one
    # combined indicator + one box count replaces two separate counts.
    # The "count(t10 NaNs) + count(t11 NaNs) > 0" rule is equivalent to
    # "count(t10-NaN OR t11-NaN) > 0" (both are "any NaN in the window"),
    # and off-edge cells count as NaN either way (pad below).
    nan10 = np.isnan(t10)
    nan11 = np.isnan(t11)
    has_nan = bool(nan10.any() or nan11.any())
    h, w = t10.shape[-2:]
    lead = t10.shape[:-2]
    if has_nan:
        either = np.logical_or(nan10, nan11, out=nan10)
        a10 = np.where(either, 0.0, t10)
        a11 = np.where(either, 0.0, t11)
    else:
        a10, a11 = t10, t11

    # every pixel whose window hangs off the tile is NULL (off-map cells are
    # NULL in the reference) — so "bad" = edge ring OR any-NaN-in-window,
    # where the NaN box count can use the SAME 0-padded geometry as the data
    # planes (the old pad-with-1.0 ring marked exactly the edge-ring windows
    # the explicit mask marks)
    bad = np.zeros(t10.shape, dtype=bool)
    bad[..., :r, :] = True
    bad[..., -r:, :] = True
    bad[..., :, :r] = True
    bad[..., :, -r:] = True

    # all box sums from ONE stacked padded buffer: P[2] = P[0]^2 and
    # P[3] = P[0]*P[1] on the padded planes equal padding the products
    # (0*0 = 0), and cumsum over axis -2/-1 of a C-contiguous (k, H, W)
    # stack accumulates each plane in the same order as the 2-D form —
    # bit-identical results, per-plane np.pad + cumsum calls -> 1 alloc + 2.
    # With NaNs present the indicator rides along as a 5th plane.
    P = np.zeros((5 if has_nan else 4, *lead, h + 2 * r + 1, w + 2 * r + 1))
    P[0, ..., r + 1 : r + 1 + h, r + 1 : r + 1 + w] = a10
    P[1, ..., r + 1 : r + 1 + h, r + 1 : r + 1 + w] = a11
    np.multiply(P[0], P[0], out=P[2])
    np.multiply(P[0], P[1], out=P[3])
    if has_nan:
        P[4, ..., r + 1 : r + 1 + h, r + 1 : r + 1 + w] = either
    box = _box_from_padded(P, window)
    s10, s11, s1010, s1011 = box[0], box[1], box[2], box[3]
    if has_nan:
        bad |= box[4] > 0

    # num = s1011 - s10*s11/n ; den = s1010 - s10*s10/n  (in-place, same
    # IEEE op order as the composed form)
    t = s10 * s11
    t /= n
    num = np.subtract(s1011, t, out=s1011)
    np.multiply(s10, s10, out=t)
    t /= n
    den = np.subtract(s1010, t, out=s1010)
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = np.divide(num, den, out=num)
    ratio[bad | (den == 0.0)] = np.nan
    return ratio


def ratio_to_cwv(ratio: np.ndarray) -> np.ndarray:
    return C.CWV_C2 * ratio * ratio + C.CWV_C1 * ratio + C.CWV_C0


def cwv(t10: np.ndarray, t11: np.ndarray, window: int = C.DEFAULT_CWV_WINDOW) -> np.ndarray:
    return ratio_to_cwv(cwv_ratio(t10, t11, window))


# ---------------------------------------------------------------------------
# C8: CWV subrange -> coefficient selection (piecewise; OQ-1 rule isolated)
# ---------------------------------------------------------------------------

_COEFS = None


def _coef_matrix():
    """(ranges[5+1] lo/hi, coef matrix (6, 8)) from the swappable CSV."""
    global _COEFS
    if _COEFS is None:
        by = C.sw_coefficients_by_subrange()
        order = C.SUBRANGE_ORDER + [C.FALLBACK_SUBRANGE]
        lo = np.array([by[s].cwv_min for s in order])
        hi = np.array([by[s].cwv_max for s in order])
        b = np.array([[getattr(by[s], f"b{i}") for i in range(8)] for s in order])
        _COEFS = (order, lo, hi, b)
    return _COEFS


def select_subrange(cwv_arr: np.ndarray) -> np.ndarray:
    """Subrange index per pixel: 0..4 for Range_1..Range_5, -1 = out of range.

    OQ-1 deterministic rule: FIRST matching range in ascending order wins in
    the overlap zones; Range_5's upper bound is closed. Isolated here so a
    different reference rule is a one-function change.

    Under first-match-ascending, the overlapping ranges partition [lo_0, hi_4]
    at cut points hi_0..hi_3 (each next range takes over exactly where the
    previous one ends, valid because the chain overlaps: lo_{k+1} <= hi_k,
    asserted below against the swappable CSV). One searchsorted pass then
    yields the identical classification to the 5-branch cascade — pure
    comparisons on the same constants, no fp arithmetic, so idx is
    bit-identical while ~16 full-array passes disappear (the kernel is
    memory-bound, BENCH/BASELINE.md).
    """
    _, lo, hi, _ = _coef_matrix()
    assert all(lo[k + 1] <= hi[k] for k in range(4)), "subrange chain must overlap"
    # searchsorted's binary-search precondition: the CSV is swappable, so a
    # replacement with non-monotone bounds must fail loudly, not misclassify.
    assert np.all(np.diff(hi[:5]) > 0), "subrange hi bounds must be ascending"
    assert np.all(np.diff(lo[:5]) > 0), "subrange lo bounds must be ascending"
    idx = np.searchsorted(hi[:4], cwv_arr, side="right")
    oob = np.isnan(cwv_arr) | (cwv_arr < lo[0]) | (cwv_arr > hi[4])
    idx[oob] = -1
    return idx


# ---------------------------------------------------------------------------
# C6 + C9: split-window LST (Du et al. 2015 quadratic model)
#   LST = b0
#       + (b1 + b2*(1-e)/e + b3*de/e^2) * (T10+T11)/2
#       + (b4 + b5*(1-e)/e + b6*de/e^2) * (T10-T11)/2
#       + b7 * (T10-T11)^2
# ---------------------------------------------------------------------------


def lst_from_bt(
    t10: np.ndarray,
    t11: np.ndarray,
    cwv_arr: np.ndarray,
    e10: np.ndarray | float,
    e11: np.ndarray | float,
) -> tuple[np.ndarray, np.ndarray]:
    """Fused C6+C8+C9: returns (lst_kelvin, subrange_idx).

    [U] split_window_lst.py :: SplitWindowLST.compute_lst / sw_lst_mapcalc.
    Out-of-range CWV -> NaN LST (C14). e10/e11 may be scalars (fixed
    emissivity class, reference ``emissivity_class=`` option) or per-pixel
    arrays (landcover-map path, C5).
    """
    e10 = np.asarray(e10, dtype=np.float64)
    e11 = np.asarray(e11, dtype=np.float64)
    e = (e10 + e11) / 2.0
    de = e10 - e11

    idx = select_subrange(cwv_arr)
    _, _, _, b = _coef_matrix()
    safe = np.where(idx < 0, 0, idx)

    em_ratio = (1.0 - e) / e
    de_ratio = de / (e * e)
    d = t10 - t11
    avg = (t10 + t11) / 2.0
    diff = d / 2.0

    if e10.ndim == 0:
        # Scalar emissivity (fixed class / per-tile landcover — the hot
        # path): fold the emissivity terms into 4 per-subrange scalars
        # BEFORE the per-pixel gather. Same IEEE op order as the array
        # form (b1 + b2*em + b3*der evaluated left-to-right), so results
        # are bit-identical, but 4 six-entry gathers replace an
        # (H, W, 8) gather + 8 full-array multiplies.
        c_avg = b[:, 1] + b[:, 2] * em_ratio + b[:, 3] * de_ratio  # (6,)
        c_diff = b[:, 4] + b[:, 5] * em_ratio + b[:, 6] * de_ratio
        # same addition order as the array form: ((b0 + A*avg) + B*diff) + b7*d^2
        lst = b[:, 0][safe]
        t = c_avg[safe]
        t *= avg
        lst += t
        np.take(c_diff, safe, out=t)
        t *= diff
        lst += t
        np.multiply(d, d, out=t)
        t *= b[:, 7][safe]
        lst += t
    else:
        coef = b[safe]  # (..., 8)
        b0, b1, b2, b3 = coef[..., 0], coef[..., 1], coef[..., 2], coef[..., 3]
        b4, b5, b6, b7 = coef[..., 4], coef[..., 5], coef[..., 6], coef[..., 7]
        lst = (
            b0
            + (b1 + b2 * em_ratio + b3 * de_ratio) * avg
            + (b4 + b5 * em_ratio + b6 * de_ratio) * diff
            + b7 * d ** 2
        )
    lst[idx < 0] = np.nan
    return lst, idx


def lst_whole_range(
    t10: np.ndarray, t11: np.ndarray, e10, e11
) -> np.ndarray:
    """Range_6 whole-range fallback (CWV unknown) — [U] same module."""
    by = C.sw_coefficients_by_subrange()[C.FALLBACK_SUBRANGE]
    e10 = np.asarray(e10, dtype=np.float64)
    e11 = np.asarray(e11, dtype=np.float64)
    e = (e10 + e11) / 2.0
    de = e10 - e11
    avg = (t10 + t11) / 2.0
    diff = (t10 - t11) / 2.0
    em_ratio = (1.0 - e) / e
    de_ratio = de / (e * e)
    return (
        by.b0
        + (by.b1 + by.b2 * em_ratio + by.b3 * de_ratio) * avg
        + (by.b4 + by.b5 * em_ratio + by.b6 * de_ratio) * diff
        + by.b7 * (t10 - t11) ** 2
    )


def kelvin_to_celsius(lst_k: np.ndarray) -> np.ndarray:
    """C10 ([U] -c flag)."""
    return lst_k - C.ABSOLUTE_ZERO_C


# ---------------------------------------------------------------------------
# C11: the fused tile kernel — decode already done by caller; this is
# BT -> CWV -> subrange -> LST in one pass (the "one big expression")
# ---------------------------------------------------------------------------


def fused_lst_kernel(
    dn10: np.ndarray,
    dn11: np.ndarray,
    meta: dict,
    e10,
    e11,
    window: int = C.DEFAULT_CWV_WINDOW,
    qa: np.ndarray | None = None,
    cloud_values: np.ndarray | None = None,
    bt_input: bool = False,
) -> dict:
    """Whole physics pipeline for one tile; returns dict of float64 arrays.

    meta keys: ml_b10 al_b10 ml_b11 al_b11 k1_b10 k2_b10 k1_b11 k2_b11.
    bt_input=True: inputs are already brightness temperatures in Kelvin
    (the reference's ``t10=``/``t11=`` option path vs DN bands + MTL) —
    C2+C3 are skipped, everything downstream is identical.
    """
    if bt_input:
        t10 = np.asarray(dn10, dtype=np.float64)
        t11 = np.asarray(dn11, dtype=np.float64)
    else:
        t10 = dn_to_bt(dn10, meta["ml_b10"], meta["al_b10"], meta["k1_b10"], meta["k2_b10"])
        t11 = dn_to_bt(dn11, meta["ml_b11"], meta["al_b11"], meta["k1_b11"], meta["k2_b11"])
    if qa is not None and cloud_values is not None:
        t10 = apply_cloud_mask(t10, qa, cloud_values)
        t11 = apply_cloud_mask(t11, qa, cloud_values)
    cwv_arr = cwv(t10, t11, window)
    lst_k, idx = lst_from_bt(t10, t11, cwv_arr, e10, e11)
    return {
        "bt10": t10,
        "bt11": t11,
        "cwv": cwv_arr,
        "subrange_idx": idx,
        "lst_k": lst_k,
        "lst_c": kelvin_to_celsius(lst_k),
    }


# ---------------------------------------------------------------------------
# Focal (neighborhood) statistics — the r.neighbors-style companion to the
# CWV window: per-pixel stats over a win x win neighborhood.
# ---------------------------------------------------------------------------


def focal_stats(x: np.ndarray, window: int = 5) -> dict:
    """Per-pixel neighborhood statistics over a ``window x window`` box.

    Unlike the CWV ratio (C7), which NULLs a pixel when ANY window cell is
    NULL/off-map (reference poison semantics), focal stats follow the
    r.neighbors convention: each statistic is computed over the VALID
    (finite, in-bounds) cells of the window — edges use the in-bounds
    subset, NaN cells are skipped, and only a window with zero valid cells
    (or < 2 for the sample stddev) yields NaN.

    Returns dict of float64 arrays: ``count`` (valid cells), ``mean``,
    ``std`` (sample), ``min``, ``max``. Shape-generic over leading batch
    dims like cwv_ratio: (..., h, w) runs each plane independently.

    mean/std come from cumsum box sums (O(1) per pixel, window-size
    independent); min/max from a sliding-window view (O(win^2) per pixel —
    no O(1) exact algorithm exists for order statistics; fine for the
    small odd windows the reference uses).
    """
    if window % 2 != 1 or window < 3:
        raise ValueError(f"window must be odd and >= 3, got {window}")
    r = window // 2
    x = np.asarray(x, dtype=np.float64)
    h, w = x.shape[-2:]
    lead = x.shape[:-2]
    finite = np.isfinite(x)
    a = np.where(finite, x, 0.0)

    P = np.zeros((3, *lead, h + 2 * r + 1, w + 2 * r + 1))
    P[0, ..., r + 1 : r + 1 + h, r + 1 : r + 1 + w] = a
    np.multiply(P[0], P[0], out=P[1])
    P[2, ..., r + 1 : r + 1 + h, r + 1 : r + 1 + w] = finite
    box = _box_from_padded(P, window)
    s, ssq, cnt = box[0], box[1], box[2]
    cnt = np.rint(cnt)  # integer-valued by construction; kill cumsum dust

    with np.errstate(divide="ignore", invalid="ignore"):
        mean = s / cnt
        # sample variance via the sum-of-squares identity; clamp the tiny
        # negative fp residue a constant plane produces
        var = (ssq - s * s / cnt) / (cnt - 1.0)
    mean[cnt == 0] = np.nan
    np.maximum(var, 0.0, out=var)
    var[cnt < 2] = np.nan
    std = np.sqrt(var, out=var)

    from numpy.lib.stride_tricks import sliding_window_view

    def _extreme(fill: float, fn) -> np.ndarray:
        p = np.full((*lead, h + 2 * r, w + 2 * r), fill)
        p[..., r : r + h, r : r + w] = np.where(finite, x, fill)
        v = sliding_window_view(p, (window, window), axis=(-2, -1))
        out = fn(v, axis=(-2, -1))
        out[cnt == 0] = np.nan
        return out

    return {
        "count": cnt,
        "mean": mean,
        "std": std,
        "min": _extreme(np.inf, np.min),
        "max": _extreme(-np.inf, np.max),
    }


def slope_aspect(x: np.ndarray, cell: float = 1.0) -> dict:
    """Horn (1981) 3x3 gradient — the r.slope.aspect kernel, applied here
    to any plane (terrain, or an LST plane for thermal-gradient maps).

    Returns dict of float64 arrays:
    ``dzdx``/``dzdy`` (per-cell-unit gradients), ``slope_deg`` (0 flat),
    ``aspect_deg`` (downslope direction, compass convention: 0 north, 90
    east; NaN on flat cells), ``hillshade`` ([0, 1], sun at az 315 / alt
    45 — the cartographic default).

    Edge/NULL semantics match the CWV window's poison rule: any NaN in the
    3x3 neighborhood (or hanging off the plane) NULLs the output pixel —
    gradients from partial windows are biased, so they are refused rather
    than approximated.
    """
    x = np.asarray(x, dtype=np.float64)
    p = np.pad(x, 1, constant_values=np.nan)
    # 8 shifted views of the padded plane around the center
    nw, n_, ne = p[:-2, :-2], p[:-2, 1:-1], p[:-2, 2:]
    w_, e_ = p[1:-1, :-2], p[1:-1, 2:]
    sw, s_, se = p[2:, :-2], p[2:, 1:-1], p[2:, 2:]
    with np.errstate(invalid="ignore"):
        dzdx = ((ne + 2 * e_ + se) - (nw + 2 * w_ + sw)) / (8.0 * cell)
        dzdy = ((sw + 2 * s_ + se) - (nw + 2 * n_ + ne)) / (8.0 * cell)
        slope = np.degrees(np.arctan(np.hypot(dzdx, dzdy)))
        # compass aspect of the DOWNSLOPE direction: grid x points east,
        # grid y points south, so downslope = (-dzdx east, +dzdy north)
        asp = np.arctan2(-dzdx, dzdy)           # radians from north, CW=east
        flat = (dzdx == 0.0) & (dzdy == 0.0)
        aspect = np.where(flat, np.nan, np.mod(np.degrees(asp), 360.0))
        # hillshade, sun azimuth 315 deg / altitude 45 deg (cartographic
        # default): cos of the angle between surface normal and sun
        az = np.radians(315.0)
        alt = np.radians(45.0)
        sl = np.arctan(np.hypot(dzdx, dzdy))
        hs = (np.sin(alt) * np.cos(sl)
              + np.cos(alt) * np.sin(sl) * np.cos(az - asp))
        hs = np.clip(hs, 0.0, 1.0)
    bad = np.isnan(nw) | np.isnan(n_) | np.isnan(ne) | np.isnan(w_) \
        | np.isnan(e_) | np.isnan(sw) | np.isnan(s_) | np.isnan(se) | np.isnan(x)
    for a in (dzdx, dzdy, slope, aspect, hs):
        a[bad] = np.nan
    return {"dzdx": dzdx, "dzdy": dzdy, "slope_deg": slope,
            "aspect_deg": aspect, "hillshade": hs}


def convolve_plane(x: np.ndarray, weights: np.ndarray,
                   divisor: float | None = None) -> np.ndarray:
    """r.mfilter kernel: weighted window sum with the GRASS conventions.

    ``weights`` is an odd-dimensioned 2-D matrix. NULL (NaN) neighbors
    contribute nothing; ``divisor`` follows r.mfilter exactly —
    ``None`` (unset) divides by the constant sum(weights), ``0`` divides
    by the sum of the weights whose cells were actually valid (the
    renormalizing mode), any other value divides by it verbatim. A pixel
    whose CENTER is NULL stays NULL; in renorm mode a pixel with zero
    valid weighted neighbors is NULL too. Off-plane cells are NULL
    (callers wanting cross-tile windows pad via halo_plane_tiles first).

    Direct shifted-plane accumulation (one vectorized add per nonzero
    weight cell) — O(nnz(weights)) plane passes, no Python per pixel.
    """
    weights = np.asarray(weights, dtype=np.float64)
    if weights.ndim != 2 or any(s % 2 != 1 for s in weights.shape):
        raise ValueError(
            f"weights must be an odd-dimensioned 2-D matrix, "
            f"got shape {weights.shape}")
    x = np.asarray(x, dtype=np.float64)
    h, w = x.shape
    kh, kw = weights.shape
    rh, rw = kh // 2, kw // 2
    pad = np.full((h + 2 * rh, w + 2 * rw), np.nan)
    pad[rh:rh + h, rw:rw + w] = x
    acc = np.zeros((h, w))
    wsum = np.zeros((h, w))
    for i in range(kh):
        for j in range(kw):
            wij = weights[i, j]
            if wij == 0.0:
                continue
            sub = pad[i:i + h, j:j + w]
            fin = np.isfinite(sub)
            acc += np.where(fin, sub * wij, 0.0)
            wsum += np.where(fin, wij, 0.0)
    if divisor is None:
        div = float(weights.sum())
        if div == 0.0:
            raise ValueError("sum(weights) is 0; pass an explicit divisor "
                             "(or 0 for the renormalizing mode)")
        out = acc / div
    elif divisor == 0.0:
        with np.errstate(divide="ignore", invalid="ignore"):
            out = acc / wsum
        out[wsum == 0.0] = np.nan
    else:
        out = acc / float(divisor)
    out[~np.isfinite(x)] = np.nan  # NULL center stays NULL
    return out


def grow_plane(x: np.ndarray, radius: float,
               value: float | None = None) -> np.ndarray:
    """r.grow kernel: expand the non-NULL area by a Euclidean ``radius``
    (cells, GRASS default 1.01 = the 4-neighbourhood). A NULL cell whose
    center lies within ``radius`` of a valid cell's center becomes valid:
    it takes ``value`` if given (the r.grow value= option), else the value
    of the NEAREST valid cell, ties broken by smaller (dy, dx) offset —
    deterministic because offsets are enumerated in sorted
    (distance², dy, dx) order and the first hit wins. Valid cells are
    never changed. One vectorized pass per in-radius offset (O(radius²)
    plane adds, no per-pixel Python)."""
    if radius <= 0:
        raise ValueError(f"radius must be positive, got {radius}")
    r = int(np.floor(radius))
    x = np.asarray(x, dtype=np.float64)
    h, w = x.shape
    out = x.copy()
    need = ~np.isfinite(x)
    offsets = sorted(
        (dy * dy + dx * dx, dy, dx)
        for dy in range(-r, r + 1) for dx in range(-r, r + 1)
        if 0 < dy * dy + dx * dx <= radius * radius)
    for _d2, dy, dx in offsets:
        if not need.any():
            break
        src_y = slice(max(0, dy), min(h, h + dy))
        src_x = slice(max(0, dx), min(w, w + dx))
        dst_y = slice(max(0, -dy), min(h, h - dy))
        dst_x = slice(max(0, -dx), min(w, w - dx))
        sub = x[src_y, src_x]
        take = need[dst_y, dst_x] & np.isfinite(sub)
        if take.any():
            tgt = out[dst_y, dst_x]
            tgt[take] = value if value is not None else sub[take]
            need[dst_y, dst_x] &= ~take
    return out


def fillnulls_plane(x: np.ndarray, radius: float = 3.0,
                    power: float = 2.0, method: str = "idw",
                    sweeps: int | None = None) -> np.ndarray:
    """r.fillnulls analog: every NULL cell with at least one valid cell
    within the Euclidean ``radius`` gets filled; valid cells never change;
    a hole with nothing in range stays NULL.

    ``method="idw"``: inverse-distance-weighted mean of ALL in-range valid
    cells (w = 1/d^power; deterministic — weighted sums accumulate in fixed
    sorted offset order).

    ``method="spline"``: membrane interpolation — the IDW fill is refined
    by ``sweeps`` synchronous Jacobi sweeps of the discrete Laplace
    equation (each fill cell moves to the mean of its available
    4-neighbors, valid cells act as Dirichlet boundary), the tension→∞
    limit of GRASS's RST; the full RST tension/smoothing model is NOT
    replicated (stated deviation). Default sweeps = 2*floor(radius).
    Synchronous Jacobi keeps the result independent of traversal order,
    and the maximum principle holds: filled values never leave the range
    of the valid cells.

    O(radius² + sweeps) vectorized shifted-plane passes, no per-pixel
    Python — the convolve/grow implementation family."""
    if radius <= 0:
        raise ValueError(f"radius must be positive, got {radius}")
    if method not in ("idw", "spline"):
        raise ValueError(f"unknown fillnulls method {method!r}")
    r = int(np.floor(radius))
    x = np.asarray(x, dtype=np.float64)
    h, w = x.shape
    need = ~np.isfinite(x)
    if not need.any():
        return x.copy()
    acc = np.zeros((h, w))
    wsum = np.zeros((h, w))
    offsets = sorted(
        (dy * dy + dx * dx, dy, dx)
        for dy in range(-r, r + 1) for dx in range(-r, r + 1)
        if 0 < dy * dy + dx * dx <= radius * radius)
    for d2, dy, dx in offsets:
        src_y = slice(max(0, dy), min(h, h + dy))
        src_x = slice(max(0, dx), min(w, w + dx))
        dst_y = slice(max(0, -dy), min(h, h - dy))
        dst_x = slice(max(0, -dx), min(w, w - dx))
        sub = x[src_y, src_x]
        fin = np.isfinite(sub) & need[dst_y, dst_x]
        if fin.any():
            wgt = 1.0 / d2 ** (power / 2.0)
            a = acc[dst_y, dst_x]
            s = wsum[dst_y, dst_x]
            a[fin] += sub[fin] * wgt
            s[fin] += wgt
    out = x.copy()
    fill = need & (wsum > 0)
    out[fill] = acc[fill] / wsum[fill]
    if method == "idw" or not fill.any():
        return out
    k = 2 * r if sweeps is None else int(sweeps)
    fixed = np.isfinite(x)
    cur = out
    for _ in range(k):
        num = np.zeros((h, w))
        cnt = np.zeros((h, w))
        for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
            src_y = slice(max(0, dy), min(h, h + dy))
            src_x = slice(max(0, dx), min(w, w + dx))
            dst_y = slice(max(0, -dy), min(h, h - dy))
            dst_x = slice(max(0, -dx), min(w, w - dx))
            sub = cur[src_y, src_x]
            fin = np.isfinite(sub)
            n_ = num[dst_y, dst_x]
            c_ = cnt[dst_y, dst_x]
            n_[fin] += sub[fin]
            c_[fin] += 1.0
        new = cur.copy()
        upd = fill & ~fixed & (cnt > 0)
        new[upd] = num[upd] / cnt[upd]
        cur = new
    return cur

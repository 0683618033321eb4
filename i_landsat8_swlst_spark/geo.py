"""Cell indexing: S2 (exact, from the public algorithm) + hex grid (H3-role).

North rule (BASELINE.json:6): scenes are "assigned to H3 (res 7-9) and S2
cells via batched cell-encode". No h3/s2 library exists in this container and
there is no network (SURVEY.md §0), so:

- ``s2_cell``: a faithful pure-numpy implementation of the S2 cell id scheme
  (lat/lng -> unit sphere -> cube face -> quadratic ST -> 30-bit IJ ->
  Hilbert curve position -> 64-bit cell id), following the published
  s2geometry algorithm (quadratic projection, 4-bit lookup-table Hilbert).
  Vectorized: 8 table-lookup rounds regardless of input size.
- ``hexcell``: an axial hexagonal grid over lon/lat sized to H3's res-7/8/9
  mean edge lengths. It fills H3's *role* in this engine (hex cell-join
  prefilter, bucketing, rollups) but is NOT bit-compatible with H3 ids —
  implementing true H3 (122 icosahedral base cells + aperture-7 digits)
  from memory without the library to verify against would risk silently
  wrong ids; documented honestly instead (SURVEY.md §7.3 risk 2).

Both are exposed to Spark as vectorized pandas UDFs in spatial.py.
"""

from __future__ import annotations

import numpy as np

# --------------------------------------------------------------------------
# S2 cell ids
# --------------------------------------------------------------------------

_LOOKUP_BITS = 4
_SWAP = 1
_INVERT = 2
_POS_TO_IJ = ((0, 1, 3, 2), (0, 2, 3, 1), (3, 2, 0, 1), (3, 1, 0, 2))
_POS_TO_ORIENT = (_SWAP, 0, 0, _SWAP | _INVERT)

_LOOKUP_POS = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)
_LOOKUP_IJ = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)


def _init_lookup(level: int, i: int, j: int, orig: int, pos: int, orient: int) -> None:
    if level == _LOOKUP_BITS:
        ij = (i << _LOOKUP_BITS) + j
        _LOOKUP_POS[(ij << 2) + orig] = (pos << 2) + orient
        _LOOKUP_IJ[(pos << 2) + orig] = (ij << 2) + orient
        return
    level += 1
    i <<= 1
    j <<= 1
    pos <<= 2
    r = _POS_TO_IJ[orient]
    for idx in range(4):
        ij = r[idx]
        _init_lookup(level, i + (ij >> 1), j + (ij & 1), orig, pos + idx,
                     orient ^ _POS_TO_ORIENT[idx])


for _o in range(4):
    _init_lookup(0, 0, 0, _o, 0, _o)

MAX_LEVEL = 30


def lonlat_to_xyz(lon_deg: np.ndarray, lat_deg: np.ndarray):
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64))
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    cl = np.cos(lat)
    return cl * np.cos(lon), cl * np.sin(lon), np.sin(lat)


def xyz_to_face_uv(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    axis = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    major = np.choose(axis, [x, y, z])
    face = np.where(major >= 0, axis, axis + 3)
    # each face divides by its own major coordinate: two divisions, none
    # by a minor coordinate that could overflow
    u = np.choose(face, [y, -x, -x, z, z, -y]) / major
    v = np.choose(face, [z, z, -y, y, -x, -x]) / major
    return face.astype(np.int64), u, v


def face_uv_to_xyz(face: np.ndarray, u: np.ndarray, v: np.ndarray):
    one = np.ones_like(u)
    x = np.select([face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
                  [one, -u, -u, -one, v, v])
    y = np.select([face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
                  [u, one, -v, -v, -one, u])
    z = np.select([face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
                  [v, v, one, -u, -u, -one])
    n = np.sqrt(x * x + y * y + z * z)
    return x / n, y / n, z / n


def uv_to_st(u: np.ndarray) -> np.ndarray:
    """S2_QUADRATIC_PROJECTION."""
    with np.errstate(invalid="ignore"):
        return np.where(u >= 0, 0.5 * np.sqrt(1.0 + 3.0 * u), 1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u))


def st_to_uv(s: np.ndarray) -> np.ndarray:
    return np.where(
        s >= 0.5, (1.0 / 3.0) * (4.0 * s * s - 1.0), (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s))
    )


def st_to_ij(s: np.ndarray) -> np.ndarray:
    return np.clip(np.floor((1 << MAX_LEVEL) * s), 0, (1 << MAX_LEVEL) - 1).astype(np.int64)


def s2_cell_from_face_ij(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Hilbert-encode (face, i, j) at level 30 -> uint64 cell id (as int64).

    Vectorized port of the published lookup-table loop: 8 rounds of 4 i-bits
    + 4 j-bits -> 8 position bits each.
    """
    n = face.astype(np.uint64) << np.uint64(60)
    bits = (face & _SWAP).astype(np.int64)
    for k in range(7, -1, -1):
        idx = bits + (((i >> (k * 4)) & 15) << 6) + (((j >> (k * 4)) & 15) << 2)
        val = _LOOKUP_POS[idx]
        n |= (val >> 2).astype(np.uint64) << np.uint64(k * 8)
        bits = val & 3
    return (n * np.uint64(2) + np.uint64(1)).view(np.int64)


def s2_cell_to_face_ij(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse Hilbert decode of a level-30 cell id (round-trip testing)."""
    u = np.asarray(cell, dtype=np.int64).view(np.uint64)
    face = (u >> np.uint64(61)).astype(np.int64)
    bits = (face & _SWAP).astype(np.int64)
    i = np.zeros(u.shape, dtype=np.int64)
    j = np.zeros(u.shape, dtype=np.int64)
    for k in range(7, -1, -1):
        nbits = MAX_LEVEL - 7 * _LOOKUP_BITS if k == 7 else _LOOKUP_BITS
        mask = (1 << (2 * nbits)) - 1
        chunk = ((u >> np.uint64(k * 8 + 1)).astype(np.int64) & mask)
        bits += chunk << 2
        bits = _LOOKUP_IJ[bits]
        i += (bits >> (_LOOKUP_BITS + 2)) << (k * 4)
        j += ((bits >> 2) & 15) << (k * 4)
        bits &= 3
    return face, i, j


def s2_cell(lon_deg, lat_deg, level: int = MAX_LEVEL) -> np.ndarray:
    """lon/lat (degrees) -> S2 cell id at the given level, as int64."""
    x, y, z = lonlat_to_xyz(lon_deg, lat_deg)
    face, uu, vv = xyz_to_face_uv(x, y, z)
    i = st_to_ij(uv_to_st(uu))
    j = st_to_ij(uv_to_st(vv))
    leaf = s2_cell_from_face_ij(face, i, j).view(np.uint64)
    if level >= MAX_LEVEL:
        return leaf.view(np.int64)
    lsb = np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))
    return ((leaf & ~(lsb - np.uint64(1))) | lsb).view(np.int64)


def s2_level(cell) -> np.ndarray:
    """Level of a cell id = 30 - (trailing zeros / 2)."""
    u = np.asarray(cell, dtype=np.int64).view(np.uint64)
    tz = np.zeros(u.shape, dtype=np.int64)
    rem = u.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        mask = (np.uint64(1) << np.uint64(shift)) - np.uint64(1)
        zero = (rem & mask) == 0
        tz += np.where(zero, shift, 0)
        rem = np.where(zero, rem >> np.uint64(shift), rem)
    return MAX_LEVEL - tz // 2


def s2_cell_center(cell) -> tuple[np.ndarray, np.ndarray]:
    """Cell id (any level) -> (lon_deg, lat_deg) of the cell center."""
    u = np.asarray(cell, dtype=np.int64).view(np.uint64)
    lvl = s2_level(cell)
    lsb = np.uint64(1) << (np.uint64(2) * (np.uint64(MAX_LEVEL) - lvl.astype(np.uint64)))
    leaf_center = (u & ~(lsb - np.uint64(1))) | lsb  # id already centered at its level
    face, i, j = s2_cell_to_face_ij(leaf_center.view(np.int64))
    # center of the cell in ST space: leaf (i,j) of the center id + half leaf
    s = (i + 0.5) / (1 << MAX_LEVEL)
    t = (j + 0.5) / (1 << MAX_LEVEL)
    x, y, z = face_uv_to_xyz(face, st_to_uv(s), st_to_uv(t))
    return np.degrees(np.arctan2(y, x)), np.degrees(np.arcsin(np.clip(z, -1, 1)))


def _s2_cell_id_at(face: int, i0: int, j0: int, size: int) -> int:
    """Cell id for the cell covering leaf-ij [i0, i0+size) x [j0, j0+size)."""
    level = MAX_LEVEL - int(size).bit_length() + 1
    leaf = s2_cell_from_face_ij(np.array([face]), np.array([i0 + size // 2]),
                                np.array([j0 + size // 2]))[0]
    u = np.uint64(leaf)
    lsb = np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))
    return int(np.int64((u & ~(lsb - np.uint64(1))) | lsb))


def _s2_cell_lonlat_bbox(face: int, i0: int, j0: int, size: int,
                         samples: int = 17) -> tuple[float, float, float, float, float]:
    """Conservative lon/lat bbox of a cell from boundary samples.

    Returns (lon_min, lat_min, lon_max, lat_max, pad): the true cell is
    inside the bbox expanded by ``pad``.

    Why boundary sampling suffices (ADVICE r3): over a cell's (u, v)
    rectangle, lon and lat take their extrema ON the boundary —
    - equatorial faces: lon is a monotone function of exactly one of u/v
      (e.g. face 0: lon = atan2(u, 1)), and lat = f(z) with z strictly
      monotone in one coordinate (face 0: dz/dv = (1+u^2)/n^3 > 0), so both
      extremize on edges (possibly at an edge-interior point like u = 0,
      which the along-edge sampling covers);
    - polar faces: z = +-1/n extremizes at the rectangle's nearest/farthest
      point from (u,v)=(0,0) — on the boundary when the pole is outside the
      cell; lon's level sets are rays through the origin, extremizing on the
      boundary under the same condition. A cell containing (or touching)
      the pole wraps the full lon circle, which the >180-span check below
      converts to pad = inf ("intersects anything").
    So the only gap left is between adjacent samples along an edge: ``pad``
    is TWICE the largest adjacent-sample gap (the curves have low curvature
    at 17 samples/edge, so arc length ~ chord; the factor 2 is margin),
    property-tested across high latitudes, face corners and the
    antimeridian in tests/test_geo.py. A bbox spanning > 180 deg of
    longitude (pole / antimeridian cell) reports pad = inf.
    """
    ts = np.linspace(0.0, 1.0, samples)
    edge_i = np.concatenate([ts, ts, np.zeros(samples), np.ones(samples)])
    edge_j = np.concatenate([np.zeros(samples), np.ones(samples), ts, ts])
    s = st_to_uv((i0 + edge_i * size) / (1 << MAX_LEVEL))
    t = st_to_uv((j0 + edge_j * size) / (1 << MAX_LEVEL))
    x, y, z = face_uv_to_xyz(np.full(edge_i.shape, face), s, t)
    lon = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arcsin(np.clip(z, -1, 1)))
    lon_min, lon_max = float(lon.min()), float(lon.max())
    lat_min, lat_max = float(lat.min()), float(lat.max())
    if lon_max - lon_min > 180.0:  # antimeridian / pole: don't reason locally
        return lon_min, lat_min, lon_max, lat_max, float("inf")
    gaps = []
    for e in range(4):
        sl = slice(e * samples, (e + 1) * samples)
        gaps.append(np.hypot(np.diff(lon[sl]), np.diff(lat[sl])).max())
    return lon_min, lat_min, lon_max, lat_max, 2.0 * float(max(gaps))


def s2_cover_bbox(lon0: float, lat0: float, lon1: float, lat1: float,
                  level: int = 10, max_cells: int = 512) -> list[int]:
    """S2 cell covering of a lon/lat rectangle (guaranteed superset).

    Breadth-first descent from the 6 face cells: a cell whose conservative
    bbox (boundary samples + curvature pad, _s2_cell_lonlat_bbox) misses the
    rect is dropped; a cell whose padded bbox lies fully INSIDE the rect is
    kept whole (multi-level covering, like the reference S2RegionCoverer);
    otherwise it subdivides until ``level`` — or until the covering would
    exceed ``max_cells``, at which point the remaining frontier is emitted
    at its current (coarser) level. Supersets are the contract — callers
    push the ranges to the scan and re-apply the exact lon/lat predicate as
    the residual filter, so a coarser cover costs false-positive rows, never
    correctness.

    ``lon0 > lon1`` means the rect crosses the antimeridian (Pacific-style
    bbox): it is split internally into [lon0, 180] and [-180, lon1] and the
    two coverings are unioned (VERDICT r3 item 5 — matches the reference
    S2RegionCoverer's wrap handling; each half gets the full ``max_cells``
    budget, so a wrap cover may reach 2x the budget).
    """
    if not lat0 <= lat1:
        raise ValueError("need lat0 <= lat1")
    if lon0 > lon1:
        west = s2_cover_bbox(lon0, lat0, 180.0, lat1, level, max_cells)
        east = s2_cover_bbox(-180.0, lat0, lon1, lat1, level, max_cells)
        return sorted(set(west) | set(east))
    out: list[int] = []
    frontier = [(f, 0, 0, 1 << MAX_LEVEL) for f in range(6)]
    while frontier:
        split: list[tuple[int, int, int, int]] = []
        for face, i0, j0, size in frontier:
            lvl = MAX_LEVEL - size.bit_length() + 1
            if lvl >= 3:  # coarser cells: just descend (pole/wrap geometry)
                lo_x, lo_y, hi_x, hi_y, pad = _s2_cell_lonlat_bbox(face, i0, j0, size)
                if pad != float("inf"):
                    if (lo_x - pad > lon1 or hi_x + pad < lon0
                            or lo_y - pad > lat1 or hi_y + pad < lat0):
                        continue  # definitely disjoint
                    if (lo_x - pad >= lon0 and hi_x + pad <= lon1
                            and lo_y - pad >= lat0 and hi_y + pad <= lat1):
                        out.append(_s2_cell_id_at(face, i0, j0, size))
                        continue  # definitely contained: keep whole
            if lvl >= level:
                out.append(_s2_cell_id_at(face, i0, j0, size))
            else:
                split.append((face, i0, j0, size))
        if not split:
            break
        lvl = MAX_LEVEL - split[0][3].bit_length() + 1
        if lvl >= 3 and len(out) + 4 * len(split) > max_cells:
            out += [_s2_cell_id_at(*c) for c in split]  # budget: stay coarse
            break
        frontier = []
        for face, i0, j0, size in split:
            h = size // 2
            frontier += [(face, i0, j0, h), (face, i0 + h, j0, h),
                         (face, i0, j0 + h, h), (face, i0 + h, j0 + h, h)]
    return sorted(out)


def s2_ranges(cells: list[int]) -> list[tuple[int, int]]:
    """Covering cells (any mix of levels) -> merged sorted [lo, hi] id
    ranges. Any cell id at the SAME or DEEPER level that is spatially inside
    a covering cell falls inside its range — the pushdown predicate for
    tables laid out by io.write_spatial_sorted."""
    spans = []
    for c in cells:
        u = np.uint64(np.int64(c))
        lsb = np.uint64(u & (~u + np.uint64(1)))
        spans.append((int(np.int64(u - lsb + np.uint64(1))),
                      int(np.int64(u + lsb - np.uint64(1)))))
    spans.sort()
    merged = [spans[0]]
    for lo, hi in spans[1:]:
        # adjacent sibling ranges sit 2 apart (the gap id is a coarser-level
        # cell that cannot appear in a fixed-deeper-level table) — merge it
        if lo <= merged[-1][1] + 2:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    return merged


# --------------------------------------------------------------------------
# Hex grid (H3-role), axial coordinates over lon/lat degrees
# --------------------------------------------------------------------------

# Edge lengths chosen to match H3's published mean hex edge per resolution,
# converted at ~111 km/deg: res7 1.22 km, res8 0.461 km, res9 0.174 km.
HEX_EDGE_DEG = {7: 1.22 / 111.0, 8: 0.461 / 111.0, 9: 0.174 / 111.0}
_SQRT3 = np.sqrt(3.0)


def hexcell(lon_deg, lat_deg, res: int) -> np.ndarray:
    """Pointy-top axial hex binning of lon/lat -> packed int64 cell id.

    id layout: [res:6, bits 56-61][q+2^27 : 28][r+2^27 : 28] — keeps the
    sign bit clear for any res <= 63.
    """
    if res not in HEX_EDGE_DEG:
        raise ValueError(f"res must be one of {sorted(HEX_EDGE_DEG)}")
    size = HEX_EDGE_DEG[res]
    x = np.asarray(lon_deg, dtype=np.float64)
    y = np.asarray(lat_deg, dtype=np.float64)
    qf = (_SQRT3 / 3.0 * x - y / 3.0) / size
    rf = (2.0 / 3.0 * y) / size
    q, r = _hex_round(qf, rf)
    return (np.int64(res) << 56) | ((q + (1 << 27)) << 28) | (r + (1 << 27))


def hexcell_decode(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    c = np.asarray(cell, dtype=np.int64)
    res = c >> 56
    q = ((c >> 28) & ((1 << 28) - 1)) - (1 << 27)
    r = (c & ((1 << 28) - 1)) - (1 << 27)
    return res, q, r


def hexcell_center(cell) -> tuple[np.ndarray, np.ndarray]:
    res, q, r = hexcell_decode(cell)
    size = np.vectorize(lambda v: HEX_EDGE_DEG[int(v)])(res)
    lat = r * 1.5 * size
    lon = _SQRT3 * size * (q + r / 2.0)
    return lon, lat


def hex_cover_bbox(lon0: float, lat0: float, lon1: float, lat1: float,
                   res: int) -> np.ndarray:
    """All hex cells at ``res`` that any point inside the bbox can round to.

    A point rounds to the cell whose center is nearest in axial space, and
    that center lies within one circumradius of the point — so covering the
    bbox padded by 2x the edge length (plus one index of slack on each
    axis) is a guaranteed superset. Supersets are the contract: the caller
    (pip_join_cells) exact-verifies every candidate, so over-covering costs
    candidates, never correctness.
    """
    if res not in HEX_EDGE_DEG:
        raise ValueError(f"res must be one of {sorted(HEX_EDGE_DEG)}")
    size = HEX_EDGE_DEG[res]
    pad = 2.0 * size
    lo0, la0, lo1, la1 = lon0 - pad, lat0 - pad, lon1 + pad, lat1 + pad
    r_lo = int(np.floor(la0 / (1.5 * size))) - 1
    r_hi = int(np.ceil(la1 / (1.5 * size))) + 1
    cells = []
    for r in range(r_lo, r_hi + 1):
        # center lon = sqrt(3) * size * (q + r/2)
        q_lo = int(np.floor(lo0 / (_SQRT3 * size) - r / 2.0)) - 1
        q_hi = int(np.ceil(lo1 / (_SQRT3 * size) - r / 2.0)) + 1
        q = np.arange(q_lo, q_hi + 1, dtype=np.int64)
        rr = np.full(q.size, r, dtype=np.int64)
        cells.append((np.int64(res) << 56) | ((q + (1 << 27)) << 28) | (rr + (1 << 27)))
    return np.concatenate(cells) if cells else np.zeros(0, dtype=np.int64)


def _hex_round(qf: np.ndarray, rf: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cube-coordinate rounding (standard hex-grid algorithm)."""
    sf = -qf - rf
    q = np.round(qf)
    r = np.round(rf)
    s = np.round(sf)
    dq, dr, ds = np.abs(q - qf), np.abs(r - rf), np.abs(s - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = ~fix_q & (dr > ds)
    q = np.where(fix_q, -r - s, q)
    r = np.where(fix_r, -q - s, r)
    return q.astype(np.int64), r.astype(np.int64)


# --------------------------------------------------------------------------
# Vector measurement (v.to.db parity): polygon area / perimeter / centroid.
# --------------------------------------------------------------------------

_EARTH_R_KM = 6371.0088  # mean Earth radius; matches spatial.EARTH_R_KM


def ring_area_km2(ring: np.ndarray) -> float:
    """Spherical polygon area (km^2), EXACT for great-circle edges: fan-
    triangulate from vertex 0 and sum signed spherical excesses via the
    van Oosterom-Strackee / Eriksson formula
    tan(E/2) = v0.(vi x vj) / (1 + v0.vi + vi.vj + v0.vj),
    accumulated with atan2 so each triangle's sign rides along and concave
    fans cancel correctly. Orientation-independent (absolute value taken).

    ring: (N, 2) lon/lat degrees, closed or open (first point repeated or
    not — handled)."""
    r = np.asarray(ring, dtype=np.float64)
    if len(r) > 1 and np.array_equal(r[0], r[-1]):
        r = r[:-1]
    if len(r) < 3:
        return 0.0
    lon = np.radians(r[:, 0])
    lat = np.radians(r[:, 1])
    v = np.stack([np.cos(lat) * np.cos(lon), np.cos(lat) * np.sin(lon),
                  np.sin(lat)], axis=1)
    v0, vi, vj = v[0], v[1:-1], v[2:]
    num = np.einsum("j,ij->i", v0, np.cross(vi, vj))
    den = 1.0 + vi @ v0 + np.einsum("ij,ij->i", vi, vj) + vj @ v0
    excess = np.sum(2.0 * np.arctan2(num, den))
    return float(abs(excess) * _EARTH_R_KM * _EARTH_R_KM)


def ring_perimeter_km(ring: np.ndarray) -> float:
    """Great-circle perimeter (km): haversine sum over the edges."""
    r = np.asarray(ring, dtype=np.float64)
    if len(r) < 2:
        return 0.0
    if not np.array_equal(r[0], r[-1]):
        r = np.vstack([r, r[:1]])
    lon = np.radians(r[:, 0])
    lat = np.radians(r[:, 1])
    dlat = np.diff(lat)
    dlon = np.diff(lon)
    a = np.sin(dlat / 2) ** 2 + np.cos(lat[:-1]) * np.cos(lat[1:]) * np.sin(dlon / 2) ** 2
    return float(np.sum(2.0 * _EARTH_R_KM * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))))


def ring_centroid(ring: np.ndarray) -> tuple[float, float]:
    """Planar (lon/lat) area-weighted centroid of the ring — the label
    point v.to.db reports. Degenerate (zero-area) rings fall back to the
    vertex mean."""
    r = np.asarray(ring, dtype=np.float64)
    if len(r) > 1 and np.array_equal(r[0], r[-1]):
        r = r[:-1]
    if len(r) < 3:
        return float(r[:, 0].mean()), float(r[:, 1].mean())
    x, y = r[:, 0], r[:, 1]
    x2, y2 = np.roll(x, -1), np.roll(y, -1)
    cross = x * y2 - x2 * y
    a = cross.sum() / 2.0
    if a == 0.0:
        return float(x.mean()), float(y.mean())
    cx = float(np.sum((x + x2) * cross) / (6.0 * a))
    cy = float(np.sum((y + y2) * cross) / (6.0 * a))
    return cx, cy

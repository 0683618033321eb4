"""S2 / hexcell encoder invariants (SURVEY.md §5.2 item 5).

No s2 library exists in the sandbox to produce golden ids, so correctness is
established through structural invariants of the published cell-id scheme:
face assignment at axis points, round-trip identity, parent containment,
center round-trip, and Hilbert locality.
"""

import numpy as np
import pytest

from i_landsat8_swlst_spark import geo


def test_face_assignment_at_axis_points():
    lon = np.array([0.0, 90.0, 0.0, 180.0, -90.0, 0.0])
    lat = np.array([0.0, 0.0, 90.0, 0.0, 0.0, -90.0])
    x, y, z = geo.lonlat_to_xyz(lon, lat)
    face, _, _ = geo.xyz_to_face_uv(x, y, z)
    assert face.tolist() == [0, 1, 2, 3, 4, 5]


def test_face_uv_divides_by_the_major_coordinate_only():
    """u/v are the face's two minor coordinates over its major one, bit for
    bit; a subnormal minor coordinate divides nothing, so no overflow
    warning comes from a face the point is not on."""
    import warnings

    rng = np.random.default_rng(8)
    x, y, z = (np.append(rng.normal(size=200), c) for c in (1.0, 5e-324, 0.25))
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        face, u, v = geo.xyz_to_face_uv(x, y, z)
    assert (face[-1], u[-1], v[-1]) == (0, 5e-324, 0.25)
    x, y, z, face, u, v = (a[:-1] for a in (x, y, z, face, u, v))
    per_face = {0: (y / x, z / x), 1: (-x / y, z / y), 2: (-x / z, -y / z),
                3: (z / x, y / x), 4: (z / y, -x / y), 5: (-y / z, -x / z)}
    for f, (uf, vf) in per_face.items():
        sel = face == f
        assert sel.any()
        np.testing.assert_array_equal(u[sel], uf[sel])
        np.testing.assert_array_equal(v[sel], vf[sel])


def test_leaf_cell_structure():
    cells = geo.s2_cell(np.array([5.0, -120.0]), np.array([45.0, -33.0]))
    u = cells.view(np.uint64)
    assert np.all(u & np.uint64(1) == 1)  # leaf lsb
    assert np.all((u >> np.uint64(61)) <= 5)
    assert np.all(geo.s2_level(cells) == 30)


def test_hilbert_roundtrip_face_ij():
    rng = np.random.default_rng(3)
    face = rng.integers(0, 6, 500)
    i = rng.integers(0, 1 << 30, 500)
    j = rng.integers(0, 1 << 30, 500)
    cell = geo.s2_cell_from_face_ij(face, i, j)
    f2, i2, j2 = geo.s2_cell_to_face_ij(cell)
    np.testing.assert_array_equal(f2, face)
    np.testing.assert_array_equal(i2, i)
    np.testing.assert_array_equal(j2, j)


def test_parent_containment_monotone():
    rng = np.random.default_rng(4)
    lon = rng.uniform(-180, 180, 300)
    lat = rng.uniform(-85, 85, 300)
    prev = None
    for level in (30, 20, 12, 7):
        c = geo.s2_cell(lon, lat, level).view(np.uint64)
        assert np.all(geo.s2_level(c.view(np.int64)) == level)
        if prev is not None:
            # truncating the finer id to this level must equal this id
            lsb = np.uint64(1) << np.uint64(2 * (30 - level))
            trunc = (prev & ~(lsb - np.uint64(1))) | lsb
            np.testing.assert_array_equal(trunc, c)
        prev = c


def test_cell_center_roundtrip():
    rng = np.random.default_rng(5)
    lon = rng.uniform(-180, 180, 200)
    lat = rng.uniform(-85, 85, 200)
    for level in (30, 16):
        c = geo.s2_cell(lon, lat, level)
        clon, clat = geo.s2_cell_center(c)
        c2 = geo.s2_cell(clon, clat, level)
        np.testing.assert_array_equal(c, c2)
        if level == 30:  # leaf centers are within a leaf diagonal (~1e-6 deg)
            assert np.max(np.abs(clat - lat)) < 1e-4


def test_hilbert_locality():
    # nearby points at level 12 share or neighbor cells far more than random
    rng = np.random.default_rng(6)
    lon = rng.uniform(-30, 30, 200)
    lat = rng.uniform(-30, 30, 200)
    a = geo.s2_cell(lon, lat, 12)
    b = geo.s2_cell(lon + 1e-7, lat + 1e-7, 12)
    assert (a == b).mean() > 0.95


def test_hexcell_roundtrip_and_res():
    rng = np.random.default_rng(7)
    lon = rng.uniform(-170, 170, 400)
    lat = rng.uniform(-80, 80, 400)
    for res in (7, 8, 9):
        c = geo.hexcell(lon, lat, res)
        r, q, rr = geo.hexcell_decode(c)
        assert np.all(r == res)
        clon, clat = geo.hexcell_center(c)
        # center is within one hex circumradius
        size = geo.HEX_EDGE_DEG[res]
        d = np.hypot(clon - lon, clat - lat)
        assert np.max(d) <= size * 1.0001
        # re-encoding the center returns the same cell
        np.testing.assert_array_equal(geo.hexcell(clon, clat, res), c)
    # finer res -> more distinct cells
    n7 = len(np.unique(geo.hexcell(lon, lat, 7)))
    n9 = len(np.unique(geo.hexcell(lon, lat, 9)))
    assert n9 >= n7


def _assert_cover_superset(geo, np, rng, lon0, lat0, lon1, lat1, L,
                           budget_slack=1):
    """Shared oracle: every bbox point's cell id (same or deeper level) must
    land inside the covering's merged id ranges. lon0 > lon1 = wrap rect."""
    cells = geo.s2_cover_bbox(lon0, lat0, lon1, lat1, level=L)
    assert 0 < len(cells) <= budget_slack * 512 + 6  # budget (+frontier slack)
    ranges = geo.s2_ranges(cells)
    assert all(ranges[i][1] < ranges[i + 1][0] for i in range(len(ranges) - 1))
    if lon0 <= lon1:
        px = rng.uniform(lon0, lon1, 2000)
    else:  # antimeridian wrap: sample both sides, biased to hug +-180
        span = (180.0 - lon0) + (lon1 + 180.0)
        off = np.concatenate([rng.uniform(0, span, 1500),
                              rng.uniform(0, min(span, 0.02), 500)])
        px = lon0 + off
        px = np.where(px > 180.0, px - 360.0, px)
    py = rng.uniform(lat0, lat1, 2000)
    ids = geo.s2_cell(px, py, level=max(L, 12))
    ok = np.zeros(len(ids), dtype=bool)
    for lo, hi in ranges:
        ok |= (ids >= lo) & (ids <= hi)
    assert ok.all(), (lon0, lat0, lon1, lat1, L, int((~ok).sum()))


def test_s2_cover_bbox_superset_and_budget():
    import numpy as np

    from i_landsat8_swlst_spark import geo

    rng = np.random.default_rng(7)
    for _ in range(12):
        lon0 = rng.uniform(-170, 160); lat0 = rng.uniform(-80, 70)
        lon1 = lon0 + rng.uniform(0.1, 8); lat1 = lat0 + rng.uniform(0.1, 8)
        for L in (8, 10, 12):
            _assert_cover_superset(geo, np, rng, lon0, lat0, lon1, lat1, L)


def test_s2_cover_bbox_superset_high_lat_and_face_corners():
    """ADVICE r3: the conservativeness pad must hold where the uv->lonlat
    projection distorts most — high latitudes (polar faces) and cube-face
    corners (lat ~ +-35.26 at lon 45+90k)."""
    import numpy as np

    from i_landsat8_swlst_spark import geo

    rng = np.random.default_rng(11)
    # high latitude, both hemispheres, incl. narrow + wide rects
    for lat_c in (62.0, 75.0, 84.0, -70.0, -83.0):
        for _ in range(3):
            lon0 = rng.uniform(-170, 160); lat0 = lat_c + rng.uniform(-1, 0)
            lon1 = lon0 + rng.uniform(0.05, 6); lat1 = lat0 + rng.uniform(0.05, 1.5)
            _assert_cover_superset(geo, np, rng, lon0, lat0, lon1, lat1, 10)
    # face corners of the cube: (45 + 90k, +-atan(1/sqrt(2)) ~ 35.264)
    corner_lat = float(np.degrees(np.arctan(1 / np.sqrt(2))))
    for k in range(4):
        for sgn in (1.0, -1.0):
            clon = -135.0 + 90.0 * k
            for _ in range(2):
                lon0 = clon + rng.uniform(-0.6, 0.1)
                lat0 = sgn * corner_lat + rng.uniform(-0.6, 0.1)
                _assert_cover_superset(geo, np, rng, lon0, lat0,
                                       lon0 + rng.uniform(0.2, 1.0),
                                       lat0 + rng.uniform(0.2, 1.0), 10)


def test_s2_cover_bbox_antimeridian_wrap():
    """VERDICT r3 item 5: a Pacific-crossing bbox (lon0 > lon1) is split
    internally and the union covers points on BOTH sides of +-180."""
    import numpy as np

    from i_landsat8_swlst_spark import geo

    rng = np.random.default_rng(13)
    cases = [(170.0, 10.0, -170.0, 20.0), (179.5, -5.0, -179.5, 5.0),
             (150.0, -45.0, -150.0, -35.0), (178.0, 60.0, -178.0, 70.0)]
    for lon0, lat0, lon1, lat1 in cases:
        for L in (8, 10):
            _assert_cover_superset(geo, np, rng, lon0, lat0, lon1, lat1, L,
                                   budget_slack=2)
    # still rejects a genuinely invalid rect
    import pytest
    with pytest.raises(ValueError):
        geo.s2_cover_bbox(0.0, 20.0, 10.0, 10.0, level=8)


# --- vector measurement (v.to.db parity) --------------------------------------------


def test_ring_area_golden_vectors():
    # whole sphere octant: the (0,0)-(90,0)-(0,90) triangle is exactly 1/8
    # of the sphere's surface
    octant = np.array([[0.0, 0.0], [90.0, 0.0], [0.0, 90.0]])
    sphere = 4.0 * np.pi * geo._EARTH_R_KM ** 2
    assert geo.ring_area_km2(octant) == pytest.approx(sphere / 8.0, rel=1e-12)
    # orientation and closure invariance
    assert geo.ring_area_km2(octant[::-1]) == pytest.approx(sphere / 8.0, rel=1e-12)
    closed = np.vstack([octant, octant[:1]])
    assert geo.ring_area_km2(closed) == pytest.approx(sphere / 8.0, rel=1e-12)
    # a small equatorial square: ~ (edge_km)^2 with sub-0.1% curvature error
    d = 0.1
    sq = np.array([[0, -d/2], [d, -d/2], [d, d/2], [0, d/2]])
    edge_km = np.radians(d) * geo._EARTH_R_KM
    assert geo.ring_area_km2(sq) == pytest.approx(edge_km ** 2, rel=1e-3)
    # degenerate
    assert geo.ring_area_km2(np.array([[0.0, 0.0], [1.0, 1.0]])) == 0.0


def test_ring_perimeter_golden_vectors():
    # equator quarter arc: 90 degrees of great circle per edge
    octant = np.array([[0.0, 0.0], [90.0, 0.0], [0.0, 90.0]])
    quarter = np.pi / 2 * geo._EARTH_R_KM
    assert geo.ring_perimeter_km(octant) == pytest.approx(3 * quarter, rel=1e-12)
    d = 0.1
    sq = np.array([[0, -d/2], [d, -d/2], [d, d/2], [0, d/2]])
    edge_km = np.radians(d) * geo._EARTH_R_KM
    assert geo.ring_perimeter_km(sq) == pytest.approx(4 * edge_km, rel=1e-4)


def test_ring_centroid_golden_vectors():
    sq = np.array([[2.0, 1.0], [4.0, 1.0], [4.0, 3.0], [2.0, 3.0]])
    assert geo.ring_centroid(sq) == pytest.approx((3.0, 2.0))
    # L-shape: centroid from the shoelace decomposition, orientation-stable
    L = np.array([[0, 0], [2, 0], [2, 1], [1, 1], [1, 2], [0, 2]], dtype=float)
    cx, cy = geo.ring_centroid(L)
    cxr, cyr = geo.ring_centroid(L[::-1])
    assert (cx, cy) == pytest.approx((cxr, cyr))
    # known: area 3, centroid (7/6 * ... ) compute via decomposition:
    # square [0,2]x[0,1] (area 2, c (1, .5)) + square [0,1]x[1,2] (area 1, c (.5, 1.5))
    assert (cx, cy) == pytest.approx(((2 * 1.0 + 1 * 0.5) / 3, (2 * 0.5 + 1 * 1.5) / 3))
    # degenerate collinear ring -> vertex mean
    line = np.array([[0.0, 0.0], [1.0, 1.0], [2.0, 2.0]])
    assert geo.ring_centroid(line) == pytest.approx((1.0, 1.0))

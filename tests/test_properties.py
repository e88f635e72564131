"""Property-based (hypothesis) tests over the pure-NumPy cores.

The fixed-fixture goldens (test_kernels, test_joins, test_grid) pin the
SURVEY.md §5.3 semantics on hand-picked inputs; these tests widen that
to randomized inputs so edge geometry (NaN islands, tiny rasters,
degenerate windows, star polygons, wrap seams) is searched rather than
enumerated. Pure NumPy only — no SparkSession — so the suite stays
fast.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from engine import geometry, grid, kernels

hypothesis = pytest.importorskip("hypothesis")
given, settings, st = hypothesis.given, hypothesis.settings, hypothesis.strategies


# ---------------------------------------------------------------------------
# focal kernels vs explicit window enumeration on randomized rasters
# ---------------------------------------------------------------------------

def _window_vals(arr, y, x, shape, r):
    H, W = arr.shape
    vals = []
    for dy in range(-r, r + 1):
        for dx in range(-r, r + 1):
            if shape == "circle" and dy * dy + dx * dx > r * r:
                continue
            yy, xx = y + dy, x + dx
            if 0 <= yy < H and 0 <= xx < W and np.isfinite(arr[yy, xx]):
                vals.append(arr[yy, xx])
    return vals


@given(
    seed=st.integers(0, 2**31 - 1),
    h=st.integers(1, 14),
    w=st.integers(1, 14),
    r=st.integers(1, 4),
    shape=st.sampled_from(["square", "circle"]),
    nan_pct=st.sampled_from([0.0, 0.2, 0.9]),
)
@settings(max_examples=60, deadline=None)
def test_focal_sum_mean_extrema_random(seed, h, w, r, shape, nan_pct):
    rng = np.random.default_rng(seed)
    arr = rng.integers(-50, 50, size=(h, w)).astype(np.float64)
    arr[rng.random((h, w)) < nan_pct] = np.nan

    got_sum = kernels.focal_sum(arr, r, shape)
    got_mean = kernels.focal_mean(arr, r, shape)
    got_max = kernels.focal_extremum(arr, r, shape, mode="max")
    got_min = kernels.focal_extremum(arr, r, shape, mode="min")
    for y in range(h):
        for x in range(w):
            v = _window_vals(arr, y, x, shape, r)
            if not v:
                assert np.isnan(got_mean[y, x]) and np.isnan(got_max[y, x])
                continue
            assert got_sum[y, x] == sum(v)  # integer-valued => exact
            assert abs(got_mean[y, x] - sum(v) / len(v)) < 1e-9
            assert got_max[y, x] == max(v)
            assert got_min[y, x] == min(v)


@given(
    seed=st.integers(0, 2**31 - 1),
    h=st.integers(1, 10),
    w=st.integers(1, 10),
    r=st.integers(1, 3),
    q=st.sampled_from([0.1, 0.5, 0.9]),
)
@settings(max_examples=40, deadline=None)
def test_focal_percentile_random(seed, h, w, r, q):
    """rank = ceil(q*n), 1-based over the ascending valid window — the
    per-myriad integer-rank convention pinned in §5.3 (round-5 fix)."""
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 20, size=(h, w)).astype(np.float64)
    arr[rng.random((h, w)) < 0.3] = np.nan
    got = kernels.focal_percentile(arr, r, q, "square")
    q_pm = int(round(q * 10000))
    for y in range(h):
        for x in range(w):
            v = sorted(_window_vals(arr, y, x, "square", r))
            if not v:
                assert np.isnan(got[y, x])
                continue
            rank = -((-q_pm * len(v)) // 10000)  # exact integer ceil
            assert got[y, x] == v[max(rank, 1) - 1]


# ---------------------------------------------------------------------------
# point-in-polygon vs an independent crossing-number formulation
# ---------------------------------------------------------------------------

def _pnpoly(px, py, xs, ys):
    """W. Randolph Franklin's pnpoly (public-domain algorithm),
    structured differently from engine/geometry.py's edge loop."""
    inside = False
    j = len(xs) - 1
    for i in range(len(xs)):
        if (ys[i] > py) != (ys[j] > py) and (
            px < (xs[j] - xs[i]) * (py - ys[i]) / (ys[j] - ys[i]) + xs[i]
        ):
            inside = not inside
        j = i
    return inside


def _seg_dist(px, py, x1, y1, x2, y2):
    dx, dy = x2 - x1, y2 - y1
    L2 = dx * dx + dy * dy
    t = 0.0 if L2 == 0 else max(0.0, min(1.0, ((px - x1) * dx + (py - y1) * dy) / L2))
    return math.hypot(px - (x1 + t * dx), py - (y1 + t * dy))


@given(
    seed=st.integers(0, 2**31 - 1),
    n_vert=st.integers(3, 12),
    clat=st.floats(-60, 60),
    clon=st.floats(-150, 150),
)
@settings(max_examples=80, deadline=None)
def test_pip_matches_pnpoly_on_star_polygons(seed, n_vert, clat, clon):
    rng = np.random.default_rng(seed)
    # star-shaped => simple (non-self-intersecting), convex and concave
    ang = np.sort(rng.uniform(0, 2 * np.pi, n_vert))
    if np.min(np.diff(ang, append=ang[0] + 2 * np.pi)) < 1e-3:
        ang = np.linspace(0, 2 * np.pi, n_vert, endpoint=False)
    rad = rng.uniform(0.5, 8.0, n_vert)
    vlat = clat + rad * np.sin(ang)
    vlon = clon + rad * np.cos(ang)
    ring = [{"lat": float(a), "lon": float(o)} for a, o in zip(vlat, vlon)]
    ring.append(ring[0])

    pts_lat = rng.uniform(vlat.min() - 1, vlat.max() + 1, 40)
    pts_lon = rng.uniform(vlon.min() - 1, vlon.max() + 1, 40)
    got = geometry.point_in_polygon(pts_lat, pts_lon, ring)
    xs, ys = list(vlon), list(vlat)
    for i in range(len(pts_lat)):
        # skip points too close to the boundary: there the two
        # formulations legitimately differ (engine counts edges INSIDE)
        d = min(
            _seg_dist(pts_lon[i], pts_lat[i], xs[k], ys[k],
                      xs[(k + 1) % len(xs)], ys[(k + 1) % len(xs)])
            for k in range(len(xs))
        )
        if d < 1e-7:
            continue
        assert got[i] == _pnpoly(pts_lon[i], pts_lat[i], xs, ys)


@given(
    seed=st.integers(0, 2**31 - 1),
    shift=st.sampled_from([-360.0, 0.0, 360.0]),
)
@settings(max_examples=30, deadline=None)
def test_pip_invariant_under_lon_revolution(seed, shift):
    """Adding a full revolution to the POINT longitudes never changes
    membership (the reframe rule, §5.3.6)."""
    rng = np.random.default_rng(seed)
    ring = [
        {"lat": -5.0, "lon": 170.0}, {"lat": -5.0, "lon": 190.0},
        {"lat": 10.0, "lon": 190.0}, {"lat": 10.0, "lon": 170.0},
        {"lat": -5.0, "lon": 170.0},
    ]
    lat = rng.uniform(-10, 15, 30)
    lon = rng.uniform(160, 200, 30)
    base = geometry.point_in_polygon(lat, np.mod(lon + 180, 360) - 180, ring)
    moved = geometry.point_in_polygon(lat, np.mod(lon + 180, 360) - 180 + shift, ring)
    assert (base == moved).all()


# ---------------------------------------------------------------------------
# grid cells: k-ring symmetry, parent containment, tile round-trip
# ---------------------------------------------------------------------------

@given(
    lat=st.floats(-89, 89),
    lon=st.floats(-180, 179.999),
    level=st.integers(2, 12),
    k=st.integers(1, 3),
)
@settings(max_examples=100, deadline=None)
def test_k_ring_symmetry_and_bounds(lat, lon, level, k):
    a = int(grid.cell_encode(np.array([lat]), np.array([lon]), level)[0])
    ring = grid.k_ring(a, k)
    assert a in ring
    assert len(ring) <= (2 * k + 1) ** 2
    for b in ring:
        assert a in grid.k_ring(int(b), k)  # Chebyshev distance is symmetric


@given(
    lat=st.floats(-89, 89),
    lon=st.floats(-180, 179.999),
    level=st.integers(2, grid.MAX_LEVEL),
)
@settings(max_examples=150, deadline=None)
def test_parent_descendant_range_contains_cell(lat, lon, level):
    cid = int(grid.cell_encode(np.array([lat]), np.array([lon]), level)[0])
    for plevel in {1, max(level // 2, 1), level}:
        parent = int(grid.cell_parent(np.array([cid]), parent_level=plevel)[0])
        lo, hi = grid.cell_descendant_range(parent, level)
        assert lo <= cid <= hi
        # the same point encoded at the parent level IS that parent
        direct = int(grid.cell_encode(np.array([lat]), np.array([lon]), plevel)[0])
        assert direct == parent


@given(
    lat=st.floats(-89, 89),
    lon=st.floats(-180, 179.999),
    level=st.integers(6, grid.MAX_LEVEL),
    tile_size=st.sampled_from([16, 64, 256]),
)
@settings(max_examples=100, deadline=None)
def test_tile_assignment_roundtrip(lat, lon, level, tile_size):
    cid = grid.cell_encode(np.array([lat]), np.array([lon]), level)
    tx, ty, px, py = grid.cell_to_tile(cid, tile_size)
    oi, oj = grid.tile_to_cell_origin(int(tx[0]), int(ty[0]), tile_size)
    _, _, i, j, _ = grid.cell_decode(cid)
    assert oi + int(px[0]) == i[0] and oj + int(py[0]) == j[0]
    assert 0 <= int(px[0]) < tile_size and 0 <= int(py[0]) < tile_size


# ---------------------------------------------------------------------------
# haversine is a metric (on the sphere's chord model it implements)
# ---------------------------------------------------------------------------

@given(
    lat1=st.floats(-90, 90), lon1=st.floats(-180, 180),
    lat2=st.floats(-90, 90), lon2=st.floats(-180, 180),
)
@settings(max_examples=150, deadline=None)
def test_haversine_metric_properties(lat1, lon1, lat2, lon2):
    d12 = float(grid.haversine_km(np.array([lat1]), np.array([lon1]),
                                  np.array([lat2]), np.array([lon2]))[0])
    d21 = float(grid.haversine_km(np.array([lat2]), np.array([lon2]),
                                  np.array([lat1]), np.array([lon1]))[0])
    d11 = float(grid.haversine_km(np.array([lat1]), np.array([lon1]),
                                  np.array([lat1]), np.array([lon1]))[0])
    assert d11 == 0.0
    assert abs(d12 - d21) <= 1e-9 * max(1.0, d12)
    assert -1e-9 <= d12 <= math.pi * 6371.0088 * 1.0000001  # half circumference

"""t3 goldens for engine.kernels: every output cell recomputed by
explicit window enumeration of the SURVEY.md §5.3 pinned semantics."""

from __future__ import annotations

import math

import numpy as np
import pytest

from engine import kernels


def members(shape, r):
    out = []
    for dy in range(-r, r + 1):
        for dx in range(-r, r + 1):
            if shape == "square" or dy * dy + dx * dx <= r * r:
                out.append((dy, dx))
    return out


def window_vals(arr, y, x, shape, r):
    H, W = arr.shape
    vals = []
    for dy, dx in members(shape, r):
        yy, xx = y + dy, x + dx
        if 0 <= yy < H and 0 <= xx < W and np.isfinite(arr[yy, xx]):
            vals.append(arr[yy, xx])
    return vals


def brute(arr, r, shape, stat, **kw):
    H, W = arr.shape
    out = np.full((H, W), np.nan)
    for y in range(H):
        for x in range(W):
            v = window_vals(arr, y, x, shape, r)
            if stat == "sum":
                out[y, x] = float(np.sum(v)) if True else np.nan
            elif stat == "count":
                out[y, x] = float(len(v))
            elif stat == "mean":
                out[y, x] = float(np.sum(v)) / len(v) if v else np.nan
            elif stat == "min":
                out[y, x] = min(v) if v else np.nan
            elif stat == "max":
                out[y, x] = max(v) if v else np.nan
            elif stat == "proportion":
                out[y, x] = (sum(1 for a in v if a == kw["klass"]) / len(v)) if v else np.nan
            elif stat == "richness":
                out[y, x] = float(len(set(v))) if v else np.nan
            elif stat == "shannon":
                if not v:
                    continue
                n = len(v)
                s = 0.0
                for c in set(v):
                    p = sum(1 for a in v if a == c) / n
                    s -= p * math.log(p)
                out[y, x] = s
            elif stat == "majority":
                if not v:
                    continue
                cnt = {}
                for a in v:
                    cnt[a] = cnt.get(a, 0) + 1
                m = max(cnt.values())
                out[y, x] = min(c for c, n in cnt.items() if n == m)
    return out


def brute_weighted_mean(arr, r, kind, sigma=None):
    H, W = arr.shape
    out = np.full((H, W), np.nan)
    s = sigma if sigma is not None else r / 2.0
    for y in range(H):
        for x in range(W):
            num = den = 0.0
            for dy in range(-r, r + 1):
                for dx in range(-r, r + 1):
                    d = math.sqrt(dy * dy + dx * dx)
                    if d > r:
                        continue
                    yy, xx = y + dy, x + dx
                    if 0 <= yy < H and 0 <= xx < W and np.isfinite(arr[yy, xx]):
                        w = math.exp(-d * d / (2 * s * s)) if kind == "gaussian" else 1.0 / (1.0 + d)
                        num += w * arr[yy, xx]
                        den += w
            if den > 0:
                out[y, x] = num / den
    return out


def brute_edge_density(cls, r, shape):
    """Edges: rook-adjacent VALID pairs, both endpoints inside W (§5.3.4)."""
    H, W = cls.shape
    mem = set(members(shape, r))
    out = np.full((H, W), np.nan)
    edges = []  # ((y1,x1),(y2,x2))
    for y in range(H):
        for x in range(W):
            if x + 1 < W and np.isfinite(cls[y, x]) and np.isfinite(cls[y, x + 1]):
                edges.append(((y, x), (y, x + 1)))
            if y + 1 < H and np.isfinite(cls[y, x]) and np.isfinite(cls[y + 1, x]):
                edges.append(((y, x), (y + 1, x)))
    for y in range(H):
        for x in range(W):
            tot = diff = 0
            for (y1, x1), (y2, x2) in edges:
                if (y1 - y, x1 - x) in mem and (y2 - y, x2 - x) in mem:
                    tot += 1
                    if cls[y1, x1] != cls[y2, x2]:
                        diff += 1
            if tot:
                out[y, x] = diff / tot
    return out


def brute_interspersion(cls, r, shape):
    H, W = cls.shape
    mem = set(members(shape, r))
    finite = np.isfinite(cls)
    classes = sorted(set(cls[finite].tolist()))
    pairs = [(a, b) for k, a in enumerate(classes) for b in classes[k + 1:]]
    out = np.full((H, W), np.nan)
    if len(pairs) < 1:
        return out
    edges = []
    for y in range(H):
        for x in range(W):
            if x + 1 < W and finite[y, x] and finite[y, x + 1]:
                edges.append(((y, x), (y, x + 1)))
            if y + 1 < H and finite[y, x] and finite[y + 1, x]:
                edges.append(((y, x), (y + 1, x)))
    for y in range(H):
        for x in range(W):
            cnt = {p: 0 for p in pairs}
            tot = 0
            for (y1, x1), (y2, x2) in edges:
                if (y1 - y, x1 - x) in mem and (y2 - y, x2 - x) in mem:
                    a, b = cls[y1, x1], cls[y2, x2]
                    if a != b:
                        key = (min(a, b), max(a, b))
                        cnt[key] += 1
                        tot += 1
            if tot == 0:
                out[y, x] = np.nan
                continue
            s = 0.0
            for p in pairs:
                q = cnt[p] / tot
                if q > 0:
                    s -= q * math.log(q)
            out[y, x] = s / math.log(len(pairs)) if len(pairs) > 1 else s
    return out


@pytest.fixture(scope="module")
def rand_arr():
    rng = np.random.default_rng(42)
    a = rng.normal(size=(26, 31))
    a[rng.random(a.shape) < 0.12] = np.nan  # nodata speckle
    a[:, 0] = np.nan  # nodata stripe at boundary
    return a


@pytest.fixture(scope="module")
def class_arr():
    rng = np.random.default_rng(7)
    c = rng.integers(0, 4, size=(20, 23)).astype(np.float64)
    c[rng.random(c.shape) < 0.1] = np.nan
    return c


@pytest.mark.parametrize("shape", ["square", "circle"])
@pytest.mark.parametrize("r", [1, 3, 7])
def test_sum_count_mean(rand_arr, shape, r):
    np.testing.assert_allclose(
        kernels.focal_sum(rand_arr, r, shape), brute(rand_arr, r, shape, "sum"), rtol=1e-12, atol=1e-12
    )
    np.testing.assert_array_equal(
        kernels.focal_count(rand_arr, r, shape), brute(rand_arr, r, shape, "count")
    )
    np.testing.assert_allclose(
        kernels.focal_mean(rand_arr, r, shape), brute(rand_arr, r, shape, "mean"), rtol=1e-12, atol=1e-12
    )


@pytest.mark.parametrize("shape", ["square", "circle"])
@pytest.mark.parametrize("r", [1, 3])
@pytest.mark.parametrize("mode", ["min", "max"])
def test_extrema(rand_arr, shape, r, mode):
    got = kernels.focal_extremum(rand_arr, r, shape, mode)
    want = brute(rand_arr, r, shape, mode)
    np.testing.assert_allclose(got, want, rtol=0, atol=0)


@pytest.mark.parametrize("kind", ["gaussian", "invdist"])
@pytest.mark.parametrize("r", [3, 7])
def test_weighted_mean(rand_arr, kind, r):
    got = kernels.focal_weighted_mean(rand_arr, r, kind)
    want = brute_weighted_mean(rand_arr, r, kind)
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9)


@pytest.mark.parametrize("shape", ["square", "circle"])
@pytest.mark.parametrize("r", [1, 3])
def test_class_stats(class_arr, shape, r):
    np.testing.assert_allclose(
        kernels.focal_proportion(class_arr, r, 2.0, shape),
        brute(class_arr, r, shape, "proportion", klass=2.0),
        rtol=1e-12, atol=1e-12,
    )
    np.testing.assert_allclose(
        kernels.focal_richness(class_arr, r, shape), brute(class_arr, r, shape, "richness"),
        rtol=0, atol=0,
    )
    np.testing.assert_allclose(
        kernels.focal_shannon(class_arr, r, shape), brute(class_arr, r, shape, "shannon"),
        rtol=1e-12, atol=1e-12,
    )
    np.testing.assert_allclose(
        kernels.focal_majority(class_arr, r, shape), brute(class_arr, r, shape, "majority"),
        rtol=0, atol=0,
    )


@pytest.mark.parametrize("shape", ["square", "circle"])
@pytest.mark.parametrize("r", [1, 2, 3])
def test_edge_density(class_arr, shape, r):
    got = kernels.focal_edge_density(class_arr, r, shape)
    want = brute_edge_density(class_arr, r, shape)
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-12)


@pytest.mark.parametrize("shape", ["square"])
@pytest.mark.parametrize("r", [2])
def test_interspersion(class_arr, shape, r):
    got = kernels.focal_interspersion(class_arr, r, shape)
    want = brute_interspersion(class_arr, r, shape)
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-12)


def test_all_nodata_window():
    a = np.full((9, 9), np.nan)
    assert np.isnan(kernels.focal_mean(a, 2, "square")).all()
    assert np.isnan(kernels.focal_extremum(a, 2, "square", "max")).all()
    assert (kernels.focal_count(a, 2, "circle") == 0).all()


def test_integer_exactness():
    """§5.3.9: chord sums are bitwise-exact for integer inputs."""
    rng = np.random.default_rng(3)
    a = rng.integers(0, 100, size=(17, 19)).astype(np.float64)
    s = kernels.focal_sum(a, 3, "circle")
    assert (s == np.rint(s)).all()


def test_focal_annulus_mean_brute():
    """Ring mean r_in < d <= r vs explicit enumeration, NaN speckle and
    borders included; empty rings (all-invalid) -> NaN."""
    rng = np.random.default_rng(5)
    arr = rng.random((30, 27)) * 10
    arr[rng.random((30, 27)) < 0.15] = np.nan
    r, r_in = 5, 2.0
    got = kernels.focal_annulus_mean(arr, r, r_in)
    H, W = arr.shape
    want = np.full((H, W), np.nan)
    for j in range(H):
        for i in range(W):
            vals = []
            for dj in range(-r, r + 1):
                for di in range(-r, r + 1):
                    d = (dj * dj + di * di) ** 0.5
                    if not (r_in < d <= r):
                        continue
                    nj, ni = j + dj, i + di
                    if 0 <= nj < H and 0 <= ni < W and np.isfinite(arr[nj, ni]):
                        vals.append(arr[nj, ni])
            if vals:
                want[j, i] = sum(vals) / len(vals)
    np.testing.assert_allclose(
        np.nan_to_num(got, nan=-9), np.nan_to_num(want, nan=-9), rtol=1e-9, atol=1e-9
    )


def test_focal_annulus_registry(spark):
    """The parameterized 'annulus_mean:<r_in>' form resolves through
    apply_focal and equals the direct kernel on tiled input."""
    from engine import fixtures, tiling

    arr = fixtures.dem_arith(size=32)
    tiles = spark.createDataFrame(
        fixtures.tiles_rows_from_array(arr, 16, band="z"),
        fixtures.TILES_SCHEMA_DDL,
    )
    out = tiling.apply_focal(tiles, 4, "circle", ["annulus_mean:1.5"], 16, level=0)
    whole = kernels.focal_annulus_mean(arr, 4, 1.5)
    for rrow in out.collect():
        got = np.asarray(rrow.data, dtype=np.float64).reshape(rrow.nrows, rrow.ncols)
        want = whole[rrow.tile_y * 16 : rrow.tile_y * 16 + rrow.nrows,
                     rrow.tile_x * 16 : rrow.tile_x * 16 + rrow.ncols]
        np.testing.assert_allclose(
            np.nan_to_num(got, nan=-9), np.nan_to_num(want, nan=-9),
            rtol=1e-9, atol=1e-9,
        )


def test_focal_std_brute():
    """Population std over valid window cells == per-cell brute
    recount, dense DEM with NaN speckle, square and circle windows."""
    from engine import fixtures
    from engine.kernels import focal_std

    arr = fixtures.dem_arith(size=32)
    H, W = arr.shape
    for shape in ("square", "circle"):
        got = focal_std(arr, 3, shape)
        offs = [
            (dy, dx)
            for dy in range(-3, 4) for dx in range(-3, 4)
            if shape == "square" or dy * dy + dx * dx <= 9
        ]
        want = np.full((H, W), np.nan)
        for j in range(H):
            for i in range(W):
                vals = [
                    arr[j + dy, i + dx]
                    for dy, dx in offs
                    if 0 <= j + dy < H and 0 <= i + dx < W
                    and np.isfinite(arr[j + dy, i + dx])
                ]
                if vals:
                    v = np.array(vals)
                    want[j, i] = np.sqrt(
                        max(0.0, (v * v).sum() / len(v) - (v.sum() / len(v)) ** 2)
                    )
        np.testing.assert_allclose(
            np.nan_to_num(got, nan=-9), np.nan_to_num(want, nan=-9),
            rtol=0, atol=1e-9,
        )
        assert np.nanmax(got) > 0.1


@pytest.mark.parametrize("shape", ["square", "circle"])
@pytest.mark.parametrize("r", [1, 3])
@pytest.mark.parametrize("q", [0.25, 0.5, 0.9])
def test_focal_percentile_brute(class_arr, shape, r, q):
    """W33 rank-ceil(q*n) pick over window valid cells == explicit
    per-window sorted selection, incl. NaN speckle and boundaries."""
    got = kernels.focal_percentile(class_arr, r, q, shape)
    H, W = class_arr.shape
    want = np.full((H, W), np.nan)
    chords = kernels.chords_for(shape, r)
    for y in range(H):
        for x in range(W):
            vals = []
            for dy, lo, hi in chords:
                yy = y + dy
                if not (0 <= yy < H):
                    continue
                for xx in range(max(0, x + lo), min(W, x + hi + 1)):
                    v = class_arr[yy, xx]
                    if np.isfinite(v):
                        vals.append(v)
            if vals:
                vals.sort()
                # exact integer rank: ceil(q_pm*n/10000), never float ceil
                q_pm = int(round(q * 10000))
                want[y, x] = vals[max(-((-q_pm * len(vals)) // 10000), 1) - 1]
    np.testing.assert_allclose(got, want, rtol=0, atol=0, equal_nan=True)


@pytest.mark.parametrize("shape", ["square", "circle"])
@pytest.mark.parametrize("r", [1, 3])
def test_focal_minority_brute(class_arr, shape, r):
    """W34 least-frequent-present class, smallest-id tie rule."""
    got = kernels.focal_minority(class_arr, r, shape)
    H, W = class_arr.shape
    want = np.full((H, W), np.nan)
    chords = kernels.chords_for(shape, r)
    for y in range(H):
        for x in range(W):
            cnt: dict[float, int] = {}
            for dy, lo, hi in chords:
                yy = y + dy
                if not (0 <= yy < H):
                    continue
                for xx in range(max(0, x + lo), min(W, x + hi + 1)):
                    v = class_arr[yy, xx]
                    if np.isfinite(v):
                        cnt[v] = cnt.get(v, 0) + 1
            if cnt:
                want[y, x] = min(cnt, key=lambda c: (cnt[c], c))
    np.testing.assert_allclose(got, want, rtol=0, atol=0, equal_nan=True)


def _shift_add(plane, chords):
    """Reference chord sum: one shifted whole-plane add per footprint
    offset, out-of-array offsets skipped."""
    H, W = plane.shape[-2:]
    out = np.zeros(plane.shape)
    for dy, lo, hi in chords:
        for dx in range(lo, hi + 1):
            y0, y1 = max(0, -dy), min(H, H - dy)
            x0, x1 = max(0, -dx), min(W, W - dx)
            if y0 < y1 and x0 < x1:
                out[..., y0:y1, x0:x1] += plane[..., y0 + dy : y1 + dy, x0 + dx : x1 + dx]
    return out


def test_sliding_sum_chords_matches_shift_add():
    """Property: the edge-padded prefix-sum slices equal shift-and-add
    exactly (integer-valued planes) for every footprint element, planes
    smaller than the window, and a stacked leading axis."""
    hypothesis = pytest.importorskip("hypothesis")
    st = hypothesis.strategies

    @hypothesis.given(
        seed=st.integers(0, 2**31 - 1),
        h=st.integers(1, 40),
        w=st.integers(1, 40),
        r=st.integers(0, 31),
        footprint=st.sampled_from(
            [(s, e) for s in ("square", "circle") for e in ("cell", "hedge", "vedge")]
            + [("annulus", None)]
        ),
        r_in_frac=st.floats(0.0, 1.0),
        stack=st.integers(0, 3),
    )
    @hypothesis.settings(max_examples=200, deadline=None)
    def check(seed, h, w, r, footprint, r_in_frac, stack):
        shape, element = footprint
        if shape == "annulus":
            chords = kernels.annulus_chords(r, r_in_frac * r)
        else:
            chords = kernels.chords_for(shape, r, element)
        rng = np.random.default_rng(seed)
        lead = (stack,) if stack else ()
        plane = rng.integers(-50, 50, size=lead + (h, w)).astype(np.float64)
        got = kernels.sliding_sum_chords(plane, chords)
        assert got.shape == plane.shape
        assert np.array_equal(got, _shift_add(plane, chords))

    check()

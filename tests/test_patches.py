"""t3 goldens for W11–W14: global brute-force CCL (BFS) + explicit
per-window patch enumeration with the paper's fractional edge
correction — validates both the distributed stitching AND the focal
algebra reduction."""

from __future__ import annotations

import math
from collections import deque

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine import chains, fixtures, kernels, patches, tiling


# --- independent global CCL via BFS -----------------------------------------

def brute_ccl(arr):
    H, W = arr.shape
    lab = np.full((H, W), -1, dtype=np.int64)
    nxt = 0
    for y in range(H):
        for x in range(W):
            if not np.isfinite(arr[y, x]) or lab[y, x] >= 0:
                continue
            q = deque([(y, x)])
            lab[y, x] = nxt
            while q:
                cy, cx = q.popleft()
                for dy, dx in ((0, 1), (0, -1), (1, 0), (-1, 0)):
                    ny, nx_ = cy + dy, cx + dx
                    if (
                        0 <= ny < H and 0 <= nx_ < W
                        and lab[ny, nx_] < 0
                        and np.isfinite(arr[ny, nx_])
                        and arr[ny, nx_] == arr[cy, cx]
                    ):
                        lab[ny, nx_] = nxt
                        q.append((ny, nx_))
            nxt += 1
    return lab, nxt


def brute_patch_table(arr, lab, n):
    area = np.zeros(n, dtype=np.int64)
    perim = np.zeros(n, dtype=np.int64)
    klass = np.zeros(n)
    H, W = arr.shape
    for y in range(H):
        for x in range(W):
            p = lab[y, x]
            if p < 0:
                continue
            area[p] += 1
            klass[p] = arr[y, x]
            for dy, dx in ((0, 1), (0, -1), (1, 0), (-1, 0)):
                ny, nx_ = y + dy, x + dx
                if (
                    not (0 <= ny < H and 0 <= nx_ < W)
                    or not np.isfinite(arr[ny, nx_])
                    or arr[ny, nx_] != arr[y, x]
                ):
                    perim[p] += 1
    return area, perim, klass


def window_members(shape, r):
    return [
        (dy, dx)
        for dy in range(-r, r + 1)
        for dx in range(-r, r + 1)
        if shape == "square" or dy * dy + dx * dx <= r * r
    ]


def brute_patch_stats(arr, lab, area, perim, r, shape):
    """Explicit edge-corrected enumeration: for every output cell, find
    patches intersecting W, weight by in-window fraction."""
    H, W = arr.shape
    mem = window_members(shape, r)
    mps = np.full((H, W), np.nan)
    pdens = np.full((H, W), np.nan)
    awmsi = np.full((H, W), np.nan)
    si = 0.25 * perim / np.sqrt(area)
    for y in range(H):
        for x in range(W):
            counts = {}
            nvalid = 0
            for dy, dx in mem:
                ny, nx_ = y + dy, x + dx
                if 0 <= ny < H and 0 <= nx_ < W and lab[ny, nx_] >= 0:
                    counts[lab[ny, nx_]] = counts.get(lab[ny, nx_], 0) + 1
                    nvalid += 1
            if not counts:
                continue
            sw = sum(n_p / area[p] for p, n_p in counts.items())
            saw = sum((n_p / area[p]) * area[p] for p, n_p in counts.items())
            mps[y, x] = saw / sw
            pdens[y, x] = sw / nvalid
            awmsi[y, x] = sum(n_p * si[p] for p, n_p in counts.items()) / nvalid
    return mps, pdens, awmsi


@pytest.fixture(scope="module")
def raster():
    return fixtures.raster_fixture(seed=42)


@pytest.fixture(scope="module")
def brute(raster):
    lab, n = brute_ccl(raster)
    area, perim, klass = brute_patch_table(raster, lab, n)
    return lab, n, area, perim, klass


def tiles_df(spark, arr, T):
    rows = fixtures.tiles_rows_from_array(arr, T, level=0, band="class")
    rows["data"] = rows["data"].map(list)
    return spark.createDataFrame(rows)


def test_label_tile_matches_bfs():
    arr = fixtures.raster_fixture(seed=1)
    lab, n = patches.label_tile(arr)
    blab, bn = brute_ccl(arr)
    assert n == bn
    # same partition: labels agree up to renaming
    mapping = {}
    for a, b in zip(lab.ravel(), blab.ravel()):
        if a < 0:
            assert b < 0
            continue
        assert mapping.setdefault(a, b) == b


@pytest.mark.parametrize("distributed", [False, True])
def test_build_patches_matches_global(spark, raster, brute, distributed, monkeypatch):
    lab, n, area, perim, klass = brute
    T = 16
    if distributed:
        monkeypatch.setattr(patches, "_DRIVER_SEAM_CELLS", 0)
    label_tiles, patch_table = patches.build_patches(
        tiles_df(spark, raster, T), T, spark
    )
    pt = patch_table.toPandas()
    assert len(pt) == n, f"patch count {len(pt)} != {n}"
    got_lab = fixtures.array_from_tiles_rows(
        label_tiles.toPandas(), T
    )
    # labels agree up to renaming; per-patch attrs match
    mapping = {}
    for a, b in zip(got_lab.ravel(), lab.ravel()):
        if b < 0:
            assert not np.isfinite(a)
            continue
        assert mapping.setdefault(int(a), b) == b
    by_id = pt.set_index("patch_id")
    for gid, bid in mapping.items():
        row = by_id.loc[gid]
        assert row.area == area[bid], f"area mismatch patch {gid}"
        assert row.perimeter == perim[bid], f"perimeter mismatch patch {gid}"
        assert row.klass == klass[bid]
    # canonical ids: patch_id == min global cell index (gy·2^32 + gx)
    for gid, bid in mapping.items():
        ys, xs = np.where(lab == bid)
        want_id = int(np.min(ys.astype(np.int64) * (1 << 32) + xs))
        assert gid == want_id, f"non-canonical id {gid} != {want_id}"
    # fixture sanity: patches DO cross tile borders
    crossing = 0
    for bid in range(n):
        ys, xs = np.where(lab == bid)
        if len(set(ys // T)) > 1 or len(set(xs // T)) > 1:
            crossing += 1
    assert crossing >= 3


@pytest.mark.parametrize("shape,r", [("square", 3), ("circle", 7)])
def test_patch_stats_edge_corrected(spark, raster, brute, shape, r):
    lab, n, area, perim, klass = brute
    T = 16
    out = patches.apply_patch_stats(
        tiles_df(spark, raster, T), T, r, shape, spark
    )
    pdf = out.toPandas()
    want_mps, want_pd, want_aw = brute_patch_stats(raster, lab, area, perim, r, shape)
    for band, want in (
        ("mean_patch_size", want_mps),
        ("patch_density", want_pd),
        ("awmsi", want_aw),
    ):
        got = fixtures.array_from_tiles_rows(pdf[pdf.band == band], T)
        np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-12, err_msg=band)


def test_build_patches_wrap_single_tile_column(spark):
    """wrap_nx == 1: both strips of a v-border come from the SAME tile,
    so pairing by tile identity (the old owner filter) dropped every
    seam edge — two stripes touching only across the antimeridian must
    still fuse into ONE patch."""
    arr = np.full((8, 8), np.nan)
    arr[:, 0] = 1.0
    arr[:, 7] = 1.0
    label_tiles, patch_table = patches.build_patches(
        tiles_df(spark, arr, 8), 8, spark, wrap_nx=1
    )
    pt = patch_table.toPandas()
    assert len(pt) == 1, pt
    assert int(pt.iloc[0].area) == 16
    got = fixtures.array_from_tiles_rows(label_tiles.toPandas(), 8)
    ids = got[np.isfinite(got)]
    assert len(set(ids.tolist())) == 1
    # without wrap the same raster is TWO patches
    _, pt2 = patches.build_patches(tiles_df(spark, arr, 8), 8, spark)
    assert len(pt2.toPandas()) == 2


def test_build_patches_many_patches_distributed(spark, monkeypatch):
    """Scale guard: the fully-distributed W14 path (fixpoint equivalence
    + join-based relabel) on a raster with >10^5 patches — nothing on
    this path may materialize per-patch state on the driver."""
    rng = np.random.default_rng(3)
    arr = rng.integers(0, 16, (512, 512)).astype(np.float64)
    full_lab, n_full = patches.label_tile(arr)  # trusted via matches_bfs
    assert n_full > 100_000
    T = 64
    monkeypatch.setattr(patches, "_DRIVER_SEAM_CELLS", 0)
    label_tiles, patch_table = patches.build_patches(
        tiles_df(spark, arr, T), T, spark
    )
    assert patch_table.count() == n_full
    # spot-check canonical labels on one tile against the full-array CCL
    one = label_tiles.filter(
        (F.col("tile_x") == 3) & (F.col("tile_y") == 2)
    ).toPandas()
    got = np.asarray(one.iloc[0].data, dtype=np.float64).reshape(T, T)
    sub_lab = full_lab[2 * T : 3 * T, 3 * T : 4 * T]
    for bid in np.unique(sub_lab[sub_lab >= 0])[:50]:
        ys, xs = np.where(full_lab == bid)
        want_id = float(np.min(ys.astype(np.int64) * (1 << 32) + xs))
        sel = sub_lab == bid
        assert (got[sel] == want_id).all()


def test_patch_stats_tile_size_invariance(spark, raster):
    ref = None
    for T in (8, 32):
        out = patches.apply_patch_stats(
            tiles_df(spark, raster, T), T, 3, "square", spark, stats=["mean_patch_size"]
        ).toPandas()
        got = fixtures.array_from_tiles_rows(out, T)
        if ref is None:
            ref = got
        else:
            np.testing.assert_allclose(got, ref, rtol=1e-12, atol=1e-12)


def test_seam_bound_picks_path(spark, raster, monkeypatch):
    """The stitching path is chosen up front from the seam-edge bound
    n_tiles · 2T: one cell past ``_DRIVER_SEAM_CELLS`` runs the
    distributed fixpoint (without counting edges first), at the bound
    the driver path runs and never calls it. Both give equal tables."""
    T = 16
    bound = math.ceil(raster.shape[0] / T) * math.ceil(raster.shape[1] / T) * 2 * T
    calls = {"dist": 0}
    orig = chains.components

    def spy(*args):
        calls["dist"] += 1
        return orig(*args)

    monkeypatch.setattr(chains, "components", spy)
    monkeypatch.setattr(patches, "_DRIVER_SEAM_CELLS", bound - 1)
    _, pt_dist = patches.build_patches(tiles_df(spark, raster, T), T, spark)
    dist_pd = pt_dist.toPandas().sort_values("patch_id").reset_index(drop=True)
    assert calls["dist"] == 1

    monkeypatch.setattr(patches, "_DRIVER_SEAM_CELLS", bound)
    _, pt_drv = patches.build_patches(tiles_df(spark, raster, T), T, spark)
    drv_pd = pt_drv.toPandas().sort_values("patch_id").reset_index(drop=True)
    assert calls["dist"] == 1
    assert dist_pd.equals(drv_pd)

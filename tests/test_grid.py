"""t3/t4 tests for engine.grid — pure NumPy, no Spark needed."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from engine import grid


def brute_encode(lat, lon, level):
    """Independent re-derivation of (i, j) per SURVEY.md §5.3.1."""
    nc, nr = 2**level, 2 ** (level - 1)
    i = int(np.floor((lon + 180.0) / 360.0 * nc)) % nc
    j = min(max(int(np.floor((lat + 90.0) / 180.0 * nr)), 0), nr - 1)
    return i, j


@given(
    lat=st.floats(-90, 90, allow_nan=False),
    lon=st.floats(-180, 180, allow_nan=False),
    level=st.integers(1, grid.MAX_LEVEL),
)
@settings(max_examples=300, deadline=None)
def test_encode_decode_roundtrip(lat, lon, level):
    cid = grid.cell_encode(np.array([lat]), np.array([lon]), level)
    la, lo, i, j, lv = grid.cell_decode(cid)
    assert lv[0] == level
    bi, bj = brute_encode(lat, lon, level)
    assert (i[0], j[0]) == (bi, bj)
    # decoded center must re-encode to the same cell
    cid2 = grid.cell_encode(la, lo, level)
    assert cid2[0] == cid[0]


def test_ids_positive_and_level_ordered():
    rng = np.random.default_rng(0)
    lat = rng.uniform(-90, 90, 1000)
    lon = rng.uniform(-180, 180, 1000)
    for level in (1, 5, 15, grid.MAX_LEVEL):
        ids = grid.cell_encode(lat, lon, level)
        assert (ids > 0).all()
        _, lv = grid.cell_id_unpack(ids)
        assert (lv == level).all()


def test_parent_child_hierarchy():
    cid = int(grid.cell_encode(np.array([37.77]), np.array([-122.42]), 12)[0])
    kids = grid.cell_children(cid)
    assert len(kids) == 4
    for k in kids:
        assert int(grid.cell_parent(np.array([k]))[0]) == cid
    # multi-level ancestor
    anc = grid.cell_parent(np.array([cid]), parent_level=5)[0]
    _, lv = grid.cell_id_unpack(np.array([anc]))
    assert lv[0] == 5


def test_descendant_range_contiguity():
    """Every descendant id lies in ONE contiguous interval (P3 pruning)."""
    rng = np.random.default_rng(1)
    for _ in range(20):
        level = int(rng.integers(2, 10))
        lat, lon = rng.uniform(-80, 80), rng.uniform(-179, 179)
        cid = int(grid.cell_encode(np.array([lat]), np.array([lon]), level)[0])
        target = level + 3
        lo, hi = grid.cell_descendant_range(cid, target)
        # sample many points inside this cell -> descendants must be in range
        la, lo_c, i, j, _ = grid.cell_decode(np.array([cid]))
        nc, nr = grid.grid_shape(level)
        dlon, dlat = 360.0 / nc, 180.0 / nr
        pts_lat = rng.uniform(la[0] - dlat / 2 + 1e-9, la[0] + dlat / 2 - 1e-9, 200)
        pts_lon = rng.uniform(lo_c[0] - dlon / 2 + 1e-9, lo_c[0] + dlon / 2 - 1e-9, 200)
        desc = grid.cell_encode(pts_lat, pts_lon, target)
        assert (desc >= lo).all() and (desc <= hi).all()
        assert (grid.cell_parent(desc, parent_level=level) == cid).all()
        # and hi - lo + 1 == 4**(target-level)
        assert hi - lo + 1 == 4 ** (target - level)


def test_k_ring_superset_and_size():
    cid = int(grid.cell_encode(np.array([10.0]), np.array([20.0]), 10)[0])
    prev = None
    for k in range(4):
        ring = grid.k_ring(cid, k)
        assert len(ring) == (2 * k + 1) ** 2  # interior cell, no clamping
        if prev is not None:
            assert set(prev).issubset(set(ring))  # k-ring(k) ⊇ k-ring(k-1)
        prev = ring
    assert cid in set(grid.k_ring(cid, 0))


def test_k_ring_lat_clamp_and_lon_wrap():
    # cell at the north edge: ring clipped
    cid_top = int(grid.cell_encode(np.array([89.9]), np.array([0.0]), 6)[0])
    ring = grid.k_ring(cid_top, 1)
    assert len(ring) == 6  # 3x3 minus the 3 beyond the pole
    # cell at lon=-180 edge: ring wraps, still 9 cells
    cid_seam = int(grid.cell_encode(np.array([0.0]), np.array([-180.0]), 6)[0])
    ring = grid.k_ring(cid_seam, 1)
    assert len(ring) == 9
    las, lons, _, _, _ = grid.cell_decode(ring)
    assert (lons > 170).any() and (lons < -170).any()  # spans the seam


def test_k_ring_batch_matches_single():
    rng = np.random.default_rng(2)
    lat = rng.uniform(-89, 89, 50)
    lon = rng.uniform(-180, 180, 50)
    ids = grid.cell_encode(lat, lon, 8)
    batched = grid.k_ring_batch(ids, 2)
    for cid, b in zip(ids, batched):
        np.testing.assert_array_equal(b, grid.k_ring(int(cid), 2))


def test_cell_to_tile():
    rng = np.random.default_rng(3)
    lat = rng.uniform(-90, 90, 500)
    lon = rng.uniform(-180, 180, 500)
    level, T = 12, 16
    ids = grid.cell_encode(lat, lon, level)
    tx, ty, ii, jj = grid.cell_to_tile(ids, T)
    _, _, i, j, _ = grid.cell_decode(ids)
    np.testing.assert_array_equal(tx * T + ii, i)
    np.testing.assert_array_equal(ty * T + jj, j)
    assert (ii >= 0).all() and (ii < T).all()
    assert (jj >= 0).all() and (jj < T).all()


def test_haversine_known_values():
    # London -> Paris ≈ 343.5 km
    d = grid.haversine_km(51.5074, -0.1278, 48.8566, 2.3522)
    assert abs(d - 343.5) < 1.5
    # antipodal ≈ pi * R
    d = grid.haversine_km(0.0, 0.0, 0.0, 180.0)
    assert abs(d - np.pi * grid.EARTH_RADIUS_KM) < 1e-6
    assert grid.haversine_km(12.3, 45.6, 12.3, 45.6) == 0.0


def test_lon_wrap_at_180():
    """lon == 180 must map to the same cell as lon == -180."""
    a = grid.cell_encode(np.array([0.0]), np.array([180.0]), 8)
    b = grid.cell_encode(np.array([0.0]), np.array([-180.0]), 8)
    assert a[0] == b[0]


def test_lat_pole_clamp():
    a = grid.cell_encode(np.array([90.0]), np.array([10.0]), 8)
    b = grid.cell_encode(np.array([89.999]), np.array([10.0]), 8)
    assert a[0] == b[0]


def test_grid_shape_validation():
    with pytest.raises(ValueError):
        grid.grid_shape(0)
    with pytest.raises(ValueError):
        grid.grid_shape(grid.MAX_LEVEL + 1)


# --- P3/P4: bbox -> contiguous cell-id ranges (quadtree decomposition) ---

def _box_cells(ivs, jb, level):
    want = set()
    for i0, i1 in ivs:
        for i in range(i0, i1 + 1):
            for j in range(jb[0], jb[1] + 1):
                want.add(int(grid.cell_id_pack(
                    grid._morton_encode(np.asarray([i]), np.asarray([j]), level)[0],
                    level,
                )))
    return want


@pytest.mark.parametrize(
    "bbox",
    [
        (5.0, 35.0, 100.0, 140.0),
        (-20.0, -8.0, 172.0, -172.0),  # antimeridian wrap
        (-90.0, 90.0, -180.0, 180.0),  # whole globe
        (10.0, 10.7, -0.7, 0.7),       # sub-cell sliver
    ],
)
def test_bbox_ranges_exact_cover(bbox):
    level = 8
    ivs, jb = grid.bbox_to_ij_bounds(*bbox, level)
    rngs = grid.bbox_to_cell_ranges(*bbox, level)
    got: set[int] = set()
    for lo, hi in rngs:
        assert lo <= hi
        got.update(range(lo, hi + 1))
    assert got == _box_cells(ivs, jb, level)
    # ranges are disjoint and sorted (merged)
    for (l0, h0), (l1, h1) in zip(rngs, rngs[1:]):
        assert h0 + 1 < l1


def test_bbox_ranges_budget_superset():
    """With a tiny budget the planner emits supersets, never drops."""
    level = 10
    bbox = (3.0, 47.0, 11.0, 161.0)
    ivs, jb = grid.bbox_to_ij_bounds(*bbox, level)
    rngs = grid.bbox_to_cell_ranges(*bbox, level, max_ranges=8)
    got: set[int] = set()
    for lo, hi in rngs:
        got.update(range(lo, hi + 1))
    assert got >= _box_cells(ivs, jb, level)


def test_range_pruning_plan(spark, tmp_path):
    """The compiled BETWEEN ranges reach the parquet scan as pushed
    filters and skip row groups on a cell-sorted table."""
    from pyspark.sql import functions as F

    from engine import shim, udfs

    level = 8
    path = str(tmp_path / "cells_sorted")
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    pts = docs.select(
        "doc_id",
        shim.shim_lat_col(F.col("doc_id")).alias("lat"),
        shim.shim_lon_col(F.col("doc_id")).alias("lon"),
    )
    tbl = pts.withColumn(
        "cell_id", udfs.cell_encode_pudf(F.col("lat"), F.col("lon"), F.lit(level))
    ).select("doc_id", "cell_id")
    # sorted layout => contiguous ids cluster into row groups
    tbl.repartition(1).sortWithinPartitions("cell_id").write.mode(
        "overwrite"
    ).option("parquet.block.size", 16 * 1024).parquet(path)

    back = spark.read.parquet(path)
    rngs = grid.bbox_to_cell_ranges(5.0, 35.0, 100.0, 140.0, level)
    pred = None
    for lo, hi in rngs:
        c = F.col("cell_id").between(lo, hi)
        pred = c if pred is None else (pred | c)
    q = back.filter(pred)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "cell_id" in plan.split("PushedFilters", 1)[1][:2000]
    # correctness: equals the (i, j) box filter on the same table
    i, j = udfs.latlon_to_ij_cols(F.col("lat"), F.col("lon"), level)
    want = (
        pts.withColumn("i", i).withColumn("j", j)
        .filter(F.col("i").between(199, 227) & F.col("j").between(67, 88))
        .count()
    )
    assert q.count() == want

"""t3/t4 Spark tests for rasterize + halo exchange + focal apply:
results must equal the single-array NumPy kernels (themselves golden-
tested against brute force) regardless of tile size — halo seams and
wrap handled correctly."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

from engine import fixtures, grid, kernels, tiling, udfs


def tiles_df(spark, arr, T, level=10, band="class"):
    rows = fixtures.tiles_rows_from_array(arr, T, level, band)
    rows["data"] = rows["data"].map(list)
    return spark.createDataFrame(rows)


def collect_band(df, band, T):
    pdf = df.filter(F.col("band") == band).toPandas()
    return fixtures.array_from_tiles_rows(pdf, T)


@pytest.mark.parametrize("T", [16, 32])
@pytest.mark.parametrize("shape,r", [("square", 3), ("circle", 7)])
def test_focal_matches_full_array(spark, T, shape, r):
    arr = fixtures.raster_fixture()
    out = tiling.apply_focal(
        tiles_df(spark, arr, T), r, shape, ["mean", "count"], T, level=10
    )
    got_mean = collect_band(out, "mean", T)
    got_count = collect_band(out, "count", T)
    np.testing.assert_allclose(got_mean, kernels.focal_mean(arr, r, shape), rtol=1e-12, atol=1e-12)
    np.testing.assert_array_equal(got_count, kernels.focal_count(arr, r, shape))


def test_tile_size_invariance(spark):
    """t4: identical results for T ∈ {8, 16, 64} (seam correctness)."""
    arr = fixtures.raster_fixture(seed=5)
    ref = None
    for T in (8, 16, 64):
        out = tiling.apply_focal(tiles_df(spark, arr, T), 3, "circle", ["shannon"], T, level=10)
        got = collect_band(out, "shannon", T)
        if ref is None:
            ref = got
        else:
            np.testing.assert_allclose(got, ref, rtol=1e-12, atol=1e-12)
    np.testing.assert_allclose(ref, kernels.focal_shannon(arr, 3, "circle"), rtol=1e-12, atol=1e-12)


def test_rasterize_rejects_unknown_stat(spark):
    """stat/value_col are validated up front — the merge kernel used to
    fall through to 'mean' on a typo'd stat and return a silently-zero
    raster."""
    docs = fixtures.documents_geo(spark, 50, seed=2)
    pts = udfs.with_cell_and_tile(udfs.geocode_cols(docs), 7, 16)
    with pytest.raises(ValueError, match="unknown stat"):
        tiling.rasterize(pts, 16, 7, stat="max")
    with pytest.raises(ValueError, match="needs value_col"):
        tiling.rasterize(pts, 16, 7, stat="sum")


def test_interspersion_registry_requires_class_domain(spark):
    """W10 is not absent-class-invariant per tile block: the string
    stat must refuse to run without the raster-wide domain, and with it
    the tiled result must match the full-array kernel even when single
    tile+halo blocks miss classes."""
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 4, size=(32, 32)).astype(np.float64)
    arr[:16, :16] = 0.0  # a whole quadrant missing classes 1-3
    T = 8
    with pytest.raises(ValueError, match="class_domain"):
        tiling.apply_focal(tiles_df(spark, arr, T), 2, "square",
                           ["interspersion"], T, level=10)
    dom = np.unique(arr)
    out = tiling.apply_focal(tiles_df(spark, arr, T), 2, "square",
                             ["interspersion"], T, level=10, class_domain=dom)
    got = collect_band(out, "interspersion", T)
    want = kernels.focal_interspersion(arr, 2, "square", classes=dom)
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-12, equal_nan=True)


def test_focal_proportion_registry(spark):
    """W5 via the stats registry: 'proportion:<class>' names resolve."""
    arr = fixtures.raster_fixture(seed=4)
    T = 16
    out = tiling.apply_focal(
        tiles_df(spark, arr, T), 3, "circle", ["proportion:2"], T, level=10
    )
    got = collect_band(out, "proportion:2", T)
    np.testing.assert_allclose(
        got, kernels.focal_proportion(arr, 3, 2.0, "circle"), rtol=1e-12, atol=1e-12
    )


def test_focal_multi_stat_single_exchange(spark):
    arr = fixtures.raster_fixture(seed=9)
    T = 16
    stats = ["mean", "min", "max", "richness", "majority", "edge_density"]
    out = tiling.apply_focal(tiles_df(spark, arr, T), 2, "square", stats, T, level=10)
    for s in stats:
        got = collect_band(out, s, T)
        want = tiling.KERNELS[s](arr, 2, "square")
        np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-12)


def test_focal_nodata_crosses_as_null(spark):
    """Nodata output cells are Spark NULL elements, never NaN doubles:
    the sq_focal_* oracle rows read them as SQL NULLs. One null per NaN
    cell of the single-array result, and no NaN element at all."""
    arr = fixtures.raster_fixture(seed=3)
    arr[20:30, 8:19] = np.nan  # holes wider than the window
    T, r = 16, 2
    stats = ["mean", "std", "majority"]
    out = tiling.apply_focal(tiles_df(spark, arr, T), r, "circle", stats, T, level=10)
    got = {
        row.band: (row.nulls, row.nans)
        for row in out.groupBy("band").agg(
            F.sum(F.size(F.filter("data", lambda x: x.isNull()))).alias("nulls"),
            F.sum(F.size(F.filter("data", lambda x: F.isnan(x)))).alias("nans"),
        ).collect()
    }
    for s in stats:
        want = int(np.isnan(tiling.KERNELS[s](arr, r, "circle")).sum())
        assert want > 0
        assert got[s] == (want, 0), s


def test_halo_wrap_lon_seam(spark):
    """wrap=True: window crossing the x seam sees the far side's cells."""
    arr = fixtures.raster_fixture(seed=11, wrap=True)
    T, r = 16, 3
    nx = arr.shape[1] // T
    out = tiling.apply_focal(
        tiles_df(spark, arr, T), r, "square", ["mean"], T, level=10, wrap_nx=nx
    )
    got = collect_band(out, "mean", T)
    # reference: pad the array by horizontal wrap then compute
    wrapped = np.concatenate([arr[:, -r:], arr, arr[:, :r]], axis=1)
    want = kernels.focal_mean(wrapped, r, "square")[:, r:-r]
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-12)
    # and differs from the non-wrapped result at the seam
    plain = collect_band(
        tiling.apply_focal(tiles_df(spark, arr, T), r, "square", ["mean"], T, level=10),
        "mean", T,
    )
    assert not np.allclose(np.nan_to_num(plain[:, 0]), np.nan_to_num(got[:, 0]))


@pytest.mark.parametrize("wrap_nx", [None, 4])
def test_halo_assembles_raster_windows(spark, wrap_nx):
    """Golden: every group's painted canvas is the window cut straight
    out of the whole raster (NaN beyond it, x wrapped when wrap_nx is
    set): (nr+2g, nc+2g) for a present tile, the full (T+2g)² canvas
    for a group with no center payload — the absent tile (3, 0), whose
    own cells read NaN in every window, and without wrap the column
    past the raster's east edge. Covers ragged bottom tiles (nrows < T)
    and one oversized payload (ncols > T+g) whose extra columns repeat
    its right neighbor's."""
    T, g, nx, ny = 16, 5, 4, 3
    rng = np.random.default_rng(1)
    H, W = 2 * T + 11, nx * T
    raster = rng.random((H, W))
    raster[rng.random((H, W)) < 0.1] = np.nan
    absent = (3, 0)
    raster[: T, 3 * T :] = np.nan
    rows = []
    for ty in range(ny):
        for tx in range(nx):
            if (tx, ty) == absent:
                continue
            nr = min(T, H - ty * T)
            nc = T + g + 3 if (tx, ty) == (1, 1) else T
            block = raster[ty * T : ty * T + nr, tx * T : tx * T + nc]
            rows.append(
                {"tile_x": tx, "tile_y": ty, "level": 8, "band": "b",
                 "nrows": nr, "ncols": nc, "data": block.ravel()}
            )
    ncols = {(r["tile_x"], r["tile_y"]): r["ncols"] for r in rows}
    tiles = spark.createDataFrame(pd.DataFrame(rows), schema=tiling.TILES_SCHEMA)
    halo = tiling.halo_exchange(tiles, T, g, wrap_nx=wrap_nx).toArrow()
    centers, empty = set(), set()
    for tx, ty in set(zip(halo["dst_tx"].to_pylist(), halo["dst_ty"].to_pylist())):
        group = halo.filter(
            pc.and_(pc.equal(halo["dst_tx"], tx), pc.equal(halo["dst_ty"], ty))
        )
        bands, nr, nc = tiling.paint_halo(group, T, g)
        if nr is None:
            empty.add((tx, ty))
            nr = T
        else:
            centers.add((tx, ty))
            assert (nr, nc) == (min(T, H - ty * T), min(T + g, ncols[tx, ty]))
        (padded,) = bands.values()
        ys = np.arange(ty * T - g, ty * T + nr + g)
        xs = np.arange(tx * T - g, tx * T + T + g)
        want = np.full((len(ys), len(xs)), np.nan)
        if wrap_nx is not None:
            xs = xs % W
        ok_y, ok_x = (ys >= 0) & (ys < H), (xs >= 0) & (xs < W)
        want[np.ix_(ok_y, ok_x)] = raster[np.ix_(ys[ok_y], xs[ok_x])]
        np.testing.assert_array_equal(padded, want)
    assert centers == set(ncols)
    east = set() if wrap_nx else {(nx, ty) for ty in range(ny)}
    assert empty == {absent} | east


def brute_rasterize(pdf, level, T, stat):
    """Golden: per-tile (T, T) count/sum/mean of the points in pdf
    (lat, lon, w), NaN where a pixel has no point."""
    ids = grid.cell_encode(pdf.lat.to_numpy(), pdf.lon.to_numpy(), level)
    tx, ty, ti, tj = grid.cell_to_tile(ids, T)
    cnt, tot = {}, {}
    for a, b, c, d, w in zip(tx, ty, ti, tj, pdf.w.to_numpy()):
        cnt.setdefault((a, b), np.zeros((T, T)))[d, c] += 1
        tot.setdefault((a, b), np.zeros((T, T)))[d, c] += w
    out = {}
    for k, n in cnt.items():
        with np.errstate(invalid="ignore"):
            v = {"count": n, "sum": tot[k], "mean": tot[k] / n}[stat].copy()
        v[n == 0] = np.nan
        out[k] = v
    return out


def zipf_points(spark, level, T):
    """The Zipf-hotspot document fixture, encoded, with a value column."""
    docs = fixtures.documents_geo(spark, 2000, seed=42)
    pts = udfs.with_cell_and_tile(udfs.geocode_cols(docs), level, T)
    return pts.withColumn(
        "w", (F.abs(F.xxhash64("doc_id")) % 7).cast("double") + 0.5
    )


def hot_tile_points(spark, level, T):
    """Skewed input: 75% of the points in one 5° box inside a single
    level-8 T=16 tile, the rest uniform; round-robin over 4 partitions
    so the hot tile is merged from several map-side partials."""
    rng = np.random.default_rng(11)
    n, n_hot = 2000, 1500
    lat = np.concatenate([rng.uniform(10, 15, n_hot), rng.uniform(-89, 89, n - n_hot)])
    lon = np.concatenate([rng.uniform(5, 10, n_hot), rng.uniform(-180, 180, n - n_hot)])
    w = rng.integers(0, 7, n) + 0.5
    pdf = pd.DataFrame({"lat": lat, "lon": lon, "w": w})
    return udfs.with_cell_and_tile(spark.createDataFrame(pdf).repartition(4), level, T)


@pytest.mark.parametrize("stat", ["count", "sum", "mean"])
@pytest.mark.parametrize("source", ["zipf", "hot_tile"])
def test_rasterize_matches_brute(spark, source, stat):
    level, T = 8, 16
    make = {"zipf": zipf_points, "hot_tile": hot_tile_points}[source]
    pts = make(spark, level, T)
    tiles = tiling.rasterize(pts, T, level, stat=stat, value_col="w")
    got = {
        (r.tile_x, r.tile_y): np.asarray(r.data, dtype=np.float64).reshape(T, T)
        for r in tiles.collect()
    }
    pts_pdf = pts.select("lat", "lon", "w").toPandas()
    want = brute_rasterize(pts_pdf, level, T, stat)
    if source == "hot_tile":
        counts = brute_rasterize(pts_pdf, level, T, "count")
        assert max(np.nansum(c) for c in counts.values()) >= 0.7 * len(pts_pdf)
    assert set(got) == set(want)
    for k in want:
        np.testing.assert_array_equal(np.isnan(got[k]), np.isnan(want[k]))
        np.testing.assert_allclose(got[k], want[k], rtol=1e-12, atol=0)


def test_encode_keeps_spans(spark):
    """The points df carries spans untouched through geocode + encode
    (span invariant on the operator chain that feeds rasterize)."""
    level, T = 8, 16
    docs = fixtures.documents_geo(spark, 1000, seed=1)
    pts = udfs.with_cell_and_tile(udfs.geocode_cols(docs), level, T)
    orig = {r.doc_id: r.spans for r in docs.collect()}
    after = {r.doc_id: r.spans for r in pts.collect()}
    assert orig == after


def test_flagship_end_to_end(spark):
    """M1: documents → geocode → cell/tile encode → rasterize → circular
    r=7 focal mean of document density. The full hot path."""
    level, T = 9, 32
    docs = fixtures.documents_geo(spark, 5000, seed=42)
    pts = udfs.with_cell_and_tile(udfs.geocode_cols(docs), level, T)
    tiles = tiling.rasterize(pts, T, level, stat="count")
    out = tiling.apply_focal(tiles, 7, "circle", ["mean"], T, level=level,
                             wrap_nx=(2 ** level) // T)
    res = out.collect()
    assert len(res) > 0
    total_pts = sum(np.nansum(np.asarray(r.data, dtype=np.float64)) for r in tiles.collect())
    assert total_pts == 5000


def test_rasterize_plan_one_exchange(spark):
    """rasterize's physical plan: exactly ONE exchange (the
    tile-key merge of packed partials) — the map-side partial pass is
    shuffle-free — and the pre-UDF projection keeps every non-essential
    column (spans!) out of the Arrow crossing."""
    level, T = 8, 16
    docs = fixtures.documents_geo(spark, 200, seed=2)
    pts = udfs.with_cell_and_tile(udfs.geocode_cols(docs), level, T)
    df = tiling.rasterize(pts, T, level)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # the mapInPandas input carries only the coordinate cols (no spans)
    import re

    m = re.search(r"MapInPandas.*?\[([^\]]*)\]", plan)
    assert m is not None
    assert "spans" not in m.group(0)


def test_grouped_map_plans_infer_eval_type(spark):
    """Grouped-map functions carry type hints pyspark can read: building
    rasterize's merge and a warp gather raises no "Cannot infer the eval
    type from type hints" UserWarning."""
    import warnings

    from engine import resample

    level, T = 8, 16
    docs = fixtures.documents_geo(spark, 200, seed=2)
    pts = udfs.with_cell_and_tile(udfs.geocode_cols(docs), level, T)
    tiles = spark.createDataFrame(
        fixtures.tiles_rows_from_array(fixtures.dem_arith(size=32), 16, band="z"),
        fixtures.TILES_SCHEMA_DDL,
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        tiling.rasterize(pts, T, level)
        resample.warp_affine(tiles, 16, (0.7, -0.4, 6.0, 0.4, 0.7, -3.0), (40, 56))


_PY_NODES = (
    "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "MapInArrow", "MapInPandas",
)


def _halo_readers(plan: str) -> list[str]:
    """Name of the first Python node above each halo ``MapInArrow``
    (the one whose output carries ``dst_tx``) of a physical plan tree."""
    lines = plan.splitlines()
    depth = [len(ln) - len(ln.lstrip(" :+-|")) for ln in lines]
    readers = []
    for i, ln in enumerate(lines):
        if not (ln[depth[i]:].startswith("MapInArrow ") and "[dst_tx#" in ln):
            continue
        d, j = depth[i], i - 1
        while j >= 0:
            if depth[j] < d:
                d = depth[j]
                node = lines[j][d:].split(" ", 1)[0]
                if node in _PY_NODES:
                    readers.append(node)
                    break
            j -= 1
    return readers


@pytest.mark.parametrize(
    "consumer",
    ["moran_i", "cost_path", "build_patches", "upsample_bilinear",
     "polygonize", "contour_segments", "zonal_geometry", "sample_bilinear"],
)
def test_halo_consumers_read_groups_in_arrow(spark, monkeypatch, consumer):
    """Every halo consumer reads its exchanged group in an Arrow UDF fed
    by the halo ``MapInArrow`` — no pandas group sits on the exchange.
    Frames a consumer persists or checkpoints on the way (build_patches'
    stage 1) are inspected too."""
    from engine import autocorr, costdist, patches, resample, vector, zonal

    T = 16
    arr = fixtures.dem_arith(size=32)
    z = spark.createDataFrame(
        fixtures.tiles_rows_from_array(arr, T, band="z"), fixtures.TILES_SCHEMA_DDL
    )
    kept: list = []
    cls = type(z)
    for name in ("persist", "localCheckpoint"):
        real = getattr(cls, name)
        monkeypatch.setattr(
            cls, name, lambda self, *a, _f=real, **k: kept.append(self) or _f(self, *a, **k)
        )
    classes = spark.createDataFrame(
        fixtures.tiles_rows_from_array((arr > arr.mean()).astype(float), T, band="zone"),
        fixtures.TILES_SCHEMA_DDL,
    )
    pts = spark.createDataFrame([(1, 3.3, 17.2)], "pt_id long, gx double, gy double")
    run = {
        "moran_i": lambda: autocorr.moran_i(z, T, "z"),
        "cost_path": lambda: costdist.cost_path(
            z, T, 4, lambda a: a < 1.0, lambda gj, gi, v: gi == gj
        ),
        "build_patches": lambda: patches.build_patches(classes, T, spark)[0],
        "upsample_bilinear": lambda: resample.upsample_bilinear(z, T, level=0),
        "polygonize": lambda: vector.polygonize(classes, T),
        "contour_segments": lambda: vector.contour_segments(z, T, 10.0),
        "zonal_geometry": lambda: zonal.zonal_geometry(classes, T),
        "sample_bilinear": lambda: resample.sample_bilinear(pts, z, T, "z"),
    }[consumer]
    frames = [run()]
    readers = [
        r
        for df in frames + kept
        for r in _halo_readers(df._jdf.queryExecution().executedPlan().toString())  # noqa: SLF001
    ]
    want = "FlatMapCoGroupsInArrow" if consumer == "sample_bilinear" else "FlatMapGroupsInArrow"
    assert readers and set(readers) == {want}, readers


@pytest.mark.parametrize("warp", ["warp_affine", "warp_transform"])
def test_warp_gathers_read_groups_in_arrow(spark, warp):
    """Both warps gather their output tiles in one Arrow group: the
    plan's grouped Python nodes are FlatMapGroupsInArrow only."""
    from engine import resample

    tiles = spark.createDataFrame(
        fixtures.tiles_rows_from_array(fixtures.dem_arith(size=32), 16, band="z"),
        fixtures.TILES_SCHEMA_DDL,
    )
    a, b, c, d, e, f = coeffs = (0.7, -0.4, 6.0, 0.4, 0.7, -3.0)
    df = {
        "warp_affine": lambda: resample.warp_affine(tiles, 16, coeffs, (40, 56)),
        "warp_transform": lambda: resample.warp_transform(
            tiles, 16, lambda gx, gy: (a * gx + b * gy + c, d * gx + e * gy + f), (40, 56)
        ),
    }[warp]()
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    nodes = {ln.lstrip(" :+-|").split(" ", 1)[0] for ln in plan.splitlines()}
    assert {n for n in nodes & set(_PY_NODES) if "Groups" in n} == {"FlatMapGroupsInArrow"}, plan


def test_tiles_arrow_matches_ddl(spark):
    """The literal Arrow schema workers build tile rows with is the one
    Spark derives from TILES_SCHEMA."""
    assert tiling.TILES_ARROW == tiling.arrow_schema(tiling.TILES_SCHEMA)


def _py_nodes_below(plan: str, node: str) -> list[set[str]]:
    """For each ``node`` of a physical plan tree, the Python nodes in
    its subtree."""
    lines = plan.splitlines()
    depth = [len(ln) - len(ln.lstrip(" :+-|")) for ln in lines]
    name = [ln[d:].split(" ", 1)[0] for ln, d in zip(lines, depth)]
    found = []
    for i in (i for i, n in enumerate(name) if n == node):
        j = i + 1
        while j < len(lines) and depth[j] > depth[i]:
            j += 1
        found.append(set(name[i + 1 : j]) & set(_PY_NODES))
    return found


_COLOCATED = ("zonal_stats", "cross_tab", "local_map")


@pytest.mark.parametrize(
    "op",
    [*_COLOCATED, "global_stats", "raster_histogram", "quantile_exact",
     "rasterize_zones", "sample_raster", "build_overview", "band_moments"],
)
def test_tile_stages_run_in_arrow(spark, monkeypatch, op):
    """Zonal, algebra, pyramid and moments stages run on the two tile
    runners: no pandas UDF node in any plan they execute, and the
    co-located band groups (``halo_map`` with g=0) have no Python
    emitter below them."""
    from pyspark.sql import DataFrame

    from engine import algebra, autocorr, pyramid, zonal

    T = 16
    arr = fixtures.dem_arith(size=32)
    tiles = spark.createDataFrame(
        pd.concat([
            fixtures.tiles_rows_from_array(arr, T, band="z"),
            fixtures.tiles_rows_from_array(np.floor(arr / 3), T, band="zone"),
        ], ignore_index=True),
        fixtures.TILES_SCHEMA_DDL,
    )
    pts = spark.createDataFrame(
        [(1, 0, 1, 3, 4)], "doc_id long, tile_x int, tile_y int, ti int, tj int"
    )
    ring = [(2.3, 1.2), (28.7, 6.4), (15.1, 27.6), (2.3, 1.2)]
    ran: list = []
    cls = type(tiles)
    for name in ("collect", "toPandas"):
        real = getattr(cls, name)
        monkeypatch.setattr(
            cls, name, lambda self, *a, _f=real, **k: ran.append(self) or _f(self, *a, **k)
        )
    out = {
        "zonal_stats": lambda: zonal.zonal_stats(tiles, T),
        "cross_tab": lambda: zonal.cross_tab(tiles, T, "zone", "z"),
        "local_map": lambda: algebra.local_map(
            tiles, T, "d", lambda b: b["z"] - b["zone"], ["z", "zone"]
        ),
        "global_stats": lambda: zonal.global_stats(tiles, "z"),
        "raster_histogram": lambda: zonal.raster_histogram(tiles, "z", -2.0, 8.0, 20),
        "quantile_exact": lambda: zonal.quantile_exact(tiles, "z", [0.5], nbins=8, tail=16),
        "rasterize_zones": lambda: zonal.rasterize_zones(tiles, [(1, ring)], T, "z"),
        "sample_raster": lambda: algebra.sample_raster(pts, tiles, T, "z"),
        "build_overview": lambda: pyramid.build_overview(tiles, T, 10),
        "band_moments": lambda: autocorr.band_moments(tiles, "z"),
    }[op]()
    plans = [
        df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        for df in ran + ([out] if isinstance(out, DataFrame) else [])
    ]
    assert plans
    for plan in plans:
        nodes = {ln.lstrip(" :+-|").split(" ", 1)[0] for ln in plan.splitlines()}
        assert nodes & set(_PY_NODES) and not any("InPandas" in n for n in nodes), plan
    if op in _COLOCATED:
        groups = [b for plan in plans for b in _py_nodes_below(plan, "FlatMapGroupsInArrow")]
        assert groups and not any("MapInArrow" in b for b in groups), plans


@pytest.mark.parametrize("op", _COLOCATED)
def test_colocated_band_group_ragged_tiles(spark, op):
    """The co-located band group on a 17×33 raster at T=16, whose last
    tile row and column are partial, equals whole-array NumPy."""
    from engine import algebra, zonal

    T = 16
    rng = np.random.default_rng(7)
    z = rng.random((17, 33)) * 10.0
    zone = np.floor(rng.random((17, 33)) * 4.0)
    z[rng.random(z.shape) < 0.1] = np.nan
    zone[rng.random(z.shape) < 0.1] = np.nan
    tiles = spark.createDataFrame(
        pd.concat([
            fixtures.tiles_rows_from_array(z, T, band="z"),
            fixtures.tiles_rows_from_array(zone, T, band="zone"),
        ], ignore_index=True),
        fixtures.TILES_SCHEMA_DDL,
    )
    ok = np.isfinite(z) & np.isfinite(zone)
    if op == "local_map":
        out = algebra.local_map(
            tiles, T, "d", lambda b: b["z"] * b["zone"], ["z", "zone"]
        ).toPandas()
        shapes = [(16, 16), (16, 16), (16, 1), (1, 16), (1, 16), (1, 1)]
        assert sorted(zip(out.nrows, out.ncols)) == sorted(shapes)
        np.testing.assert_array_equal(fixtures.array_from_tiles_rows(out, T), z * zone)
    elif op == "zonal_stats":
        got = zonal.zonal_stats(tiles, T, "zone", "z").toPandas().set_index("zone")
        zones = np.unique(zone[ok]).astype(np.int64)
        assert sorted(got.index) == zones.tolist()
        for k in zones:
            v = z[ok & (zone == k)]
            row = got.loc[k]
            assert row.n_cells == len(v)
            np.testing.assert_allclose(
                [row.z_sum, row.z_mean, row.z_min, row.z_max],
                [v.sum(), v.mean(), v.min(), v.max()], atol=1e-4,
            )
    else:
        got = zonal.cross_tab(tiles, T, "zone", "z").toPandas()
        pairs, n = np.unique(
            np.stack([zone[ok], z[ok]], axis=1).astype(np.int64), axis=0, return_counts=True
        )
        want = {(int(a), int(b)): int(c) for (a, b), c in zip(pairs, n)}
        assert dict(zip(zip(got.ca, got.cb), got.n_cells)) == want

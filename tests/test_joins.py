"""t3 goldens for PIP + kNN joins: brute-force scalar re-implementation
of the §5.3.6/§5.3.7 pinned semantics, independent of the vectorized
engine code."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from engine import fixtures, geometry, grid, joins


# --- independent scalar PIP (boundary=inside, +lon ray, upper-endpoint) ---

def scalar_pip(lat, lon, ring):
    rlat = [p["lat"] for p in ring]
    rlon = [p["lon"] for p in ring]
    lo_min = min(rlon)
    lon = lo_min + ((lon - lo_min) % 360.0)
    inside = False
    for k in range(len(ring) - 1):
        la1, lo1, la2, lo2 = rlat[k], rlon[k], rlat[k + 1], rlon[k + 1]
        # on-segment?
        cross = (lo2 - lo1) * (lat - la1) - (la2 - la1) * (lon - lo1)
        if abs(cross) <= 1e-12 * max(1.0, math.hypot(lo2 - lo1, la2 - la1)):
            if (
                min(la1, la2) - 1e-12 <= lat <= max(la1, la2) + 1e-12
                and min(lo1, lo2) - 1e-12 <= lon <= max(lo1, lo2) + 1e-12
            ):
                return True
        if (la1 > lat) != (la2 > lat):
            lon_x = lo1 + (lat - la1) / (la2 - la1) * (lo2 - lo1)
            if lon < lon_x:
                inside = not inside
    return inside


def scalar_knn(q_lat, q_lon, pts, k):
    ds = sorted(
        (grid.haversine_km(q_lat, q_lon, la, lo), did)
        for did, la, lo in pts
    )
    return ds[:k]


def test_pip_vectorized_matches_scalar():
    polys = fixtures.polygons()
    qp = fixtures.query_points(500)
    for p in polys:
        got = geometry.point_in_polygon(qp.lat.to_numpy(), qp.lon.to_numpy(), p["ring"])
        want = np.array(
            [scalar_pip(la, lo, p["ring"]) for la, lo in zip(qp.lat, qp.lon)]
        )
        np.testing.assert_array_equal(got, want, err_msg=f"poly {p['poly_id']}")


def test_pip_boundary_cases():
    p1 = fixtures.polygons()[0]["ring"]  # rect lat[-5,8], lon[-60,-45]
    # on edge / on vertex / inside / outside
    assert geometry.point_in_polygon([-5.0], [-50.0], p1)[0]  # edge
    assert geometry.point_in_polygon([-5.0], [-60.0], p1)[0]  # vertex
    assert geometry.point_in_polygon([0.0], [-50.0], p1)[0]  # interior
    assert not geometry.point_in_polygon([9.0], [-50.0], p1)[0]
    assert not geometry.point_in_polygon([-5.0001], [-50.0], p1)[0]


def test_pip_antimeridian():
    p3 = fixtures.polygons()[2]["ring"]  # lat[-20,-8], lon[172,188]
    assert geometry.point_in_polygon([-15.0], [178.0], p3)[0]
    assert geometry.point_in_polygon([-15.0], [-175.0], p3)[0]  # wrapped side
    assert not geometry.point_in_polygon([-15.0], [160.0], p3)[0]
    assert not geometry.point_in_polygon([-15.0], [-160.0], p3)[0]


def test_cover_superset():
    """Every point inside a polygon must encode to a cover cell."""
    level = 7
    polys = fixtures.polygons()
    qp = fixtures.query_points(800)
    for p in polys:
        cover = set(geometry.polygon_cell_cover(p["ring"], level).tolist())
        mask = geometry.point_in_polygon(qp.lat.to_numpy(), qp.lon.to_numpy(), p["ring"])
        ids = grid.cell_encode(qp.lat.to_numpy()[mask], qp.lon.to_numpy()[mask], level)
        assert set(ids.tolist()) <= cover


def test_pip_join_spark(spark):
    level = 7
    polys = fixtures.polygons()
    qp = fixtures.query_points(600)
    pts = spark.createDataFrame(qp)
    out = joins.pip_join(pts, polys, level, spark).toPandas()
    got = set(zip(out.q_id, out.poly_id))
    want = set()
    for p in polys:
        for _, row in qp.iterrows():
            if scalar_pip(row.lat, row.lon, p["ring"]):
                want.add((row.q_id, p["poly_id"]))
    assert got == want
    assert len(want) > 50  # fixture guarantees lots of hits


def test_pip_join_keeps_callers_cell_id(spark):
    """The 'joins only ADD columns' invariant: a pre-existing cell_id
    column on the points side survives with the caller's values."""
    from engine import udfs

    level = 7
    qp = fixtures.query_points(200)
    pts = udfs.with_cell_and_tile(spark.createDataFrame(qp), level, 64)
    out = joins.pip_join(pts, fixtures.polygons(), level, spark)
    assert out.columns == pts.columns + ["poly_id"]
    want = {r.q_id: r.cell_id for r in pts.collect()}
    rows = out.collect()
    assert len(rows) > 20
    for r in rows:
        assert r.cell_id == want[r.q_id]


def _rect(poly_id, lat0, lat1, lon0, lon1):
    ring = [(lat0, lon0), (lat0, lon1), (lat1, lon1), (lat1, lon0), (lat0, lon0)]
    return {"poly_id": poly_id, "ring": [{"lat": a, "lon": o} for a, o in ring]}


def test_pip_join_arrow_batches_match_bruteforce(spark):
    """The UDF's offsets-built list array, across many 7-row Arrow
    batches: a first batch with no candidate, null and NaN coordinates
    (no row, no error), and points inside two overlapping polygons (one
    row per polygon) all equal brute-force point_in_rings."""
    level = 7
    polys = [_rect(10, 0.0, 20.0, 0.0, 20.0), _rect(11, 10.0, 30.0, 10.0, 30.0)]
    nan = float("nan")
    rows = [(q, -70.0, -170.0 + 10.0 * q) for q in range(7)]  # batch 0: no candidate
    odd = [(None, 15.0), (15.0, None), (None, None), (nan, 15.0), (15.0, nan), (nan, nan)]
    rows += [(7 + q, la, lo) for q, (la, lo) in enumerate(odd)]
    rows += [(13, 15.0, 15.0), (14, 10.0, 10.0), (15, 20.0, 20.0), (16, 5.0, 25.0)]
    rng = np.random.default_rng(4)
    for q in range(17, 300):
        rows.append((q, float(rng.uniform(-5.0, 35.0)), float(rng.uniform(-5.0, 35.0))))
    rows.insert(150, (300, nan, nan))
    pts = spark.createDataFrame(rows, "q_id long, lat double, lon double").coalesce(1)
    assert pts.where("lat IS NULL").count() == 2
    assert pts.where("isnan(lat)").count() == 3

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        out = joins.pip_join(pts, polys, level, spark).select("q_id", "poly_id").collect()
    finally:
        spark.conf.set(key, prev)
    got = [(r.q_id, r.poly_id) for r in out]

    q = np.array([r[0] for r in rows])
    la = np.array([nan if r[1] is None else r[1] for r in rows])
    lo = np.array([nan if r[2] is None else r[2] for r in rows])
    want = set()
    for p in polys:
        inside = geometry.point_in_rings(la, lo, geometry.poly_rings(p))
        want |= {(int(i), p["poly_id"]) for i in q[inside]}
    assert len(got) == len(set(got))
    assert set(got) == want
    assert {(13, 10), (13, 11), (14, 10), (14, 11), (15, 10), (15, 11)} <= want
    assert not {g for g in got if g[0] < 13 or g[0] == 300}


def test_ring_margin_python_matches_catalyst(spark):
    """_ring_margin_km (NumPy reference) and _ring_margin_col (the live
    JVM bound) must stay bit-for-bit consistent — nothing else pins the
    parity the _ring_margin_col docstring claims."""
    rng = np.random.default_rng(11)
    lat = rng.uniform(-89.9, 89.9, 400)
    lon = rng.uniform(-180.0, 180.0, 400)
    for r, level in [(1, 7), (2, 7), (4, 5), (8, 9)]:
        want = joins._ring_margin_km(lat, lon, r, level)
        df = spark.createDataFrame(pd.DataFrame({"lat": lat, "lon": lon}))
        got = np.array([
            row.m for row in df.select(
                joins._ring_margin_col(
                    joins.F.col("lat"), joins.F.col("lon"), r, level
                ).alias("m")
            ).collect()
        ])
        np.testing.assert_allclose(got, want, rtol=1e-12, atol=0)


def test_geocode_null_without_geo_span(spark):
    """A doc with NO geo span yields null lat/lon instead of an ANSI
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT abort (Spark 4 default)."""
    from engine import udfs

    df = spark.createDataFrame(
        [("d1", [{"kind": "text", "text": "x", "media_ref": None,
                  "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    row = udfs.geocode_cols(df).collect()[0]
    assert row.lat is None and row.lon is None


def test_pip_join_keeps_spans(spark):
    """Span-sequence invariant through the PIP join."""
    from engine import udfs

    level = 7
    docs = fixtures.documents_geo(spark, 400, seed=3)
    pts = udfs.geocode_cols(docs)
    polys = [
        {"poly_id": 9, "ring": [
            {"lat": -60.0, "lon": -180.0}, {"lat": -60.0, "lon": 179.9999},
            {"lat": 60.0, "lon": 179.9999}, {"lat": 60.0, "lon": -180.0},
            {"lat": -60.0, "lon": -180.0},
        ]}
    ]
    out = joins.pip_join(pts, polys, level, spark)
    res = {r.doc_id: r.spans for r in out.collect()}
    orig = {r.doc_id: r.spans for r in docs.collect()}
    assert len(res) > 300  # near-global polygon catches almost all
    for did, spans in res.items():
        assert spans == orig[did]


def test_knn_join_matches_bruteforce(spark):
    level, k = 8, 5
    docs = fixtures.documents_geo(spark, 3000, seed=42)
    from engine import udfs

    pts = udfs.geocode_cols(docs).select("doc_id", "lat", "lon")
    qp = fixtures.query_points(40, seed=7)
    queries = spark.createDataFrame(qp)
    out = joins.knn_join(queries, pts, k, level, spark).toPandas()
    pts_pdf = pts.toPandas()
    plist = list(zip(pts_pdf.doc_id, pts_pdf.lat, pts_pdf.lon))
    for _, q in qp.iterrows():
        want = scalar_knn(q.lat, q.lon, plist, k)
        got = out[out.q_id == q.q_id].sort_values("rank")
        assert len(got) == k, f"q{q.q_id}: got {len(got)} rows"
        np.testing.assert_allclose(
            got.dist_km.to_numpy(), [d for d, _ in want], rtol=1e-9
        )
        assert got.doc_id.tolist() == [d for _, d in want], f"q{q.q_id}"


def test_knn_join_many_queries_distributed(spark):
    """J3 at a query cardinality the old driver-loop design could not
    handle: 10^4 query points, fully DataFrame-native rounds (the
    driver only sees per-round isEmpty flags). Sampled brute-force
    verification."""
    from pyspark.sql import functions as F

    level, k = 7, 3
    n_pts, n_q = 20000, 10000
    pts = spark.range(n_pts).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 2654435761) % 2**32 / float(2**32) * 120.0 - 60.0).alias("lat"),
        ((F.col("id") * 2246822519) % 2**32 / float(2**32) * 360.0 - 180.0).alias("lon"),
    )
    queries = spark.range(n_q).select(
        F.col("id").alias("q_id"),
        ((F.col("id") * 40503 + 7) % 2**32 / float(2**32) * 120.0 - 60.0).alias("lat"),
        (((F.col("id") * 69069 + 1) % 2**32) / float(2**32) * 360.0 - 180.0).alias("lon"),
    )
    out = joins.knn_join(queries, pts, k, level, spark).toPandas()
    assert len(out) == k * n_q
    # brute-force a sample of queries in NumPy
    pdf = pts.toPandas()
    qdf = queries.filter(F.col("q_id") % 250 == 0).toPandas()
    d = grid.haversine_km(
        qdf.lat.to_numpy()[:, None], qdf.lon.to_numpy()[:, None],
        pdf.lat.to_numpy()[None, :], pdf.lon.to_numpy()[None, :],
    )
    for row_i, (_, q) in enumerate(qdf.iterrows()):
        order = np.lexsort((pdf.doc_id.to_numpy(), d[row_i]))[:k]
        got = out[out.q_id == q.q_id].sort_values("rank")
        assert got.doc_id.tolist() == pdf.doc_id.to_numpy()[order].tolist(), q.q_id


def test_cover_refinement_shrinks_star():
    """C7 refined cover (supercover boundary + interior centers) vs the
    naive bbox cell count for the concave star fixture."""
    star = fixtures.polygons()[1]["ring"]
    lat_lo, lat_hi, lon_lo, lon_hi = geometry.polygon_bbox(star)
    for level, min_ratio in ((8, 1.8), (9, 2.0)):
        nc, nr = grid.grid_shape(level)
        dlat, dlon = 180.0 / nr, 360.0 / nc
        bbox_n = (
            int(np.floor((lat_hi + 90) / dlat)) - int(np.floor((lat_lo + 90) / dlat)) + 1
        ) * (
            int(np.floor((lon_hi + 180) / dlon)) - int(np.floor((lon_lo + 180) / dlon)) + 1
        )
        cover = geometry.polygon_cell_cover(star, level)
        assert bbox_n / len(cover) >= min_ratio, (level, len(cover), bbox_n)


def test_radius_join_matches_bruteforce(spark):
    """Within-R join == brute-force haversine filter, including a
    high-latitude query that must take the broadcast fallback."""
    from engine import udfs

    level, R = 7, 800.0
    docs = fixtures.documents_geo(spark, 2000, seed=11)
    pts = udfs.geocode_cols(docs).select("doc_id", "lat", "lon")
    qp = pd.DataFrame(
        {
            "q_id": [0, 1, 2, 3],
            "lat": [10.0, -45.0, 80.0, 0.0],  # 80N: margin check fails -> fallback
            "lon": [20.0, -60.0, 30.0, 179.9],
        }
    )
    queries = spark.createDataFrame(qp)
    out = joins.radius_join(queries, pts, R, level).toPandas()
    pts_pdf = pts.toPandas()
    for _, q in qp.iterrows():
        d = grid.haversine_km(
            q.lat, q.lon, pts_pdf.lat.to_numpy(), pts_pdf.lon.to_numpy()
        )
        want = set(pts_pdf.doc_id[d <= R])
        got_rows = out[out.q_id == q.q_id]
        assert set(got_rows.doc_id) == want, f"q{q.q_id}"
        assert not got_rows.doc_id.duplicated().any(), f"q{q.q_id}: dup candidates"


def test_radius_join_auto_level_bounds_fallback(spark):
    """level=None auto-picks from (radius, design_abs_lat): with the
    design latitude covering the query band, the margin check covers
    every query (zero broadcast stragglers) and results still match
    brute force at high latitude."""
    from pyspark.sql import functions as F

    from engine import udfs

    R = 300.0
    level = joins.choose_level_for_radius(R, design_abs_lat=80.0)
    docs = fixtures.documents_geo(spark, 1500, seed=5)
    pts = udfs.geocode_cols(docs).select("doc_id", "lat", "lon")
    qp = pd.DataFrame(
        {"q_id": [0, 1, 2], "lat": [78.0, -70.0, 40.0], "lon": [10.0, 100.0, -60.0]}
    )
    queries = spark.createDataFrame(qp)
    # margin >= R for every query at the auto level (bounded fallback)
    q = queries.withColumn(
        "_m", joins._ring_margin_col(
            F.col("lat"), F.col("lon"),
            int(np.ceil(R / min(
                (180.0 / grid.grid_shape(level)[1]) * joins.KM_PER_DEG,
                (360.0 / grid.grid_shape(level)[0]) * joins.KM_PER_DEG
                * float(np.cos(np.radians(80.0))),
            ))) + 1,
            level,
        )
    )
    assert q.filter(F.col("_m") < R).count() == 0
    out = joins.radius_join(
        queries, pts, R, level=None, design_abs_lat=80.0
    ).toPandas()
    pts_pdf = pts.toPandas()
    for _, qq in qp.iterrows():
        d = grid.haversine_km(
            qq.lat, qq.lon, pts_pdf.lat.to_numpy(), pts_pdf.lon.to_numpy()
        )
        want = set(pts_pdf.doc_id[d <= R])
        assert set(out[out.q_id == qq.q_id].doc_id) == want, f"q{qq.q_id}"


def test_pip_join_holed_polygon(spark):
    """P4 (square with hole): points inside the hole are excluded, on
    the hole boundary included, between rings included — vs a scalar
    per-ring parity oracle. Probes placed explicitly in each regime."""
    from engine import geometry

    level = 7
    polys = [p for p in fixtures.polygons_holed() if p["poly_id"] == 4]
    probes = pd.DataFrame(
        {
            "q_id": range(7),
            "lat": [30.0, 20.0, 30.0, 24.0, 16.0, 50.0, 44.0],
            "lon": [78.0, 65.0, 68.0, 78.0, 60.0, 78.0, 94.0],
            # hole-interior, ring-band, ring-band, on-hole-edge,
            # on-outer-edge, outside, inside-near-corner
        }
    )
    pts = spark.createDataFrame(probes)
    out = joins.pip_join(pts, polys, level, spark).toPandas()
    got = set(out.q_id)
    want = {
        int(q)
        for q, la, lo in zip(probes.q_id, probes.lat, probes.lon)
        if geometry.point_in_rings(
            np.array([la]), np.array([lo]), geometry.poly_rings(polys[0])
        )[0]
    }
    assert want == {1, 2, 3, 4, 6}  # the regimes behave as documented
    assert got == want

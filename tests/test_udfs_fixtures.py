"""Spark-side tests: fixture generator determinism + C1/C2/C6 parity
of the JVM quantize expressions and the pandas UDFs with the NumPy
reference in engine.grid."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from engine import fixtures, grid, udfs


def test_documents_geo_deterministic_and_shaped(spark):
    df = fixtures.documents_geo(spark, 200, seed=42)
    pdf = df.orderBy("doc_id").toPandas()
    assert len(pdf) == 200
    assert list(pdf.columns) == ["doc_id", "spans", "part_id"]
    # distributed == driver-side generator, row for row
    local = fixtures.documents_geo_pandas(200, seed=42).sort_values("doc_id")
    for (_, a), (_, b) in zip(pdf.iterrows(), local.iterrows()):
        assert a.doc_id == b.doc_id
        sa = [dict(s) for s in a.spans]
        assert sa == list(b.spans)  # span sequence identical incl. order
    # exactly one geo span per doc; offsets strictly increasing
    for spans in pdf.spans:
        kinds = [s["kind"] for s in spans]
        assert kinds.count("geo") == 1
        assert 2 <= len(spans) <= 6
        offs = [s["offset"] for s in spans]
        assert offs == sorted(offs)


def test_documents_geo_regenerates_identically(spark):
    a = fixtures.documents_geo(spark, 100, seed=7).orderBy("doc_id").toPandas()
    b = fixtures.documents_geo(spark, 100, seed=7).orderBy("doc_id").toPandas()
    assert a.doc_id.tolist() == b.doc_id.tolist()
    assert [list(map(dict, s)) for s in a.spans] == [
        list(map(dict, s)) for s in b.spans
    ]


def test_geocode_and_encode_parity(spark):
    level, T_ = 12, 16
    df = fixtures.documents_geo(spark, 300, seed=42)
    enc = udfs.with_cell_and_tile(udfs.geocode_cols(df), level, T_)
    enc = enc.withColumn(
        "cell_id_pudf",
        udfs.cell_encode_pudf(F.col("lat"), F.col("lon"), F.lit(level)),
    )
    pdf = enc.orderBy("doc_id").toPandas()
    # with_cell_and_tile's cell_id == a direct pandas-UDF call == NumPy;
    # the tile columns come from the JVM quantize expressions
    np.testing.assert_array_equal(pdf.cell_id.to_numpy(), pdf.cell_id_pudf.to_numpy())
    want = grid.cell_encode(pdf.lat.to_numpy(), pdf.lon.to_numpy(), level)
    np.testing.assert_array_equal(pdf.cell_id.to_numpy(), want)
    # tile mapping parity
    tx, ty, ti, tj = grid.cell_to_tile(pdf.cell_id.to_numpy(), T_)
    np.testing.assert_array_equal(pdf.tile_x.to_numpy(), tx)
    np.testing.assert_array_equal(pdf.tile_y.to_numpy(), ty)
    np.testing.assert_array_equal(pdf.ti.to_numpy(), ti)
    np.testing.assert_array_equal(pdf.tj.to_numpy(), tj)
    # geocode parity with the spans payload
    for _, row in pdf.iterrows():
        geo = [s for s in row.spans if s["kind"] == "geo"][0]
        lat_s, lon_s = geo["media_ref"][4:].split(",")
        assert abs(float(lat_s) - row.lat) < 1e-12
        assert abs(float(lon_s) - row.lon) < 1e-12


def test_cell_decode_parent_kring_udfs(spark):
    level = 9
    pts = fixtures.query_points(100)
    df = spark.createDataFrame(pts)
    df = df.withColumn(
        "cell_id", udfs.cell_encode_pudf(F.col("lat"), F.col("lon"), F.lit(level))
    )
    df = df.withColumn("dec", udfs.cell_decode_pudf(F.col("cell_id")))
    df = df.withColumn(
        "parent", udfs.cell_parent_pudf(F.col("cell_id"), F.lit(5))
    )
    df = df.withColumn("ring", udfs.k_ring_pudf(2)(F.col("cell_id")))
    pdf = df.orderBy("q_id").toPandas()
    cid = pdf.cell_id.to_numpy()
    la, lo, i, j, lv = grid.cell_decode(cid)
    np.testing.assert_allclose([d["lat"] for d in pdf.dec], la)
    np.testing.assert_allclose([d["lon"] for d in pdf.dec], lo)
    np.testing.assert_array_equal(pdf.parent.to_numpy(), grid.cell_parent(cid, 5))
    rings = grid.k_ring_batch(cid, 2)
    for got, want in zip(pdf.ring, rings):
        np.testing.assert_array_equal(np.array(got), want)


def test_haversine_col_matches_numpy(spark):
    pts = fixtures.query_points(200)
    df = spark.createDataFrame(pts)
    out = df.select(
        udfs.haversine_col(F.col("lat"), F.col("lon"), F.lit(10.0), F.lit(20.0)).alias(
            "d"
        )
    ).toPandas()
    want = grid.haversine_km(pts.lat.to_numpy(), pts.lon.to_numpy(), 10.0, 20.0)
    np.testing.assert_allclose(out.d.to_numpy(), want, rtol=1e-12)


def test_raster_fixture_properties():
    arr = fixtures.raster_fixture()
    assert arr.shape == (64, 64)
    vals = arr[np.isfinite(arr)]
    assert set(np.unique(vals)) <= {0.0, 1.0, 2.0, 3.0}
    assert np.isnan(arr[14:18, 30:34]).all()
    # patches crossing tile borders: class changes across the x=16 seam
    # are not everywhere → some classes continue across it
    same = 0
    for y in range(64):
        if (
            np.isfinite(arr[y, 15])
            and np.isfinite(arr[y, 16])
            and arr[y, 15] == arr[y, 16]
        ):
            same += 1
    assert same > 10  # plenty of cross-seam patch continuity
    # round trip through tile rows
    rows = fixtures.tiles_rows_from_array(arr, 16)
    assert len(rows) == 16
    back = fixtures.array_from_tiles_rows(rows, 16)
    np.testing.assert_array_equal(
        np.isnan(arr), np.isnan(back)
    )
    np.testing.assert_array_equal(arr[np.isfinite(arr)], back[np.isfinite(back)])

"""Deterministic synthetic inputs (FIXTURES.md is the normative spec).

Everything is seeded — same (seed, size) → identical data; no wall-clock
or unseeded randomness anywhere (resume/idempotence depends on this).

- documents_geo: the interleaved corpus exactly per BASELINE.json:15 —
  (doc_id:string, spans:array<struct<kind,text,media_ref,offset:int>>),
  one 'geo' span per doc carrying ``geo:{lat:.6f},{lon:.6f}``; spatial
  Zipf-weighted Gaussian hotspots so tile occupancy is skewed (exercises
  the J5 skew handling). Generated distributed via mapInPandas.
- raster_fixture: 64×64 multi-tile class raster with patches crossing
  tile borders + nodata speckle (FIXTURES.md §2) for focal/patch goldens.
- polygons / query_points: PIP + kNN join fixtures (FIXTURES.md §3).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

try:  # import-safe without Spark for pure-NumPy tests
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql import types as T
except ImportError:  # pragma: no cover
    DataFrame = SparkSession = T = None  # type: ignore[assignment]

N_HOTSPOTS = 16
ZIPF_S = 1.2
_LOREM = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim ad minim veniam"
).split()

DOCUMENTS_SCHEMA_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "part_id int"
)


def hotspots(seed: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(lat_c, lon_c, sigma, cum_weights) of the K seeded hotspots."""
    rng = np.random.default_rng(seed)
    lat_c = rng.uniform(-55.0, 55.0, N_HOTSPOTS)
    lon_c = rng.uniform(-175.0, 175.0, N_HOTSPOTS)
    sigma = rng.uniform(1.0, 4.0, N_HOTSPOTS)
    w = (np.arange(1, N_HOTSPOTS + 1, dtype=np.float64)) ** (-ZIPF_S)
    w /= w.sum()
    return lat_c, lon_c, sigma, np.cumsum(w)


def _gen_docs_batch(ks: np.ndarray, seed: int, parts: int) -> pd.DataFrame:
    """Generate rows for doc indices `ks` (vectorized where possible,
    per-doc PCG64(seed ^ k) for the variable-length span structure)."""
    lat_c, lon_c, sigma, cum_w = hotspots(seed)
    n = len(ks)
    doc_ids = [f"d{int(k):012d}" for k in ks]
    spans_col: list[list[dict]] = []
    for k in ks:
        rng = np.random.default_rng(np.random.PCG64(seed ^ int(k)))
        n_spans = int(rng.integers(2, 7))
        geo_pos = int(rng.integers(0, n_spans))
        h = int(np.searchsorted(cum_w, rng.random()))
        lat = float(np.clip(rng.normal(lat_c[h], sigma[h]), -60.0, 60.0))
        lon = float((rng.normal(lon_c[h], sigma[h]) + 180.0) % 360.0 - 180.0)
        spans = []
        offset = 0
        for s in range(n_spans):
            if s == geo_pos:
                kind, text, ref = "geo", "", f"geo:{lat:.6f},{lon:.6f}"
            elif rng.random() < 0.6:
                nw = int(rng.integers(3, 9))
                words = rng.integers(0, len(_LOREM), nw)
                kind, text, ref = "text", " ".join(_LOREM[w] for w in words), ""
            else:
                kind, text, ref = "image", "", f"img:{int(rng.integers(0, 2**32)):08x}"
            spans.append(
                {"kind": kind, "text": text, "media_ref": ref, "offset": offset}
            )
            offset += max(len(text), 1)
        spans_col.append(spans)
    return pd.DataFrame(
        {
            "doc_id": doc_ids,
            "spans": spans_col,
            "part_id": (ks % parts).astype(np.int32),
        }
    )


def documents_geo(
    spark: "SparkSession", n: int, seed: int = 42, *, parts: int = 16,
    n_parts: int | None = None,
) -> "DataFrame":
    """Distributed deterministic generator of the interleaved corpus."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _gen_docs_batch(pdf["id"].to_numpy(), seed, parts)

    if n_parts is None:
        n_parts = max(spark.sparkContext.defaultParallelism, 8)
    return spark.range(0, n, 1, n_parts).mapInPandas(gen, DOCUMENTS_SCHEMA_DDL)


def documents_geo_pandas(n: int, seed: int = 42, parts: int = 16) -> pd.DataFrame:
    """Driver-side variant for small unit tests (same rows as the
    distributed generator — verified by test_fixtures)."""
    return _gen_docs_batch(np.arange(n, dtype=np.int64), seed, parts)


# ---------------------------------------------------------------------------
# raster fixture (FIXTURES.md §2)
# ---------------------------------------------------------------------------

def raster_fixture(
    seed: int = 42, size: int = 64, n_sites: int = 12, wrap: bool = False
) -> np.ndarray:
    """size×size float64 class raster {0..3}, NaN = nodata.

    Voronoi cells of seeded sites (classes = site index mod 4) give
    blob-like patches, several of which cross the T=16 tile borders;
    5% nodata speckle + one solid 4×4 nodata block at a tile seam.
    With wrap=True the Voronoi metric wraps in x (lon seam patches).
    """
    rng = np.random.default_rng(seed)
    sy = rng.uniform(0, size, n_sites)
    sx = rng.uniform(0, size, n_sites)
    klass = np.arange(n_sites) % 4
    yy, xx = np.mgrid[0:size, 0:size]
    d2 = np.full((size, size), np.inf)
    lab = np.zeros((size, size), dtype=np.int64)
    for s in range(n_sites):
        dx = np.abs(xx + 0.5 - sx[s])
        if wrap:
            dx = np.minimum(dx, size - dx)
        dy = yy + 0.5 - sy[s]
        dd = dx * dx + dy * dy
        closer = dd < d2
        d2[closer] = dd[closer]
        lab[closer] = s
    arr = klass[lab].astype(np.float64)
    speckle = rng.random((size, size)) < 0.05
    arr[speckle] = np.nan
    arr[14:18, 30:34] = np.nan  # solid nodata block straddling the y=16 seam
    return arr


def raster_arith(size: int = 64, n_sites: int = 12) -> np.ndarray:
    """SQL-expressible deterministic class raster (no RNG): Voronoi
    cells of hash-placed sites (classes = site index mod 4, strict-min
    tie → smallest site), 5%-rate hash speckle nodata + one solid 4×4
    nodata block straddling the y=16 tile seam. Same character as
    raster_fixture, but every value is integer/double arithmetic the
    DuckDB oracle regenerates exactly (engine/spatial_queries.py)."""
    k = np.arange(1, n_sites + 1, dtype=np.int64)
    sx = ((k * 2654435761) % 2**32) / 2**32 * size
    sy = ((k * 2246822519) % 2**32) / 2**32 * size
    klass = (k - 1) % 4
    yy, xx = np.mgrid[0:size, 0:size]
    d2 = np.full((size, size), np.inf)
    lab = np.zeros((size, size), dtype=np.int64)
    for s in range(n_sites):
        dx = xx + 0.5 - sx[s]
        dy = yy + 0.5 - sy[s]
        dd = dx * dx + dy * dy
        closer = dd < d2
        d2[closer] = dd[closer]
        lab[closer] = s
    arr = klass[lab].astype(np.float64)
    speckle = (
        (xx.astype(np.int64) * 2654435761 + yy.astype(np.int64) * 40503 + 7) % 2**32
    ) < 0.05 * 2**32
    arr[speckle] = np.nan
    arr[14:18, 30:34] = np.nan
    return arr


def dem_arith(size: int = 64) -> np.ndarray:
    """SQL-expressible deterministic DEM (no RNG, no trig): a quadratic
    saddle + cross term gives smoothly varying gradients covering every
    aspect quadrant; 3%-rate hash speckle nodata + one solid 4x4 nodata
    block. Regenerated exactly by the sq_terrain DuckDB oracle
    (engine/spatial_queries.py)."""
    yy, xx = np.mgrid[0:size, 0:size]
    i = xx.astype(np.float64)
    j = yy.astype(np.float64)
    arr = (
        0.002 * (i - 20.0) * (i - 35.0)
        + 0.003 * (j - 10.0) * (j - 50.0)
        + 0.0004 * i * j
    )
    speckle = (
        (xx.astype(np.int64) * 2654435761 + yy.astype(np.int64) * 40503 + 13) % 2**32
    ) < 0.03 * 2**32
    arr[speckle] = np.nan
    arr[40:44, 8:12] = np.nan
    return arr


def dem_pitted(size: int = 48) -> np.ndarray:
    """SQL-expressible pitted DEM for hydrological conditioning
    (engine/fill.py): an inclined plane + deterministic hash roughness
    with two carved parabolic depressions, no nodata. Every term is a
    polynomial / GREATEST, so the sq_terrain 'fill' oracle regenerates
    it bit-for-bit (left-associative +/- order pinned below)."""
    yy, xx = np.mgrid[0:size, 0:size]
    i = xx.astype(np.float64)
    j = yy.astype(np.float64)
    rough = (
        (xx.astype(np.int64) * 2654435761 + yy.astype(np.int64) * 40503 + 17)
        % 2**32
    ).astype(np.float64) / 4294967296.0 * 0.2
    d2a = (i - 12.0) * (i - 12.0) + (j - 14.0) * (j - 14.0)
    d2b = (i - 33.0) * (i - 33.0) + (j - 30.0) * (j - 30.0)
    # pinned order: ((((0.05i + 0.04j) + rough) - pitA) - pitB)
    arr = 0.05 * i + 0.04 * j
    arr = arr + rough
    arr = arr - 0.08 * np.maximum(0.0, 36.0 - d2a)
    arr = arr - 0.05 * np.maximum(0.0, 81.0 - d2b)
    return arr


TILES_SCHEMA_DDL = (
    "tile_x int, tile_y int, level int, band string, "
    "nrows int, ncols int, data array<double>"
)


def tiles_rows_from_array(
    arr: np.ndarray, tile_size: int, level: int = 10, band: str = "class"
) -> pd.DataFrame:
    """Split a full raster array into tile rows (row-major data payload).
    Grid coords: data[j_local * ncols + i_local] with i = x (col, lon),
    j = y (row, lat) — tile (tile_x, tile_y) covers cols
    [tile_x*T, ...), rows [tile_y*T, ...)."""
    H, W = arr.shape
    rows = []
    for ty in range(0, (H + tile_size - 1) // tile_size):
        for tx in range(0, (W + tile_size - 1) // tile_size):
            block = arr[
                ty * tile_size : (ty + 1) * tile_size,
                tx * tile_size : (tx + 1) * tile_size,
            ]
            rows.append(
                {
                    "tile_x": tx,
                    "tile_y": ty,
                    "level": level,
                    "band": band,
                    "nrows": block.shape[0],
                    "ncols": block.shape[1],
                    # plain list: createDataFrame on a non-Arrow session
                    # (e.g. the driver harness's) rejects numpy scalars
                    "data": block.ravel().astype(np.float64).tolist(),
                }
            )
    return pd.DataFrame(rows)


def array_from_tiles_rows(pdf: pd.DataFrame, tile_size: int) -> np.ndarray:
    """Inverse of tiles_rows_from_array (for test assertions)."""
    H = int((pdf["tile_y"] * tile_size + pdf["nrows"]).max())
    W = int((pdf["tile_x"] * tile_size + pdf["ncols"]).max())
    out = np.full((H, W), np.nan)
    for _, r in pdf.iterrows():
        out[
            r.tile_y * tile_size : r.tile_y * tile_size + r.nrows,
            r.tile_x * tile_size : r.tile_x * tile_size + r.ncols,
        ] = np.asarray(r.data, dtype=np.float64).reshape(r.nrows, r.ncols)
    return out


# ---------------------------------------------------------------------------
# polygons + query points (FIXTURES.md §3)
# ---------------------------------------------------------------------------

def polygons() -> list[dict]:
    """P1 convex quad, P2 concave star, P3 crossing lon=180 (stored with
    lon > 180 on the far side; PIP handles the wrap by normalizing)."""
    star = []
    for k in range(10):
        ang = np.pi / 2 + k * np.pi / 5
        rad = 8.0 if k % 2 == 0 else 3.5
        star.append({"lat": 10.0 + rad * np.sin(ang), "lon": 40.0 + rad * np.cos(ang)})
    star.append(dict(star[0]))
    p1 = [
        {"lat": -5.0, "lon": -60.0},
        {"lat": -5.0, "lon": -45.0},
        {"lat": 8.0, "lon": -45.0},
        {"lat": 8.0, "lon": -60.0},
        {"lat": -5.0, "lon": -60.0},
    ]
    p3 = [
        {"lat": -20.0, "lon": 172.0},
        {"lat": -20.0, "lon": 188.0},  # = -172 wrapped
        {"lat": -8.0, "lon": 188.0},
        {"lat": -8.0, "lon": 172.0},
        {"lat": -20.0, "lon": 172.0},
    ]
    return [
        {"poly_id": 1, "ring": p1},
        {"poly_id": 2, "ring": star},
        {"poly_id": 3, "ring": p3},
    ]


def polygons_holed() -> list[dict]:
    """polygons() + P4: a square with a square HOLE (multi-ring
    even-odd model — points inside the hole are OUTSIDE the polygon,
    hole boundary counts as inside, §5.3.6 extended)."""
    outer = [
        {"lat": 15.0, "lon": 60.0},
        {"lat": 15.0, "lon": 95.0},
        {"lat": 45.0, "lon": 95.0},
        {"lat": 45.0, "lon": 60.0},
        {"lat": 15.0, "lon": 60.0},
    ]
    hole = [
        {"lat": 24.0, "lon": 70.0},
        {"lat": 24.0, "lon": 86.0},
        {"lat": 38.0, "lon": 86.0},
        {"lat": 38.0, "lon": 70.0},
        {"lat": 24.0, "lon": 70.0},
    ]
    return polygons() + [{"poly_id": 4, "ring": outer, "holes": [hole]}]


def query_points(n: int = 1000, seed: int = 42) -> pd.DataFrame:
    """Seeded points: ~half clustered near/inside the polygons, some
    exactly on edges/vertices (boundary = inside, §5.3.6)."""
    rng = np.random.default_rng(seed + 1)
    lat = rng.uniform(-60, 60, n)
    lon = rng.uniform(-180, 180, n)
    # cluster a half around polygon centers
    centers = [(1.5, -52.5), (10.0, 40.0), (-14.0, 178.0)]
    for k in range(n // 2):
        cy, cx = centers[k % 3]
        lat[k] = np.clip(cy + rng.normal(0, 4.0), -60, 60)
        lon[k] = (cx + rng.normal(0, 5.0) + 180.0) % 360.0 - 180.0
    # exact boundary probes
    lat[0], lon[0] = -5.0, -50.0  # on P1 bottom edge
    lat[1], lon[1] = -5.0, -60.0  # P1 vertex
    lat[2], lon[2] = 8.0, -45.0  # P1 corner
    return pd.DataFrame(
        {"q_id": np.arange(n, dtype=np.int64), "lat": lat, "lon": lon}
    )

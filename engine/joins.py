"""Spatial joins: point-in-polygon (J1+J2) and kNN (J3) — SURVEY.md §2.4.

Physical strategy (scale notes):

- **PIP**: polygon covers are computed driver-side (polygon sets are
  small relative to points — BASELINE.json:6 "broadcast polygon
  cell-cover") and shipped, sorted, in the closure of one ``arrow_udf``
  that does cover lookup and exact ray-cast refine per Arrow batch; a
  JVM ``explode`` of its array result emits the matches. One fused
  stage, no join and no exchange over the points.
- **kNN**: iterative k-ring expansion with early termination. The
  QUERY side (small) explodes its ring cells and is broadcast against
  the cell-keyed points table; per round one shuffle for the top-k
  rank. A query resolves when its kth distance is ≤ the minimum
  possible distance to any cell outside the covered ring (plate-carrée
  margin bound, conservative). Ring radius doubles per round.

Both preserve the input's ``spans`` column untouched (span-sequence
invariant) — they only ADD columns.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from engine import geometry, grid, udfs

KM_PER_DEG = np.pi * grid.EARTH_RADIUS_KM / 180.0


def pip_join(
    points: DataFrame,
    polys: list[dict],
    level: int,
    spark: SparkSession | None = None,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Inner join point→polygon: one output row per (point, containing
    polygon), as the input row plus a ``poly_id`` column. ``spark`` is
    unused; callers pass it positionally.

    One fused pass, no join stage: the sorted (cell_id → poly_id) cover
    rides in the UDF closure (it is small by the broadcast-cover design
    premise), so only the two coordinate columns cross the Arrow
    boundary, once. The ``arrow_udf`` maps (lat, lon) → array of
    containing poly_ids (encode → sorted-cover membership via
    searchsorted → per-polygon ray cast, all NumPy), then a JVM-side
    ``explode`` fans out matches; explode of an empty array emits no
    row, which IS the inner-join semantics. Null/NaN coordinates match
    nothing.

    The result ``ListArray`` is built from offsets, not from one Python
    list per point: on one 65,536-point batch drawn like the pip_points
    benchmark (one Xeon core), per-row lists plus the pandas→Arrow list
    conversion took 39 of the 56 ms pandas_udf body (~70%, more than
    encode, cover lookup and ray cast together); the offsets take 1.3 ms.
    Why neither a broadcast-hash join nor mapInPandas: the join
    evaluates the cell-encode UDF twice (Catalyst's inferred isnotnull
    filter on the key is not CSE'd by ExtractPythonUDFs), and
    mapInPandas' row-stream serialization measured ~1.9 µs/row, 5× the
    ArrowEvalPython path.
    """
    pairs = sorted(
        (int(cid), int(p["poly_id"]))
        for p in polys
        for cid in geometry.polygon_cell_cover(p["ring"], level, p.get("holes"))
    )
    cells_sorted = np.array([c for c, _ in pairs], dtype=np.int64)
    poly_sorted = np.array([p for _, p in pairs], dtype=np.int64)
    rings = {int(p["poly_id"]): geometry.poly_rings(p) for p in polys}

    @F.arrow_udf(ArrayType(LongType()))
    def pip_polys(la_a: pa.Array, lo_a: pa.Array) -> pa.Array:
        # nulls arrive as NaN; non-finite points get no candidates
        la = la_a.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
        lo = lo_a.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
        ok = np.isfinite(la) & np.isfinite(lo)
        cid = grid.cell_encode(np.where(ok, la, 0.0), np.where(ok, lo, 0.0), level)
        left = np.searchsorted(cells_sorted, cid, side="left")
        n = np.where(ok, np.searchsorted(cells_sorted, cid, side="right") - left, 0)
        # candidate (row, poly) pairs, rows ascending
        reps = np.repeat(np.arange(len(la)), n)
        offs = np.arange(len(reps)) - np.repeat(np.cumsum(n) - n, n)
        pid = poly_sorted[np.repeat(left, n) + offs]
        keep = np.zeros(len(reps), dtype=bool)
        for pp, rr in rings.items():
            sel = pid == pp
            if sel.any():
                keep[sel] = geometry.point_in_rings(la[reps[sel]], lo[reps[sel]], rr)
        reps, pid = reps[keep], pid[keep]
        # reps is sorted, so per-row match counts are the list lengths
        offsets = np.zeros(len(la) + 1, dtype=np.int32)
        np.cumsum(np.bincount(reps, minlength=len(la)), out=offsets[1:])
        return pa.ListArray.from_arrays(offsets, pa.array(pid, pa.int64()))

    return points.withColumn(
        "poly_id", F.explode(pip_polys(F.col(lat), F.col(lon)))
    )


# ---------------------------------------------------------------------------
# J3: kNN join
# ---------------------------------------------------------------------------

def _ring_margin_km(q_lat: np.ndarray, q_lon: np.ndarray, r: int, level: int) -> np.ndarray:
    """Conservative lower bound on the distance from each query point to
    any point OUTSIDE its Chebyshev-r cell ring (plate carrée)."""
    nc, nr = grid.grid_shape(level)
    dlon = 360.0 / nc
    dlat = 180.0 / nr
    i = np.floor((q_lon + 180.0) / dlon)
    j = np.floor((q_lat + 90.0) / dlat)
    # covered lat span: [ (j-r)*dlat - 90, (j+1+r)*dlat - 90 ]
    lat_lo = (j - r) * dlat - 90.0
    lat_hi = (j + 1 + r) * dlat - 90.0
    lat_margin = np.minimum(q_lat - lat_lo, lat_hi - q_lat)
    lon_lo = (i - r) * dlon - 180.0
    lon_hi = (i + 1 + r) * dlon - 180.0
    lon_margin = np.minimum(q_lon - lon_lo, lon_hi - q_lon)
    # poles: if the covered lat range exceeds the globe, only lon
    # matters; if the lon range wraps fully, only lat matters.
    lat_margin = np.where((lat_lo <= -90.0) & (lat_hi >= 90.0), np.inf, lat_margin)
    lon_margin = np.where((lon_hi - lon_lo) >= 360.0, np.inf, lon_margin)
    # exact lower bounds: along a meridian for lat; cross-track distance
    # to the boundary meridian for lon (R·asin(sin Δλ · cos φ))
    lat_km = lat_margin * KM_PER_DEG
    dl = np.radians(np.clip(lon_margin, 0.0, 90.0))
    lon_km = grid.EARTH_RADIUS_KM * np.arcsin(
        np.clip(np.sin(dl) * np.cos(np.radians(q_lat)), 0.0, 1.0)
    )
    lon_km = np.where(np.isinf(lon_margin), np.inf, lon_km)
    return np.minimum(lat_km, lon_km)


def _ring_margin_col(lat, lon, r: int, level: int):
    """_ring_margin_km as a pure Catalyst expression (same formula and
    constants) — the per-round resolution test runs JVM-side."""
    nc, nr = grid.grid_shape(level)
    dlon = 360.0 / nc
    dlat = 180.0 / nr
    inf = F.lit(float("inf"))
    i = F.floor((lon + 180.0) / F.lit(dlon))
    j = F.floor((lat + 90.0) / F.lit(dlat))
    lat_lo = (j - r) * dlat - 90.0
    lat_hi = (j + 1 + r) * dlat - 90.0
    lat_margin = F.least(lat - lat_lo, lat_hi - lat)
    lon_lo = (i - r) * dlon - 180.0
    lon_hi = (i + 1 + r) * dlon - 180.0
    lon_margin = F.least(lon - lon_lo, lon_hi - lon)
    lat_margin = F.when((lat_lo <= -90.0) & (lat_hi >= 90.0), inf).otherwise(lat_margin)
    wrapped = (lon_hi - lon_lo) >= 360.0
    lat_km = lat_margin * F.lit(KM_PER_DEG)
    dl = F.radians(F.least(F.greatest(lon_margin, F.lit(0.0)), F.lit(90.0)))
    lon_km = F.when(
        wrapped, inf
    ).otherwise(
        F.lit(grid.EARTH_RADIUS_KM)
        * F.asin(
            F.least(F.lit(1.0), F.greatest(F.lit(0.0), F.sin(dl) * F.cos(F.radians(lat))))
        )
    )
    return F.least(lat_km, lon_km)


# k-ring rounds (radius 1, 2, 4, ...) before the exhaustive fallback
_KNN_MAX_ROUNDS = 8


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    level: int,
    spark: SparkSession,
    point_id: str = "doc_id",
) -> DataFrame:
    """For each query row (q_id, lat, lon): the k nearest point rows by
    haversine, ties broken by (distance, point_id) (§5.3.7).

    Fully DataFrame-native iteration (round-2 fix — the round-1 version
    pulled the query table and each round's top-k to the driver, a
    bottleneck beyond ~10⁵ queries): per round the unresolved queries
    explode their k-ring cells (Arrow pudf), equi-join the cell-keyed
    points, rank within q_id, and a JVM margin test resolves queries
    whose kth distance is ≤ the out-of-ring lower bound. Resolved rows
    accumulate via union + eager localCheckpoint (bounded lineage); the
    driver only ever sees an isEmpty flag per round. Ring radius
    doubles per round; queries still unresolved after
    ``_KNN_MAX_ROUNDS`` rounds take an exhaustive broadcast fallback.
    Returns (q_id, rank, <point_id>, dist_km).
    """
    pts = points.select(
        point_id,
        F.col("lat").alias("p_lat"),
        F.col("lon").alias("p_lon"),
    ).withColumn(
        "cell_id", udfs.cell_encode_pudf(F.col("p_lat"), F.col("p_lon"), F.lit(level))
    )
    pts.persist()
    out_cols = ["q_id", "rank", point_id, "dist_km"]
    unresolved = queries.select("q_id", "lat", "lon")
    results: list[DataFrame] = []
    cached: list[DataFrame] = []
    w = Window.partitionBy("q_id").orderBy(F.col("dist_km"), F.col(point_id))
    r = 1
    for _ in range(_KNN_MAX_ROUNDS):
        qc = unresolved.withColumn(
            "_c0", udfs.cell_encode_pudf(F.col("lat"), F.col("lon"), F.lit(level))
        ).withColumn("cell_id", F.explode(udfs.k_ring_pudf(r)(F.col("_c0"))))
        cand = qc.join(pts, "cell_id").withColumn(
            "dist_km",
            udfs.haversine_col(F.col("lat"), F.col("lon"), F.col("p_lat"), F.col("p_lon")),
        )
        topk = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "rank", point_id, "dist_km")
        ).persist()  # computed once (below), reused by the final union
        cached.append(topk)
        per_q = (
            topk.groupBy("q_id")
            .agg(F.max("dist_km").alias("_kth"), F.count(F.lit(1)).alias("_n"))
            .join(unresolved, "q_id")
        )
        # STRICT <: at exact equality an out-of-ring point at distance
        # == margin == kth could still win the (dist_km, point_id)
        # tie-break against the in-ring kth, so kth == margin does not
        # prove the ring saw every contender
        resolved = per_q.filter(
            (F.col("_n") >= k)
            & (F.col("_kth") < _ring_margin_col(F.col("lat"), F.col("lon"), r, level))
        ).select("q_id")
        results.append(topk.join(resolved, "q_id", "left_semi"))
        # ONE action per round: the checkpoint runs the round's pipeline
        # (filling the topk cache) and truncates the loop-carried lineage
        unresolved = unresolved.join(resolved, "q_id", "left_anti").localCheckpoint(
            eager=True
        )
        if unresolved.isEmpty():
            break
        r *= 2
    else:
        # exhaustive fallback for stragglers (sparse regions / tiny
        # point sets) — still a distributed join, no driver detour
        cand = pts.crossJoin(F.broadcast(unresolved)).withColumn(
            "dist_km",
            udfs.haversine_col(F.col("lat"), F.col("lon"), F.col("p_lat"), F.col("p_lon")),
        )
        results.append(
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(*out_cols)
        )
    out = results[0]
    for more in results[1:]:
        out = out.unionAll(more)
    out = out.select(*out_cols).localCheckpoint(eager=True)
    pts.unpersist()
    for df in cached:
        df.unpersist()
    return out


def choose_level_for_radius(
    radius_km: float, design_abs_lat: float = 60.0
) -> int:
    """Finest grid level whose min cell dimension (at ``design_abs_lat``)
    still covers ``radius_km`` — the ring stays r=2 and every query with
    |lat| <= design_abs_lat is provably covered by the plate-carrée
    margin, bounding the broadcast-fallback band to the polar caps
    beyond the design latitude. Pass the max |lat| your queries reach
    as design_abs_lat to make the fallback share (near-)zero."""
    best = 1
    for L in range(1, 30):
        nc, nr_ = grid.grid_shape(L)
        dlat_km = (180.0 / nr_) * KM_PER_DEG
        dlon_km = (360.0 / nc) * KM_PER_DEG * float(
            np.cos(np.radians(design_abs_lat))
        )
        if min(dlat_km, dlon_km) >= radius_km:
            best = L
        else:
            break
    return best


def radius_join(
    queries: DataFrame,
    points: DataFrame,
    radius_km: float,
    level: int | None = None,
    point_id: str = "doc_id",
    design_abs_lat: float = 60.0,
    log_stragglers: bool = False,
) -> DataFrame:
    """All (query, point) pairs within ``radius_km`` (haversine) — the
    within-distance companion of knn_join. Returns (q_id, <point_id>,
    dist_km).

    Physical plan: ONE k-ring candidate round (no iteration — the ring
    radius is knowable up front, unlike kNN's data-dependent kth
    distance). The static ring radius is sized so every query with
    ring margin >= radius_km is provably covered (the same plate-carrée
    lower bound as knn_join, verified per query JVM-side); queries the
    bound cannot cover at this level (high latitude / huge radius)
    fall back to a broadcast cross-join — still distributed, never a
    driver loop. Points shuffle once onto their cell key; candidates
    arrive via the cell equi-join and one haversine filter.

    level=None auto-picks via choose_level_for_radius so the fallback
    band is bounded by design_abs_lat; log_stragglers=True pays one
    count() on the (small) query side and warns with the fallback
    share — the degenerate case (most queries above the design
    latitude at a coarse level) degrades toward points × queries.
    """
    if level is None:
        level = choose_level_for_radius(radius_km, design_abs_lat)
    nc, nr_ = grid.grid_shape(level)
    dlat_km = (180.0 / nr_) * KM_PER_DEG
    dlon_km = (360.0 / nc) * KM_PER_DEG * float(
        np.cos(np.radians(design_abs_lat))
    )
    r = int(np.ceil(radius_km / min(dlat_km, dlon_km))) + 1

    pts = points.select(
        point_id,
        F.col("lat").alias("p_lat"),
        F.col("lon").alias("p_lon"),
    ).withColumn(
        "cell_id", udfs.cell_encode_pudf(F.col("p_lat"), F.col("p_lon"), F.lit(level))
    )
    q = queries.select("q_id", "lat", "lon").withColumn(
        "_margin", _ring_margin_col(F.col("lat"), F.col("lon"), r, level)
    )
    covered = q.filter(F.col("_margin") >= radius_km)
    stragglers = q.filter(F.col("_margin") < radius_km)
    if log_stragglers:
        import sys

        n_all = q.count()
        n_str = stragglers.count()
        if n_str:
            print(
                f"# radius_join: {n_str}/{n_all} queries "
                f"({100.0 * n_str / max(n_all, 1):.1f}%) fall back to the "
                f"broadcast path (ring margin < {radius_km} km at level "
                f"{level}; raise design_abs_lat or lower level)",
                file=sys.stderr,
            )

    dist = udfs.haversine_col(
        F.col("lat"), F.col("lon"), F.col("p_lat"), F.col("p_lon")
    )
    cand = (
        covered.withColumn(
            "_c0", udfs.cell_encode_pudf(F.col("lat"), F.col("lon"), F.lit(level))
        )
        .withColumn("cell_id", F.explode(udfs.k_ring_pudf(r)(F.col("_c0"))))
        .join(pts, "cell_id")
    )
    near = cand.withColumn("dist_km", dist).filter(F.col("dist_km") <= radius_km)
    far = (
        pts.crossJoin(F.broadcast(stragglers))
        .withColumn("dist_km", dist)
        .filter(F.col("dist_km") <= radius_km)
    )
    return near.select("q_id", point_id, "dist_km").unionAll(
        far.select("q_id", point_id, "dist_km")
    )

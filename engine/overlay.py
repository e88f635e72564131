"""Vector-vector overlay: polygon x polygon intersection / clip
(SURVEY.md §2.7 extension, round 4; VERDICT-r3 missing №5). The
V-family had measures, rasterize, polygonize, PIP — this adds the set
operation a real user hits when clipping a subject layer by zones.

Pinned semantics (normative, mirrored term-for-term by the sq_overlay
DuckDB oracle):

- subject polygons: simple rings (any orientation, convex or not),
  columns (poly_id, xs array<double>, ys array<double>);
- clip polygons: CONVEX rings; the Sutherland–Hodgman contract. The
  classic S–H caveat applies and is pinned: a subject whose true
  intersection is disconnected comes back as ONE ring with coincident
  bridge edges (zero-area corridors) — areas are still exact;
- per clip EDGE (e0 -> e1) in ring-vertex order, a point p is INSIDE
  iff ``d(p) = (e1x−e0x)·(py−e0y) − (e1y−e0y)·(px−e0x) >= 0`` (the
  raw, unnormalized cross product — y-down clockwise clip rings have
  the interior on this side; rings are re-oriented at entry by signed
  area so callers may pass either winding);
- per subject edge (prev v0, cur v1) in vertex order, the stage emits
  (sub-order pinned): the intersection point when the edge crosses
  (``(d0>=0) != (d1>=0)``), then v1 when ``d1 >= 0``. The crossing
  point is ``t = d0/(d0 − d1)``, ``(x0 + t·(x1−x0), y0 + t·(y1−y0))``
  — EXACTLY this expression order (the oracle replays it bit-for-bit,
  raw d values included);
- results with fewer than 3 vertices are dropped (empty intersection);
- quantized aggregates (order-free, the engine's micro-unit scheme):
  ``area_q = |Σ_k round((x_k·y_{k+1} − x_{k+1}·y_k)·1e6)| / 2e6`` over
  cyclic k and ``vsum_q = Σ_k (round(x_k·1e6) + round(y_k·1e6))`` —
  per-term int64 rounding makes both sums order-insensitive, so the
  SQL SUM and the NumPy fold agree exactly.

Union/difference are NOT provided in vector space (S–H cannot express
them); the engine's raster path (rasterize both layers + L1 map
algebra) covers those — documented trade, same as GDAL users falling
back to gdal_rasterize + calc.

Scale design: candidate pairs come from a GRID-BIN equi-join — each
polygon's bbox explodes JVM-side to the covering cells of a coarse
grid (``bin_size``), pairs join on cell, bbox-overlap filter prunes,
distinct de-dupes multi-cell pairs, ONE applyInPandas clips per pair
group. Polygon payloads shuffle once; no all-pairs product (the same
candidate-generation shape as the PIP cover join J1 and the radius
join J11). Skewed bins (one giant clip polygon) have no automatic
answer: raise ``bin_size`` or pre-split the layer; the fixture scale
needs neither.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["clip_convex", "overlay_intersection", "ring_area_q"]


def _orient_clockwise(xs: np.ndarray, ys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """y-down clockwise = positive shoelace sum (the repo's ring
    convention, engine/vector.py). Flip if negative."""
    area2 = float(np.sum(xs * np.roll(ys, -1) - np.roll(xs, -1) * ys))
    if area2 < 0:
        return xs[::-1].copy(), ys[::-1].copy()
    return xs, ys


def clip_convex(
    sx: np.ndarray, sy: np.ndarray, cx: np.ndarray, cy: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Sutherland–Hodgman: clip subject ring (sx, sy) by the convex
    ring (cx, cy). Returns the clipped ring ((0,), (0,)) when empty.
    Vectorized per stage (one pass over subject edges per clip edge)."""
    cx, cy = _orient_clockwise(
        np.asarray(cx, dtype=np.float64), np.asarray(cy, dtype=np.float64)
    )
    xs = np.asarray(sx, dtype=np.float64)
    ys = np.asarray(sy, dtype=np.float64)
    m = len(cx)
    # no early-exit on degenerate (<3-vertex) intermediate rings: the
    # SQL oracle clips stage-for-stage with no such branch, and both
    # must agree on which pairs survive the final >=3 filter
    for k in range(m):
        e0x, e0y = cx[k], cy[k]
        e1x, e1y = cx[(k + 1) % m], cy[(k + 1) % m]
        # d per vertex (raw cross product — pinned, oracle-mirrored)
        d = (e1x - e0x) * (ys - e0y) - (e1y - e0y) * (xs - e0x)
        x0, y0, d0 = np.roll(xs, 1), np.roll(ys, 1), np.roll(d, 1)
        ins1 = d >= 0.0
        cross = (d0 >= 0.0) != ins1
        with np.errstate(invalid="ignore", divide="ignore"):
            t = d0 / (d0 - d)
            ix = x0 + t * (xs - x0)
            iy = y0 + t * (ys - y0)
        # emit order: per edge k — intersection (sub 0), then cur (sub 1)
        n = len(xs)
        keep0 = cross
        keep1 = ins1
        order = np.argsort(
            np.concatenate([np.arange(n)[keep0] * 2, np.arange(n)[keep1] * 2 + 1])
        )
        xs = np.concatenate([ix[keep0], xs[keep1]])[order]
        ys = np.concatenate([iy[keep0], ys[keep1]])[order]
    if len(xs) < 3:
        return np.zeros(0), np.zeros(0)
    return xs, ys


def _round_half_away(v: np.ndarray) -> np.ndarray:
    """Round half AWAY FROM ZERO to int64 — SQL ROUND semantics
    (DuckDB/Spark); np.round is banker's (half-even) and would diverge
    from the oracle exactly on .5-micro-unit boundaries."""
    return np.where(
        v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5)
    ).astype(np.int64)


def ring_area_q(xs: np.ndarray, ys: np.ndarray) -> tuple[float, int]:
    """Quantized |shoelace|/2 and the micro-unit vertex checksum —
    per-term int64 rounding (half away from zero, SQL ROUND), so both
    sums are order-free (module docstring)."""
    if len(xs) < 3:
        return 0.0, 0
    terms = xs * np.roll(ys, -1) - np.roll(xs, -1) * ys
    area_q = abs(int(np.sum(_round_half_away(terms * 1e6)))) / 2e6
    vsum = int(
        np.sum(_round_half_away(xs * 1e6)) + np.sum(_round_half_away(ys * 1e6))
    )
    return area_q, vsum


_OVERLAY_SCHEMA = (
    "a_id long, b_id long, n_pts int, area_q double, vsum_q long, "
    "xs array<double>, ys array<double>"
)


def overlay_intersection(
    a_polys: DataFrame,
    b_polys: DataFrame,
    bin_size: float = 16.0,
) -> DataFrame:
    """Polygon overlay A ∩ B: one row per intersecting (a_id, b_id)
    pair with the clipped ring + quantized area/vertex aggregates.
    ``a_polys`` subjects (any simple ring), ``b_polys`` CONVEX clips —
    columns (poly_id, xs, ys) both. Candidate pairs via the grid-bin
    equi-join described in the module docstring."""

    def binned(df: DataFrame, side: str) -> DataFrame:
        g = float(bin_size)
        x_min = F.array_min("xs"); x_max = F.array_max("xs")
        y_min = F.array_min("ys"); y_max = F.array_max("ys")
        return df.select(
            F.col("poly_id").alias(f"{side}_id"),
            F.col("xs").alias(f"{side}_xs"),
            F.col("ys").alias(f"{side}_ys"),
            x_min.alias(f"{side}_x0"), x_max.alias(f"{side}_x1"),
            y_min.alias(f"{side}_y0"), y_max.alias(f"{side}_y1"),
            F.explode(
                F.sequence(
                    F.floor(x_min / g).cast("long"),
                    F.floor(x_max / g).cast("long"),
                )
            ).alias("bx"),
            F.floor(y_min / g).cast("long").alias("_by0"),
            F.floor(y_max / g).cast("long").alias("_by1"),
        ).select(
            "*", F.explode(F.sequence("_by0", "_by1")).alias("by")
        ).drop("_by0", "_by1")

    pairs = (
        binned(a_polys, "a")
        .join(binned(b_polys, "b"), ["bx", "by"])
        # bbox overlap prune, then de-dupe pairs found in several bins
        .filter(
            (F.col("a_x0") <= F.col("b_x1")) & (F.col("b_x0") <= F.col("a_x1"))
            & (F.col("a_y0") <= F.col("b_y1")) & (F.col("b_y0") <= F.col("a_y1"))
        )
        .select("a_id", "a_xs", "a_ys", "b_id", "b_xs", "b_ys")
        .distinct()
    )

    def clip_batch(it):
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                xs, ys = clip_convex(
                    np.asarray(r.a_xs), np.asarray(r.a_ys),
                    np.asarray(r.b_xs), np.asarray(r.b_ys),
                )
                if len(xs) < 3:
                    continue
                area_q, vsum = ring_area_q(xs, ys)
                rows.append({
                    "a_id": r.a_id, "b_id": r.b_id, "n_pts": len(xs),
                    "area_q": area_q, "vsum_q": vsum,
                    "xs": xs, "ys": ys,
                })
            yield pd.DataFrame(
                rows,
                columns=["a_id", "b_id", "n_pts", "area_q", "vsum_q",
                         "xs", "ys"],
            )

    return pairs.mapInPandas(clip_batch, _OVERLAY_SCHEMA)

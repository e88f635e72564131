"""Raster→vector transfer: polygonize patch-label tiles into boundary
rings (SURVEY.md §7-M6; BASELINE.json:6 "raster-to-vector / vector-to-
raster transfers" — the inverse of A2 rasterize).

Algorithm (distributed, two shuffles):
1. 1-deep halo exchange of the label tiles (reuses J4), so every tile
   sees its neighbors' border labels;
2. per tile, in the same ``tiling.halo_map`` group, VECTORIZED
   boundary-segment extraction: each cell side whose neighbor carries
   a different label / nodata / out-of-raster emits one unit segment
   in global grid coordinates, directed so the patch interior is on a
   consistent side (cell boundary traversed clockwise in y-down
   coords) — shared walls between same-patch cells cancel by
   construction;
3. ``groupBy(patch_id)`` ring assembly: directed segments chain
   start→end into closed rings (a patch's segment count ~ its
   perimeter, so groups stay small even when the patch spans many
   tiles); collinear runs are compressed. Outer rings and holes are
   distinguished by signed area (clockwise traversal in y-down coords
   makes outer rings positive).

The golden test round-trips: rasterize(polygonize(labels)) == labels
(even-odd point-in-rings per cell center) — tests/test_vector.py.

Limits (v1, documented): no antimeridian wrap (a seam-crossing patch
yields two rings); coordinates are grid units (callers scale to
lon/lat via grid.tile_to_cell_origin + cell size).
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from engine import tiling

SEGMENTS_SCHEMA = "patch_id long, x0 long, y0 long, x1 long, y1 long"
RINGS_SCHEMA = (
    "patch_id long, ring_idx int, n_pts int, signed_area double, "
    "is_outer boolean, xs array<double>, ys array<double>"
)


def _emit_segments(
    T: int, tx: int, ty: int, bands: dict, nr: int, nc: int
) -> pd.DataFrame:
    (_, padded), = bands.items()
    core = padded[1 : 1 + nr, 1 : 1 + nc]
    gx0, gy0 = tx * T, ty * T
    finite = np.isfinite(core)
    jj, ii = np.mgrid[0:nr, 0:nc]
    out = []
    # side -> (neighbor offset, segment (start, end)) — clockwise cell
    # boundary in y-down coords: top L->R, right T->B, bottom R->L, left B->T
    sides = {
        "top": ((-1, 0), lambda x, y: (x, y, x + 1, y)),
        "right": ((0, 1), lambda x, y: (x + 1, y, x + 1, y + 1)),
        "bottom": ((1, 0), lambda x, y: (x + 1, y + 1, x, y + 1)),
        "left": ((0, -1), lambda x, y: (x, y + 1, x, y)),
    }
    for (dy, dx), seg in sides.values():
        nb = padded[1 + dy : 1 + dy + nr, 1 + dx : 1 + dx + nc]
        boundary = finite & (~np.isfinite(nb) | (nb != core))
        if not boundary.any():
            continue
        x = (gx0 + ii[boundary]).astype(np.int64)
        y = (gy0 + jj[boundary]).astype(np.int64)
        x0, y0, x1, y1 = seg(x, y)
        out.append(
            pd.DataFrame(
                {
                    "patch_id": core[boundary].astype(np.int64),
                    "x0": x0, "y0": y0, "x1": x1, "y1": y1,
                }
            )
        )
    if not out:
        return pd.DataFrame(columns=["patch_id", "x0", "y0", "x1", "y1"])
    return pd.concat(out, ignore_index=True)


def _chain_rings(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
    """Directed segments of ONE patch → closed rings (deterministic:
    start from the lexicographically smallest unused segment; at pinch
    vertices pop outgoing segments in sorted order)."""
    patch_id = int(key[0])
    segs = pdf[["x0", "y0", "x1", "y1"]].drop_duplicates().sort_values(
        ["x0", "y0", "x1", "y1"]
    )
    # start-vertex -> ordered list of (end-vertex) candidates
    from collections import defaultdict

    outgoing: dict[tuple[int, int], list[tuple[int, int]]] = defaultdict(list)
    for x0, y0, x1, y1 in segs.itertuples(index=False):
        outgoing[(x0, y0)].append((x1, y1))
    for v in outgoing.values():
        v.sort(reverse=True)  # pop() takes the smallest
    starts = sorted(outgoing.keys())
    rows = []
    ring_idx = 0
    for s in starts:
        while outgoing.get(s):
            ring = [s]
            cur = outgoing[s].pop()
            while cur != s:
                ring.append(cur)
                nxt = outgoing.get(cur)
                if not nxt:  # broken chain (shouldn't happen) — drop
                    ring = None
                    break
                cur = nxt.pop()
            if not ring:
                continue
            ring.append(s)
            # compress collinear runs (axis-aligned unit steps)
            comp = [ring[0]]
            for p in ring[1:]:
                if len(comp) >= 2 and (
                    (comp[-1][0] == comp[-2][0] == p[0])
                    or (comp[-1][1] == comp[-2][1] == p[1])
                ):
                    comp[-1] = p
                else:
                    comp.append(p)
            # closing segment may be collinear with the first
            if len(comp) >= 3 and (
                (comp[0][0] == comp[1][0] == comp[-2][0])
                or (comp[0][1] == comp[1][1] == comp[-2][1])
            ):
                comp = comp[1:-1] + [comp[1]]
            xs = np.array([p[0] for p in comp], dtype=np.float64)
            ys = np.array([p[1] for p in comp], dtype=np.float64)
            area2 = float(np.sum(xs[:-1] * ys[1:] - xs[1:] * ys[:-1])) / 2.0
            rows.append(
                {
                    "patch_id": patch_id,
                    "ring_idx": ring_idx,
                    "n_pts": len(comp),
                    "signed_area": area2,
                    # y-down clockwise traversal ⇒ outer rings have
                    # positive shoelace area in (x, y-down)
                    "is_outer": area2 > 0,
                    "xs": xs,
                    "ys": ys,
                }
            )
            ring_idx += 1
    return pd.DataFrame(
        rows,
        columns=["patch_id", "ring_idx", "n_pts", "signed_area", "is_outer", "xs", "ys"],
    )


def polygonize(label_tiles: DataFrame, T: int) -> DataFrame:
    """Patch-label tiles (band='patch', data = patch root ids, NaN =
    nodata) → one row per boundary ring per patch."""
    segments = tiling.halo_map(
        label_tiles, T, 1, None, partial(_emit_segments, T), SEGMENTS_SCHEMA
    )
    return segments.groupBy("patch_id").applyInPandas(_chain_rings, RINGS_SCHEMA)


# marching squares (round 4): corner bits 1=TL(0,0), 2=TR(1,0),
# 4=BR(1,1), 8=BL(0,1) set when value >= L; edges 0=top(TL→TR),
# 1=right(TR→BR), 2=bottom(BL→BR), 3=left(TL→BL). Saddles (5, 10) are
# pinned to a FIXED segment pair (no center-average disambiguation) so
# the SQL oracle can mirror the table verbatim.
_MS_CORNER = {0: ((0, 0), (1, 0)), 1: ((1, 0), (1, 1)),
              2: ((0, 1), (1, 1)), 3: ((0, 0), (0, 1))}
_MS_LUT: dict[int, list[tuple[int, int]]] = {
    1: [(0, 3)], 2: [(0, 1)], 3: [(1, 3)], 4: [(1, 2)],
    5: [(0, 3), (1, 2)], 6: [(0, 2)], 7: [(2, 3)],
    8: [(2, 3)], 9: [(0, 2)], 10: [(0, 1), (2, 3)],
    11: [(1, 2)], 12: [(1, 3)], 13: [(0, 1)], 14: [(0, 3)],
}

CONTOUR_SCHEMA = (
    "bi long, bj long, x0 double, y0 double, x1 double, y1 double"
)


def contour_segments_kernel(
    arr: np.ndarray, L: float, gx0: float, gy0: float
) -> pd.DataFrame:
    """Marching-squares iso-segments of one array at level ``L``:
    blocks are 2×2 cell windows with corner coordinates = CELL INDICES
    (pinned; callers scale to world coords); a block contributes iff
    ALL four corners are finite; crossing point on an edge (a → b) is
    ``t = (L − va)/(vb − va)`` from corner a (pinned expression order).
    Returns global-coordinate segment rows ((gx0, gy0) = the array's
    global origin)."""
    a = np.asarray(arr, dtype=np.float64)
    cols = ["bi", "bj", "x0", "y0", "x1", "y1"]
    H, W = a.shape
    if H < 2 or W < 2:
        return pd.DataFrame(columns=cols)
    v = {
        (dx, dy): a[dy : dy + H - 1, dx : dx + W - 1]
        for dx in (0, 1) for dy in (0, 1)
    }
    valid = np.ones((H - 1, W - 1), dtype=bool)
    for q in v.values():
        valid &= np.isfinite(q)
    case = np.zeros((H - 1, W - 1), dtype=np.int64)
    for bit, key in ((1, (0, 0)), (2, (1, 0)), (4, (1, 1)), (8, (0, 1))):
        case += bit * (v[key] >= L)
    case[~valid] = 0
    jj, ii = np.mgrid[0 : H - 1, 0 : W - 1]

    def edge_pt(e: int, sel: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        (dxa, dya), (dxb, dyb) = _MS_CORNER[e]
        va = v[(dxa, dya)][sel]
        vb = v[(dxb, dyb)][sel]
        t = (L - va) / (vb - va)
        # fold the GLOBAL origin in BEFORE adding t: (g + i + dxa) is an
        # exact integer float, so one final addition with t rounds the
        # same whether the kernel ran on a tile window or the full
        # raster (and the same as the oracle's global i + t)
        x = (gx0 + ii[sel] + dxa) + t * (dxb - dxa)
        y = (gy0 + jj[sel] + dya) + t * (dyb - dya)
        return x, y

    outs = []
    for c, segs in _MS_LUT.items():
        sel = case == c
        if not sel.any():
            continue
        for ea, eb in segs:
            x0, y0 = edge_pt(ea, sel)
            x1, y1 = edge_pt(eb, sel)
            outs.append(pd.DataFrame({
                "bi": (gx0 + ii[sel]).astype(np.int64),
                "bj": (gy0 + jj[sel]).astype(np.int64),
                "x0": x0, "y0": y0, "x1": x1, "y1": y1,
            }))
    if not outs:
        return pd.DataFrame(columns=cols)
    return pd.concat(outs, ignore_index=True)


def contour_segments(
    tiles: DataFrame, T: int, level_value: float, band: str = "z"
) -> DataFrame:
    """Iso-contour segment extraction (gdal_contour analogue, one
    level): marching squares over 2×2 cell blocks, each tile owning
    the blocks whose TOP-LEFT cell lies in its core — blocks spanning
    tile seams read the 1-deep halo, so every raster block is emitted
    exactly once. ONE ``tiling.halo_map`` group; segments never
    shuffle. (Chaining segments into polylines is the polygonize
    ring-assembly pattern — segments are the verifiable core and the
    driver-visible unit.)"""
    def run(tx: int, ty: int, bands: dict, nr: int, nc: int) -> pd.DataFrame:
        (_, padded), = bands.items()
        # own blocks with top-left in the core: rows/cols [1, 1+nr) of
        # the padded window, plus the right/bottom halo for the 2nd
        # corner row — i.e. slice [1 : 2+nr), [1 : 2+nc)
        win = padded[1 : 2 + nr, 1 : 2 + nc]
        return contour_segments_kernel(
            win, level_value, gx0=tx * T, gy0=ty * T
        )

    return tiling.halo_map(
        tiles.filter(F.col("band") == band), T, 1, None, run, CONTOUR_SCHEMA
    )


def point_in_rings(
    px: np.ndarray, py: np.ndarray, rings: list[tuple[np.ndarray, np.ndarray]]
) -> np.ndarray:
    """Even-odd containment of points in a ring set (outer + holes) —
    test helper for the rasterize∘polygonize round-trip."""
    inside = np.zeros(len(px), dtype=bool)
    for xs, ys in rings:
        x0, y0 = xs[:-1], ys[:-1]
        x1, y1 = xs[1:], ys[1:]
        for k in range(len(x0)):
            cond = (y0[k] > py) != (y1[k] > py)
            if y1[k] == y0[k]:
                continue
            xint = x0[k] + (py - y0[k]) * (x1[k] - x0[k]) / (y1[k] - y0[k])
            inside ^= cond & (px < xint)
    return inside


def rasterize_lines(lines: DataFrame, nx: int, ny: int) -> DataFrame:
    """Vector→raster for polylines: the exact supercover cell set of
    each segment — (line_id, i, j) for every in-bounds pixel the
    segment passes through. Completes the V-family (A2 points, C7/J1
    polygons, this for lines; gdal_rasterize's line mode analogue).

    Pinned semantics (pure arithmetic, identical in the SQL oracle):
    sort endpoints by x → (xs1,ys1), (xs2,ys2). Column range
    i ∈ [floor(xs1), floor(xs2)] (a segment ending exactly on a column
    boundary contributes its endpoint cell). Within column i the
    segment's clipped x-interval is [max(xs1,i), min(xs2,i+1)]; its y
    values at the interval ends (linear interp; a vertical segment
    uses its full y extent) give the row range j ∈ [floor(min(ya,yb)),
    floor(max(ya,yb))]. Rows/columns clamp to [0,nx)×[0,ny). Exactly
    the cells a DDA/Amanatides-Woo traversal visits, but expressed as
    closed-form per-column intervals.

    Scale design: all-JVM (two explode(sequence) fan-outs + column
    arithmetic — zero Python, zero shuffle; output is map-side from
    the lines scan). Fan-out per segment is its supercover size
    (O(length)), not its bbox area — a 10^4-cell-long diagonal emits
    ~2·10^4 rows, never 10^8. Long-segment skew is file-parallel
    (segments are rows); no key ever concentrates.
    """
    x1, y1, x2, y2 = (F.col(c) for c in ("x1", "y1", "x2", "y2"))
    swap = x2 < x1
    xs1 = F.when(swap, x2).otherwise(x1)
    ys1 = F.when(swap, y2).otherwise(y1)
    xs2 = F.when(swap, x1).otherwise(x2)
    ys2 = F.when(swap, y1).otherwise(y2)
    d = lines.select(
        "line_id",
        xs1.alias("xs1"), ys1.alias("ys1"),
        xs2.alias("xs2"), ys2.alias("ys2"),
    )
    def span(lo, hi):
        # Spark's sequence(lo, hi) runs DESCENDING when lo > hi — an
        # empty clamped range must yield an empty array, not a sweep
        return F.when(lo <= hi, F.sequence(lo, hi)).otherwise(
            F.array().cast("array<bigint>")
        )

    i = F.col("i")
    cols = d.withColumn(
        "i",
        F.explode(
            span(
                F.greatest(F.floor("xs1"), F.lit(0)),
                F.least(F.floor("xs2"), F.lit(nx - 1)),
            )
        ),
    )
    xlo = F.greatest(F.col("xs1"), i.cast("double"))
    xhi = F.least(F.col("xs2"), i.cast("double") + 1.0)
    vert = F.col("xs2") == F.col("xs1")
    slope = (F.col("ys2") - F.col("ys1")) / (F.col("xs2") - F.col("xs1"))
    ya = F.when(vert, F.least("ys1", "ys2")).otherwise(
        F.col("ys1") + (xlo - F.col("xs1")) * slope
    )
    yb = F.when(vert, F.greatest("ys1", "ys2")).otherwise(
        F.col("ys1") + (xhi - F.col("xs1")) * slope
    )
    rows = cols.withColumn("ya", ya).withColumn("yb", yb).withColumn(
        "j",
        F.explode(
            span(
                F.greatest(F.floor(F.least("ya", "yb")), F.lit(0)),
                F.least(F.floor(F.greatest("ya", "yb")), F.lit(ny - 1)),
            )
        ),
    )
    return rows.select(
        "line_id", i.cast("int").alias("i"), F.col("j").cast("int").alias("j")
    )


def polygon_measures(polys: DataFrame, holes_col: str | None = None) -> DataFrame:
    """Vector measures per polygon ring: spherical area, haversine
    perimeter, vertex centroid — all pure JVM higher-order column
    expressions (zero shuffle, zero Python; at 10^9 polygons this is a
    map-only projection).

    Pinned semantics (SQL-replicable; oracle = edge/vertex tables):
    - ring = closed array<struct<lat,lon>> (last == first);
    - area (km²) = |Σ_edges Δλ·(2 + sin φ1 + sin φ2)| · R²/2 with
      Δλ in radians wrapped to (−180°,180°] via the
      mod-then-conditional-add idiom — the classic spherical-excess
      shoelace (turf.js / Karney "planimeter-lite"); the wrap makes an
      antimeridian-crossing ring (fixture P3, lon stored >180) measure
      its true 16°-wide extent, not the 344° complement;
    - perimeter (km) = Σ haversine(edge), same clamp/constants as
      udfs.haversine_col (R=6371.0088);
    - centroid = arithmetic vertex mean over the ring WITHOUT the
      closing vertex (documented approximation — it is NOT the area
      centroid, and for a seam-crossing ring it averages the stored,
      un-normalized lons).
    """
    R = 6371.0088

    def _edges(ring_expr: str) -> str:
        return (
            f"zip_with(slice({ring_expr}, 1, size({ring_expr}) - 1), "
            f"slice({ring_expr}, 2, size({ring_expr}) - 1), "
            "(a, b) -> struct(a.lat AS la1, a.lon AS lo1, b.lat AS la2, b.lon AS lo2))"
        )

    edges = _edges("ring")
    wrap = (
        "CASE WHEN (e.lo2 - e.lo1 + 180.0) % 360.0 < 0 "
        "THEN (e.lo2 - e.lo1 + 180.0) % 360.0 + 360.0 "
        "ELSE (e.lo2 - e.lo1 + 180.0) % 360.0 END - 180.0"
    )
    area_term = (
        f"radians({wrap}) * (2.0 + sin(radians(e.la1)) + sin(radians(e.la2)))"
    )
    hav = (
        "pow(sin((radians(e.la2) - radians(e.la1)) / 2), 2) "
        "+ cos(radians(e.la1)) * cos(radians(e.la2)) "
        "* pow(sin((radians(e.lo2) - radians(e.lo1)) / 2), 2)"
    )
    edge_km = f"2.0 * {R} * asin(sqrt(least(1.0d, greatest(0.0d, {hav}))))"
    open_ring = "slice(ring, 1, size(ring) - 1)"
    outer_area = f"abs(aggregate({edges}, 0.0d, (acc, e) -> acc + {area_term}))"
    outer_perim = f"aggregate({edges}, 0.0d, (acc, e) -> acc + {edge_km})"
    if holes_col is not None:
        # holes: array<array<struct<lat,lon>>> — each hole ring's |area|
        # subtracts from the outer ring's; hole boundaries ADD to the
        # perimeter (the polygon's boundary includes its hole edges).
        # Still pure nested higher-order fns — map-only, zero Python.
        he = _edges("rg")
        hole_area = (
            f"aggregate(coalesce({holes_col}, array()), 0.0d, (hacc, rg) -> "
            f"hacc + abs(aggregate({he}, 0.0d, (acc, e) -> acc + {area_term})))"
        )
        hole_perim = (
            f"aggregate(coalesce({holes_col}, array()), 0.0d, (hacc, rg) -> "
            f"hacc + aggregate({he}, 0.0d, (acc, e) -> acc + {edge_km}))"
        )
        area_expr = f"({outer_area} - {hole_area})"
        perim_expr = f"({outer_perim} + {hole_perim})"
    else:
        area_expr = outer_area
        perim_expr = outer_perim
    return polys.select(
        "poly_id",
        F.expr("size(ring) - 1").alias("n_vertices"),
        F.round(
            F.expr(area_expr) * (R * R / 2.0),
            2,
        ).alias("area_km2"),
        F.round(F.expr(perim_expr), 2).alias("perim_km"),
        F.round(
            F.expr(f"aggregate({open_ring}, 0.0d, (acc, v) -> acc + v.lat)")
            / F.expr("size(ring) - 1"),
            6,
        ).alias("c_lat"),
        F.round(
            F.expr(f"aggregate({open_ring}, 0.0d, (acc, v) -> acc + v.lon)")
            / F.expr("size(ring) - 1"),
            6,
        ).alias("c_lon"),
    )


# ---------------------------------------------------------------------------
# V8 (round 4): distributed convex hull — associative geometric
# aggregation. The hull of a union is the hull of the hulls, so the
# op is a textbook two-phase aggregate: per-PARTITION monotone-chain
# partial hulls (map-side, each partition's millions of points reduce
# to its <=hull-size extreme candidates), ONE shuffle of candidates on
# the group key, monotone chain again at the reduce. Candidate volume
# is O(partitions x hull size), never the data.
#
# Pinned semantics (mirrored by the q44 oracle's extreme-point test):
# exact-duplicate points dedupe first; the hull vertex SET is the
# strict-turn monotone chain (collinear boundary points are NOT
# vertices); the result reports per group the vertex count and
# micro-quantized coordinate sums (order-free exact integers — no
# vertex ordering or area arithmetic crosses engines).
# ---------------------------------------------------------------------------


def _monotone_chain(pts: "np.ndarray") -> "np.ndarray":
    """Strict-turn Andrew monotone chain over an (n, 2) float array;
    returns the hull vertices (k, 2), k >= 1 (degenerate inputs give
    their extreme endpoints)."""
    pts = np.unique(pts, axis=0)  # sorts lexicographically, dedupes
    if len(pts) <= 2:
        return pts

    def half(p):
        out: list[np.ndarray] = []
        for v in p:
            while len(out) >= 2:
                o, a = out[-2], out[-1]
                if (a[0] - o[0]) * (v[1] - o[1]) - (a[1] - o[1]) * (
                    v[0] - o[0]
                ) > 0:
                    break
                out.pop()
            out.append(v)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    return np.array(lower[:-1] + upper[:-1])


def convex_hull_agg(
    pts: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """One row per group: (n_hull, qx_sum, qy_sum) of its convex hull
    vertices (coords quantized to 1e-6 before exact integer sums)."""
    cols = [group_col, x_col, y_col]

    def partial(batches):
        # fold candidates ACROSS Arrow batches so each partition ships
        # exactly one ≤hull-size candidate set per group (per-batch
        # emission would multiply the shuffle by the batch count)
        cand: dict = {}
        for pdf in batches:
            for g, sub in pdf.groupby(group_col, sort=False):
                pts_b = sub[[x_col, y_col]].to_numpy(dtype=np.float64)
                prev = cand.get(g)
                if prev is not None:
                    pts_b = np.concatenate([prev, pts_b])
                cand[g] = _monotone_chain(pts_b)
        out = [
            pd.DataFrame({group_col: g, x_col: h[:, 0], y_col: h[:, 1]})
            for g, h in cand.items()
        ]
        yield (
            pd.concat(out, ignore_index=True)
            if out
            else pd.DataFrame(columns=cols)
        )

    schema = ", ".join(
        f"{c} {'string' if c == group_col else 'double'}" for c in cols
    )

    def final(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        from engine.overlay import _round_half_away

        hull = _monotone_chain(pdf[[x_col, y_col]].to_numpy(dtype=np.float64))
        # half-AWAY rounding (SQL ROUND semantics) — np.round is
        # banker's and diverges from the oracle exactly on .5 µ-units
        return pd.DataFrame(
            {
                group_col: [key[0]],
                "n_hull": [len(hull)],
                "qx_sum": [int(_round_half_away(hull[:, 0] * 1e6).sum())],
                "qy_sum": [int(_round_half_away(hull[:, 1] * 1e6).sum())],
            }
        )

    cand = pts.select(
        F.col(group_col).cast("string").alias(group_col), x_col, y_col
    ).mapInPandas(partial, schema)
    return cand.groupBy(group_col).applyInPandas(
        final, f"{group_col} string, n_hull long, qx_sum long, qy_sum long"
    )

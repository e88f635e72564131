"""Bounded Euclidean distance transform (proximity raster) — W17-adjacent
window-family operator (SURVEY.md §2.6 extension, round 3).

``distance_transform(tiles, T, cap, pred)`` computes, for EVERY cell of
the raster, the exact Euclidean distance (cell-center metric, in cell
units) to the nearest cell satisfying ``pred`` (the feature mask), capped
at ``cap`` cells — cells with no feature within the cap are NaN. The cap
is the standard GIS "maxdist" parameter (ESRI EucDistance, GDAL
gdal_proximity -maxdist): it is what makes the operator single-shuffle
distributable, because a feature within Euclidean distance d ≤ cap of a
cell is within Chebyshev distance cap, i.e. inside the cap-deep halo.

Physical plan (the 100-TB shape): ``tiling.apply_focal`` — ONE halo
exchange with g=cap (the NumPy ``mapInArrow`` strip emitter of every
focal stat; shuffle volume ≈ (1+4g/T)× tile bytes) + ONE
``applyInArrow`` group running the kernel per tile.
No iteration, no driver traffic, exact within the cap by construction.

Kernel: vectorized offset sweep over the r-disc — one shifted-slice
``np.minimum`` per offset, O(cap²) passes over the padded tile. For the
caps this engine targets (cap ≤ ~32 cells; larger proximity questions
are coarse-level questions — run at a parent level instead) the sweep
beats per-line exact EDT (Felzenszwalb) because every pass is a fused
NumPy slice op instead of a Python-level scan per row/column; swap the
kernel for the O(n) two-phase parabola envelope if unbounded distances
are ever needed.
"""

from __future__ import annotations

import math
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame

from engine import tiling


def feature_distance(
    arr: np.ndarray, r: int, pred: Callable[[np.ndarray], np.ndarray]
) -> np.ndarray:
    """Exact Euclidean distance to the nearest pred-cell, capped at r.

    pred maps the (padded) array to a bool mask and must be NaN-safe
    (NaN cells — nodata and beyond-raster halo fill — must mask False).
    Feature cells themselves are distance 0; cells with no feature
    within r are NaN.
    """
    m = np.asarray(pred(arr), dtype=bool)
    H, W = arr.shape
    out = np.where(m, 0.0, np.inf)
    r2 = r * r
    for di in range(-r, r + 1):
        for dj in range(-r, r + 1):
            d2 = di * di + dj * dj
            if d2 == 0 or d2 > r2:
                continue
            d = math.sqrt(d2)
            ys0, ys1 = max(0, -di), min(H, H - di)
            xs0, xs1 = max(0, -dj), min(W, W - dj)
            if ys0 >= ys1 or xs0 >= xs1:
                continue
            sub = out[ys0:ys1, xs0:xs1]
            msub = m[ys0 + di : ys1 + di, xs0 + dj : xs1 + dj]
            # only where the shifted cell is a feature and d improves
            np.minimum(sub, np.where(msub, d, np.inf), out=sub)
    out[np.isinf(out)] = np.nan
    return out


def distance_transform(
    tiles: DataFrame,
    T: int,
    cap: int,
    pred: Callable[[np.ndarray], np.ndarray],
    level: int = 0,
    wrap_nx: int | None = None,
    out_band: str = "dist",
) -> DataFrame:
    """Proximity raster over a tiled band: ONE halo exchange (g=cap) +
    per-tile exact capped EDT. Output tiles carry ``out_band`` with the
    distance plane (NaN where no feature within cap)."""
    fn = lambda a, r, shape: feature_distance(a, r, pred)  # noqa: E731
    return tiling.apply_focal(
        tiles, cap, "circle", {out_band: fn}, T, level=level, wrap_nx=wrap_nx
    )

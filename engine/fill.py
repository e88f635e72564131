"""Hydrological conditioning: depression (pit) filling — the standard
pre-step before D8 flow on any real DEM (SURVEY.md §2.6 extension,
round 4; VERDICT-r3 missing №2). Unconditioned pits fragment basins
and truncate accumulation paths; every GIS stack pairs D8 with a fill.

Pinned semantics (normative, mirrored by the sq_terrain 'fill'
oracle): the filled plane is the classic Priority-Flood fixpoint

    F(c) = z(c)                      for SEED cells,
    F(c) = max(z(c), min_{n in N8(c)} F(n))   otherwise,

equivalently F(c) = the minimum over all 8-connected paths from c to a
seed of the maximum z along the path — water at c escapes over the
lowest saddle, and the pit fills exactly to that spill level. Seeds
(drains) are the valid cells on the raster edge and the valid cells
8-adjacent to nodata (nodata holes drain, as in GDAL/RichDEM fill).

BOUNDED distributed semantics (``fill_depressions``): exact
Priority-Flood is a global fixpoint — a spill path may cross the whole
raster — so the distributed operator pins the same capped contract as
the bounded EDT (engine/distance.py): each tile is solved on its
(T+2·cap)² halo window with the WINDOW border as additional seeds.
A depression whose spill route leaves the window is filled only to the
window-border level (under-filled, never over-filled: extra seeds can
only lower F). Depressions of radius <= cap are exact; a raster whose
window covers it entirely (fixture case) is exact everywhere. Larger
basins are coarse-level questions — fill at a pyramid level, or raise
``cap``.

Physical plan (the 100-TB shape): ``tiling.apply_focal`` — ONE halo
exchange with g=cap (the NumPy ``mapInArrow`` strip emitter every focal
op uses) + ONE ``applyInArrow`` group running the flood kernel per
tile. No iteration, no driver traffic — the same
single-shuffle plan as EDT/terrain, exact within the cap by
construction.

``eps > 0`` gives the Priority-Flood+ε variant (Barnes et al. 2014):
each filled cell is raised ε above the neighbor it drains to, so
filled lakes keep a drainage gradient and downstream D8 has no flats.
ε breaks the "F is an existing z value" property, so the SQL oracle
pins eps=0; the +ε path is golden-tested (tests/test_fill.py).
"""

from __future__ import annotations

import heapq

import numpy as np
from pyspark.sql import DataFrame

from engine import tiling

__all__ = ["fill_depressions", "priority_flood"]

_N8 = ((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1))


def priority_flood(arr: np.ndarray, eps: float = 0.0) -> np.ndarray:
    """Exact Priority-Flood fill of one window. Seeds = valid cells on
    the window edge or 8-adjacent to a non-finite cell, at their own z.
    Returns the filled plane (nodata stays NaN).

    The classic single-pass algorithm: pop cells in increasing fill
    order; the first arrival at a cell fixes F(n) = max(z(n), F(c))
    (or F(c)+eps when z(n) <= F(c) and eps > 0). Per-window cost
    O(n log n); windows are (T+2·cap)², bounded by construction.
    """
    a = np.asarray(arr, dtype=np.float64)
    H, W = a.shape
    valid = np.isfinite(a)
    out = np.where(valid, a, np.nan)

    padv = np.zeros((H + 2, W + 2), dtype=bool)
    padv[1:-1, 1:-1] = valid
    near_nodata = np.zeros((H, W), dtype=bool)
    for dj, di in _N8:
        near_nodata |= ~padv[1 + dj : 1 + dj + H, 1 + di : 1 + di + W]
    edge = np.zeros((H, W), dtype=bool)
    edge[0, :] = edge[-1, :] = True
    edge[:, 0] = edge[:, -1] = True
    seeds = valid & (edge | near_nodata)

    closed = ~valid
    closed |= seeds
    sj, si = np.nonzero(seeds)
    heap = list(zip(a[seeds].tolist(), sj.tolist(), si.tolist()))
    heapq.heapify(heap)
    while heap:
        f, j, i = heapq.heappop(heap)
        for dj, di in _N8:
            nj, ni = j + dj, i + di
            if 0 <= nj < H and 0 <= ni < W and not closed[nj, ni]:
                closed[nj, ni] = True
                z = a[nj, ni]
                nf = z if z > f else (f + eps if eps else f)
                out[nj, ni] = nf
                heapq.heappush(heap, (nf, nj, ni))
    return out


def fill_depressions(
    tiles: DataFrame,
    T: int,
    cap: int,
    level: int = 0,
    wrap_nx: int | None = None,
    out_band: str = "fill",
    eps: float = 0.0,
) -> DataFrame:
    """Depression filling over a tiled elevation band: ONE halo
    exchange (g=cap) + per-tile Priority-Flood on the halo window,
    window border seeded (bounded contract — module docstring).
    Output tiles carry ``out_band`` with the filled plane.

    ``cap <= T``: the halo exchange ships immediate-neighbor strips
    only. A larger fill horizon is a coarser question — retile with a
    bigger T or fill at a pyramid level."""
    if cap > T:
        raise ValueError(f"cap ({cap}) must be <= tile size T ({T})")
    fn = lambda a, r, shape: priority_flood(a, eps)  # noqa: E731
    return tiling.apply_focal(
        tiles, cap, "square", {out_band: fn}, T, level=level, wrap_nx=wrap_nx
    )

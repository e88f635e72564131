"""Cost distance (accumulated-cost raster) — the weighted companion of
the Euclidean distance transform (W18) and the last classic member of
the GIS distance family (ESRI CostDistance / GRASS r.cost), round 4.

Pinned semantics (normative, mirrored by the sq_reclass_algebra
'costd' oracle):

- input band = the per-cell traversal COST raster (positive; NaN =
  impassable barrier); SOURCE cells are ``pred(band)``;
- the accumulated cost of a path v0, v1, ..., vk (v0 a source) is the
  sum of per-step costs ``dist(u, v) · (cost(u) + cost(v)) / 2`` with
  dist = 1 (rook) / 1.4142135623730951 (diag, the engine's pinned
  literal) — the standard GIS cost-distance step;
- D(c) = the minimum accumulated cost over 8-connected paths from any
  source to c; D(source) = 0; cells unreachable within the window →
  NaN;
- BOUNDED contract (same capped-window discipline as the EDT and the
  fill): each tile solves its (T+2·cap)² halo window, and ONLY paths
  contained in the window are considered. Exact wherever the optimal
  path's excursion stays within cap cells of the tile; a path that
  detours farther is a coarser-level question (raise cap or run at a
  pyramid level). Window truncation can only RAISE D or turn it NaN —
  never under-reports cost.

Physical plan (the 100-TB shape): ONE halo exchange (g=cap) + ONE
``applyInArrow`` group running Dijkstra per window (``apply_focal`` for
the raster, ``tiling.halo_map`` for the paths). No iteration, no driver
traffic — identical to distance_transform/fill_depressions.
"""

from __future__ import annotations

import heapq
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from engine import tiling

__all__ = ["cost_distance", "cost_distance_kernel", "cost_path"]

_SQRT2 = 1.4142135623730951
_N8 = (
    (-1, -1, _SQRT2), (-1, 0, 1.0), (-1, 1, _SQRT2),
    (0, -1, 1.0), (0, 1, 1.0),
    (1, -1, _SQRT2), (1, 0, 1.0), (1, 1, _SQRT2),
)


def cost_distance_kernel(
    cost: np.ndarray, pred: Callable[[np.ndarray], np.ndarray]
) -> np.ndarray:
    """Exact Dijkstra over one window: accumulated cost from the
    nearest pred-cell under the pinned step formula. NaN cost =
    barrier; unreachable = NaN."""
    a = np.asarray(cost, dtype=np.float64)
    H, W = a.shape
    valid = np.isfinite(a)
    # strictly positive costs are the operator's contract: a zero-cost
    # plateau would make D non-strictly-decreasing along paths and the
    # cost_path backtrack could cycle forever — fail loudly instead
    if valid.any() and float(a[valid].min()) <= 0.0:
        raise ValueError(
            "cost raster must be strictly positive (NaN = barrier); "
            f"min finite cost = {a[valid].min()!r}"
        )
    src = np.asarray(pred(a), dtype=bool) & valid
    D = np.full((H, W), np.inf)
    D[src] = 0.0
    done = np.zeros((H, W), dtype=bool)
    sj, si = np.nonzero(src)
    heap = [(0.0, int(j), int(i)) for j, i in zip(sj, si)]
    heapq.heapify(heap)
    while heap:
        d, j, i = heapq.heappop(heap)
        if done[j, i]:
            continue
        done[j, i] = True
        cu = a[j, i]
        for dj, di, dist in _N8:
            nj, ni = j + dj, i + di
            if 0 <= nj < H and 0 <= ni < W and valid[nj, ni] and not done[nj, ni]:
                nd = d + dist * (cu + a[nj, ni]) / 2.0
                if nd < D[nj, ni]:
                    D[nj, ni] = nd
                    heapq.heappush(heap, (nd, nj, ni))
    D[~valid] = np.nan
    D[np.isinf(D)] = np.nan
    return D


def backtrack_path(
    cost: np.ndarray, D: np.ndarray, j: int, i: int
) -> list[tuple[int, int]] | None:
    """Least-cost path from cell (j, i) back to a source (D = 0) by
    steepest accumulated-cost descent. Pinned predecessor rule: the
    neighbor minimizing ``D(u) + dist·(cost(u)+cost(c))/2``, ties →
    the FIRST offset in the pinned _N8 order. Within one Dijkstra
    window the chosen candidate equals D(c) exactly, so D strictly
    decreases (cost > 0) and the walk terminates at the source.
    Returns [(j, i), ..., (j_src, i_src)], or None when (j, i) is
    unreachable (D NaN)."""
    H, W = D.shape
    if not np.isfinite(D[j, i]):
        return None
    path = [(j, i)]
    max_steps = D.size  # a simple path can't revisit cells
    while D[j, i] > 0.0:
        if len(path) > max_steps:
            raise RuntimeError(
                "cost_path: backtrack exceeded the cell count — "
                "non-decreasing D (corrupt surface?)"
            )
        best, bj, bi = np.inf, -1, -1
        cu = cost[j, i]
        for dj, di, dist in _N8:
            nj, ni = j + dj, i + di
            if 0 <= nj < H and 0 <= ni < W and np.isfinite(D[nj, ni]):
                cand = D[nj, ni] + dist * (cost[nj, ni] + cu) / 2.0
                if cand < best:
                    best, bj, bi = cand, nj, ni
        if bj < 0:
            raise RuntimeError("cost_path: no finite predecessor (corrupt D)")
        j, i = bj, bi
        path.append((j, i))
    return path


def cost_path(
    tiles: DataFrame,
    T: int,
    cap: int,
    source_pred: Callable[[np.ndarray], np.ndarray],
    dest_pred,
    wrap_nx: int | None = None,
) -> DataFrame:
    """Least-cost PATHS (ESRI CostPath): for every destination cell in
    a tile's core, the backtracked path to the nearest source under the
    bounded-window contract of cost_distance. ``dest_pred(gj, gi,
    values)`` selects destinations from the core's GLOBAL row/col index
    arrays + cell values (vectorized bool). Output: one row per
    reachable destination — (dest_i, dest_j, n_steps, total_cost,
    sum_i, sum_j) with sum_i/sum_j the path-cell coordinate sums (a
    geometry checksum the SQL oracle replays step by step).

    Plan: the SAME single halo exchange as cost_distance, in ONE
    ``tiling.halo_map`` group running Dijkstra-then-backtrack per
    window; paths never shuffle (each is resolved where its destination
    lives)."""
    if cap > T:
        raise ValueError(f"cap ({cap}) must be <= tile size T ({T})")

    def run(tx: int, ty: int, bands: dict, nr: int, nc: int) -> pd.DataFrame:
        cols = ["dest_i", "dest_j", "n_steps", "total_cost", "sum_i", "sum_j"]
        (_, cost), = bands.items()
        D = cost_distance_kernel(cost, source_pred)
        jj, ii = np.mgrid[0:nr, 0:nc]
        gj = ty * T + jj
        gi = tx * T + ii
        core = cost[cap : cap + nr, cap : cap + nc]
        want = np.asarray(dest_pred(gj, gi, core), dtype=bool)
        want &= np.isfinite(core)
        rows = []
        for lj, li in np.argwhere(want):
            wj, wi = lj + cap, li + cap  # window coords
            path = backtrack_path(cost, D, int(wj), int(wi))
            if path is None:
                continue
            pj = np.array([p[0] for p in path], dtype=np.int64)
            pi = np.array([p[1] for p in path], dtype=np.int64)
            # global coords: window origin is (ty*T - cap, tx*T - cap);
            # with wrap_nx, halo cells left of column 0 are wrapped
            # copies — reduce mod the global width so the checksum
            # reports true global columns
            gcols = pi + tx * T - cap
            if wrap_nx is not None:
                gcols %= wrap_nx * T
            rows.append({
                "dest_i": int(gi[lj, li]), "dest_j": int(gj[lj, li]),
                "n_steps": len(path) - 1,
                "total_cost": float(D[wj, wi]),
                "sum_i": int(gcols.sum()),
                "sum_j": int((pj + ty * T - cap).sum()),
            })
        return pd.DataFrame(rows, columns=cols)

    return tiling.halo_map(
        tiles, T, cap, wrap_nx, run,
        "dest_i long, dest_j long, n_steps long, total_cost double, "
        "sum_i long, sum_j long",
    )


def cost_distance(
    tiles: DataFrame,
    T: int,
    cap: int,
    pred: Callable[[np.ndarray], np.ndarray],
    level: int = 0,
    wrap_nx: int | None = None,
    out_band: str = "costd",
) -> DataFrame:
    """Accumulated-cost raster over a tiled cost band: ONE halo
    exchange (g=cap) + per-window Dijkstra (bounded contract — module
    docstring). ``cap <= T`` (immediate-neighbor halo)."""
    if cap > T:
        raise ValueError(f"cap ({cap}) must be <= tile size T ({T})")
    fn = lambda a, r, shape: cost_distance_kernel(a, pred)  # noqa: E731
    return tiling.apply_focal(
        tiles, cap, "square", {out_band: fn}, T, level=level, wrap_nx=wrap_nx
    )

"""Overview pyramids: 2x2 block aggregation of a tile raster to
coarser levels (S/A-family extension — the raster analogue of a
hypertable rollup, and what every tile server precomputes).

Scale design: one overview level costs exactly ONE shuffle.
Stage A (``tiling.map_tiles``, zero shuffle) block-reduces each T x T
tile to its (T/2) x (T/2) parent quadrant, still keyed by the child
tile; stage B (``applyInArrow`` after a groupBy on the parent key, the
child key shifted right by one bit in the JVM) assembles <=4 quadrants
into the parent tile. Data volume quarters per level, so a full pyramid costs ~4/3 of
one pass over the base raster regardless of depth. Parent tiles exist
iff any child tile exists; parents are sized to the ACTUAL covered
extent (ragged edge tiles — odd sizes included — reduce to ragged
parents; trailing absent quadrants trim, absent quadrants inside the
extent fill NaN) — present-tile sparsity is preserved all the way up
and no cells are invented beyond the raster's true extent.

Pinned semantics (SQL-replicable; the oracle reduces the same grid
with GROUP BY gi//2, gj//2):
- a parent cell aggregates its <=4 valid (non-NaN) children;
  no valid child -> NaN;
- aggs: mean (sum/count at extract), sum, min, max, and mode for
  class rasters (most frequent child class, tie -> smallest class —
  the W8 tie rule);
- multi-level pyramids repeat the reduction level by level, so mean
  at level L-2 is the mean-of-means, NOT the grand mean — pinned
  because it is the standard overview semantic and stays a one-pass
  recurrence at scale.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from engine import tiling

__all__ = ["block_reduce", "build_overview", "build_pyramid"]

def block_reduce(a: np.ndarray, agg: str) -> np.ndarray:
    """(H, W) -> (ceil(H/2), ceil(W/2)) NaN-aware 2x2 reduction. Odd
    dimensions (ragged edge tiles) are padded with one NaN row/col —
    the edge parent cell then aggregates its 1-2 real children (the
    same no-valid-child -> NaN rule as interior cells)."""
    H, W = a.shape
    if H % 2 or W % 2:
        pa = np.full((H + H % 2, W + W % 2), np.nan)
        pa[:H, :W] = a
        a = pa
    q = np.stack(
        [a[0::2, 0::2], a[0::2, 1::2], a[1::2, 0::2], a[1::2, 1::2]]
    )  # (4, H/2, W/2)
    finite = np.isfinite(q)
    n = finite.sum(axis=0)
    with np.errstate(invalid="ignore", divide="ignore"):
        if agg == "mean":
            s = np.where(finite, q, 0.0).sum(axis=0)
            out = np.where(n > 0, s / np.maximum(n, 1), np.nan)
        elif agg == "sum":
            s = np.where(finite, q, 0.0).sum(axis=0)
            out = np.where(n > 0, s, np.nan)
        elif agg == "min":
            out = np.where(n > 0, np.where(finite, q, np.inf).min(axis=0), np.nan)
        elif agg == "max":
            out = np.where(n > 0, np.where(finite, q, -np.inf).max(axis=0), np.nan)
        elif agg == "mode":
            counts = np.zeros_like(q, dtype=np.int64)
            for k in range(4):
                counts[k] = np.where(
                    finite[k], (finite & (q == q[k][None])).sum(axis=0), 0
                )
            maxc = counts.max(axis=0)
            cand = np.where((counts == maxc[None]) & finite, q, np.inf)
            out = np.where(maxc > 0, cand.min(axis=0), np.nan)
        else:
            raise ValueError(f"unknown overview agg {agg!r}")
    return out


def build_overview(
    tiles: DataFrame, T: int, level: int, agg: str = "mean"
) -> DataFrame:
    """One level up: tiles at ``level`` -> tiles at ``level - 1``
    (TILES_SCHEMA). T must be even."""
    if T % 2:
        raise ValueError("tile size must be even for 2x2 overviews")

    h = T // 2

    def reduce_quad(tx: int, ty: int, lv: int, band: str, plane: np.ndarray):
        return tiling.tile_table(tx, ty, level - 1, [band], [block_reduce(plane, agg)])

    def assemble(key, table):  # unannotated: Arrow UDFs take no eval type from hints
        ptx, pty, band = (k.as_py() for k in key)
        quads = [
            ((ty % 2) * h, (tx % 2) * h, q)
            for tx, ty, q in tiling.tile_planes(table, "tile_x", "tile_y")
        ]
        # parent sized to the ACTUAL covered extent (ragged edge tiles
        # produce ragged parents — no NaN cells invented beyond the
        # raster's true extent); quadrants absent within the extent
        # still fill NaN
        nr = max(y + q.shape[0] for y, _, q in quads)
        nc = max(x + q.shape[1] for _, x, q in quads)
        out = np.full((nr, nc), np.nan)
        for y, x, q in quads:
            out[y : y + q.shape[0], x : x + q.shape[1]] = q
        return tiling.tile_table(ptx, pty, level - 1, [band], [out])

    quads = tiling.map_tiles(tiles, reduce_quad, tiling.TILES_SCHEMA)
    parent = [F.shiftright(c, 1).alias(p) for c, p in (("tile_x", "ptx"), ("tile_y", "pty"))]
    return quads.groupBy(*parent, "band").applyInArrow(assemble, tiling.TILES_SCHEMA)


def build_pyramid(
    tiles: DataFrame, T: int, level: int, n_levels: int, agg: str = "mean"
) -> DataFrame:
    """Union of ``n_levels`` successive overviews (levels level-1 ..
    level-n_levels), each derived from the previous one."""
    out = None
    cur = tiles
    for k in range(n_levels):
        cur = build_overview(cur, T, level - k, agg)
        out = cur if out is None else out.union(cur)
    return out

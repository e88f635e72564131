"""Global spatial autocorrelation — Moran's I with rook-contiguity
weights over a tiled raster band.

The statistic (binary rook weights w_ij = 1 for edge-adjacent valid
cells, row-unstandardized):

    I = (n / W) * sum_i dev_i * sum_{j in rook(i)} dev_j
               / sum_i dev_i^2,          dev_i = x_i - mean(x)

Scale design — two passes, both map-side-partial shaped:
1. the global mean: ``zonal.moments``' per-tile partials (one
   ``tiling.map_tiles`` pass), one single-row agg, one scalar collect
   (constant driver traffic at any raster size);
2. ONE 1-pixel halo group (``tiling.halo_map``, the exchange and Arrow
   group runner of every focal op) that reduces each tile to six
   scalars (num, den, W, n, Geary and Getis partials) — the
   shuffle ships tile payloads once, the final agg sees one tiny row
   per tile. No cell-level shuffle anywhere.

Cross-tile neighbor pairs are correct by construction: the halo pad
carries the adjacent tiles' border pixels, and outside-raster /
missing-tile pad is NaN, which the valid-neighbor masks exclude —
border cells simply have fewer rook neighbors (deg < 4), matching the
oracle's LEFT-JOIN semantics.

Pinned semantics:
- neighbors = the 4 rook (edge) offsets; both endpoints must be valid
  (non-NaN) cells; W counts DIRECTED pairs (each undirected edge twice);
- cells with zero valid neighbors contribute to n and the denominator
  but nothing to num / W;
- mean over all valid cells of the band.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from engine import tiling, zonal

__all__ = ["band_moments", "moran_i"]


def band_moments(tiles: DataFrame, band: str) -> tuple[int, float, float]:
    """Global (n, sum, sum-of-squares) over the valid cells of one
    band — ``zonal.moments``' one map-side-partial pass, one single-row
    agg, one scalar collect; constant driver traffic at any raster
    size."""
    row = (
        zonal.moments(tiles, band)
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"), F.sum("s2").alias("s2"))
        .collect()[0]
    )
    if row.n is None or int(row.n) == 0:
        # agg over zero rows returns nulls — raise with the band name
        # instead of an opaque TypeError/ZeroDivisionError downstream
        raise ValueError(
            f"band_moments: no finite cells for band {band!r} "
            "(missing band or all-NaN raster)"
        )
    return int(row.n), float(row.s), float(row.s2)


def moran_i(
    tiles: DataFrame,
    T: int,
    band: str,
    wrap_nx: int | None = None,
) -> DataFrame:
    """One-row result: (n_cells, w_pairs, moran_i, geary_c, getis_g).

    All three global statistics share the two passes — Geary's C and
    the global Getis-Ord G cost two extra per-tile scalars, not an
    extra shuffle:

        C = ((n-1) / 2W) * sum_ij w_ij (x_i - x_j)^2 / sum_i dev_i^2
        G = sum_ij w_ij x_i x_j / sum_{i != j} x_i x_j
          (pairwise denominator = (sum x)^2 - sum x^2; the usual
           convention assumes x >= 0 — reported as-is otherwise)
    """
    sub = tiles.filter(F.col("band") == band)

    n_glob, s_glob, s2_glob = band_moments(tiles, band)
    xbar = s_glob / n_glob
    # sum over ALL ordered pairs i != j of x_i * x_j (Getis-Ord G
    # denominator): (sum x)^2 - sum x^2 — global scalars, no pair scan.
    g_den = s_glob**2 - s2_glob

    def run(tx: int, ty: int, bands: dict, nr: int, nc: int) -> dict:
        (_, z), = bands.items()
        c = z[1 : 1 + nr, 1 : 1 + nc]
        valid = np.isfinite(c)
        nbr_sum = np.zeros_like(c)
        deg = np.zeros_like(c)
        cnum = 0.0
        for dy, dx in ((-1, 0), (1, 0), (0, -1), (0, 1)):
            nb = z[1 + dy : 1 + dy + nr, 1 + dx : 1 + dx + nc]
            ok = np.isfinite(nb)
            nbr_sum += np.where(ok, nb, 0.0)
            deg += ok
            # Geary numerator: (x_i - x_j)^2 over directed valid pairs
            # (cross-tile reverse direction is counted by the owner of
            # the other endpoint, exactly like W)
            d = np.where(ok & valid, c - np.where(ok, nb, 0.0), 0.0)
            cnum += float(np.sum(d * d))
        dev = np.where(valid, c - xbar, 0.0)
        num = float(np.sum(dev * (nbr_sum - deg * xbar) * valid))
        den = float(np.sum(dev * dev))
        w = int(np.sum(deg[valid]))
        gnum = float(np.sum(np.where(valid, c, 0.0) * nbr_sum))
        return {
            "num": [num], "den": [den], "w": [w],
            "n": [int(valid.sum())], "cnum": [cnum], "gnum": [gnum],
        }

    part = tiling.halo_map(
        sub, T, 1, wrap_nx, run,
        "num double, den double, w long, n long, cnum double, gnum double",
    )
    n, w = F.sum("n"), F.sum("w")
    return part.agg(
        n.alias("n_cells"),
        w.alias("w_pairs"),
        F.round(
            (n.cast("double") / w) * F.sum("num") / F.sum("den"), 6
        ).alias("moran_i"),
        F.round(
            ((n.cast("double") - 1) / (2 * w)) * F.sum("cnum") / F.sum("den"),
            6,
        ).alias("geary_c"),
        F.round(F.sum("gnum") / F.lit(g_den), 6).alias("getis_g"),
    )

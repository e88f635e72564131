"""Terrain focal kernels: slope / aspect / hillshade (Horn 3x3).

Beyond-reference surface ops (SURVEY.md §2.6 extension): the classic
DEM derivatives every raster engine ships, expressed in the engine's
focal-kernel convention ``fn(arr, r, shape)`` so they run through the
same ONE-halo-exchange tile pipeline (tiling.apply_focal) as the W*
family — at 100 TB a slope map is a single shuffle of 1-deep halo
strips, identical to any other r=1 focal pass.

Pinned semantics (normative, mirrored bit-for-bit by the DuckDB oracle
in engine/spatial_queries.py):

- Horn's method on the 3x3 neighborhood of a y-down grid
  (row j increases SOUTH, col i increases EAST — the tile convention):

      gx = ((ne + 2e + se) - (nw + 2w + sw)) / (8*cellsize)   # d z / d east
      gy = ((sw + 2s + se) - (nw + 2n + ne)) / (8*cellsize)   # d z / d south

- validity: an output cell is valid iff ALL NINE window cells are
  valid (shrinking windows make no sense for derivatives);
- slope_deg  = degrees(atan(sqrt(gx^2 + gy^2)));
- aspect_deg = compass bearing of the downslope direction,
  (degrees(atan2(-gx, gy)) + 360) mod 360   [0=N, 90=E);
  FLAT CELLS (gx = gy = 0) -> NaN (aspect undefined);
- hillshade  = 255 * max(0, (C + C*(CAZ*gy - SAZ*gx)) / sqrt(1+gx^2+gy^2))
  for sun altitude 45 deg, azimuth 315 deg, via the algebraic identity
  cos(az - aspect) = (cos_az*gy - sin_az*gx)/|g| (no aspect trig, so
  flat cells are naturally well-defined: 255*C). The constants are
  PINNED LITERALS (not libm cos/sin chains) so both engines agree:
  C = cos45 = sin45 = 0.7071067811865476, CAZ = cos315 = C,
  SAZ = sin315 = -C.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "focal_aspect",
    "focal_curvature",
    "focal_hillshade",
    "focal_openness",
    "focal_roughness",
    "focal_slope",
    "focal_tpi",
    "focal_tri",
    "horn_gradients",
    "TERRAIN_KERNELS",
]

C45 = 0.7071067811865476  # pinned cos(45 deg) = sin(45 deg)
CAZ = 0.7071067811865476  # pinned cos(315 deg)
SAZ = -0.7071067811865476  # pinned sin(315 deg)


def horn_gradients(
    arr: np.ndarray, cellsize: float = 1.0
) -> tuple[np.ndarray, np.ndarray]:
    """(gx, gy) Horn gradients; NaN wherever any 3x3 cell is invalid.

    Output shape == input shape; the outermost ring is always NaN
    (its window leaves the array)."""
    a = np.asarray(arr, dtype=np.float64)
    H, W = a.shape
    gx = np.full((H, W), np.nan)
    gy = np.full((H, W), np.nan)
    if H < 3 or W < 3:
        return gx, gy
    nw, n, ne = a[:-2, :-2], a[:-2, 1:-1], a[:-2, 2:]
    w, e = a[1:-1, :-2], a[1:-1, 2:]
    sw, s, se = a[2:, :-2], a[2:, 1:-1], a[2:, 2:]
    c = a[1:-1, 1:-1]
    denom = 8.0 * cellsize
    gx_c = ((ne + 2.0 * e + se) - (nw + 2.0 * w + sw)) / denom
    gy_c = ((sw + 2.0 * s + se) - (nw + 2.0 * n + ne)) / denom
    # validity = ALL NINE cells finite. The gx sum never touches n/s/
    # center and the gy sum never touches w/e/center, so NaN there
    # would NOT fall out of the arithmetic — mask explicitly.
    valid = (
        np.isfinite(c)
        & np.isfinite(n) & np.isfinite(s)
        & np.isfinite(w) & np.isfinite(e)
        & np.isfinite(nw) & np.isfinite(ne)
        & np.isfinite(sw) & np.isfinite(se)
    )
    gx_c = np.where(valid, gx_c, np.nan)
    gy_c = np.where(valid, gy_c, np.nan)
    gx[1:-1, 1:-1] = gx_c
    gy[1:-1, 1:-1] = gy_c
    return gx, gy


def _require_r1(r: int) -> None:
    if r < 1:
        raise ValueError("terrain kernels need halo radius >= 1")


def focal_slope(
    arr: np.ndarray, r: int = 1, shape: str = "square", cellsize: float = 1.0
) -> np.ndarray:
    """Slope in degrees (Horn 3x3; r/shape accepted for the KERNELS
    calling convention — the stencil is always the 3x3)."""
    _require_r1(r)
    gx, gy = horn_gradients(arr, cellsize)
    return np.degrees(np.arctan(np.sqrt(gx * gx + gy * gy)))


def focal_aspect(
    arr: np.ndarray, r: int = 1, shape: str = "square", cellsize: float = 1.0
) -> np.ndarray:
    """Downslope compass bearing in [0, 360) degrees; flat -> NaN."""
    _require_r1(r)
    gx, gy = horn_gradients(arr, cellsize)
    with np.errstate(invalid="ignore"):
        bearing = np.mod(np.degrees(np.arctan2(-gx, gy)) + 360.0, 360.0)
        flat = (gx == 0.0) & (gy == 0.0)
    return np.where(flat, np.nan, bearing)


def focal_hillshade(
    arr: np.ndarray, r: int = 1, shape: str = "square", cellsize: float = 1.0
) -> np.ndarray:
    """Hillshade 0..255 (sun alt 45, az 315), algebraic form — see
    module docstring for the exact pinned formula."""
    _require_r1(r)
    gx, gy = horn_gradients(arr, cellsize)
    with np.errstate(invalid="ignore"):
        raw = (C45 + C45 * (CAZ * gy - SAZ * gx)) / np.sqrt(1.0 + gx * gx + gy * gy)
        out = 255.0 * np.maximum(0.0, raw)
    return out


def _ring3(arr: np.ndarray):
    """(center, 8 neighbors, all-nine-valid mask) over the 3x3 stencil,
    NaN-padded to input shape at the boundary ring."""
    a = np.asarray(arr, dtype=np.float64)
    H, W = a.shape
    if H < 3 or W < 3:
        nanp = np.full((H, W), np.nan)
        return nanp, [], np.zeros((H, W), dtype=bool)
    c = a[1:-1, 1:-1]
    nbrs = [
        a[:-2, :-2], a[:-2, 1:-1], a[:-2, 2:],
        a[1:-1, :-2], a[1:-1, 2:],
        a[2:, :-2], a[2:, 1:-1], a[2:, 2:],
    ]
    valid = np.isfinite(c)
    for nb in nbrs:
        valid = valid & np.isfinite(nb)
    return c, nbrs, valid


def _pad_core(core: np.ndarray, shape: tuple[int, int]) -> np.ndarray:
    out = np.full(shape, np.nan)
    out[1:-1, 1:-1] = core
    return out


def focal_tpi(
    arr: np.ndarray, r: int = 1, shape: str = "square", cellsize: float = 1.0
) -> np.ndarray:
    """Topographic Position Index: center − mean(8 neighbors); valid
    iff all nine window cells are valid (same rule as Horn)."""
    _require_r1(r)
    c, nbrs, valid = _ring3(arr)
    if not len(nbrs):
        return np.full(np.asarray(arr).shape, np.nan)
    mean8 = sum(nbrs) / 8.0
    return _pad_core(np.where(valid, c - mean8, np.nan), np.asarray(arr).shape)


def focal_tri(
    arr: np.ndarray, r: int = 1, shape: str = "square", cellsize: float = 1.0
) -> np.ndarray:
    """Terrain Ruggedness Index (Riley 1999): sqrt of the sum of squared
    center-vs-neighbor differences over the 8 neighbors."""
    _require_r1(r)
    c, nbrs, valid = _ring3(arr)
    if not len(nbrs):
        return np.full(np.asarray(arr).shape, np.nan)
    ss = sum((nb - c) ** 2 for nb in nbrs)
    return _pad_core(np.where(valid, np.sqrt(ss), np.nan), np.asarray(arr).shape)


def focal_roughness(
    arr: np.ndarray, r: int = 1, shape: str = "square", cellsize: float = 1.0
) -> np.ndarray:
    """Roughness: max − min over the full 3x3 window."""
    _require_r1(r)
    c, nbrs, valid = _ring3(arr)
    if not len(nbrs):
        return np.full(np.asarray(arr).shape, np.nan)
    mx = np.maximum.reduce([c] + nbrs)
    mn = np.minimum.reduce([c] + nbrs)
    return _pad_core(np.where(valid, mx - mn, np.nan), np.asarray(arr).shape)


def focal_curvature(
    arr: np.ndarray, r: int = 1, shape: str = "square", cellsize: float = 1.0
) -> np.ndarray:
    """General curvature (Zevenbergen & Thorne 1987, ESRI sign/scale):
    −2(D + E)·100 with D = ((w + e)/2 − z)/L², E = ((n + s)/2 − z)/L²
    on the y-down grid; valid iff all nine window cells are valid.
    PINNED formula — the oracle mirrors it literally."""
    _require_r1(r)
    a = np.asarray(arr, dtype=np.float64)
    c, nbrs, valid = _ring3(a)
    if not len(nbrs):
        return np.full(a.shape, np.nan)
    _, n, _, w, e, _, s, _ = nbrs
    L2 = cellsize * cellsize
    D = ((w + e) / 2.0 - c) / L2
    E = ((n + s) / 2.0 - c) / L2
    return _pad_core(
        np.where(valid, -2.0 * (D + E) * 100.0, np.nan), a.shape
    )


# registry fragment for tiling.apply_focal(stats={...}) band dicts
TERRAIN_KERNELS = {
    "slope": focal_slope,
    "aspect": focal_aspect,
    "hillshade": focal_hillshade,
    "tpi": focal_tpi,
    "tri": focal_tri,
    "roughness": focal_roughness,
    "curvature": focal_curvature,
}


def focal_openness(arr: np.ndarray, r: int, shape: str = "square") -> np.ndarray:
    """Positive topographic openness (Yokoyama et al. 2002), bounded to
    ray length L = r cells (must fit the halo, like every bounded focal
    op here). Pinned semantics, mirrored by the sq_openness oracle:

    - 8 compass rays; along ray d the max elevation ratio is
      max_{k=1..r} (z[c + k*d] - z[c]) / (k * dist_d) over VALID
      samples only (dist_d = sqrt(2) for diagonals, 1 otherwise);
    - the ray's zenith angle 90 - degrees(atan(max_ratio)) is
      quantized to integer micro-degrees PER RAY, and the cell value
      is the exact integer sum over rays that had >= 1 valid sample,
      divided by 1e6 — so cross-engine float-sum order can't move the
      checksum (only a per-ray atan ulp landing exactly on a half
      micro-degree could, the same exposure class as the slope band);
    - rays with no valid sample contribute nothing; a valid center
      with zero sampled rays is 0.0; invalid centers are NaN.

    Runs through tiling.apply_focal with halo g = r: shifted-plane
    np.roll reads stay inside the pad for every k <= r, so the plan is
    the ordinary ONE-exchange focal pass at any raster size."""
    a = np.asarray(arr, dtype=np.float64)
    sqrt2 = np.sqrt(2.0)
    qsum = np.zeros_like(a)
    for dj, di in (
        (-1, -1), (-1, 0), (-1, 1), (0, -1),
        (0, 1), (1, -1), (1, 0), (1, 1),
    ):
        dist1 = sqrt2 if (dj != 0 and di != 0) else 1.0
        best = np.full_like(a, -np.inf)
        for k in range(1, r + 1):
            nb = np.roll(a, (-k * dj, -k * di), axis=(0, 1))
            with np.errstate(invalid="ignore"):
                ratio = (nb - a) / (k * dist1)
            best = np.fmax(best, ratio)  # fmax skips NaN samples
        has = np.isfinite(best)
        with np.errstate(invalid="ignore"):
            ang = 90.0 - np.degrees(np.arctan(best))
        qsum += np.where(has, np.round(ang * 1e6), 0.0)
    return np.where(np.isfinite(a), qsum / 1e6, np.nan)

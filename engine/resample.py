"""Resampling of a tiled raster: bilinear 2x upsampling, the bilinear
point drill and the warp — the directions the overview pyramid
(engine/pyramid.py, downsample) doesn't cover; the engine analogue of
a gdalwarp resample.

Upsample scale design: ONE 1-pixel halo group (``tiling.halo_map``,
the same exchange and Arrow group runner as every focal op) per parent
tile, which emits its <=4 child tiles. No other shuffle: output volume
is 4x input, produced map-side after the halo groupBy. Fusing
interpolation into the halo-assembly stage is the plan that survives
scale-up — the alternative (explode per-pixel, join 4 corners) would
shuffle 4 rows per OUTPUT pixel.

Warp scale design: ONE warp path. ``warp_transform`` plans each output
tile's source bbox on the driver from metadata only (a grid of pixel
centers, interior included), ships each source tile to the output
tiles whose bbox covers it, and gathers once per output tile in an
``applyInArrow`` group that raises if a pixel reads outside its plan;
``warp_affine`` is a minification guard (overview pre-reduction) in
front of it. No stage of this module is a pandas UDF.

Pinned upsample semantics (SQL-replicable; oracle = 4-corner
arithmetic join):
- child pixel (ci, cj) at level L+1 interpolates parent coordinate
  p = (c + 0.5)/2 - 0.5 per axis: corners floor(p), floor(p)+1 with
  weights (1-frac, frac);
- NaN-aware renormalization: out = sum(w*v over valid corners) /
  sum(w over valid corners); no valid corner -> NaN. This gives
  border pixels (outside-raster corners) and interior-nodata the same
  rule — no special edge clamp;
- a corner weight of exactly 0 with a NaN corner still yields NaN
  denominator contribution 0 — i.e. 0-weight corners never poison a
  pixel (frac = 0.25/0.75 everywhere on the 2x grid, so every pixel
  has 4 nonzero corners except through this rule);
- child tile (2*tx + qx, 2*ty + qy) exists iff its slice of the 2x
  parent array is non-empty (ragged edge parents emit ragged/absent
  children).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from engine import tiling

__all__ = [
    "bilinear_2x",
    "inverse_mercator_to_platecarree",
    "sample_bilinear",
    "upsample_bilinear",
    "warp_affine",
    "warp_transform",
]


def _bilinear_corners(fx, fy):
    """THE pinned bilinear corner rule, in one place: corner order
    (0,0),(0,1),(1,0),(1,1) with per-axis weights (1-f, f). Every
    bilinear implementation in this module (_sample_from_rows for both
    warps, bilinear_2x, sample_bilinear) iterates this generator — the
    DuckDB oracles mirror the same rule bit-for-bit, so a weight/order
    change must happen here and nowhere else. The anchor convention
    (floor(p - 0.5), NaN-renormalize, den==0 -> NaN) is shared by the
    three call sites per their docstrings."""
    for dy in (0, 1):
        wy = (1.0 - fy) if dy == 0 else fy
        for dx in (0, 1):
            wx = (1.0 - fx) if dx == 0 else fx
            yield dy, dx, wy, wx


def _anchor(p: np.ndarray, method: str) -> np.ndarray:
    """The first source cell the sampler reads along one axis: the
    containing cell floor(p) for nearest, the low corner floor(p − .5)
    for bilinear (whose second corner is the next cell)."""
    return np.floor(p if method == "nearest" else p - 0.5).astype(np.int64)


def _sample_from_rows(
    table: pa.Table, p_i: np.ndarray, p_j: np.ndarray, method: str, T: int
) -> np.ndarray:
    """Sample source-pixel coordinates (p_i, p_j) from the source tiles
    one output tile's warp gather received (an Arrow table with
    ``tile_x``, ``tile_y``, ``nrows``, ``ncols`` and ``data`` columns,
    read through ``tiling.tile_planes``, null cells as NaN).
    NaN coordinates (out of the transform's domain) and coordinates no
    gathered tile covers yield NaN.

    nearest: value of the containing cell floor(p). bilinear: 4 corners
    at floor(p−.5)(+1), fractional weights, NaN-renormalizing
    valid-corner rule (the engine's pinned corner convention). Each
    corner is looked up over all the tiles before it is accumulated, so
    a point's sums run in corner order whichever tile serves it."""
    ok = np.isfinite(p_i) & np.isfinite(p_j)
    pi = np.where(ok, p_i, -(2.0**40))  # sentinel far outside any tile
    pj = np.where(ok, p_j, -(2.0**40))
    src = [
        (tx * T, ty * T, plane)
        for tx, ty, plane in tiling.tile_planes(table, "tile_x", "tile_y")
    ]

    def lookup(ci: np.ndarray, cj: np.ndarray) -> np.ndarray:
        v = np.full(len(ci), np.nan)
        for x0, y0, plane in src:
            li, lj = ci - x0, cj - y0
            sel = (li >= 0) & (li < plane.shape[1]) & (lj >= 0) & (lj < plane.shape[0])
            if sel.any():
                v[sel] = plane[lj[sel], li[sel]]
        return v

    i0, j0 = _anchor(pi, method), _anchor(pj, method)
    if method == "nearest":
        return lookup(i0, j0)
    fx = (pi - 0.5) - i0
    fy = (pj - 0.5) - j0
    num = np.zeros(len(pi))
    den = np.zeros(len(pi))
    for dy, dx, wy, wx in _bilinear_corners(fx, fy):
        v = lookup(i0 + dx, j0 + dy)
        okc = ~np.isnan(v)
        w = wy * wx
        num += np.where(okc, w * v, 0.0)
        den += np.where(okc, w, 0.0)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = num / den
    out[den == 0.0] = np.nan
    return out


def bilinear_2x(padded: np.ndarray, nr: int, nc: int, g: int = 1) -> np.ndarray:
    """(nr+2g, nc+2g) halo-padded parent -> (2nr, 2nc) bilinear child
    (NaN-aware renormalizing). Vectorized: one gather per corner."""
    # parent-local coords of child samples along one axis
    def axis(n: int) -> tuple[np.ndarray, np.ndarray]:
        p = (np.arange(2 * n) + 0.5) / 2.0 - 0.5
        i0 = np.floor(p).astype(np.int64)
        return i0, p - i0

    iy0, fy = axis(nr)
    ix0, fx = axis(nc)
    num = np.zeros((2 * nr, 2 * nc))
    den = np.zeros((2 * nr, 2 * nc))
    for dy, dx, wy, wx in _bilinear_corners(fx, fy):
        v = padded[np.ix_(iy0 + dy + g, ix0 + dx + g)]
        w = wy[:, None] * wx[None, :]
        ok = ~np.isnan(v)
        num += np.where(ok, w * v, 0.0)
        den += np.where(ok, w, 0.0)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = num / den
    out[den == 0.0] = np.nan
    return out


def upsample_bilinear(
    tiles: DataFrame, T: int, level: int, band: str | None = None
) -> DataFrame:
    """Tiled raster at ``level`` -> bilinear 2x raster at ``level+1``
    (same tile size T; 4x the tiles). Single-band input expected
    (filter by ``band`` if given)."""
    if band is not None:
        tiles = tiles.filter(tiles.band == band)
    g = 1

    def run(tx: int, ty: int, bands: dict, nr: int, nc: int) -> pa.Table:
        (band_name, padded), = bands.items()
        child = bilinear_2x(padded, nr, nc, g)
        quads = [
            (2 * tx + qx, 2 * ty + qy, child[qy * T : (qy + 1) * T, qx * T : (qx + 1) * T])
            for qy in (0, 1) for qx in (0, 1)
        ]
        quads = [q for q in quads if q[2].size]
        cx, cy, planes = zip(*quads)
        return tiling.tile_table(cx, cy, level + 1, [band_name] * len(planes), list(planes))

    return tiling.halo_map(tiles, T, g, None, run, tiling.TILES_SCHEMA)


def sample_bilinear(
    points: DataFrame,
    tiles: DataFrame,
    T: int,
    band: str,
    point_cols: tuple[str, ...] = ("pt_id",),
) -> DataFrame:
    """Bilinear point drill — the interpolated sibling of
    engine/algebra.sample_raster (L3 reads the containing pixel; this
    blends the 4 surrounding pixel CENTERS with the same NaN-aware
    renormalizing corner rule as bilinear_2x, so the two resampling ops
    share one pinned semantics).

    ``points`` carries ``point_cols`` + continuous global pixel coords
    (gx, gy) in [0, nx)×[0, ny); pixel (i, j) center is (i+0.5, j+0.5).
    Sample at (gx, gy): p = g − 0.5 per axis, corners floor(p),
    floor(p)+1, weights (1−frac, frac); out = Σ w·v / Σ w over valid
    (non-NaN, in-raster) corners; NO valid corner → no output row.

    Scale design: ONE 1-pixel halo exchange ships each tile payload
    once with its neighbor rim, then ONE cogrouped applyInArrow
    joins the points of a tile against its padded array (painted by
    ``tiling.paint_halo``, as in ``halo_map``) — corners that
    cross a tile boundary read the halo, never a second tile row, and
    the payload is never copied per point (the same
    join-would-duplicate-512KB argument as L3). Points shuffle once on
    their tile key.
    """
    t = tiles.filter(F.col("band") == band)
    exchanged = tiling.halo_exchange(t, T, 1)
    cols = list(point_cols)
    # anchor tile = the tile of the clamped floor corner: every corner
    # of the sample then lies inside that tile's 1-pixel padded array
    i0 = F.floor(F.col("gx") - 0.5).cast("long")
    j0 = F.floor(F.col("gy") - 0.5).cast("long")
    p = points.select(
        *cols,
        "gx",
        "gy",
        (F.greatest(i0, F.lit(0)) / T).cast("int").alias("s_tx"),
        (F.greatest(j0, F.lit(0)) / T).cast("int").alias("s_ty"),
    )
    dtypes = dict(p.dtypes)
    out_schema = ", ".join([*(f"{c} {dtypes[c]}" for c in cols), "value double"])
    out_arrow = tiling.arrow_schema(out_schema)

    def run(key, pts, halo):  # unannotated: Arrow UDFs take no eval type from hints
        if pts.num_rows == 0 or halo.num_rows == 0:
            return out_arrow.empty_table()
        # an ABSENT anchor tile (sparse raster) still received its
        # present neighbors' strips: its full canvas keeps them, so
        # points whose corners reach into a present neighbor get the
        # documented valid-corner renormalization instead of silently
        # dropping; the absent center stays NaN
        (padded,) = tiling.paint_halo(halo, T, 1)[0].values()
        tx, ty = key[0].as_py(), key[1].as_py()
        px = pts.column("gx").to_numpy().astype(np.float64) - 0.5 - tx * T
        py = pts.column("gy").to_numpy().astype(np.float64) - 0.5 - ty * T
        ix0 = np.floor(px).astype(np.int64)
        iy0 = np.floor(py).astype(np.int64)
        fx, fy = px - ix0, py - iy0
        num = np.zeros(pts.num_rows)
        den = np.zeros(pts.num_rows)
        for dy, dx, wy, wx in _bilinear_corners(fx, fy):
            yy = np.clip(iy0 + dy + 1, 0, padded.shape[0] - 1)
            xx = np.clip(ix0 + dx + 1, 0, padded.shape[1] - 1)
            # clip only guards indexing; out-of-pad corners are NaN
            # pad anyway, and anchor choice keeps true corners in-pad
            v = padded[yy, xx]
            ok = ~np.isnan(v)
            w = wy * wx
            num += np.where(ok, w * v, 0.0)
            den += np.where(ok, w, 0.0)
        keep = den > 0.0
        return pa.Table.from_arrays(
            [*(pts.column(c).filter(keep) for c in cols), pa.array(num[keep] / den[keep])],
            schema=out_arrow,
        )

    return (
        p.groupBy("s_tx", "s_ty")
        .cogroup(exchanged.groupBy("dst_tx", "dst_ty"))
        .applyInArrow(run, out_schema)
    )


# warp_affine's per-output-tile gather backstop (source tiles)
_WARP_GATHER_CAP = 256

# samples per output-tile axis in warp_transform's planner
_EDGE_SAMPLES = 9


def warp_affine(
    tiles: DataFrame,
    T: int,
    coeffs: tuple[float, float, float, float, float, float],
    out_shape: tuple[int, int],
    band: str = "z",
    out_band: str = "warp",
    level: int = 0,
    method: str = "nearest",
    max_fanout: float = 4.0,
    stats: dict | None = None,
) -> DataFrame:
    """Affine warp / reproject (R2, round 3): output cell (oi, oj)
    samples the source at the continuous coordinate
    ``p_i = a·(oi+.5) + b·(oj+.5) + c``, ``p_j = d·(oi+.5) + e·(oj+.5)
    + f`` (pixel-center convention, coeffs = (a, b, c, d, e, f);
    i = x/col, j = y/row).

    method='nearest': the containing cell ``floor(p)``; out-of-raster
    or nodata → NaN. method='bilinear': 4 corners at
    ``floor(p−.5) (+1)`` with fractional weights and the engine's
    NaN-renormalizing valid-corner rule (same corner convention as
    bilinear_2x / sample_bilinear); no valid corner → NaN. The general
    gdalwarp shape: scale, rotate, translate, flip are all affine.

    Scale design: the minification guard below, then ONE call to
    ``warp_transform`` with the affine as its inverse map, which plans
    and gathers. Its planner needs no extra ``margin`` here: an
    affine's extrema over an output tile lie at the tile's corner pixel
    centers, which are among the planner's samples.

    Minification guard (round 4, pinned semantics; r5 fix): a strongly
    minifying affine would gather O(extent-ratio) source tiles into one
    output group — an executor-memory cliff at, say, 32x downscale.
    TWO guarded quantities (|det| alone misses anisotropic scales and
    pure shears entirely — (256, 0, …, 1/64, …) has |det| = 4 but
    spans ~257 source tile columns):
    the per-axis extent product ``fan = (|a|+|b|) · (|d|+|e|)``
    (source pixels per output pixel, == |det| for axis-aligned
    scales), reduced past ``max_fanout``; AND each single-axis extent
    (``|a|+|b|``, ``|d|+|e|``), reduced past 16 tiles so a skinny
    bbox can't gather a whole tile row. Pre-reduction goes through
    the overview pyramid (engine/pyramid.block_reduce semantics, the
    standard warp-with-overviews behavior) — MEAN for bilinear, MODE
    for nearest (averaging class codes would fabricate new classes
    under the categorical-preserving sampler) — and the warp samples
    that level with the coeffs rescaled by 2^levels. It also
    pre-reduces while ``(fx' + 2)·(fy' + 2)`` (the per-axis extents at
    that level, plus the alignment/bilinear-margin tiles) exceeds the
    256-tile gather backstop (warp_transform's ``max_gather_tiles``,
    which counts the planned bbox tiles), so no legal ``max_fanout``
    plans a gather past it; the backstop raises on whatever the planner
    did not foresee. ``stats`` records {'det', 'fanout_xy',
    'overview_levels', 'residual_det'} for plan tests.
    """
    if method not in ("nearest", "bilinear"):
        raise ValueError(f"unknown warp method: {method}")
    a, b, c, d, e, f = (float(x) for x in coeffs)

    det = abs(a * e - b * d)
    fx, fy = abs(a) + abs(b), abs(d) + abs(e)
    n_over = 0
    if max_fanout and np.isfinite(max_fanout):
        # last clause: a legal max_fanout (>= ~200) alone would plan
        # gathers past the backstop (16x isotropic: 17·17 = 289 tiles)
        while (
            (fx * fy) / (4.0 ** n_over) > max_fanout
            or max(fx, fy) / (2.0 ** n_over) > 16.0
            or (fx / 2.0 ** n_over + 2) * (fy / 2.0 ** n_over + 2)
            > _WARP_GATHER_CAP
        ):
            n_over += 1
    if stats is not None:
        stats["det"] = det
        stats["fanout_xy"] = (fx, fy)
        stats["overview_levels"] = n_over
        stats["residual_det"] = det / (4.0 ** n_over)
    if n_over:
        from engine import pyramid

        # band-filter FIRST: the overview reduction is Python-side
        # work per tile and must not run over the other bands
        tiles = tiles.filter(F.col("band") == band)
        agg = "mode" if method == "nearest" else "mean"
        for k in range(n_over):
            tiles = pyramid.build_overview(tiles, T, level - k, agg)
        s = float(2 ** n_over)
        a, b, c, d, e, f = a / s, b / s, c / s, d / s, e / s, f / s

    def inverse(gx: np.ndarray, gy: np.ndarray):
        return a * gx + b * gy + c, d * gx + e * gy + f

    return warp_transform(
        tiles, T, inverse, out_shape, band=band, out_band=out_band,
        level=level, method=method, margin=0.0,
        max_gather_tiles=_WARP_GATHER_CAP,
    )


def inverse_mercator_to_platecarree(
    src_shape: tuple[int, int], out_shape: tuple[int, int], max_lat: float = 85.05112877980659
):
    """Inverse map for reprojecting an equirectangular (plate-carrée)
    source raster onto a Web-Mercator output grid — the classic
    tile-server warp. Output pixel (gx, gy) on an out_shape Mercator
    grid spanning lon [-180, 180] x gudermannian lat [-max_lat,
    max_lat]; returns the source pixel coordinates on an src_shape
    equirectangular grid spanning the same lon and lat [-90, 90].
    lat = 2*atan(exp(y)) - pi/2 (the inverse Mercator), vectorized."""
    sh, sw = src_shape
    oh, ow = out_shape
    y_max = np.log(np.tan(np.pi / 4.0 + np.radians(max_lat) / 2.0))

    def inv(gx: np.ndarray, gy: np.ndarray):
        lon = gx / ow * 360.0 - 180.0
        y = y_max - gy / oh * (2.0 * y_max)
        lat = np.degrees(2.0 * np.arctan(np.exp(y)) - np.pi / 2.0)
        p_i = (lon + 180.0) / 360.0 * sw
        p_j = (90.0 - lat) / 180.0 * sh
        return p_i, p_j

    return inv


def warp_transform(
    tiles: DataFrame,
    T: int,
    inverse,
    out_shape: tuple[int, int],
    band: str = "z",
    out_band: str = "warp",
    level: int = 0,
    method: str = "nearest",
    margin: float = 2.0,
    max_gather_tiles: int = 64,
    stats: dict | None = None,
) -> DataFrame:
    """General warp / reprojection, and the one warp path (warp_affine
    calls it with the affine as ``inverse``): output cell (oi, oj)
    samples the source at ``(p_i, p_j) = inverse(oi+.5, oj+.5)`` —
    ``inverse`` is any vectorized NumPy callable mapping output pixel
    coordinates to source pixel coordinates (plate-carrée → Mercator,
    sinusoidal, lens distortion, ...). NaN/inf from ``inverse`` =
    outside the transform's domain → NaN output. Sampling (nearest /
    bilinear NaN-renormalizing corners) is ``_sample_from_rows``.

    Scale design: a METADATA-ONLY plan on the driver (ny·nx rows,
    never pixels) pushes an ``_EDGE_SAMPLES``² grid of pixel centers
    per output tile, interior included, through ``inverse`` and takes
    the in-domain samples' bbox ± ``margin`` source pixels (+1 for the
    bilinear corners). Contract (standard gdalwarp sampling
    assumption): the transform is smooth enough that its coordinate
    extrema over a tile lie within ``margin`` px of the samples — true
    for every map projection at practical tile sizes, and exact with
    ``margin=0`` for an affine; the gather raises, naming the output
    tile, when an in-domain pixel reads a source tile outside its
    planned range. The bbox explodes JVM-side to covered source-tile
    ids, a broadcast join ships each source tile only where needed, and
    ONE ``groupBy(otx, oty).applyInArrow`` per output tile gathers,
    reading the payloads zero-copy. Per-pixel rows never shuffle; an
    output tile whose bbox covers no present source tile, or none of
    whose samples is in the domain, is absent (sparse-raster
    convention).

    Guard: a tile whose bbox covers more than ``max_gather_tiles``
    source tiles raises on the driver, naming the worst tile
    (executor-memory cliff — strongly minifying transforms should
    pre-reduce through the overview pyramid, as warp_affine does
    automatically, or warp at a parent level). ``stats`` records
    {'max_fanout_tiles': n} for plan tests."""
    if method not in ("nearest", "bilinear"):
        raise ValueError(f"unknown warp method: {method}")
    H, W = out_shape
    nx_out = (W + T - 1) // T
    ny_out = (H + T - 1) // T
    marg = float(margin) + (0.0 if method == "nearest" else 1.0)
    S = _EDGE_SAMPLES

    # the plan is metadata only (ny·nx rows): S×S pixel-center samples
    # per output tile, interior included, through ``inverse`` on the
    # driver
    oty, otx = np.divmod(np.arange(nx_out * ny_out), nx_out)
    x0, y0 = otx * T + 0.5, oty * T + 0.5
    xs = np.linspace(x0, x0 + np.minimum(W - otx * T, T) - 1, S, axis=1)
    ys = np.linspace(y0, y0 + np.minimum(H - oty * T, T) - 1, S, axis=1)
    gx, gy = np.broadcast_arrays(xs[:, None, :], ys[:, :, None])
    p_i, p_j = (
        np.asarray(p, dtype=np.float64).reshape(len(otx), S * S)
        for p in inverse(gx.ravel(), gy.ravel())
    )
    ok = np.isfinite(p_i) & np.isfinite(p_j)
    keep = ok.any(axis=1)  # a tile wholly outside the domain is absent
    otx, oty, p_i, p_j, ok = otx[keep], oty[keep], p_i[keep], p_j[keep], ok[keep]

    def tile_range(p: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        lo = np.where(ok, p, np.inf).min(axis=1)
        hi = np.where(ok, p, -np.inf).max(axis=1)
        return (
            np.floor((lo - marg) / T).astype(np.int64),
            np.floor((hi + marg) / T).astype(np.int64),
        )

    (sti0, sti1), (stj0, stj1) = tile_range(p_i), tile_range(p_j)
    fan = (sti1 - sti0 + 1) * (stj1 - stj0 + 1)
    if stats is not None:
        stats["max_fanout_tiles"] = int(fan.max(initial=0))
    if fan.size and fan.max() > max_gather_tiles:
        k = int(fan.argmax())
        raise ValueError(
            f"warp_transform: output tile ({otx[k]},{oty[k]}) gathers {fan[k]} "
            f"source tiles (> max_gather_tiles={max_gather_tiles}) — "
            "pre-reduce via the overview pyramid or warp at a parent level"
        )
    ranges = ["sti0", "sti1", "stj0", "stj1"]
    planned = tiles.sparkSession.createDataFrame(
        np.stack([otx, oty, sti0, sti1, stj0, stj1], axis=1).tolist(),
        "otx int, oty int, " + ", ".join(f"{c} int" for c in ranges),
    )
    plan = planned.select(
        "*", F.explode(F.sequence("sti0", "sti1")).alias("tile_x")
    ).select("*", F.explode(F.sequence("stj0", "stj1")).alias("tile_y"))
    joined = plan.join(
        tiles.filter(F.col("band") == band).select(
            "tile_x", "tile_y", "nrows", "ncols", "data"
        ),
        ["tile_x", "tile_y"],
    )
    span = 0 if method == "nearest" else 1

    def gather(key, table):  # unannotated: Arrow UDFs take no eval type from hints
        otx, oty = key[0].as_py(), key[1].as_py()
        i_lo, i_hi, j_lo, j_hi = (table.column(c)[0].as_py() for c in ranges)
        onr = min(H - oty * T, T)
        onc = min(W - otx * T, T)
        oj, oi = np.divmod(np.arange(onr * onc), onc)
        p_i, p_j = (
            np.asarray(p, dtype=np.float64)
            for p in inverse(otx * T + oi + 0.5, oty * T + oj + 0.5)
        )
        # the smoothness contract, checked: every source tile an
        # in-domain pixel reads must have been planned for this tile
        ok = np.isfinite(p_i) & np.isfinite(p_j)
        i0, j0 = _anchor(p_i[ok], method), _anchor(p_j[ok], method)
        for di in range(span + 1):
            for dj in range(span + 1):
                ti, tj = (i0 + di) // T, (j0 + dj) // T
                bad = np.flatnonzero((ti < i_lo) | (ti > i_hi) | (tj < j_lo) | (tj > j_hi))
                if bad.size:
                    raise ValueError(
                        f"warp_transform: output tile ({otx},{oty}) reads source "
                        f"tile ({ti[bad[0]]},{tj[bad[0]]}) outside its planned tiles "
                        f"x {i_lo}..{i_hi}, y {j_lo}..{j_hi} — the inverse varies "
                        "faster than the planner's samples; raise margin"
                    )
        out = _sample_from_rows(table, p_i, p_j, method, T)
        return tiling.tile_table(otx, oty, level, [out_band], [out.reshape(onr, onc)])

    return joined.groupBy("otx", "oty").applyInArrow(gather, tiling.TILES_SCHEMA)

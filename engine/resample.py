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
tile's source bbox from metadata only, ships each source tile to the
output tiles whose bbox covers it, and gathers once per output tile
in an ``applyInArrow`` group; ``warp_affine`` is a minification guard
(overview pre-reduction) in front of it.

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
import pandas as pd
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


def _sample_from_rows(
    table: pa.Table, p_i: np.ndarray, p_j: np.ndarray, method: str, T: int
) -> np.ndarray:
    """Sample source-pixel coordinates (p_i, p_j) from the source tiles
    one output tile's warp gather received (an Arrow table with
    ``tile_x``, ``tile_y``, ``nrows``, ``ncols`` and ``data`` columns,
    payloads read through ``tiling._list_values``, null cells as NaN).
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
    src = []
    for b in table.to_batches():
        off, vals = tiling._list_values(b.column("data"))
        tx, ty, nr, nc = (
            b.column(c).to_numpy() for c in ("tile_x", "tile_y", "nrows", "ncols")
        )
        src += [
            (int(tx[k]) * T, int(ty[k]) * T, int(nr[k]), int(nc[k]),
             vals[off[k] : off[k + 1]])
            for k in range(b.num_rows)
        ]

    def lookup(ci: np.ndarray, cj: np.ndarray) -> np.ndarray:
        v = np.full(len(ci), np.nan)
        for x0, y0, snr, snc, flat in src:
            li, lj = ci - x0, cj - y0
            sel = (li >= 0) & (li < snc) & (lj >= 0) & (lj < snr)
            if sel.any():
                v[sel] = flat[lj[sel] * snc + li[sel]]
        return v

    if method == "nearest":
        return lookup(np.floor(pi).astype(np.int64), np.floor(pj).astype(np.int64))
    i0 = np.floor(pi - 0.5).astype(np.int64)
    j0 = np.floor(pj - 0.5).astype(np.int64)
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

    def run(tx: int, ty: int, bands: dict, nr: int, nc: int) -> pd.DataFrame:
        (band_name, padded), = bands.items()
        child = bilinear_2x(padded, nr, nc, g)
        rows = []
        for qy in (0, 1):
            y0, y1 = qy * T, min((qy + 1) * T, 2 * nr)
            for qx in (0, 1):
                x0, x1 = qx * T, min((qx + 1) * T, 2 * nc)
                if y0 >= y1 or x0 >= x1:
                    continue
                sub = child[y0:y1, x0:x1]
                rows.append(
                    {
                        "tile_x": 2 * tx + qx,
                        "tile_y": 2 * ty + qy,
                        "level": level + 1,
                        "band": band_name,
                        "nrows": sub.shape[0],
                        "ncols": sub.shape[1],
                        "data": sub.ravel(),
                    }
                )
        return pd.DataFrame(
            rows,
            columns=["tile_x", "tile_y", "level", "band", "nrows", "ncols", "data"],
        )

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

# boundary samples per output-tile edge in warp_transform's planner
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
    centers, which are among the boundary samples.

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

    Scale design: a METADATA-ONLY mapInPandas over the output-tile list
    (ny·nx rows, never pixels) pushes ``_EDGE_SAMPLES`` points per tile
    boundary edge (corners included) through ``inverse`` and takes the
    sample bbox ± ``margin`` source pixels (+1 for the bilinear
    corners). Contract (standard gdalwarp sampling assumption): the
    transform is smooth enough that its coordinate extrema over a tile
    rectangle occur on (within ``margin`` px of) the boundary samples —
    true for every map projection at practical tile sizes, and exact
    with ``margin=0`` for an affine. The bbox explodes JVM-side to
    covered source-tile ids, a broadcast join ships each source tile
    only where needed, and ONE ``groupBy(otx, oty).applyInArrow`` per
    output tile gathers, reading the payloads zero-copy. Per-pixel
    rows never shuffle; an output tile whose bbox covers no present
    source tile is absent (sparse-raster convention).

    Guard: a tile whose bbox covers more than ``max_gather_tiles``
    source tiles raises (executor-memory cliff — strongly minifying
    transforms should pre-reduce through the overview pyramid, as
    warp_affine does automatically, or warp at a parent level).
    ``stats`` records {'max_fanout_tiles': n} for plan tests."""
    if method not in ("nearest", "bilinear"):
        raise ValueError(f"unknown warp method: {method}")
    H, W = out_shape
    nx_out = (W + T - 1) // T
    ny_out = (H + T - 1) // T
    marg = float(margin) + (0.0 if method == "nearest" else 1.0)
    S = _EDGE_SAMPLES

    out_tiles = tiles.sparkSession.range(nx_out * ny_out).select(
        (F.col("id") % nx_out).cast("int").alias("otx"),
        (F.col("id") / nx_out).cast("int").alias("oty"),
    )

    def plan_bbox(it):
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                otx, oty = int(r.otx), int(r.oty)
                onr = min(H - oty * T, T)
                onc = min(W - otx * T, T)
                # boundary samples: S points per edge, pixel-center span
                tx = np.linspace(otx * T + 0.5, otx * T + onc - 0.5, S)
                ty = np.linspace(oty * T + 0.5, oty * T + onr - 0.5, S)
                gx = np.concatenate([tx, tx, np.full(S, tx[0]), np.full(S, tx[-1])])
                gy = np.concatenate([np.full(S, ty[0]), np.full(S, ty[-1]), ty, ty])
                p_i, p_j = inverse(gx, gy)
                p_i = np.asarray(p_i, dtype=np.float64)
                p_j = np.asarray(p_j, dtype=np.float64)
                ok = np.isfinite(p_i) & np.isfinite(p_j)
                if not ok.any():
                    continue  # fully outside the transform's domain
                rows.append({
                    "otx": otx, "oty": oty,
                    "sti0": int(np.floor((p_i[ok].min() - marg) / T)),
                    "sti1": int(np.floor((p_i[ok].max() + marg) / T)),
                    "stj0": int(np.floor((p_j[ok].min() - marg) / T)),
                    "stj1": int(np.floor((p_j[ok].max() + marg) / T)),
                })
            yield pd.DataFrame(
                rows, columns=["otx", "oty", "sti0", "sti1", "stj0", "stj1"]
            )

    planned = out_tiles.mapInPandas(
        plan_bbox, "otx int, oty int, sti0 int, sti1 int, stj0 int, stj1 int"
    )
    fanout = (
        (F.col("sti1") - F.col("sti0") + 1)
        * (F.col("stj1") - F.col("stj0") + 1)
    )
    planned = planned.withColumn("_fan", fanout)
    if stats is not None:
        # the stats aggregation runs the (metadata-only) planning pass
        # an extra time — deliberately NOT checkpointed/persisted: a
        # checkpoint pins non-recomputable blocks (executor loss kills
        # the query) and the plan is ny·nx ROWS of boundary samples,
        # cheap next to the warp itself; stats is a diagnostic path
        mf = planned.agg(F.max("_fan")).collect()[0][0]
        stats["max_fanout_tiles"] = int(mf or 0)
        if mf is not None and mf > max_gather_tiles:
            raise ValueError(
                f"warp_transform: an output tile's source bbox covers "
                f"{mf} tiles (> max_gather_tiles={max_gather_tiles}) — "
                "pre-reduce via the overview pyramid or warp at a parent "
                "level"
            )
    plan = (
        planned.select(
            "otx", "oty", "stj0", "stj1", "_fan",
            F.explode(F.sequence("sti0", "sti1")).alias("tile_x"),
        )
        .select(
            "otx", "oty", "tile_x", "_fan",
            F.explode(F.sequence("stj0", "stj1")).alias("tile_y"),
        )
    )
    joined = plan.join(
        tiles.filter(F.col("band") == band).select(
            "tile_x", "tile_y", "nrows", "ncols", "data"
        ),
        ["tile_x", "tile_y"],
    )

    arrow = tiling.arrow_schema(tiling.TILES_SCHEMA)

    def gather(key, table):  # unannotated: Arrow UDFs take no eval type from hints
        otx, oty = key[0].as_py(), key[1].as_py()
        fan = table.column("_fan")[0].as_py()
        if fan > max_gather_tiles:
            # executor-side guard: fires even when stats wasn't requested
            raise ValueError(
                f"warp_transform: output tile ({otx},{oty}) gathers {fan} "
                f"source tiles (> max_gather_tiles={max_gather_tiles}) — "
                "pre-reduce via the overview pyramid or warp at a parent level"
            )
        onr = min(H - oty * T, T)
        onc = min(W - otx * T, T)
        oj, oi = np.divmod(np.arange(onr * onc), onc)
        p_i, p_j = inverse(otx * T + oi + 0.5, oty * T + oj + 0.5)
        out = _sample_from_rows(
            table, np.asarray(p_i, dtype=np.float64),
            np.asarray(p_j, dtype=np.float64), method, T
        )
        # NaN cells cross as Spark nulls, as tile payloads do elsewhere
        data = pa.ListArray.from_arrays(
            pa.array([0, onr * onc], pa.int32()), pa.array(out, from_pandas=True)
        )
        return pa.Table.from_arrays(
            [[otx], [oty], [level], [out_band], [onr], [onc], data], schema=arrow
        )

    return joined.groupBy("otx", "oty").applyInArrow(gather, tiling.TILES_SCHEMA)

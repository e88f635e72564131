"""Local (per-cell) raster algebra: reclassify, multi-band
expressions, and raster value sampling at points.

The "local" family of map algebra (vs focal = engine/kernels.py,
zonal = engine/zonal.py, global = engine/patches.py): each output cell
depends only on the same cell of the input bands.

Scale design:
- ``local_map`` gathers a tile's bands in the co-located band group
  (``tiling.halo_map`` with ``g=0``: a JVM projection, ONE shuffle
  keyed by tile, no halo since local ops need none) and computes the
  NumPy expression per tile on Arrow payloads;
- ``reclassify`` is a special-cased single-band local_map with a
  vectorized sorted-key lookup (np.searchsorted), the pattern that
  stays O(log k) per cell for k-entry class maps;
- ``sample_raster`` (point drill): points already carrying tile/ti/tj
  encode (udfs.with_cell_and_tile) cogroup with the tile table on the
  tile key in ONE ``applyInArrow`` and read their pixel — one
  co-partitionable shuffle on (tile_x, tile_y); the tile side ships
  each tile payload once per tile, never per point.

Pinned semantics:
- reclassify: unmapped classes -> ``default`` (NaN unless given);
  NaN stays NaN;
- local_map: any NaN input at a cell -> NaN output unless the
  expression handles it;
- sample_raster: points whose tile has no stored tile row -> no output
  row (inner join; sparse rasters mean absent tiles, not zeros); NaN
  pixel -> NaN value row.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from engine import tiling

__all__ = ["local_map", "reclassify", "sample_raster"]


def local_map(
    tiles: DataFrame,
    T: int,
    out_band: str,
    fn,
    in_bands: list[str],
    level: int = 0,
) -> DataFrame:
    """tiles (>=1 band per tile) -> one ``out_band`` tile per input
    tile that has ALL ``in_bands``; ``fn(dict[band -> 2-D array]) ->
    2-D array``."""
    sub = tiles.filter(F.col("band").isin(list(in_bands)))

    def run(tx: int, ty: int, bands: dict, nr: int, nc: int):
        if not all(b in bands for b in in_bands):
            return None
        out = np.asarray(fn(bands), dtype=np.float64)
        return tiling.tile_table(tx, ty, level, [out_band], [out])

    return tiling.halo_map(sub, T, 0, None, run, tiling.TILES_SCHEMA)


def reclassify(
    tiles: DataFrame,
    T: int,
    mapping: dict[int, float],
    band: str = "class",
    out_band: str = "reclass",
    default: float = float("nan"),
    level: int = 0,
) -> DataFrame:
    """Class raster -> value raster through a sorted-key lookup.

    Pinned semantics (SURVEY §2 L2): unmapped FINITE classes get
    ``default``; NaN (nodata) STAYS NaN — reclassification must never
    inject values into nodata regions."""
    keys = np.array(sorted(mapping), dtype=np.float64)
    vals = np.array([mapping[int(k)] for k in keys], dtype=np.float64)

    def remap(got: dict) -> np.ndarray:
        a = got[band]
        out = np.full(a.shape, np.nan, dtype=np.float64)
        finite = np.isfinite(a)
        pos = np.searchsorted(keys, a[finite])
        pos_ok = (pos < len(keys)) & (keys[np.clip(pos, 0, len(keys) - 1)] == a[finite])
        res = np.full(pos_ok.shape, default, dtype=np.float64)
        res[pos_ok] = vals[pos[pos_ok]]
        out[finite] = res
        return out

    return local_map(tiles, T, out_band, remap, [band], level=level)


def sample_raster(
    points: DataFrame,
    tiles: DataFrame,
    T: int,
    band: str,
    point_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Point drill: ``points`` must carry tile_x/tile_y/ti/tj (from
    udfs.with_cell_and_tile); returns point_cols + the sampled pixel
    ``value`` of ``band``.

    Cogrouped, NOT a plain join: an equi-join would copy the packed
    tile payload into every matched output row (Tungsten join rows own
    their bytes — T=256 means 512 KB per point). The cogroup ships each
    tile payload ONCE per tile, decodes it once, and extracts every
    point of that tile with one fancy-index."""
    t = tiles.filter(F.col("band") == band)
    # dedupe: point_cols may itself include the tile/pixel key columns
    p = points.select(
        *dict.fromkeys([*point_cols, "tile_x", "tile_y", "ti", "tj"])
    )
    cols = list(point_cols)

    out_schema = ", ".join(
        f"{c} {t}" for c, t in zip(
            [*cols, "value"],
            [*[dict(p.dtypes)[c] for c in cols], "double"],
        )
    )
    out_arrow = tiling.arrow_schema(out_schema)

    def extract(key, pts, tile):  # unannotated: Arrow UDFs take no eval type from hints
        if pts.num_rows == 0 or tile.num_rows == 0:
            return out_arrow.empty_table()
        (plane,) = next(tiling.tile_planes(tile))
        nr, nc = plane.shape
        ti = pts.column("ti").to_numpy().astype(np.int64)
        tj = pts.column("tj").to_numpy().astype(np.int64)
        # bounds guard for ragged tiles: ti >= ncols would silently
        # wrap into the next row, tj >= nrows would IndexError in the
        # executor — out-of-extent points sample NaN instead
        ok = (ti >= 0) & (ti < nc) & (tj >= 0) & (tj < nr)
        value = np.where(ok, plane.ravel()[np.where(ok, tj * nc + ti, 0)], np.nan)
        # NaN samples leave as nulls, the representation pandas UDFs emit
        return pa.Table.from_arrays(
            [*(pts.column(c) for c in cols), pa.array(value, from_pandas=True)],
            schema=out_arrow,
        )

    return (
        p.groupBy("tile_x", "tile_y")
        .cogroup(t.groupBy("tile_x", "tile_y"))
        .applyInArrow(extract, out_schema)
    )

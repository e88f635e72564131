"""Patch operators W11–W14: connected-components labeling across tile
boundaries + edge-corrected patch statistics (SURVEY.md §2.6).

Reference parity: ahhz/moving_window preprocesses a categorical raster
into a patch-attribute table (per-patch area/perimeter/class) consumed
by patch indicators whose edge correction weights each patch by the
fraction of it inside the window (the companion paper's contribution).
Pinned semantics (§5.3.5): rook connectivity, nodata breaks patches,
perimeter counts cell sides facing a different class / nodata / the
raster boundary.

Distributed W14 design:
1. per-tile two-pass CCL (NumPy union-find) with globally-unique
   provisional labels ``tile_seq * T*T + local``;
2. tiles exchange 1-deep halos and steps 1–2 run in one
   ``tiling.halo_map`` group, so per-tile perimeter contributions are
   exact; each tile also emits its boundary label/class strips keyed by
   the shared border;
3. equivalence edges from border strips → connected components. The
   seam-edge count is bounded by ``n_tiles · 2T``; under
   ``_DRIVER_SEAM_CELLS`` the edges resolve driver-side with the
   vectorized ``connected_components_numpy``, past it through the
   distributed fixpoint ``chains.components`` (min-label propagation
   with root hooking and pointer jumping);
4. patch table = per-root aggregation of per-tile partials.

Edge-corrected stats reduce to focal sums of per-cell planes (verified
against explicit patch enumeration in tests/test_patches.py):

  W11 mean patch size   Σ_p a_p·w_p / Σ_p w_p  =  count(valid) / sum(1/a_p)
  W12 patch density     Σ_p w_p / #valid        =  sum(1/a_p) / count(valid)
  W13 AWMSI             Σ_p (n_p/N)·SI_p        =  mean(SI plane)

where w_p = (cells of p in W)/a_p and the planes carry 1/a_{patch(c)}
and SI_{patch(c)} per cell c.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine import chains, kernels, tiling


# ---------------------------------------------------------------------------
# per-tile CCL (pure NumPy, scipy-free two-pass union-find)
# ---------------------------------------------------------------------------

def connected_components_numpy(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Vectorized connected components over nodes 0..n-1 given edge
    endpoint arrays (a, b): returns labels with labels[i] = MIN node id
    of i's component.

    Min-hooking + pointer-jumping (Shiloach–Vishkin flavor): each round
    every edge pulls both endpoint labels down to their min (one
    ``np.minimum.at`` scatter per side), then labels are fully
    shortcut via ``lab = lab[lab]`` until stable — label values are
    themselves node indices, so compression is pure gather. O(E) NumPy
    work per round, O(log n) rounds; no Python-level per-edge loops
    (the round-1 per-pair union-find was the sq_patch_stats hot spot)."""
    lab = np.arange(n, dtype=np.int64)
    if len(a) == 0:
        return lab
    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    while True:
        before = lab.copy()
        m = np.minimum(lab[a], lab[b])
        np.minimum.at(lab, a, m)
        np.minimum.at(lab, b, m)
        while True:
            nl = lab[lab]
            if np.array_equal(nl, lab):
                break
            lab = nl
        if np.array_equal(lab, before):
            return lab


def label_tile(arr: np.ndarray) -> tuple[np.ndarray, int]:
    """Rook-connectivity CCL of equal-valued finite cells. Returns
    (labels int64 with -1 at nodata, n_labels); labels are 0..n-1,
    ordered by each component's minimum flattened cell index (so label
    k's root cell is the k-th smallest component-min index)."""
    H, W = arr.shape
    finite = np.isfinite(arr)
    labels = np.full((H, W), -1, dtype=np.int64)
    idx = np.arange(H * W).reshape(H, W)
    same_left = finite[:, 1:] & finite[:, :-1] & (arr[:, 1:] == arr[:, :-1])
    same_up = finite[1:, :] & finite[:-1, :] & (arr[1:, :] == arr[:-1, :])
    a = np.concatenate([idx[:, 1:][same_left], idx[1:, :][same_up]])
    b = np.concatenate([idx[:, :-1][same_left], idx[:-1, :][same_up]])
    roots = connected_components_numpy(a, b, H * W)[finite.ravel()]
    uniq, compact = np.unique(roots, return_inverse=True)
    labels[finite] = compact
    return labels, len(uniq)


def perimeter_contrib(padded: np.ndarray, g: int = 1) -> np.ndarray:
    """Per-cell count of sides facing a different class / nodata /
    out-of-raster, computed from a 1-deep padded plane (NaN outside)."""
    core = padded[g:-g, g:-g]
    finite = np.isfinite(core)
    out = np.zeros(core.shape, dtype=np.int64)
    for dy, dx in ((0, 1), (0, -1), (1, 0), (-1, 0)):
        nb = padded[g + dy : g + dy + core.shape[0], g + dx : g + dx + core.shape[1]]
        differs = ~np.isfinite(nb) | (nb != core)
        out += np.where(finite & differs, 1, 0)
    out[~finite] = 0
    return out


# ---------------------------------------------------------------------------
# W14: the full distributed patch build
# ---------------------------------------------------------------------------

# plane / strip payloads are PACKED BINARY (little-endian int64 /
# float64 bytes), not list-typed arrays: the label plane is T² values
# per tile and the Arrow boundary prices a Python list of ints ~3× a
# binary blob (same study as the TILES payload format); attrs stay
# array-typed — they are per-LABEL (≪ pixels) and feed a JVM explode.
_LABEL_STAGE_SCHEMA = (
    "tile_x int, tile_y int, kind string, "
    "labels array<long>, klass array<double>, area array<long>, perim array<long>, "
    "min_gidx array<long>, plane binary, "
    "strip_labels binary, strip_klass binary, border string, side string"
)

# global cell index stride: gidx = gy * 2^32 + gx — row-major global
# ordering for any raster narrower than 2^32 cells (level ≤ 29 always
# is); exact in float64 for gy < 2^21 (far beyond any tile grid here)
_GIDX_STRIDE = np.int64(1) << np.int64(32)

# seam edges the driver path may collect: past this bound on
# n_tiles · 2T the equivalence edges resolve distributed
_DRIVER_SEAM_CELLS = 2_000_000


def build_patches(
    tiles: DataFrame,
    T: int,
    spark: SparkSession,
    wrap_nx: int | None = None,
):
    """tiles (band='class') → (label_tiles, patch_table).

    label_tiles: tiles schema, band='patch', data = CANONICAL patch id
    (the patch's minimum global cell index gy·2³²+gx — deterministic,
    tile-size-invariant, and SQL-replicable) float64-encoded with NaN
    at nodata. patch_table: DataFrame (patch_id, klass, area, perimeter).

    No step materializes per-patch state on the driver: the driver
    path holds only seam-edge endpoints, and the label→canonical remap
    is a per-tile label-list equi-join (labels per tile ≪ pixels per
    tile), never a broadcast of the full map.

    The stitching path is chosen up front from the bound ``n_tiles · 2T``
    on the seam-edge count (each tile owns its right and bottom border):
    under ``_DRIVER_SEAM_CELLS`` the edges are collected and resolved
    by ``connected_components_numpy`` (cheaper than O(log diameter)
    join rounds), past it by ``chains.components`` — so no edge-count
    job runs and a big raster never funnels its seams through one
    process.
    """
    def stage1(tx: int, ty: int, bands: dict, nr: int, nc: int) -> pd.DataFrame:
        if len(bands) != 1:
            # loud single-band contract (matches zonal/autocorr): a
            # multi-band frame would otherwise die in an opaque
            # unpacking ValueError inside the task
            raise ValueError(
                "build_patches needs SINGLE-band class tiles; got bands "
                f"{sorted(bands)} — filter(F.col('band') == ...) first"
            )
        (_, padded), = bands.items()
        core = padded[1 : 1 + nr, 1 : 1 + nc]
        local, n = label_tile(core)
        # globally-unique provisional labels: tile linear index * T*T + local
        base = (np.int64(ty) * np.int64(1 << 20) + np.int64(tx)) * (T * T)
        glab = np.where(local >= 0, base + local, -1).astype(np.int64)
        perim = perimeter_contrib(padded, 1)
        rows = []
        # per-label partials
        finite = local >= 0
        if n:
            areas = np.bincount(local[finite], minlength=n)
            perims = np.bincount(local[finite], weights=perim[finite], minlength=n)
            klass = np.full(n, np.nan)
            klass[local[finite]] = core[finite]
            # per-label min flattened in-tile index -> min global index
            flat = np.arange(nr * nc, dtype=np.int64).reshape(nr, nc)
            min_flat = np.full(n, np.iinfo(np.int64).max)
            np.minimum.at(min_flat, local[finite], flat[finite])
            gy = np.int64(ty) * T + min_flat // nc
            gx = np.int64(tx) * T + min_flat % nc
            min_gidx = gy * _GIDX_STRIDE + gx
            rows.append(
                {
                    "tile_x": tx, "tile_y": ty, "kind": "attrs",
                    "labels": (base + np.arange(n)).tolist(),
                    "klass": klass.tolist(),
                    "area": areas.astype(np.int64).tolist(),
                    "perim": perims.astype(np.int64).tolist(),
                    "min_gidx": min_gidx.tolist(),
                    "plane": None,
                    "strip_labels": None, "strip_klass": None,
                    "border": None, "side": None,
                }
            )
        # label plane (packed int64 bytes — T² values; the pipeline's
        # dominant shuffle payload)
        rows.append(
            {
                "tile_x": tx, "tile_y": ty, "kind": "plane",
                "labels": None, "klass": None,
                "area": [nr, nc], "perim": None, "min_gidx": None,
                "plane": glab.ravel().astype("<i8").tobytes(),
                "strip_labels": None, "strip_klass": None,
                "border": None, "side": None,
            }
        )
        # border strips: right column → border v:(tx,ty); left column →
        # border v:(tx-1,ty); bottom row → h:(tx,ty); top row → h:(tx,ty-1)
        def strip(sl_lab, sl_k, border, side):
            rows.append(
                {
                    "tile_x": tx, "tile_y": ty, "kind": "strip",
                    "labels": None, "klass": None, "area": None, "perim": None,
                    "min_gidx": None, "plane": None,
                    "strip_labels": np.ascontiguousarray(
                        sl_lab, dtype="<i8"
                    ).tobytes(),
                    "strip_klass": np.ascontiguousarray(
                        sl_k, dtype="<f8"
                    ).tobytes(),
                    "border": border, "side": side,
                }
            )

        left_tx = tx - 1
        if wrap_nx is not None:
            left_tx %= wrap_nx
        # `side` disambiguates the pair when BOTH strips come from the
        # same tile (wrap_nx == 1: left_tx == tx, so the tile's own
        # right column and its left column share one border key)
        strip(glab[:, -1], core[:, -1], f"v:{tx}:{ty}", "own")
        if left_tx >= 0:
            strip(glab[:, 0], core[:, 0], f"v:{left_tx}:{ty}", "nbr")
        strip(glab[-1, :], core[-1, :], f"h:{tx}:{ty}", "own")
        if ty - 1 >= 0:
            strip(glab[0, :], core[0, :], f"h:{tx}:{ty-1}", "nbr")
        return pd.DataFrame(rows)

    stage1_df = tiling.halo_map(tiles, T, 1, wrap_nx, stage1, _LABEL_STAGE_SCHEMA)
    stage1_df.persist()

    # equivalence edges: group the two strips of each border, pair up
    strips = stage1_df.filter(F.col("kind") == "strip")

    def border_edges(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) != 2:
            return pd.DataFrame(columns=["a", "b"])
        # pair by SIDE marker, not tile identity: at wrap_nx == 1 both
        # strips of a v-border come from the SAME tile and a tile-key
        # filter would match both rows, dropping every seam edge
        own = pdf[pdf.side == "own"]
        other = pdf[pdf.side == "nbr"]
        if len(own) != 1 or len(other) != 1:
            return pd.DataFrame(columns=["a", "b"])
        la = np.frombuffer(own.iloc[0].strip_labels, dtype="<i8")
        ka = np.frombuffer(own.iloc[0].strip_klass, dtype="<f8")
        lb = np.frombuffer(other.iloc[0].strip_labels, dtype="<i8")
        kb = np.frombuffer(other.iloc[0].strip_klass, dtype="<f8")
        m = min(len(la), len(lb))
        la, ka, lb, kb = la[:m], ka[:m], lb[:m], kb[:m]
        ok = (la >= 0) & (lb >= 0) & np.isfinite(ka) & np.isfinite(kb) & (ka == kb)
        e = pd.DataFrame({"a": la[ok], "b": lb[ok]}).drop_duplicates()
        return e

    edges_df = strips.groupBy("border").applyInPandas(border_edges, "a long, b long")
    attrs = stage1_df.filter(F.col("kind") == "attrs").select(
        "tile_x",
        "tile_y",
        F.explode(F.arrays_zip("labels", "klass", "area", "perim", "min_gidx")).alias("z"),
    ).select(
        "tile_x",
        "tile_y",
        F.col("z.labels").alias("label"),
        F.col("z.klass").alias("klass"),
        F.col("z.area").alias("area"),
        F.col("z.perim").alias("perimeter"),
        F.col("z.min_gidx").alias("min_gidx"),
    )
    attrs.persist()

    n_tiles = stage1_df.filter(F.col("kind") == "plane").count()
    if n_tiles * 2 * T > _DRIVER_SEAM_CELLS:
        mapping = chains.components(
            edges_df.localCheckpoint(eager=True), attrs.select("label"),
            "build_patches",
        ).select(F.col("node").alias("label"), "root")
    else:
        # compact the seam endpoints to 0..k-1: the driver holds
        # O(edges), and labels on no seam keep themselves as root below
        e = edges_df.toPandas()
        ends, idx = np.unique(
            np.concatenate([e["a"], e["b"]]).astype(np.int64),
            return_inverse=True,
        )
        m = len(e)
        roots = ends[connected_components_numpy(idx[:m], idx[m:], len(ends))]
        mapping = spark.createDataFrame(
            pd.DataFrame({"label": ends, "root": roots}), "label long, root long"
        )

    # labels on no seam are absent from the driver mapping: own root
    merged = attrs.join(mapping, "label", "left").withColumn(
        "root", F.coalesce("root", "label")
    )
    # canonical patch id = the component's minimum global cell index —
    # deterministic across tile sizes and replicable by the SQL oracle
    canon = merged.groupBy("root").agg(F.min("min_gidx").alias("patch_id"))
    # eager checkpoint (per-patch rows, small): makes the returned
    # table self-contained so the stage caches can be released below
    patch_table = (
        merged.groupBy("root")
        .agg(
            F.first("klass").alias("klass"),
            F.sum("area").alias("area"),
            F.sum("perimeter").alias("perimeter"),
        )
        .join(canon, "root")
        .select("patch_id", "klass", "area", "perimeter")
        .localCheckpoint(eager=True)
    )

    # relabel by JOIN, not driver broadcast: a tile's distinct provisional
    # labels (≪ its pixels) equi-join the label→canonical map, collect
    # into one small list per tile, and the dense remap runs in NumPy
    # next to the plane payload
    tile_map = (
        merged.join(canon, "root")
        .select("tile_x", "tile_y", "label", F.col("patch_id").alias("canon"))
        .groupBy("tile_x", "tile_y")
        .agg(F.collect_list(F.struct("label", "canon")).alias("m"))
    )
    planes = stage1_df.filter(F.col("kind") == "plane")
    # eager checkpoint of (plane payload + per-tile map), then drop the
    # stage caches: without this every build_patches call pinned the
    # full T² label payload AND attrs in executor storage for the
    # session lifetime (the returned DataFrames' lineage referenced
    # them), and repeated calls accumulated until storage was exhausted
    joined = (
        planes.select("tile_x", "tile_y", "plane", "area")
        .join(tile_map, ["tile_x", "tile_y"], "left")
        .localCheckpoint(eager=True)
    )
    stage1_df.unpersist()
    attrs.unpersist()

    def relabel(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for row in pdf.itertuples(index=False):
                nr, nc = int(row.area[0]), int(row.area[1])
                lab = np.frombuffer(row.plane, dtype="<i8")
                data = np.full(len(lab), np.nan)
                pos_mask = lab >= 0
                if pos_mask.any():
                    # attrs cover every provisional label, so a label
                    # missing from the map is an internal bug
                    (can,) = chains.remap(
                        lab[pos_mask], row.m,
                        f"build_patches relabel: tile ({row.tile_x},{row.tile_y})",
                    )
                    data[pos_mask] = can.astype(np.float64)
                out.append(
                    {
                        "tile_x": row.tile_x, "tile_y": row.tile_y,
                        "level": 0, "band": "patch",
                        "nrows": nr, "ncols": nc, "data": data,
                    }
                )
            yield pd.DataFrame(
                out,
                columns=["tile_x", "tile_y", "level", "band", "nrows", "ncols", "data"],
            )

    label_tiles = joined.mapInPandas(relabel, tiling.TILES_SCHEMA)
    return label_tiles, patch_table


# ---------------------------------------------------------------------------
# W11–W13: edge-corrected focal patch statistics
# ---------------------------------------------------------------------------

def _mps_kernel(plane: np.ndarray, r: int, shape: str) -> np.ndarray:
    """W11 on the inv-area plane: count(valid)/sum(1/a)."""
    c = kernels.focal_count(plane, r, shape)
    s = kernels.focal_sum(plane, r, shape)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = c / s
    out[(c == 0) | (s <= 0)] = np.nan
    return out


def _pdens_kernel(plane: np.ndarray, r: int, shape: str) -> np.ndarray:
    """W12 on the inv-area plane: sum(1/a)/count(valid) — fractional
    patch count per valid cell."""
    c = kernels.focal_count(plane, r, shape)
    s = kernels.focal_sum(plane, r, shape)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = s / c
    out[c == 0] = np.nan
    return out


PATCH_STAT_KERNELS = {
    "mean_patch_size": ("inv_area", _mps_kernel),
    "patch_density": ("inv_area", _pdens_kernel),
    "awmsi": ("si", kernels.focal_mean),  # Σ (n_p/N)·SI_p == mean of SI plane
}


def derive_patch_planes(
    label_tiles: DataFrame, patch_table: DataFrame, spark: SparkSession | None = None
) -> DataFrame:
    """label tiles + patch table → per-cell derived bands 'inv_area'
    (1/patch area) and 'si' (0.25·perimeter/√area of the cell's patch).

    Scale path (round-2 fix): the per-tile DISTINCT patch-id list
    equi-joins the patch table (one shuffle of tiny label lists), then
    the dense per-pixel remap is a NumPy searchsorted next to the
    payload — no driver materialization of the patch table, ever."""
    stats = patch_table.select(
        "patch_id",
        (F.lit(1.0) / F.col("area")).alias("inv_area"),
        (F.lit(0.25) * F.col("perimeter") / F.sqrt("area")).alias("si"),
    )
    tile_ids = label_tiles.select(
        "tile_x",
        "tile_y",
        F.explode(
            F.array_distinct(
                F.filter("data", lambda x: x.isNotNull() & ~F.isnan(x))
            )
        ).alias("_pid"),
    ).select("tile_x", "tile_y", F.col("_pid").cast("long").alias("patch_id"))
    tile_map = (
        tile_ids.join(stats, "patch_id")
        .groupBy("tile_x", "tile_y")
        .agg(F.collect_list(F.struct("patch_id", "inv_area", "si")).alias("m"))
    )
    joined = label_tiles.join(tile_map, ["tile_x", "tile_y"], "left")

    def derive(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for row in pdf.itertuples(index=False):
                lab = np.asarray(row.data, dtype=np.float64)
                finite = np.isfinite(lab)
                ia = np.full(lab.shape, np.nan)
                sv = np.full(lab.shape, np.nan)
                if row.m is not None and len(row.m) and finite.any():
                    trips = [
                        (e["patch_id"], e["inv_area"], e["si"])
                        if isinstance(e, dict)
                        else (e[0], e[1], e[2])
                        for e in row.m
                    ]
                    m_id = np.array([t[0] for t in trips], dtype=np.int64)
                    m_ia = np.array([t[1] for t in trips])
                    m_si = np.array([t[2] for t in trips])
                    order = np.argsort(m_id)
                    m_id, m_ia, m_si = m_id[order], m_ia[order], m_si[order]
                    ids = lab[finite].astype(np.int64)
                    pos = np.clip(np.searchsorted(m_id, ids), 0, len(m_id) - 1)
                    # exact-match mask: patch_table is a public input
                    # and may legitimately cover a subset of patches —
                    # unmatched ids get NaN planes, never a clipped
                    # neighbor's stats
                    hit = m_id[pos] == ids
                    fin_idx = np.flatnonzero(finite)[hit]
                    ia[fin_idx] = m_ia[pos[hit]]
                    sv[fin_idx] = m_si[pos[hit]]
                for band, data in (("inv_area", ia), ("si", sv)):
                    out.append(
                        {
                            "tile_x": row.tile_x, "tile_y": row.tile_y,
                            "level": row.level, "band": band,
                            "nrows": row.nrows, "ncols": row.ncols,
                            "data": data,
                        }
                    )
            yield pd.DataFrame(
                out,
                columns=["tile_x", "tile_y", "level", "band", "nrows", "ncols", "data"],
            )

    return joined.mapInPandas(derive, tiling.TILES_SCHEMA)


def apply_patch_stats(
    class_tiles: DataFrame,
    T: int,
    r: int,
    shape: str,
    spark: SparkSession,
    stats: list[str] | None = None,
    wrap_nx: int | None = None,
) -> DataFrame:
    """Full W11–W13 pipeline: W14 build → derived planes → focal."""
    stats = stats or list(PATCH_STAT_KERNELS)
    label_tiles, patch_table = build_patches(class_tiles, T, spark, wrap_nx)
    planes = derive_patch_planes(label_tiles, patch_table, spark)
    by_band: dict[str, dict] = {}
    for s in stats:
        band, fn = PATCH_STAT_KERNELS[s]
        by_band.setdefault(band, {})[s] = fn
    # ONE halo exchange for every derived band — the per-band variant
    # re-executed the whole planes lineage (CCL + relabel + derive) once
    # per band
    return tiling.apply_focal_bands(
        planes, r, shape, by_band, T, level=0, wrap_nx=wrap_nx
    )

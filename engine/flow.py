"""Hydrology operators: D8 flow direction + distributed flow
accumulation (SURVEY.md §2.6 extension, round 3).

Every raster engine with terrain support ships these two; they are the
canonical NON-focal global raster op — accumulation at a cell depends on
an unbounded upstream region, so no single halo exchange can compute it.
The distributed design mirrors the engine's CCL stitching (W14): local
NumPy solve per tile + an inter-tile fixpoint whose rounds move
information one tile-hop per shuffle.

Pinned semantics (normative, mirrored by the DuckDB oracle):

- D8 direction codes (ESRI): E=1, SE=2, S=4, SW=8, W=16, NW=32, N=64,
  NE=128 on the y-down grid (j increases SOUTH). Steepest drop
  (z_c − z_n)/dist with dist = 1 (rook) or 1.4142135623730951 (diag,
  pinned literal). Neighbors outside the raster or NaN are ineligible.
  Ties: the FIRST direction in the code order above with the maximal
  drop wins (strict > replacement). No positive drop → 0 (pit/flat).
  Output is NaN where the center is NaN.
- Accumulation acc(c) = number of cells (including c itself) whose
  D8 path passes through c; a pit's accumulation absorbs everything
  draining into it. Strict-descent D8 admits no cycles, so acc is
  well-defined.

Distributed accumulation (round-4 design — the direction planes are
shipped at most TWICE; the fixpoint runs over border-cell ROWS only):

1. stage 1 (ONE applyInPandas over the planes): per tile, Kahn
   topological waves (vectorized ``np.add.at`` scatter-adds) solve the
   in-tile accumulation with ZERO external inflow, and ``_seams`` —
   the one vectorized seam emitter, shared with watershed and flow
   length — resolves every cell's in-tile terminal by pointer
   jumping. Emitted per tile: one LINK row per border-exit cell (exit
   gid ``okey``, its base outflow ``E0 = acc0[exit]``, and the
   destination tile/cell it crosses into) plus one EDGE row per valid
   border cell and sentinel alias classifying its in-tile terminal
   (pit gid, or pending on an exit okey).
2. ``links ⋈ edges`` condenses the raster to the EXIT-CELL functional
   graph ``succ: okey → okey|∅`` (∅ = the crossing is absorbed at a
   pit in the destination tile). Accumulation is LINEAR in its
   inflows, so each exit's total outflow is
   ``S(o) = E0(o) + Σ_{succ(o')=o} S(o')`` — the ancestor-weight sum
   on an acyclic functional graph. That is computed by pointer
   doubling with carried sums (Wyllie-style list ranking): state
   ``(p, t)`` with ``p = succ^(2^k)`` and ``t = Σ E0 over ancestors at
   distance 1..2^k``; each round one aggregation join + one pointer
   self-join over EXIT ROWS ONLY (∝ tile perimeter, never the raster),
   O(log chain) rounds. The rounds run through ``chains.iterate``, as
   do the watershed / flow-length and Strahler fixpoints below: one
   checkpoint job per round that also counts the pending rows, and a
   ``RuntimeError`` naming the operator past ``chains.MAX_ROUNDS``.
3. final paint: ``arrive(b) = Σ_{link(o)=b} S(o)`` per border-in cell,
   joined back to the direction planes (second and last plane
   movement), and ONE applyInPandas re-solve with the fully resolved
   inflows — linearity makes the single re-solve exact.

Round-3 note: the previous implementation re-shipped every plane and
re-solved every tile each fixpoint round — O(rounds × raster) shuffle,
the one plan that died at 100×. This design is the watershed
chain-table treatment applied to sums.

Watershed and downstream flow length are two views of ONE resolve
(``_downstream``): the same ``_seams`` rows, chain table, pull-doubling
fixpoint (``chains.follow`` carrying the step counts) and paint, which
emits the pit id, the count bands, or both.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from engine import chains, tiling

__all__ = [
    "D8_OFFSETS",
    "flow_accumulation",
    "flow_direction",
    "flow_direction_kernel",
    "flow_length",
    "strahler",
    "watershed",
]

_SQRT2 = 1.4142135623730951

# (code, dj, di, dist) in the pinned tie order E, SE, S, SW, W, NW, N, NE
D8_OFFSETS = (
    (1, 0, 1, 1.0),
    (2, 1, 1, _SQRT2),
    (4, 1, 0, 1.0),
    (8, 1, -1, _SQRT2),
    (16, 0, -1, 1.0),
    (32, -1, -1, _SQRT2),
    (64, -1, 0, 1.0),
    (128, -1, 1, _SQRT2),
)


def flow_direction_kernel(
    arr: np.ndarray, r: int = 1, shape: str = "square"
) -> np.ndarray:
    """D8 codes for every valid cell of ``arr`` (NaN-padded halo makes
    out-of-raster neighbors ineligible automatically)."""
    a = np.asarray(arr, dtype=np.float64)
    H, W = a.shape
    best = np.zeros((H, W))
    code = np.zeros((H, W))
    pad = np.full((H + 2, W + 2), np.nan)
    pad[1:-1, 1:-1] = a
    for c, dj, di, dist in D8_OFFSETS:
        nb = pad[1 + dj : 1 + dj + H, 1 + di : 1 + di + W]
        with np.errstate(invalid="ignore"):
            drop = (a - nb) / dist
        take = np.isfinite(drop) & (drop > 0) & (drop > best)
        best = np.where(take, drop, best)
        code = np.where(take, float(c), code)
    return np.where(np.isfinite(a), code, np.nan)


def flow_direction(
    tiles: DataFrame, T: int, level: int = 0, wrap_nx: int | None = None
) -> DataFrame:
    """D8 direction tiles from elevation tiles: ONE 1-deep halo
    exchange + the kernel (band 'flowdir')."""
    return tiling.apply_focal(
        tiles, 1, "square", {"flowdir": flow_direction_kernel}, T,
        level=level, wrap_nx=wrap_nx,
    )


# (dj, di) of each D8 code's step, indexed by the code
_CODES = np.array([c for c, *_ in D8_OFFSETS])
_STEP = np.zeros((_CODES.max() + 1, 2), dtype=np.int64)
_STEP[_CODES] = [(dj, di) for _, dj, di, _ in D8_OFFSETS]


def _receivers(dirs: np.ndarray):
    """(recv linear index or -1, exits-the-tile mask, jj, ii, per-cell
    (dj, di) step) for a tile of D8 codes."""
    nr, nc = dirs.shape
    d = dirs.ravel()
    # NaN, 0 and any value that is no D8 code take no step (a pit)
    step = _STEP[np.where(np.isin(d, _CODES), d, 0).astype(np.int64)]
    jj, ii = np.divmod(np.arange(nr * nc), nc)
    tj, ti = jj + step[:, 0], ii + step[:, 1]
    moves = step.any(axis=1)
    inside = (tj >= 0) & (tj < nr) & (ti >= 0) & (ti < nc)
    recv = np.where(moves & inside, tj * nc + ti, -1)
    return recv, moves & ~inside, jj, ii, step


def _solve_tile(
    dirs: np.ndarray,
    inflow: np.ndarray,
    weight: np.ndarray | None = None,
    rcv: tuple | None = None,
) -> np.ndarray:
    """Kahn-wave accumulation inside one tile. dirs: (nr,nc) D8 codes
    (NaN invalid); inflow: external contributions per cell; weight:
    optional per-cell own contribution (default 1.0 everywhere —
    classic cell-count accumulation); rcv: a precomputed
    ``_receivers(dirs)`` tuple to reuse (the caller often needs it
    anyway). Returns the accumulation plane."""
    nr, nc = dirs.shape
    n = nr * nc
    d = dirs.ravel()
    valid = np.isfinite(d)
    own = 1.0 if weight is None else np.where(
        np.isfinite(weight.ravel()), weight.ravel(), 0.0
    )
    acc = np.where(valid, own + inflow.ravel(), 0.0)

    recv = (rcv if rcv is not None else _receivers(dirs))[0]

    indeg = np.zeros(n, dtype=np.int64)
    has_recv = recv >= 0
    np.add.at(indeg, recv[has_recv], 1)
    frontier = np.flatnonzero(valid & (indeg == 0))
    while len(frontier):
        fr = frontier[recv[frontier] >= 0]
        if not len(fr):
            break
        tgt = recv[fr]
        np.add.at(acc, tgt, acc[fr])
        np.subtract.at(indeg, tgt, 1)
        # next frontier comes from this wave's own targets — a full-tile
        # scan per wave made a serpentine path O(longest_path x n)
        u = np.unique(tgt)
        frontier = u[indeg[u] == 0]
    return acc


# packed-plane value of a nodata cell
_INVALID = np.int64(-(2**62))

# stage-1 seam rows (see _seams); each operator appends its own columns
_SEAM_SCHEMA = (
    "tile_x int, tile_y int, link boolean, cellkey long, okey long, val long"
)


def _seams(d: np.ndarray, tx: int, ty: int, T: int, wrap_nx: int | None):
    """The one per-tile D8 seam emitter (flow accumulation, watershed,
    flow length). ``d`` is tile (tx, ty)'s plane of D8 codes.

    Wyllie doubling (``t = t[t]``, step counts carried) takes every
    cell to its in-tile terminal: a pit, or an exit cell whose step
    leaves the tile. Returns ``(rcv, plane, dc, dd, seam)``:

    - ``rcv``: the ``_receivers`` tuple;
    - ``plane``: per cell, the terminal pit's global id
      ``(gy << 32) | gx``, ``-(okey + 1)`` when pending on the exit
      cell with gid ``okey``, or ``_INVALID`` on nodata;
    - ``dc`` / ``dd``: cardinal / diagonal steps from the cell to its
      terminal, the terminal exit's own crossing step included;
    - ``seam``: columns of one LINK row per exit cell, addressed to the
      cell it crosses into, then one EDGE row per valid border cell and
      alias, addressed to itself. The address is a tile plus
      ``cellkey = (lj << 16) | li`` in that tile's frame; 0xFFFF stands
      for the last row/col, whose index an emitter cannot know for a
      ragged neighbor, so a border cell on its tile's last row/col also
      answers to the 0xFFFF aliases (``_cell_of`` decodes them). Every
      row carries ``okey`` / ``val`` (gid / ``plane`` of its cell here)
      and ``cell``, the cell's index in this tile.
    """
    nr, nc = d.shape
    rcv = recv, out, jj, ii, step = _receivers(d)
    has = recv >= 0
    diag = step.all(axis=1)
    card = step.any(axis=1) & ~diag
    dc = (has & card).astype(np.int64)
    dd = (has & diag).astype(np.int64)
    t = np.where(has, recv, np.arange(nr * nc))
    while True:
        dc, dd = dc + dc[t], dd + dd[t]
        t2 = t[t]
        if np.array_equal(t2, t):
            break
        t = t2
    dc += card[t]
    dd += diag[t]
    gid = ((np.int64(ty) * T + jj) << 32) | (np.int64(tx) * T + ii)
    valid = np.isfinite(d.ravel())
    plane = np.where(valid, np.where(out[t], -(gid[t] + 1), gid[t]), _INVALID)

    # links: a 1-step move lands on the neighbor's first row/col or,
    # leaving by -1, on its last (the sentinel)
    ex = np.flatnonzero(out)
    lj, li = jj[ex] + step[ex, 0], ii[ex] + step[ex, 1]
    ntx = tx + li // nc
    if wrap_nx is not None:
        ntx %= wrap_nx
    cells, keys = [ex], [(np.where(lj < 0, 0xFFFF, lj % nr) << 16)
                         | np.where(li < 0, 0xFFFF, li % nc)]
    # edges: the literal key, then the last-row / last-col / corner aliases
    b = np.flatnonzero(
        valid & ((jj == 0) | (jj == nr - 1) | (ii == 0) | (ii == nc - 1))
    )
    last_j, last_i = jj[b] == nr - 1, ii[b] == nc - 1
    for aj, ai in ((False, False), (True, False), (False, True), (True, True)):
        c = b[(last_j | (not aj)) & (last_i | (not ai))]
        cells.append(c)
        keys.append((np.where(aj, 0xFFFF, jj[c]) << 16)
                    | np.where(ai, 0xFFFF, ii[c]))
    cell = np.concatenate(cells)
    n_edge = len(cell) - len(ex)
    seam = {
        "tile_x": np.concatenate([ntx, np.full(n_edge, tx)]),
        "tile_y": np.concatenate([ty + lj // nr, np.full(n_edge, ty)]),
        "link": np.arange(len(cell)) < len(ex),
        "cellkey": np.concatenate(keys),
        "okey": gid[cell],
        "val": plane[cell],
        "cell": cell,
    }
    return rcv, plane, dc, dd, seam


def _cell_of(cellkey: np.ndarray, nr: int, nc: int) -> np.ndarray:
    """Cell index of a ``_seams`` address in the (nr, nc) tile it names
    (the receiver resolves the 0xFFFF last row/col sentinels)."""
    lj, li = cellkey >> 16, cellkey & 0xFFFF
    lj = np.where(lj == 0xFFFF, nr - 1, lj)
    return lj * nc + np.where(li == 0xFFFF, nc - 1, li)


def flow_accumulation(
    dir_tiles: DataFrame,
    T: int,
    level: int = 0,
    wrap_nx: int | None = None,
    stats: dict | None = None,
    weight_tiles: DataFrame | None = None,
    band: str = "flowacc",
) -> DataFrame:
    """D8 flow accumulation over 'flowdir' tiles (tiles schema out,
    band 'flowacc'). Planes ship at most twice; the fixpoint is
    pointer doubling over exit-cell rows (``chains.iterate``) — see
    the module docstring. ``stats`` (optional dict) records
    {'rounds': n} for plan-shape tests.

    ``weight_tiles`` switches to WEIGHTED accumulation (upstream sum of
    a weight raster — e.g. runoff/precipitation routing): each cell
    contributes its weight instead of 1. The weight plane rides the
    same per-tile join as the direction plane, so the plan shape (and
    both planes-move-at-most-twice guarantees) is unchanged. A tile
    MISSING from a sparse weight raster contributes 0 per cell (the
    same rule as NaN weights inside covered tiles), never the unit
    cell-count fallback."""
    if T >= 0xFFFF:
        raise ValueError("tile size must stay below the 0xFFFF sentinel")
    weighted = weight_tiles is not None
    base = dir_tiles.select("tile_x", "tile_y", "nrows", "ncols", "data")
    if weight_tiles is not None:
        wsel = weight_tiles.select(
            "tile_x", "tile_y", F.col("data").alias("wdata")
        )
        base = base.join(wsel, ["tile_x", "tile_y"], "left")
    else:
        base = base.withColumn(
            "wdata", F.lit(None).cast(base.schema["data"].dataType)
        )
    dirs = base.localCheckpoint(eager=True)

    def _wplane(row, nr: int, nc: int) -> np.ndarray | None:
        w = getattr(row, "wdata", None)
        if w is None or (isinstance(w, float) and pd.isna(w)):
            # weighted mode: an uncovered tile means zero contribution,
            # consistent with NaN weights in covered tiles — returning
            # None here would silently flip those cells to cell-count
            # (+1) semantics
            return np.zeros((nr, nc)) if weighted else None
        return np.asarray(w, dtype=np.float64).reshape(nr, nc)

    def stage1(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        row = pdf.iloc[0]
        nr, nc = int(row.nrows), int(row.ncols)
        d = np.asarray(row.data, dtype=np.float64).reshape(nr, nc)
        rcv, _, _, _, seam = _seams(d, key[0], key[1], T, wrap_nx)
        acc0 = _solve_tile(d, np.zeros((nr, nc)), _wplane(row, nr, nc), rcv=rcv)
        # a link's base outflow; ignored on edge rows
        seam["flow"] = acc0[seam.pop("cell")]
        return pd.DataFrame(seam)

    s1 = (
        dirs.groupBy("tile_x", "tile_y")
        .applyInPandas(stage1, _SEAM_SCHEMA + ", flow double")
        .localCheckpoint(eager=True)
    )
    links = s1.filter("link").select("tile_x", "tile_y", "cellkey", "okey", "flow")
    edges = s1.filter(~F.col("link")).select("tile_x", "tile_y", "cellkey", "val")

    # exit-cell functional graph: okey -> succ exit (null = absorbed at
    # a pit in the destination tile). Inner join: a crossing always
    # lands on a VALID edge cell of an existing tile (D8 never points
    # into nodata and never leaves the raster). A link with NO matching
    # edge row would be dropped by the inner join and its flow silently
    # lost downstream, so verify the invariant loudly first (watershed /
    # flow_length hit their paint guards on the same mismatch; this is
    # their counterpart for the accumulation path). Cheap: an anti-join
    # over the checkpointed border rows only.
    n_orphans = (
        links.join(edges, ["tile_x", "tile_y", "cellkey"], "left_anti")
        .count()
    )
    if n_orphans:
        raise RuntimeError(
            f"flow_accumulation: {n_orphans} border crossings landed on "
            "no edge row — wrap_nx mismatch between flow_direction and "
            "flow_accumulation, or direction tiles pointing into nodata"
        )
    state = links.join(edges, ["tile_x", "tile_y", "cellkey"]).select(
        "okey",
        F.col("flow").alias("e"),
        F.lit(0.0).alias("t"),
        F.when(F.col("val") < 0, -(F.col("val") + 1)).alias("p"),
    )

    # Wyllie push doubling: after k rounds t = Σ E0 over ancestors at
    # distance 1..2^k and p = succ^(2^k) (null once past the chain end)
    def double(state: DataFrame) -> DataFrame:
        recv = (
            state.filter(F.col("p").isNotNull())
            .groupBy(F.col("p").alias("okey"))
            .agg(F.sum(F.col("e") + F.col("t")).alias("add"))
        )
        nxt = state.select(F.col("okey").alias("k2"), F.col("p").alias("p2"))
        return (
            state.join(recv, "okey", "left")
            .join(nxt, F.col("p") == F.col("k2"), "left")
            .select(
                "okey", "e",
                (F.col("t") + F.coalesce("add", F.lit(0.0))).alias("t"),
                F.col("p2").alias("p"),
            )
        )

    state, rounds = chains.iterate(
        state, double, F.col("p").isNotNull(), "flow_accumulation"
    )
    if stats is not None:
        stats["rounds"] = rounds

    # total outflow per exit, scattered to its landing cell
    arrive = (
        links.select("tile_x", "tile_y", "cellkey", "okey")
        .join(
            state.select("okey", (F.col("e") + F.col("t")).alias("flow")),
            "okey",
        )
        .groupBy("tile_x", "tile_y", "cellkey")
        .agg(F.sum("flow").alias("flow"))
        .groupBy("tile_x", "tile_y")
        .agg(F.collect_list(F.struct("cellkey", "flow")).alias("infl"))
    )

    # final paint: planes move for the SECOND and last time (the join),
    # one re-solve per tile with the fully resolved external inflows
    planes = dirs.join(arrive, ["tile_x", "tile_y"], "left")

    def paint(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for row in pdf.itertuples(index=False):
                nr, nc = int(row.nrows), int(row.ncols)
                d = np.asarray(row.data, dtype=np.float64).reshape(nr, nc)
                inflow = np.zeros(nr * nc)
                m = row.infl if row.infl is not None else []
                if len(m):
                    pairs = [
                        (e_["cellkey"], e_["flow"]) if isinstance(e_, dict)
                        else (e_[0], e_[1])
                        for e_ in m
                    ]
                    packed = np.array([p_[0] for p_ in pairs], dtype=np.int64)
                    fl = np.array([p_[1] for p_ in pairs], dtype=np.float64)
                    np.add.at(inflow, _cell_of(packed, nr, nc), fl)
                acc = _solve_tile(
                    d, inflow.reshape(nr, nc), _wplane(row, nr, nc)
                )
                out.append({
                    "tile_x": row.tile_x, "tile_y": row.tile_y,
                    "level": level, "band": band,
                    "nrows": nr, "ncols": nc,
                    "data": np.where(np.isfinite(d.ravel()), acc, np.nan),
                })
            yield pd.DataFrame(
                out,
                columns=["tile_x", "tile_y", "level", "band",
                         "nrows", "ncols", "data"],
            )

    return planes.mapInPandas(paint, tiling.TILES_SCHEMA)


# ---------------------------------------------------------------------------
# Downstream resolve: watershed (W22) and flow length (W32)
# ---------------------------------------------------------------------------


def _downstream(
    dir_tiles: DataFrame,
    T: int,
    level: int,
    wrap_nx: int | None,
    bands: tuple[str, ...],
    op: str,
) -> tuple[DataFrame, int]:
    """Resolve every valid cell to its terminal pit and its cardinal /
    diagonal step counts to it; paint the requested ``bands`` among
    'watershed', 'flowlen_card' and 'flowlen_diag'. Returns (tiles,
    fixpoint rounds).

    The direction planes move exactly TWICE and the fixpoint runs over
    border-exit ROWS only:
    1. ONE applyInPandas over the planes emits each tile's ``_seams``
       rows, edge rows carrying their cell's terminal and counts;
    2. ``links ⋈ edges`` is the chain table ``okey → (pit | next okey,
       dc, dd)``, the counts being the destination entry cell's (its
       terminal exit's crossing step included); ``chains.follow``
       resolves it by Wyllie pull doubling with the counts carried,
       O(log chain) rounds of one self-join each;
    3. ONE paint join re-runs ``_seams`` per tile and maps its pending
       okeys to (pit, dc, dd) through ``chains.remap``, loud on an
       okey the chain did not resolve (a crossing that landed on no
       edge row drops out of the inner join and surfaces there)."""
    if T >= 0xFFFF:
        raise ValueError("tile size must stay below the 0xFFFF sentinel")
    dirs = dir_tiles.select(
        "tile_x", "tile_y", "nrows", "ncols", "data"
    ).localCheckpoint(eager=True)

    def codes(row) -> np.ndarray:
        nr, nc = int(row.nrows), int(row.ncols)
        return np.asarray(row.data, dtype=np.float64).reshape(nr, nc)

    def stage1(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        _, _, dc, dd, seam = _seams(codes(pdf.iloc[0]), key[0], key[1], T, wrap_nx)
        cell = seam.pop("cell")
        return pd.DataFrame({**seam, "dc": dc[cell], "dd": dd[cell]})

    s1 = (
        dirs.groupBy("tile_x", "tile_y")
        .applyInPandas(stage1, _SEAM_SCHEMA + ", dc long, dd long")
        .localCheckpoint(eager=True)
    )
    links = s1.filter("link").select("tile_x", "tile_y", "cellkey", "okey")
    edges = s1.filter(~F.col("link")).select(
        "tile_x", "tile_y", "cellkey", "val", "dc", "dd"
    )
    chain, rounds = chains.follow(
        links.join(edges, ["tile_x", "tile_y", "cellkey"]), ("dc", "dd"), op
    )

    # the chain rows are the link okeys, and an okey encodes its exit
    # cell's global coords, hence its tile
    src = chain.select(
        (F.shiftrightunsigned("okey", 32) / T).cast("int").alias("tile_y"),
        (F.col("okey").bitwiseAND(F.lit(0xFFFFFFFF)) / T)
        .cast("int").alias("tile_x"),
        "okey", "val", "dc", "dd",
    ).groupBy("tile_x", "tile_y").agg(
        F.collect_list(F.struct("okey", "val", "dc", "dd")).alias("m")
    )
    planes = dirs.join(src, ["tile_x", "tile_y"], "left")

    def paint(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for row in pdf.itertuples(index=False):
                _, term, dc, dd, _ = _seams(
                    codes(row), row.tile_x, row.tile_y, T, wrap_nx
                )
                pend = (term < 0) & (term != _INVALID)
                if pend.any():
                    pit, vdc, vdd = chains.remap(
                        -(term[pend] + 1), row.m,
                        f"{op} paint: tile ({row.tile_x},{row.tile_y})",
                    )
                    term[pend] = pit
                    dc[pend] += vdc
                    dd[pend] += vdd
                nodata = term == _INVALID
                for band, v in (
                    ("watershed", term), ("flowlen_card", dc), ("flowlen_diag", dd)
                ):
                    if band in bands:
                        out.append({
                            "tile_x": row.tile_x, "tile_y": row.tile_y,
                            "level": level, "band": band,
                            "nrows": row.nrows, "ncols": row.ncols,
                            "data": np.where(nodata, np.nan, v.astype(np.float64)),
                        })
            yield pd.DataFrame(
                out,
                columns=["tile_x", "tile_y", "level", "band",
                         "nrows", "ncols", "data"],
            )

    return planes.mapInPandas(paint, tiling.TILES_SCHEMA), rounds


def watershed(
    dir_tiles: DataFrame,
    T: int,
    level: int = 0,
    wrap_nx: int | None = None,
) -> DataFrame:
    """Basin labeling: every valid cell gets the id of the PIT its D8
    path terminates at (pit id = the pit cell's global index
    ``(gy<<32)|gx`` — deterministic and SQL-replicable; flow never
    leaves the raster, so every path ends at an in-raster pit).

    The 'watershed' band of ``_downstream``: the planes move exactly
    twice, the fixpoint runs over border-exit rows only, and the
    Spark plan is flow_length's.

    Precision note: output planes are float64 TILES_SCHEMA, exact while
    gid < 2^53 (raster height < 2^21 rows); the internal pipeline is
    int64 throughout.
    """
    return _downstream(dir_tiles, T, level, wrap_nx, ("watershed",), "watershed")[0]


def flow_length(
    dir_tiles: DataFrame,
    T: int,
    level: int = 0,
    wrap_nx: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Downstream flow length: for every valid cell, the along-path
    distance to its terminal pit on the D8 graph (ESRI FlowLength,
    downstream flavor). Pinned semantics, mirrored by the oracle:

    - a cardinal step counts 1, a diagonal step sqrt(2); the result is
      reported as TWO exact-integer bands — ``flowlen_card`` (cardinal
      step count) and ``flowlen_diag`` (diagonal step count), so the
      length ``n_card + sqrt(2) * n_diag`` carries no float-sum-order
      exposure anywhere in the distributed pipeline or the value hash;
    - pits/flats (code 0) have length 0; invalid cells are NaN; flow
      never leaves the raster (flow_direction only ever picks in-raster
      neighbors), so every path terminates at an in-raster pit.

    The two count bands of ``_downstream`` (watershed's plan: planes
    ship exactly twice, the fixpoint runs over border-exit rows only).
    ``stats`` (optional dict) records {'rounds': n} for plan-shape
    tests.
    """
    out, rounds = _downstream(
        dir_tiles, T, level, wrap_nx, ("flowlen_card", "flowlen_diag"),
        "flow_length",
    )
    if stats is not None:
        stats["rounds"] = rounds
    return out


# ---------------------------------------------------------------------------
# Strahler stream order (stream network extraction)
# ---------------------------------------------------------------------------


def strahler(
    dir_tiles: DataFrame,
    acc_tiles: DataFrame,
    T: int,
    threshold: float = 8.0,
    level: int = 0,
    wrap_nx: int | None = None,
) -> DataFrame:
    """Strahler stream order over the extracted stream network (tiles
    schema out, band 'strahler').

    Pinned semantics (mirrored by the DuckDB oracle):
    - the stream NETWORK is the set of valid cells with flow
      accumulation >= ``threshold``; accumulation is monotone
      non-decreasing downstream, so the network is closed under the D8
      successor map (a network cell's receiver is a network cell);
    - order 1 at network cells with no network inflow; at every other
      cell, order = max over network inflow orders, +1 when >= 2
      inflows attain that max (the classic Strahler confluence rule —
      order is constant along a chain and only changes at junctions);
    - output plane: order for network cells, 0 for valid non-network
      cells, NaN for nodata.

    Scale design — planes ship at most twice, every fixpoint runs over
    NETWORK ROWS, and the round count is (max order) x O(log n), NOT
    the junction depth of the longest stream:
    1. ONE tile-key join of the direction and accumulation planes +
       mapInPandas extracts the network as (gid, succ_gid) edge rows —
       global ids need no neighbor handshake, so no sentinel protocol;
    2. level-set characterization: with S_k = {cells of order >= k},
       S_1 = network and S_{k+1} = the downstream closure of the
       junctions having >= 2 immediate inflows in S_k (exact because
       Strahler order is non-decreasing downstream; the same unrolled
       form the DuckDB oracle uses). ord(c) = 1 + #{k : c in S_{k+1}}.
       The closure is an IDEMPOTENT mark propagation, so it runs over
       precomputed pointer-doubling jump tables P_r = succ^(2^r)
       (built once, reused by every level): ceil(log2 n) mark rounds
       per level, and #levels = max order (<= ~12 on any real DEM);
    3. ONE paint join back onto the direction planes (second and last
       plane movement).

    With ``wrap_nx`` the x axis is modular; global x wraps at
    ``wrap_nx * T``, so wrapped rasters must be x-regular (every tile
    column T wide — enforced with a loud raise in the kernel).
    """
    if T >= 0xFFFF:
        raise ValueError("tile size must stay below the 0xFFFF sentinel")
    wrap_gw = None if wrap_nx is None else wrap_nx * T

    dirs = dir_tiles.select(
        "tile_x", "tile_y", "nrows", "ncols", "data"
    ).localCheckpoint(eager=True)
    joined = dirs.join(
        acc_tiles.select(
            "tile_x", "tile_y", F.col("data").alias("acc_data")
        ),
        ["tile_x", "tile_y"],
    )

    theta = float(threshold)

    def extract(pdf_iter):
        for pdf in pdf_iter:
            outs = []
            for row in pdf.itertuples(index=False):
                nr, nc = int(row.nrows), int(row.ncols)
                if wrap_gw is not None and nc != T:
                    # a bare assert would vanish under python -O and the
                    # modular gx arithmetic below would then corrupt
                    # succ gids silently on ragged wrapped rasters
                    raise ValueError(
                        "strahler: wrap_nx requires x-regular tiles "
                        f"(ncols == T == {T}); tile ({row.tile_x},"
                        f"{row.tile_y}) has ncols={nc}"
                    )
                d = np.asarray(row.data, dtype=np.float64).reshape(nr, nc)
                a = np.asarray(row.acc_data, dtype=np.float64)
                net = np.isfinite(a) & (a >= theta)
                if not net.any():
                    continue
                idx = np.flatnonzero(net)
                jj, ii = np.divmod(idx, nc)
                gy = np.int64(row.tile_y) * T + jj.astype(np.int64)
                gx = np.int64(row.tile_x) * T + ii.astype(np.int64)
                gid = (gy << 32) | gx
                step = _receivers(d)[4][idx]
                sgy = gy + step[:, 0]
                sgx = gx + step[:, 1]
                if wrap_gw is not None:
                    sgx %= wrap_gw
                succ = (sgy << 32) | sgx
                outs.append(pd.DataFrame({
                    "gid": gid,
                    "succ": np.where(step.any(axis=1), succ, None),
                }))
            yield (
                pd.concat(outs)
                if outs
                else pd.DataFrame({"gid": [], "succ": []})
            )

    edges = (
        joined.mapInPandas(extract, "gid long, succ long")
        .localCheckpoint(eager=True)
    )
    n_net = edges.count()
    if n_net == 0:
        # no network: all-zero plane over valid cells
        return dirs.mapInPandas(
            lambda it: (
                pd.DataFrame([{
                    "tile_x": r.tile_x, "tile_y": r.tile_y,
                    "level": level, "band": "strahler",
                    "nrows": r.nrows, "ncols": r.ncols,
                    "data": np.where(
                        np.isfinite(np.asarray(r.data, dtype=np.float64)),
                        0.0, np.nan,
                    ),
                } for r in pdf.itertuples(index=False)])
                for pdf in it
            ),
            tiling.TILES_SCHEMA,
        )

    # jump tables P_r = succ^(2^r), built once by pointer doubling and
    # reused by every level's closure; chains are at most n cells, so
    # ceil(log2 n) tables always cover the longest path
    n_jumps = max(1, int(np.ceil(np.log2(max(n_net, 2)))))
    jumps = [chains.checkpoint(edges.select("gid", F.col("succ").alias("p")))]
    for _ in range(n_jumps - 1):
        prev = jumps[-1]
        nxt = prev.select(F.col("gid").alias("k2"), F.col("p").alias("p2"))
        jumps.append(chains.checkpoint(
            prev.join(nxt, prev.p == F.col("k2"), "left")
            .select("gid", F.col("p2").alias("p"))
        ))

    preds = edges.filter(F.col("succ").isNotNull()).select(
        F.col("succ").alias("dst"), F.col("gid").alias("src")
    )

    def junctions(pk: DataFrame) -> DataFrame:
        return (
            pk.groupBy("dst")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") >= 2)
            .select(F.col("dst").alias("gid"))
        )

    # level loop: S_1 = network; the state is the junction set fed by
    # >= 2 S_k inflows, and a round marks its downstream closure
    # (idempotent, so one join per jump table) -> S_{k+1}, then finds
    # the next level's junctions. No junctions left = max order reached
    level_sets: list[DataFrame] = []

    def next_level(junc: DataFrame) -> DataFrame:
        m = junc
        for Pr in jumps:
            add = (
                m.join(Pr, "gid")
                .filter(F.col("p").isNotNull())
                .select(F.col("p").alias("gid"))
            )
            m = chains.checkpoint(m.unionByName(add).distinct())
        level_sets.append(m)
        return junctions(preds.join(m, preds.src == m.gid, "left_semi"))

    chains.iterate(junctions(preds), next_level, F.lit(True), "strahler")

    # ord(c) = 1 + number of level sets containing c
    cell_ord = edges.select("gid")
    if level_sets:
        extra = None
        for s in level_sets:
            extra = s if extra is None else extra.unionByName(s)
        extra = extra.groupBy("gid").agg(F.count("*").alias("extra"))
        cell_ord = cell_ord.join(extra, "gid", "left")
    else:
        cell_ord = cell_ord.withColumn("extra", F.lit(None).cast("long"))
    cell_ord = cell_ord.select(
        "gid",
        (F.lit(1) + F.coalesce("extra", F.lit(0))).cast("long").alias("ord"),
    )

    # paint: second and last plane movement
    per_tile = (
        cell_ord.select(
            (F.shiftrightunsigned("gid", 32) / T).cast("int").alias("tile_y"),
            (
                F.col("gid").bitwiseAND(F.lit(0xFFFFFFFF)) / T
            ).cast("int").alias("tile_x"),
            "gid", "ord",
        )
        .groupBy("tile_x", "tile_y")
        .agg(F.collect_list(F.struct("gid", "ord")).alias("m"))
    )
    planes = dirs.join(per_tile, ["tile_x", "tile_y"], "left")

    def paint(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for row in pdf.itertuples(index=False):
                nr, nc = int(row.nrows), int(row.ncols)
                d = np.asarray(row.data, dtype=np.float64).reshape(nr, nc)
                data = np.where(np.isfinite(d.ravel()), 0.0, np.nan)
                m = row.m if row.m is not None else []
                if len(m):
                    pairs = [
                        (e_["gid"], e_["ord"]) if isinstance(e_, dict)
                        else (e_[0], e_[1])
                        for e_ in m
                    ]
                    g = np.array([p_[0] for p_ in pairs], dtype=np.int64)
                    o = np.array([p_[1] for p_ in pairs], dtype=np.float64)
                    lj = (g >> 32) - np.int64(row.tile_y) * T
                    li = (g & 0xFFFFFFFF) - np.int64(row.tile_x) * T
                    data[lj * nc + li] = o
                out.append({
                    "tile_x": row.tile_x, "tile_y": row.tile_y,
                    "level": level, "band": "strahler",
                    "nrows": nr, "ncols": nc, "data": data,
                })
            yield pd.DataFrame(
                out,
                columns=["tile_x", "tile_y", "level", "band",
                         "nrows", "ncols", "data"],
            )

    return planes.mapInPandas(paint, tiling.TILES_SCHEMA)


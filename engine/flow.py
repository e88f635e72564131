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
   in-tile accumulation with ZERO external inflow, and pointer jumping
   resolves every cell's in-tile terminal. Emitted per tile: one LINK
   row per border-exit cell (exit gid ``okey``, its base outflow
   ``E0 = acc0[exit]``, and the destination tile/cell it crosses into)
   plus one EDGE row per valid border cell classifying its in-tile
   terminal (pit gid, or pending on an exit okey) — the same
   sentinel-aliased encoding as watershed below.
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
   do the watershed, flow-length and Strahler fixpoints below: one
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


_CODE2OFF = {c: (dj, di) for c, dj, di, _ in D8_OFFSETS}


def _receivers(dirs: np.ndarray):
    """(recv linear index or -1, exits-the-tile mask, jj, ii) for a
    tile of D8 codes."""
    nr, nc = dirs.shape
    n = nr * nc
    d = dirs.ravel()
    valid = np.isfinite(d)
    recv = np.full(n, -1, dtype=np.int64)
    out_mask = np.zeros(n, dtype=bool)
    jj, ii = np.divmod(np.arange(n), nc)
    for c, (dj, di) in _CODE2OFF.items():
        sel = valid & (d == c)
        tj, ti = jj[sel] + dj, ii[sel] + di
        inside = (tj >= 0) & (tj < nr) & (ti >= 0) & (ti < nc)
        idx = np.flatnonzero(sel)
        recv[idx[inside]] = tj[inside] * nc + ti[inside]
        out_mask[idx[~inside]] = True
    return recv, out_mask, jj, ii


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


_ACC_BORDER_SCHEMA = (
    "tile_x int, tile_y int, kind string, cellkey long, okey long, "
    "val long, flow double"
)


def _border_dst(tx, ty, nr, nc, jj, ii, cell, code, wrap_nx):
    """Destination addressing for a border-exit ``cell``: the neighbor
    tile and the packed local cell index in the NEIGHBOR's frame
    (0xFFFF sentinel = its last row/col — the emitter cannot know a
    ragged neighbor's size)."""
    dj, di = _CODE2OFF[code]
    tj, ti = jj[cell] + dj, ii[cell] + di
    dty, dtx = 0, 0
    if tj < 0:
        dty, tj = -1, 0xFFFF
    elif tj >= nr:
        dty, tj = 1, tj - nr  # always 0 for a 1-step D8 move
    if ti < 0:
        dtx, ti = -1, 0xFFFF
    elif ti >= nc:
        dtx, ti = 1, ti - nc
    ntx = tx + dtx
    if wrap_nx is not None:
        ntx %= wrap_nx
    return ntx, ty + dty, int((int(tj) << 16) | int(ti))


def _alias_cellkeys(lj: int, li: int, nr: int, nc: int) -> list[int]:
    """Every packed cellkey a neighbor's link may address this border
    cell by: the literal (lj, li) plus the 0xFFFF "last row/col"
    sentinel aliases (the emitter cannot know a ragged neighbor's
    dims — _border_dst's counterpart on the receiving side)."""
    jkeys = {lj} | ({0xFFFF} if lj == nr - 1 else set())
    ikeys = {li} | ({0xFFFF} if li == nc - 1 else set())
    return [int((kj << 16) | ki) for kj in jkeys for ki in ikeys]


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
        tx, ty = int(key[0]), int(key[1])
        rcv = _receivers(d)
        recv, out_mask, jj, ii = rcv
        acc0 = _solve_tile(d, np.zeros((nr, nc)), _wplane(row, nr, nc), rcv=rcv)
        n = nr * nc
        valid = np.isfinite(d.ravel())
        # in-tile terminal of every cell (pointer jumping)
        t = np.where(recv >= 0, recv, np.arange(n))
        while True:
            t2 = t[t]
            if np.array_equal(t2, t):
                break
            t = t2
        gy = np.int64(ty) * T + jj
        gx = np.int64(tx) * T + ii
        gid = (gy.astype(np.int64) << 32) | gx.astype(np.int64)
        term_is_exit = out_mask[t]
        rows = []
        dflat = d.ravel()
        # LINK rows: one per exit cell — okey, base outflow, destination
        for cell in np.flatnonzero(out_mask):
            ntx, nty, cellkey = _border_dst(
                tx, ty, nr, nc, jj, ii, cell, int(dflat[cell]), wrap_nx
            )
            rows.append({
                "tile_x": ntx, "tile_y": nty, "kind": "link",
                "cellkey": cellkey, "okey": int(gid[cell]),
                "val": None, "flow": float(acc0[cell]),
            })
        # EDGE rows: terminal classification of every valid border cell
        # (sentinel aliases for last row/col, as in watershed)
        edge_cells = np.flatnonzero(
            valid
            & ((jj == 0) | (jj == nr - 1) | (ii == 0) | (ii == nc - 1))
        )
        for cell in edge_cells:
            v = (
                -(int(gid[t[cell]]) + 1)
                if term_is_exit[cell]
                else int(gid[t[cell]])
            )
            for ck in _alias_cellkeys(int(jj[cell]), int(ii[cell]), nr, nc):
                rows.append({
                    "tile_x": tx, "tile_y": ty, "kind": "edge",
                    "cellkey": ck,
                    "okey": None, "val": v, "flow": None,
                })
        return pd.DataFrame(
            rows,
            columns=["tile_x", "tile_y", "kind", "cellkey", "okey",
                     "val", "flow"],
        )

    s1 = (
        dirs.groupBy("tile_x", "tile_y")
        .applyInPandas(stage1, _ACC_BORDER_SCHEMA)
        .localCheckpoint(eager=True)
    )
    links = s1.filter(F.col("kind") == "link").select(
        "tile_x", "tile_y", "cellkey", "okey", "flow"
    )
    edges = s1.filter(F.col("kind") == "edge").select(
        "tile_x", "tile_y", "cellkey", "val"
    )

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
                    tj = packed >> 16
                    ti = packed & 0xFFFF
                    tj = np.where(tj == 0xFFFF, nr - 1, tj)
                    ti = np.where(ti == 0xFFFF, nc - 1, ti)
                    np.add.at(inflow, tj * nc + ti, fl)
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
# Watershed delineation (basin labeling)
# ---------------------------------------------------------------------------

_WS_STAGE1_SCHEMA = (
    "tile_x int, tile_y int, kind string, nrows int, ncols int, "
    "plane binary, cellkey long, okey long, val long"
)


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

    Scale design — the planes are touched exactly TWICE and never
    re-shipped per round:
    1. ONE applyInPandas over the direction tiles: in-tile pointer
       jumping (``t = t[t]``, O(log path) vectorized gathers) resolves
       each cell to its in-tile terminal — a pit (resolved gid) or a
       border-exit cell (pending). Emits the packed int64 terminal
       plane (pending encoded as ``-(okey+1)``), one LINK row per exit
       cell (okey → destination tile/cell), and this tile's EDGE-cell
       classifications (incl. last-row/col sentinel aliases, so a
       ragged neighbor's link can join them without knowing our dims).
    2. links ⋈ edges gives the chain table okey → (gid | next okey);
       ``chains.follow`` pointer-jumps the CHAIN TABLE (rows ∝
       border-exit cells, not cells) with one self-join per round,
       O(log chain) rounds, localCheckpoint-bounded lineage.
    3. ONE paint join maps each tile's pending okeys to final gids
       (``chains.remap`` next to the payload, as the patch relabel
       does).

    Precision note: output planes are float64 TILES_SCHEMA, exact while
    gid < 2^53 (raster height < 2^21 rows); the internal pipeline is
    int64 throughout.
    """
    if T >= 0xFFFF:
        raise ValueError("tile size must stay below the 0xFFFF sentinel")
    dirs = dir_tiles.select(
        "tile_x", "tile_y", "nrows", "ncols", "data"
    ).localCheckpoint(eager=True)

    def stage1(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        row = pdf.iloc[0]
        nr, nc = int(row.nrows), int(row.ncols)
        d = np.asarray(row.data, dtype=np.float64).reshape(nr, nc)
        tx, ty = int(key[0]), int(key[1])
        recv, out_mask, jj, ii = _receivers(d)
        n = nr * nc
        valid = np.isfinite(d.ravel())
        # pointer jumping to the in-tile terminal (recv<0 cells fix themselves)
        t = np.where(recv >= 0, recv, np.arange(n))
        while True:
            t2 = t[t]
            if np.array_equal(t2, t):
                break
            t = t2
        gy = np.int64(ty) * T + jj
        gx = np.int64(tx) * T + ii
        gid = (gy.astype(np.int64) << 32) | gx.astype(np.int64)
        term = t  # terminal cell index per cell
        term_is_exit = out_mask[term]
        # plane value: pit gid, or -(okey+1) with okey = exit cell's gid
        plane = np.where(term_is_exit, -(gid[term] + 1), gid[term])
        plane = np.where(valid, plane, np.int64(-(2**62)))  # invalid marker
        rows = [{
            "tile_x": tx, "tile_y": ty, "kind": "plane",
            "nrows": nr, "ncols": nc,
            "plane": plane.astype("<i8").tobytes(),
            "cellkey": None, "okey": None, "val": None,
        }]
        # links: one row per exit cell
        for cell in np.flatnonzero(out_mask):
            ntx, nty, cellkey = _border_dst(
                tx, ty, nr, nc, jj, ii, cell, int(d.ravel()[cell]), wrap_nx
            )
            rows.append({
                "tile_x": ntx, "tile_y": nty, "kind": "link",
                "nrows": None, "ncols": None, "plane": None,
                "cellkey": cellkey,
                "okey": int(gid[cell]), "val": None,
            })
        # edge classifications (with sentinel aliases for last row/col)
        edge_cells = np.flatnonzero(
            valid
            & ((jj == 0) | (jj == nr - 1) | (ii == 0) | (ii == nc - 1))
        )
        for cell in edge_cells:
            v = int(gid[term[cell]]) if not term_is_exit[cell] else -(int(gid[term[cell]]) + 1)
            for ck in _alias_cellkeys(int(jj[cell]), int(ii[cell]), nr, nc):
                rows.append({
                    "tile_x": tx, "tile_y": ty, "kind": "edge",
                    "nrows": None, "ncols": None, "plane": None,
                    "cellkey": ck,
                    "okey": None, "val": v,
                })
        return pd.DataFrame(
            rows,
            columns=["tile_x", "tile_y", "kind", "nrows", "ncols",
                     "plane", "cellkey", "okey", "val"],
        )

    s1 = (
        dirs.groupBy("tile_x", "tile_y")
        .applyInPandas(stage1, _WS_STAGE1_SCHEMA)
        .localCheckpoint(eager=True)
    )
    links = s1.filter(F.col("kind") == "link").select(
        "tile_x", "tile_y", "cellkey", "okey"
    )
    edges = s1.filter(F.col("kind") == "edge").select(
        "tile_x", "tile_y", "cellkey", "val"
    )
    # chain table: okey -> val (>=0 final gid; <0 pending on -(val+1)),
    # resolved by pull doubling — O(log chain) rounds over exit rows
    chain, _ = chains.follow(
        links.join(edges, ["tile_x", "tile_y", "cellkey"]), (), "watershed"
    )

    # paint: per-tile pending okeys -> final gid, remapped next to the
    # payload. chain rows ARE exactly the link okeys (links ⋈ edges
    # preserves them one-to-one; a missing edge row is caught loudly by
    # the paint guard), so the resolved chain is already the map.
    tile_map = chain.select("okey", "val")
    # okey encodes the source cell's global coords -> source tile
    src = tile_map.select(
        (F.shiftrightunsigned("okey", 32) / T).cast("int").alias("tile_y"),
        (F.col("okey").bitwiseAND(F.lit(0xFFFFFFFF)) / T).cast("int").alias("tile_x"),
        "okey", "val",
    ).groupBy("tile_x", "tile_y").agg(
        F.collect_list(F.struct("okey", "val")).alias("m")
    )

    planes = s1.filter(F.col("kind") == "plane").select(
        "tile_x", "tile_y", "nrows", "ncols", "plane"
    ).join(src, ["tile_x", "tile_y"], "left")

    def paint(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for row in pdf.itertuples(index=False):
                nr, nc = int(row.nrows), int(row.ncols)
                plane = np.frombuffer(row.plane, dtype="<i8")
                data = np.full(len(plane), np.nan)
                resolved = plane >= 0
                data[resolved] = plane[resolved].astype(np.float64)
                pend = (plane < 0) & (plane != -(2**62))
                if pend.any():
                    (vv,) = chains.remap(
                        -(plane[pend] + 1), row.m,
                        f"watershed paint: tile ({row.tile_x},{row.tile_y})",
                    )
                    data[pend] = vv.astype(np.float64)
                out.append({
                    "tile_x": row.tile_x, "tile_y": row.tile_y,
                    "level": level, "band": "watershed",
                    "nrows": nr, "ncols": nc, "data": data,
                })
            yield pd.DataFrame(
                out,
                columns=["tile_x", "tile_y", "level", "band",
                         "nrows", "ncols", "data"],
            )

    return planes.mapInPandas(paint, tiling.TILES_SCHEMA)


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
                code = d.ravel()[idx].astype(np.int64)
                sgy = gy.copy()
                sgx = gx.copy()
                for c, (dj, di) in _CODE2OFF.items():
                    sel = code == c
                    sgy[sel] += dj
                    sgx[sel] += di
                if wrap_gw is not None:
                    sgx %= wrap_gw
                succ = (sgy << 32) | sgx
                outs.append(pd.DataFrame({
                    "gid": gid,
                    "succ": np.where(code == 0, None, succ),
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


# ---------------------------------------------------------------------------
# Downstream flow length (W32, round 4)
# ---------------------------------------------------------------------------

_FL_STAGE1_SCHEMA = (
    "tile_x int, tile_y int, kind string, nrows int, ncols int, "
    "plane binary, pcard binary, pdiag binary, cellkey long, okey long, "
    "val long, dc long, dd long"
)

_DIAG_CODES = (2, 8, 32, 128)


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

    Scale design — the watershed chain-table treatment applied to the
    (count, count) sum: planes ship exactly TWICE, the fixpoint runs
    over border-exit ROWS only.

    1. ONE applyInPandas over the direction planes: in-tile Wyllie
       pointer doubling WITH CARRIED COUNTS (``d += d[t]; t = t[t]``)
       resolves every cell's step counts to its in-tile terminal — a
       pit (resolved) or a border-exit cell (pending). Emits the packed
       terminal plane (watershed's encoding) + two int64 count planes,
       one LINK row per exit cell (okey → destination tile/cell, the
       exit step's own class), and sentinel-aliased EDGE rows
       classifying each border cell (terminal encode + its in-tile
       counts).
    2. links ⋈ edges condenses the raster to chain rows
       ``okey → (dc, dd, pit | next okey)`` with dc/dd = the exit step
       plus the destination entry cell's in-tile counts;
       ``chains.follow`` (Wyllie pointer doubling with carried sums)
       resolves every chain in O(log chain) rounds — one self-join per
       round over exit rows only, localCheckpoint-bounded lineage.
    3. ONE paint join maps pending okeys to final (dc, dd) next to the
       payload (``chains.remap``, loud on an unresolved okey) and emits
       both bands.
    """
    if T >= 0xFFFF:
        raise ValueError("tile size must stay below the 0xFFFF sentinel")
    dirs = dir_tiles.select(
        "tile_x", "tile_y", "nrows", "ncols", "data"
    ).localCheckpoint(eager=True)

    def stage1(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        row = pdf.iloc[0]
        nr, nc = int(row.nrows), int(row.ncols)
        d = np.asarray(row.data, dtype=np.float64).reshape(nr, nc)
        tx, ty = int(key[0]), int(key[1])
        recv, out_mask, jj, ii = _receivers(d)
        n = nr * nc
        codes = d.ravel()
        valid = np.isfinite(codes)
        has_recv = recv >= 0
        diag = np.isin(codes, _DIAG_CODES) & has_recv
        dc = np.where(has_recv & ~diag, np.int64(1), np.int64(0))
        dd = np.where(diag, np.int64(1), np.int64(0))
        t = np.where(has_recv, recv, np.arange(n))
        while True:
            dc = dc + dc[t]
            dd = dd + dd[t]
            t2 = t[t]
            if np.array_equal(t2, t):
                break
            t = t2
        gy = np.int64(ty) * T + jj
        gx = np.int64(tx) * T + ii
        gid = (gy.astype(np.int64) << 32) | gx.astype(np.int64)
        term = t
        term_is_exit = out_mask[term]
        plane = np.where(term_is_exit, -(gid[term] + 1), gid[term])
        plane = np.where(valid, plane, np.int64(-(2**62)))
        rows = [{
            "tile_x": tx, "tile_y": ty, "kind": "plane",
            "nrows": nr, "ncols": nc,
            "plane": plane.astype("<i8").tobytes(),
            "pcard": dc.astype("<i8").tobytes(),
            "pdiag": dd.astype("<i8").tobytes(),
            "cellkey": None, "okey": None, "val": None,
            "dc": None, "dd": None,
        }]
        for cell in np.flatnonzero(out_mask):
            code = int(codes[cell])
            ntx, nty, cellkey = _border_dst(
                tx, ty, nr, nc, jj, ii, cell, code, wrap_nx
            )
            step_diag = code in _DIAG_CODES
            rows.append({
                "tile_x": ntx, "tile_y": nty, "kind": "link",
                "nrows": None, "ncols": None, "plane": None,
                "pcard": None, "pdiag": None,
                "cellkey": cellkey, "okey": int(gid[cell]), "val": None,
                "dc": 0 if step_diag else 1, "dd": 1 if step_diag else 0,
            })
        edge_cells = np.flatnonzero(
            valid
            & ((jj == 0) | (jj == nr - 1) | (ii == 0) | (ii == nc - 1))
        )
        for cell in edge_cells:
            v = (
                -(int(gid[term[cell]]) + 1)
                if term_is_exit[cell]
                else int(gid[term[cell]])
            )
            for ck in _alias_cellkeys(int(jj[cell]), int(ii[cell]), nr, nc):
                rows.append({
                    "tile_x": tx, "tile_y": ty, "kind": "edge",
                    "nrows": None, "ncols": None, "plane": None,
                    "pcard": None, "pdiag": None,
                    "cellkey": ck,
                    "okey": None, "val": v,
                    "dc": int(dc[cell]), "dd": int(dd[cell]),
                })
        return pd.DataFrame(
            rows,
            columns=["tile_x", "tile_y", "kind", "nrows", "ncols",
                     "plane", "pcard", "pdiag", "cellkey", "okey",
                     "val", "dc", "dd"],
        )

    s1 = (
        dirs.groupBy("tile_x", "tile_y")
        .applyInPandas(stage1, _FL_STAGE1_SCHEMA)
        .localCheckpoint(eager=True)
    )
    links = s1.filter(F.col("kind") == "link").select(
        "tile_x", "tile_y", "cellkey", "okey",
        F.col("dc").alias("ldc"), F.col("dd").alias("ldd"),
    )
    edges = s1.filter(F.col("kind") == "edge").select(
        "tile_x", "tile_y", "cellkey", "val", "dc", "dd"
    )
    # chain rows: okey -> (counts incl. the exit step + the entry
    # cell's in-tile counts; val >= 0 resolved / -(next okey + 1)),
    # resolved by pull doubling with the counts carried
    chain, rounds = chains.follow(
        links.join(edges, ["tile_x", "tile_y", "cellkey"]).select(
            "okey",
            "val",
            (F.col("ldc") + F.col("dc")).alias("dc"),
            (F.col("ldd") + F.col("dd")).alias("dd"),
        ),
        ("dc", "dd"),
        "flow_length",
    )
    if stats is not None:
        stats["rounds"] = rounds

    # chain rows ARE exactly the link okeys (links ⋈ edges preserves
    # them one-to-one; a missing edge row is caught loudly by the paint
    # guard), so the resolved chain is already the okey → counts map
    tile_map = chain.select("okey", "dc", "dd")
    src = tile_map.select(
        (F.shiftrightunsigned("okey", 32) / T).cast("int").alias("tile_y"),
        (F.col("okey").bitwiseAND(F.lit(0xFFFFFFFF)) / T)
        .cast("int").alias("tile_x"),
        "okey", "dc", "dd",
    ).groupBy("tile_x", "tile_y").agg(
        F.collect_list(F.struct("okey", "dc", "dd")).alias("m")
    )

    planes = s1.filter(F.col("kind") == "plane").select(
        "tile_x", "tile_y", "nrows", "ncols", "plane", "pcard", "pdiag"
    ).join(src, ["tile_x", "tile_y"], "left")

    def paint(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for row in pdf.itertuples(index=False):
                nr, nc = int(row.nrows), int(row.ncols)
                plane = np.frombuffer(row.plane, dtype="<i8")
                pcard = np.frombuffer(row.pcard, dtype="<i8").astype(
                    np.float64
                )
                pdiag = np.frombuffer(row.pdiag, dtype="<i8").astype(
                    np.float64
                )
                invalid = plane == -(2**62)
                card = np.where(invalid, np.nan, pcard)
                diagp = np.where(invalid, np.nan, pdiag)
                pend = (plane < 0) & ~invalid
                if pend.any():
                    vdc, vdd = chains.remap(
                        -(plane[pend] + 1), row.m,
                        f"flow_length paint: tile ({row.tile_x},{row.tile_y})",
                    )
                    card[pend] = card[pend] + vdc
                    diagp[pend] = diagp[pend] + vdd
                for band, data in (
                    ("flowlen_card", card), ("flowlen_diag", diagp)
                ):
                    out.append({
                        "tile_x": row.tile_x, "tile_y": row.tile_y,
                        "level": level, "band": band,
                        "nrows": nr, "ncols": nc, "data": data,
                    })
            yield pd.DataFrame(
                out,
                columns=["tile_x", "tile_y", "level", "band",
                         "nrows", "ncols", "data"],
            )

    return planes.mapInPandas(paint, tiling.TILES_SCHEMA)

"""Zonal statistics: per-zone aggregates of a value raster (A-family
extension; the classic companion of focal stats in every raster
engine).

Scale design (the part that matters at 100 TB): statistics are
decomposable, so ONE Arrow pass computes per-(tile, zone) partials —
the raster never leaves its tiles and the only shuffle is the tiny
per-zone final merge (#zones rows per tile, not T^2). This is the same
partial+final shape Catalyst generates for a hash aggregate, expressed
at tile granularity because the inputs are packed tile payloads rather
than cell rows. Every pass runs on one of the two tile runners:
two-band partials (``zonal_stats``, ``cross_tab``) in the co-located
band group ``tiling.halo_map(g=0)``, one-band scans (``moments``,
histograms, quantile rounds, zone painting) in ``tiling.map_tiles``,
and ``zonal_geometry`` in a 1-deep halo group. Zones defined by
polygons reduce to this: rasterize the polygon ids (J1 cover join +
A2) into a zone band, then run ``zonal_stats``.

Pinned semantics:
- zone ids are the integer cast of the zone band's cell values;
- a cell contributes iff BOTH its zone and its value are valid
  (non-NaN); empty zones don't appear;
- mean = sum/count at extract time (one division, SQL-replicable).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from engine import tiling

__all__ = [
    "cross_tab",
    "global_stats",
    "moments",
    "quantile_exact",
    "raster_histogram",
    "rasterize_zones",
    "zonal_categorical",
    "zonal_geometry",
    "zonal_percentile",
    "zonal_stats",
]


def zonal_stats(
    tiles: DataFrame,
    T: int,
    zone_band: str = "zone",
    value_band: str = "z",
) -> DataFrame:
    """tiles (two bands per tile) -> one row per zone:
    (zone, n_cells, z_sum, z_mean, z_min, z_max), sums/extrema rounded
    to 4 decimals (the oracle convention for float-hash stability)."""
    both = tiles.filter(F.col("band").isin([zone_band, value_band]))

    def partials(tx: int, ty: int, bands: dict, nr: int, nc: int) -> dict | None:
        if zone_band not in bands or value_band not in bands:
            return None
        zone, val = bands[zone_band], bands[value_band]
        ok = np.isfinite(zone) & np.isfinite(val)
        uniq, inv = np.unique(zone[ok].astype(np.int64), return_inverse=True)
        v = val[ok]
        mn = np.full(len(uniq), np.inf)
        mx = np.full(len(uniq), -np.inf)
        np.minimum.at(mn, inv, v)
        np.maximum.at(mx, inv, v)
        return {
            "zone": uniq, "n": np.bincount(inv), "s": np.bincount(inv, weights=v),
            "mn": mn, "mx": mx,
        }

    part = tiling.halo_map(
        both, T, 0, None, partials, "zone long, n long, s double, mn double, mx double"
    )
    return (
        part.groupBy("zone")
        .agg(
            F.sum("n").alias("n_cells"),
            F.round(F.sum("s"), 4).alias("z_sum"),
            F.round(F.sum("s") / F.sum("n"), 4).alias("z_mean"),
            F.round(F.min("mn"), 4).alias("z_min"),
            F.round(F.max("mx"), 4).alias("z_max"),
        )
    )


def cross_tab(
    tiles: DataFrame,
    T: int,
    band_a: str,
    band_b: str,
) -> DataFrame:
    """Tabulate-area / combine (round 3): cell-count cross-tabulation of
    two co-registered class bands — one row per (class_a, class_b) pair.

    Same partial+final shape as zonal_stats: per-tile pair-code
    bincount in NumPy (one co-located band group, the rasters never
    leave their tiles), then a per-pair final sum — shuffle rows ∝
    distinct pairs per tile, not T². A cell contributes iff BOTH bands
    are valid.
    """
    both = tiles.filter(F.col("band").isin([band_a, band_b]))

    def partials(tx: int, ty: int, bands: dict, nr: int, nc: int) -> dict | None:
        if band_a not in bands or band_b not in bands:
            return None
        a, b = bands[band_a], bands[band_b]
        ok = np.isfinite(a) & np.isfinite(b)
        pairs = np.stack([a[ok].astype(np.int64), b[ok].astype(np.int64)], axis=1)
        uniq, cnt = np.unique(pairs, axis=0, return_counts=True)
        return {"ca": uniq[:, 0], "cb": uniq[:, 1], "n": cnt}

    part = tiling.halo_map(both, T, 0, None, partials, "ca long, cb long, n long")
    return part.groupBy("ca", "cb").agg(F.sum("n").alias("n_cells"))


def zonal_categorical(
    tiles: DataFrame,
    T: int,
    zone_band: str = "zone",
    class_band: str = "cls",
) -> DataFrame:
    """Per-zone categorical statistics over an int class band (round
    4; the ESRI ZonalStatistics MAJORITY/MINORITY/VARIETY family):
    one row per zone with (n_cells, majority, minority, variety).
    Pinned tie rule: equal counts -> the LOWEST class value wins (both
    for majority and minority); variety = distinct classes present.

    Built ON cross_tab's per-(zone, class) partial+final counts — the
    rasters never leave their tiles, the shuffle is ∝ distinct
    (zone, class) pairs, and the window ranking below runs over that
    pair table (rows ∝ zones × classes, never cells)."""
    from pyspark.sql import Window

    pairs = cross_tab(tiles, T, zone_band, class_band).select(
        F.col("ca").alias("zone"),
        F.col("cb").alias("cls"),
        F.col("n_cells").alias("n"),
    )
    wmaj = Window.partitionBy("zone").orderBy(
        F.col("n").desc(), F.col("cls").asc()
    )
    wmin = Window.partitionBy("zone").orderBy(
        F.col("n").asc(), F.col("cls").asc()
    )
    ranked = pairs.select(
        "zone", "cls", "n",
        F.row_number().over(wmaj).alias("rmaj"),
        F.row_number().over(wmin).alias("rmin"),
    )
    return ranked.groupBy("zone").agg(
        F.sum("n").alias("n_cells"),
        F.max(F.when(F.col("rmaj") == 1, F.col("cls"))).alias("majority"),
        F.max(F.when(F.col("rmin") == 1, F.col("cls"))).alias("minority"),
        F.count(F.lit(1)).alias("variety"),
    )


def rasterize_zones(
    tiles: DataFrame,
    rings: list[tuple[int, list[tuple[float, float]]]],
    T: int,
    band: str,
    zone_band: str = "zone",
) -> DataFrame:
    """Rasterize polygon ids into a zone band co-tiled with ``band`` —
    the SURVEY A6 "polygon zones = rasterize poly ids then reuse"
    composition (V1 vector→raster feeding zonal_stats).

    ``rings``: [(zone_id, outer_ring)] or [(zone_id, outer_ring,
    [hole_ring, ...])] with rings = [(x, y), ...closed, PIXEL coords].
    Pinned semantics (planar, SQL-replicable): pixel (i, j) belongs to
    a polygon iff its CENTER (i+0.5, j+0.5) has odd crossing parity
    over ALL the zone's rings (outer + holes — even-odd, so a center
    inside exactly one hole XORs back to outside)
    (strict upper-endpoint rule: edge counts iff (y1 > py) != (y2 > py)
    and px < x1 + (py−y1)/(y2−y1)·(x2−x1)); overlapping polygons →
    LOWEST zone_id wins; centers in no polygon → NaN (excluded by
    zonal_stats). Pick ring vertices off the half-integer lattice so no
    center lies exactly on an edge — the rule then needs no boundary
    epsilon.

    Scale: map-only (``tiling.map_tiles`` over the band's tiles; rings
    ship as a closure constant — polygon sets big enough to matter
    should go through the J1 cover join instead); per-tile NumPy parity
    test is vectorized over the tile's pixel grid.
    """
    # normalize to (zid, [outer] + holes)
    ordered = sorted(
        ((r[0], [r[1]] + (list(r[2]) if len(r) > 2 and r[2] else []))
         for r in rings),
        key=lambda r: r[0],
    )

    def paint(tx: int, ty: int, level: int, b: str, plane: np.ndarray):
        nr, nc = plane.shape
        px = np.broadcast_to(tx * T + np.arange(nc) + 0.5, (nr, nc))
        py = np.broadcast_to((ty * T + np.arange(nr) + 0.5)[:, None], (nr, nc))
        zone = np.full((nr, nc), np.nan)
        for zid, zrings in reversed(ordered):  # lowest id paints last
            inside = np.zeros((nr, nc), dtype=bool)
            for ring in zrings:
                for k in range(len(ring) - 1):
                    (x1, y1), (x2, y2) = ring[k], ring[k + 1]
                    crosses = (y1 > py) != (y2 > py)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        xcross = x1 + (py - y1) / (y2 - y1) * (x2 - x1)
                    inside ^= crosses & (px < xcross)
            zone[inside] = zid
        return tiling.tile_table(tx, ty, level, [zone_band], [zone])

    sub = tiles.filter(F.col("band") == band)
    return tiling.map_tiles(sub, paint, tiling.TILES_SCHEMA)


def _valid(plane: np.ndarray) -> np.ndarray:
    return plane[np.isfinite(plane)]


def raster_histogram(
    tiles: DataFrame,
    band: str,
    lo: float,
    hi: float,
    nbins: int,
) -> DataFrame:
    """Global fixed-bin histogram of a band: one row per non-empty bin
    (bin, n_cells, v_sum). bin = floor((v - lo)/width); out-of-range
    cells land in bins -1 / nbins (never silently dropped).

    Same partial+final shape as zonal_stats: per-tile bincounts via
    ``tiling.map_tiles`` (no shuffle before the partials; a histogram
    needs no tile key at all), then one tiny groupBy over #bins rows
    per tile."""
    width = (hi - lo) / nbins

    def partials(tx: int, ty: int, level: int, b: str, plane: np.ndarray) -> dict:
        v = _valid(plane)
        bins = np.clip(np.floor((v - lo) / width), -1, nbins).astype(np.int64)
        uniq, inv = np.unique(bins, return_inverse=True)
        return {
            "bin": uniq,
            "n": np.bincount(inv),
            "s": np.bincount(inv, weights=v),
        }

    sub = tiles.filter(F.col("band") == band)
    part = tiling.map_tiles(sub, partials, "bin long, n long, s double")
    return part.groupBy("bin").agg(
        F.sum("n").alias("n_cells"),
        F.round(F.sum("s"), 4).alias("v_sum"),
    )


def moments(tiles: DataFrame, band: str) -> DataFrame:
    """Per-tile (n, s = Σv, s2 = Σv², mn, mx) partials over the valid
    cells of one band — the one moments pass (``tiling.map_tiles``)
    behind ``global_stats``, ``quantile_exact``'s bounds and
    ``autocorr.band_moments``. Extrema are unrounded; a tile with no
    valid cell emits no row."""

    def partials(tx: int, ty: int, level: int, b: str, plane: np.ndarray) -> dict | None:
        v = _valid(plane)
        if not len(v):
            return None
        return {
            "n": [len(v)], "s": [v.sum()], "s2": [(v * v).sum()],
            "mn": [v.min()], "mx": [v.max()],
        }

    sub = tiles.filter(F.col("band") == band)
    return tiling.map_tiles(
        sub, partials, "n long, s double, s2 double, mn double, mx double"
    )


def global_stats(tiles: DataFrame, band: str) -> DataFrame:
    """One-row global summary of a band: n / sum / mean / min / max /
    population stddev — ``moments``' per-tile partials, then a
    single-row merge; std via the sum-of-squares identity (one sqrt at
    extract, SQL-replicable)."""
    n, s, s2 = F.sum("n"), F.sum("s"), F.sum("s2")
    return moments(tiles, band).agg(
        n.alias("n_cells"),
        F.round(s, 4).alias("v_sum"),
        F.round(s / n, 6).alias("v_mean"),
        F.round(F.min("mn"), 6).alias("v_min"),
        F.round(F.max("mx"), 6).alias("v_max"),
        F.round(F.sqrt(s2 / n - (s / n) * (s / n)), 6).alias("v_std"),
    )


def quantile_exact(
    tiles: DataFrame,
    band: str,
    qs: list[float],
    nbins: int = 4096,
    tail: int = 65536,
) -> list[float]:
    """EXACT discrete quantiles of a band — the scale-correct
    alternative to percentile_approx: iterative histogram k-selection.
    Returns the element of rank ceil(q·n) (1-based, DuckDB
    quantile_disc semantics) for each q. Convention note: the rank is
    FLOAT ceil (math.ceil(q*n) on IEEE doubles, e.g. 0.07·100 → rank 8
    not 7) — pinned because the DuckDB quantile_disc oracle computes
    the same float expression; zonal_percentile below uses exact
    per-myriad integer ceil instead (its oracle mirrors that).

    Scale design: each round is ONE ``tiling.map_tiles`` bincount pass
    over the data, SHARED by every still-pending quantile (the pass
    bins values for each distinct candidate interval — Q quantiles cost
    one scan per round, not Q; the r2→r3 fix for the per-quantile
    rescan). Map-side partials → ≤(#intervals · nbins)-row merge →
    driver picks each quantile's holding bin. The interval shrinks
    ~nbins× per round, so a full f64 range resolves in 2-3 rounds; when
    ≤``tail`` values remain per quantile the exact elements come from
    one shared small collect. Driver traffic is O(Q·(nbins + tail)) —
    never the data.
    """
    sub = tiles.filter(F.col("band") == band)

    def counter_multi(
        ivs: list[tuple[float, float]],
    ) -> dict[tuple[float, float], np.ndarray]:
        # one scan: bincount of values in [lo, hi) for EVERY interval,
        # keyed k = interval index · nbins + bin
        def run(tx: int, ty: int, level: int, b: str, plane: np.ndarray) -> dict:
            v = _valid(plane)
            keys = []
            for i, (lo, hi) in enumerate(ivs):
                x = v[(v >= lo) & (v < hi)]
                bins = np.floor((x - lo) / ((hi - lo) / nbins)).astype(np.int64)
                keys.append(i * nbins + np.minimum(bins, nbins - 1))
            k, n = np.unique(np.concatenate(keys), return_counts=True)
            return {"k": k, "n": n}

        pdf = (
            tiling.map_tiles(sub, run, "k long, n long")
            .groupBy("k").agg(F.sum("n").alias("n"))
            .toPandas()
        )
        counts = np.zeros(len(ivs) * nbins, dtype=np.int64)
        counts[pdf["k"].to_numpy(np.int64)] = pdf["n"].to_numpy(np.int64)
        return {iv: counts[i * nbins : (i + 1) * nbins] for i, iv in enumerate(ivs)}

    # global n / bounds — UNROUNDED (global_stats rounds its extrema
    # for oracle-hash stability; a rounded-up min would clip real
    # values out of the candidate interval and corrupt every rank)
    g = moments(tiles, band).agg(
        F.sum("n").alias("n"), F.min("mn").alias("mn"), F.max("mx").alias("mx")
    ).collect()[0]
    n = int(g.n)
    # per-quantile narrowing state; every round shares ONE scan
    states = [
        {
            "k": max(1, int(math.ceil(q * n))),  # 1-based target rank
            "lo": float(g.mn),
            # next representable double, NOT mx + eps: an absolute
            # epsilon is a no-op for |mx| >= ~1e7 and every max-valued
            # cell would fall outside the half-open [lo, hi) scans
            "hi": float(np.nextafter(g.mx, np.inf)),
            "rem": n,
        }
        for q in qs
    ]
    while True:
        pending = [s for s in states if s["rem"] > tail]
        if not pending:
            break
        ivs = sorted({(s["lo"], s["hi"]) for s in pending})
        counts_by_iv = counter_multi(ivs)
        for s in pending:
            counts = counts_by_iv[(s["lo"], s["hi"])]
            cum = np.cumsum(counts)
            b = int(np.searchsorted(cum, s["k"]))
            s["k"] -= int(cum[b - 1]) if b > 0 else 0
            w = (s["hi"] - s["lo"]) / nbins
            s["lo"], s["hi"] = s["lo"] + b * w, s["lo"] + (b + 1) * w
            s["rem"] = int(counts[b])
            # rem == 0 is the degenerate all-equal bin: fall through to
            # the tail collect over this (now tiny) interval

    # shared tail collect: one scan gathers every quantile's remaining
    # candidate values, keyed by interval
    ivs = sorted({(s["lo"], s["hi"]) for s in states})

    def collect_multi(tx: int, ty: int, level: int, b: str, plane: np.ndarray) -> dict:
        v = _valid(plane)
        xs = [v[(v >= lo) & (v < hi)] for lo, hi in ivs]
        iv = np.repeat(np.arange(len(ivs)), [len(x) for x in xs])
        return {"iv": iv, "v": np.concatenate([v[:0], *xs])}

    pdf = tiling.map_tiles(sub, collect_multi, "iv long, v double").toPandas()
    vals_by_iv = {
        iv: np.sort(pdf[pdf["iv"] == i]["v"].to_numpy())
        for i, iv in enumerate(ivs)
    }
    return [
        float(vals_by_iv[(s["lo"], s["hi"])][s["k"] - 1]) for s in states
    ]


def zonal_geometry(
    tiles: DataFrame,
    T: int,
    zone_band: str = "zone",
    wrap_nx: int | None = None,
) -> DataFrame:
    """Per-zone geometry (round 4; the ESRI ZonalGeometry AREA /
    PERIMETER family): one row per zone with

    - ``area_cells``  — valid cell count of the zone (cellsize 1);
    - ``perimeter``   — boundary edge count: each of a cell's 4 rook
      sides counts 1 iff the neighbor is a DIFFERENT zone, nodata, or
      off the raster (so interior holes and the raster rim both add
      perimeter — the standard cell-edge definition);
    - ``compactness`` — Polsby–Popper 4πA/P², one float division over
      the exact integer (A, P) at extract time.

    Scale design: ONE 1-deep halo exchange (cross-tile neighbors read
    from the rim, each side counted once by the cell that owns it),
    per-(tile, zone) integer partials in one ``tiling.halo_map``
    group, then the tiny per-zone final sum — the zonal_stats
    partial+final shape with a halo, shuffle rows ∝ zones per tile,
    never T²."""
    sub = tiles.filter(F.col("band") == zone_band)

    def partials(tx: int, ty: int, bands: dict, nr: int, nc: int) -> dict | None:
        (_, z), = bands.items()
        c = z[1 : 1 + nr, 1 : 1 + nc]
        valid = np.isfinite(c)
        if not valid.any():
            return None
        nsame = np.zeros_like(c, dtype=np.int64)
        for dy, dx in ((-1, 0), (1, 0), (0, -1), (0, 1)):
            nb = z[1 + dy : 1 + dy + nr, 1 + dx : 1 + dx + nc]
            nsame += np.isfinite(nb) & (nb == c)
        zi = c[valid].astype(np.int64)
        per = (4 - nsame)[valid]
        uniq, inv = np.unique(zi, return_inverse=True)
        return {
            "zone": uniq,
            "a": np.bincount(inv),
            "p": np.bincount(inv, weights=per).astype(np.int64),
        }

    part = tiling.halo_map(sub, T, 1, wrap_nx, partials, "zone long, a long, p long")
    area = F.sum("a").cast("long")
    perim = F.sum("p").cast("long")
    # square in DOUBLE: perim*perim in long overflows int64 for
    # perimeters above ~3e9 cells (silent wrap with ANSI off, job
    # failure with ANSI on)
    perim_d = perim.cast("double")
    return part.groupBy("zone").agg(
        area.alias("area_cells"),
        perim.alias("perimeter"),
        F.round(
            (F.lit(4.0 * math.pi) * area) / (perim_d * perim_d),
            6,
        ).alias("compactness"),
    )


def zonal_percentile(
    tiles: DataFrame,
    T: int,
    zone_band: str = "zone",
    value_band: str = "v",
    qs: tuple[float, ...] = (0.5,),
) -> DataFrame:
    """Exact per-zone discrete percentiles of an INTEGER-valued band
    (round 4; the zonal family's missing order statistic). Pinned
    semantics (G4's): percentile q = the element at rank ceil(q·n) of
    the zone's sorted values (DuckDB quantile_disc) — EXACT, no
    interpolation or sketch. The integer-band contract is what makes
    exactness scale: per-(zone, value) COUNTS are a complete sufficient
    statistic, so the raster reduces map-side.

    Scale design: cross_tab's per-tile pair partials (shuffle ∝
    distinct (zone, value) pairs per tile, never T²), then a running
    count over the per-zone value-ordered pair table — a window over
    rows ∝ zones × distinct values, never cells — and one min(v) pick
    per requested q."""
    from pyspark.sql import Window

    pairs = cross_tab(tiles, T, zone_band, value_band).select(
        F.col("ca").alias("zone"),
        F.col("cb").alias("v"),
        F.col("n_cells").alias("n"),
    )
    w = Window.partitionBy("zone").orderBy("v")
    cum = pairs.select(
        "zone", "v",
        F.sum("n").over(w).alias("cum"),
        F.sum("n").over(Window.partitionBy("zone")).alias("total"),
    )
    # one plan branch for ALL quantiles: cross the (tiny) pair table
    # with the q literals, filter once, pick min(v) per (zone, q) —
    # the exact shape of the oracle's qs(q) VALUES join. The rank is
    # computed in EXACT integer arithmetic via q as per-myriad
    # (rank = ceil(q_pm·n / 10000) = (q_pm·n + 9999) div 10000):
    # float ceil(q·total) is off-by-one whenever q·n is mathematically
    # integral but the product rounds up in IEEE (0.07·100 →
    # 7.000000000000001 → rank 8) — r4 ADVICE fix; q itself stays a
    # double output column.
    sess = tiles.sparkSession
    qdf = sess.createDataFrame(
        [(float(q), int(round(q * 10000))) for q in qs], "q double, q_pm long"
    )
    return (
        cum.crossJoin(F.broadcast(qdf))
        .filter(F.col("cum") >= F.expr("(q_pm * total + 9999) div 10000"))
        .groupBy("zone", "q")
        .agg(F.min("v").alias("pct_value"))
        .select("zone", "q", "pct_value")
    )

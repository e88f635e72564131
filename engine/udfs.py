"""Spatial encode operators C1–C6 for Spark (SURVEY.md §2.3).

One implementation per operator, one semantics (engine.grid is the
single source of truth, shared with the goldens):

- **Column expressions** (`*_col` / `geocode_cols`) — pure Catalyst
  expressions, fully JVM-side and whole-stage-codegen'd. Used for the
  CHEAP encodes (geocode parse, (i,j) quantize, tile/ti/tj, haversine).
- **pandas UDFs** (`*_pudf`) — Arrow-batched vectorized NumPy over
  engine.grid — the "batched cell encode, no per-row Python" surface
  of BASELINE.json:6. The MORTON encode is one of them.

Why the Morton pack is NOT a Catalyst expression (measured, 16M rows,
local[32]): each interleave stage of a column-expression bit spread
references its input twice, so the expression TREE is exponential in
stages (~32 copies of the quantize subtree); a join then duplicates
the whole tree again into its null-filter and key hash. The generated
code grows to megabytes — compile time + constant-folding dominate and
the stage ran ~75 s almost independent of parallelism. The identical
computation as an Arrow-batched pandas UDF (`cell_encode_pudf`): 7.6 s
end-to-end and scales with cores. The expression twin was deleted.

Tests assert the UDFs agree bit-for-bit with engine.grid.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from engine import grid


def latlon_to_ij_cols(lat: Column, lon: Column, level: int) -> tuple[Column, Column]:
    """Quantize to grid coords — same formula as grid.latlon_to_ij."""
    nc, nr = grid.grid_shape(level)
    i = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(nc)).cast("long")
    i = ((i % F.lit(nc)) + F.lit(nc)) % F.lit(nc)  # true mod (lon wrap)
    j = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(nr)).cast("long")
    j = F.greatest(F.lit(0), F.least(F.lit(nr - 1), j))  # lat clamp
    return i, j


def geocode_cols(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """C1: lat/lon from the first kind='geo' span's media_ref
    (``geo:{lat},{lon}``) — higher-order functions, fully JVM-side,
    spans column untouched (span-sequence invariant). Docs with NO geo
    span get null lat/lon (try_element_at: under Spark 4's default ANSI
    mode a plain element_at(…, 1) on the empty filtered array throws
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT and aborts the whole job)."""
    geo_ref = F.try_element_at(
        F.filter(F.col(spans_col), lambda s: s["kind"] == F.lit("geo")),
        F.lit(1),
    )["media_ref"]
    payload = F.substring_index(geo_ref, ":", -1)
    return df.withColumn(
        "lat", F.split(payload, ",")[0].cast("double")
    ).withColumn("lon", F.split(payload, ",")[1].cast("double"))


def with_cell_and_tile(
    df: DataFrame, level: int, tile_size: int, lat: str = "lat", lon: str = "lon"
) -> DataFrame:
    """C2 + C6: tile/ti/tj via JVM quantize (small expression trees),
    cell_id via the Arrow-batched Morton pudf (see module docstring for
    why the Morton pack must not be inlined as a Catalyst expression)."""
    i, j = latlon_to_ij_cols(F.col(lat), F.col(lon), level)
    return (
        df.withColumn("_i", i)
        .withColumn("_j", j)
        .withColumn(
            "cell_id", cell_encode_pudf(F.col(lat), F.col(lon), F.lit(level))
        )
        .withColumn("tile_x", (F.col("_i") / tile_size).cast("int"))
        .withColumn("tile_y", (F.col("_j") / tile_size).cast("int"))
        .withColumn("ti", (F.col("_i") % tile_size).cast("int"))
        .withColumn("tj", (F.col("_j") % tile_size).cast("int"))
        .drop("_i", "_j")
    )


# ---------------------------------------------------------------------------
# pandas UDF variants (Arrow-batched NumPy; shared grid implementation)
# ---------------------------------------------------------------------------

@pandas_udf(T.LongType())
def cell_encode_pudf(lat: pd.Series, lon: pd.Series, level: pd.Series) -> pd.Series:
    out = np.empty(len(lat), np.int64)
    for lv in level.unique():
        sel = (level == lv).to_numpy()
        out[sel] = grid.cell_encode(
            lat.to_numpy()[sel], lon.to_numpy()[sel], int(lv)
        )
    return pd.Series(out)


_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("i", T.LongType()),
        T.StructField("j", T.LongType()),
        T.StructField("level", T.IntegerType()),
    ]
)


@pandas_udf(_DECODE_SCHEMA)
def cell_decode_pudf(cell_id: pd.Series) -> pd.DataFrame:
    lat, lon, i, j, level = grid.cell_decode(cell_id.to_numpy())
    return pd.DataFrame(
        {"lat": lat, "lon": lon, "i": i, "j": j, "level": level.astype(np.int32)}
    )


@pandas_udf(T.LongType())
def cell_parent_pudf(cell_id: pd.Series, parent_level: pd.Series) -> pd.Series:
    cid = cell_id.to_numpy()
    out = np.empty(len(cid), np.int64)
    for lv in parent_level.unique():
        sel = (parent_level == lv).to_numpy()
        out[sel] = grid.cell_parent(cid[sel], int(lv))
    return pd.Series(out)


def k_ring_pudf(k: int):
    """Factory: pandas UDF cell_id -> array<long> of the k-ring."""

    @pandas_udf(T.ArrayType(T.LongType()))
    def _k_ring(cell_id: pd.Series) -> pd.Series:
        rings = grid.k_ring_batch(cell_id.to_numpy(), k)
        return pd.Series([r.tolist() for r in rings])

    return _k_ring


def haversine_col(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Haversine as a pure Catalyst expression (JVM, codegen) — same
    formula/constants as grid.haversine_km (R=6371.0088, f64)."""
    la1, lo1, la2, lo2 = (F.radians(c) for c in (lat1, lon1, lat2, lon2))
    h = F.pow(F.sin((la2 - la1) / 2), 2) + F.cos(la1) * F.cos(la2) * F.pow(
        F.sin((lo2 - lo1) / 2), 2
    )
    h = F.least(F.lit(1.0), F.greatest(F.lit(0.0), h))
    return F.lit(2.0 * grid.EARTH_RADIUS_KM) * F.asin(F.sqrt(h))


def compact_cells(cells: DataFrame, level: int, min_level: int = 1) -> DataFrame:
    """C8: minimal mixed-level cover of a level-``level`` cell set —
    every complete 4-sibling group is replaced by its parent,
    recursively (the H3 compact / S2 normalize analogue). Input rows
    need a packed ``cell_id`` column (grid.cell_id_pack layout:
    level<<58 | morton); output is (cell_id, level), disjoint, covering
    exactly the input cells.

    Scale design: pure DataFrame iteration over level−min_level rounds;
    each round is ONE groupBy(parent).count over the surviving set
    (map-side combine; the set shrinks ≥4× per fully-compactable round)
    plus one left_anti join to split kept cells from promoted parents.
    No driver materialization — the loop bound is the level delta
    (≤29), not the data. Every ``checkpoint_every`` rounds the
    surviving set AND the accumulated kept-cells union are
    localCheckpoint'ed so the plan tree stays shallow — a deep
    level→min_level compaction otherwise chains ~29 rounds of
    groupBy+anti-join+union lineage, slowing analysis and risking
    re-optimization stack depth (same discipline as joins.knn_join).
    """
    mask = (1 << 58) - 1
    cur = cells.select("cell_id").distinct()
    out = None
    checkpoint_every = 6
    for i, L in enumerate(range(level, min_level, -1)):
        parent = F.lit((L - 1) << 58) + F.shiftright(
            F.col("cell_id").bitwiseAND(F.lit(mask)), 2
        )
        with_p = cur.withColumn("_parent", parent)
        full = (
            with_p.groupBy("_parent")
            .count()
            .filter(F.col("count") == 4)
            .select("_parent")
        )
        keep = (
            with_p.join(full, "_parent", "left_anti")
            .select("cell_id")
            .withColumn("level", F.lit(L))
        )
        out = keep if out is None else out.unionAll(keep)
        cur = full.select(F.col("_parent").alias("cell_id"))
        if (i + 1) % checkpoint_every == 0:
            cur = cur.localCheckpoint(eager=True)
            out = out.localCheckpoint(eager=True)
    last = cur.withColumn("level", F.lit(min_level))
    return last if out is None else out.unionAll(last)


def uncompact_cells(cells: DataFrame, target_level: int) -> DataFrame:
    """C8 inverse: expand a mixed-level (cell_id, level) set to its
    full level-``target_level`` cell set. Uses the P3 range-contiguity
    property — a cell's level-T descendants are ONE contiguous morton
    interval, so the expansion is a single JVM explode(sequence(lo,
    lo+4^(T−L)−1)) with no per-cell Python."""
    mask = (1 << 58) - 1
    # SQL shiftleft accepts column shift amounts (the Python helper
    # only takes int literals)
    lo = F.expr(
        f"shiftleft(cell_id & {mask}L, CAST(({target_level} - level) * 2 AS INT))"
    )
    n = F.expr(f"shiftleft(1L, CAST(({target_level} - level) * 2 AS INT))")
    return cells.select(
        F.explode(F.sequence(lo, lo + n - 1)).alias("_m")
    ).select(
        (F.lit(target_level << 58) + F.col("_m")).alias("cell_id")
    )

"""Benchmark legs shared by bench.py (per-round driver run) and the
BENCH/ scaling harness (N vs 4N parallelism evidence, BASELINE.md).

Each leg returns ``(work_count, seconds)`` where work_count is the unit
the BASELINE metric is denominated in (tiles, join rows, docs). Inputs
are deterministic synthetic data (fixtures) or the driver sf tables —
never wall-clock-dependent, so two parallelism levels run the identical
job on identical bytes.

Timing discipline: every leg materializes its input FIRST (parquet in a
scratch dir) so the timed section measures the operator under test —
scan → shuffle → kernel → action — not the generator. The action is a
``count()``: every leg's output is produced inside a Python-UDF stage
(applyInArrow/mapInArrow, or pip's explode of an arrow_udf — a black
box Catalyst cannot column-prune or push down through), so count()
executes the full pipeline. CAVEAT
for future legs: a leg built from PLAIN Catalyst operators would be
pruned to a row count under count() and must use a noop-format write
instead.
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine import fixtures, joins, tiling, udfs

TILES_DDL = fixtures.TILES_SCHEMA_DDL


def force_gc(spark: SparkSession) -> None:
    """Full JVM GC (+ a beat for concurrent cycles to finish).

    Measured on this box (BENCH r2 diagnosis): consecutive focal runs
    in one JVM land anywhere from 29 to 127 tiles/s because G1 keeps
    hitting 'Humongous Allocation'-triggered concurrent cycles against
    a garbage-full old gen — allocation stalls, not GC pauses, eat the
    wall time (pauses totalled 14 s while runs lost minutes). A full GC
    immediately before the timed run restores a stable 170-260 tiles/s.
    Spark's own spark.cleaner.periodicGC.interval does the same for
    long-lived sessions, just not aligned with run starts."""
    spark.sparkContext._jvm.java.lang.System.gc()  # noqa: SLF001
    time.sleep(1.0)


def _materialize(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def synthetic_tiles(
    spark: SparkSession, nx: int, ny: int, T: int, level: int, seed: int = 7
) -> DataFrame:
    """Dense deterministic class raster of nx×ny tiles (values 0..5 with
    NaN speckle) — the bench's stand-in for a committed tile snapshot."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for t in pdf["id"].to_numpy():
                tx, ty = int(t % nx), int(t // nx)
                rng = np.random.default_rng(seed ^ (int(t) + 1))
                arr = rng.integers(0, 6, (T, T)).astype(np.float64)
                arr[rng.random((T, T)) < 0.03] = np.nan
                rows.append(
                    {
                        "tile_x": tx, "tile_y": ty, "level": level,
                        "band": "class", "nrows": T, "ncols": T,
                        "data": arr.ravel(),
                    }
                )
            yield pd.DataFrame(rows)

    # fixed partition count: the materialized file layout (and so scan
    # split parallelism in every timed run) must not depend on which
    # level happened to materialize it
    return spark.range(0, nx * ny, 1, 64).mapInPandas(gen, TILES_DDL)


def ensure_inputs(
    spark: SparkSession,
    scratch: str,
    scale: float,
    legs: tuple[str, ...],
    T: int = 256,
) -> None:
    """Materialize the inputs of ``legs`` (idempotent). Called once at
    full parallelism by the scaling orchestrator so the timed, low-core
    runners never pay generation cost."""
    if "focal" in legs:
        ny = max(int(48 * scale), 2)
        nx = 2 * ny
        path = os.path.join(scratch, f"bench_tiles_{nx}x{ny}_{T}")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            _materialize(synthetic_tiles(spark, nx, ny, T, 14), path)
    if "pip" in legs:
        n_points = int(128_000_000 * scale)
        path = os.path.join(scratch, f"bench_points_{n_points}")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            _materialize(synthetic_points(spark, n_points), path)
    n_docs = int(32_000_000 * scale)
    # raw corpus first (leg_pipeline reads it directly), then typed
    if "pipeline" in legs:
        _ensure_raw_docs(spark, scratch, n_docs)
    if "pipet" in legs:
        _ensure_typed_docs(spark, scratch, n_docs)


def _ensure_raw_docs(spark: SparkSession, scratch: str, n_docs: int) -> str:
    raw = os.path.join(scratch, f"bench_docs_{n_docs}")
    if not os.path.exists(os.path.join(raw, "_SUCCESS")):
        _materialize(
            fixtures.documents_geo(spark, n_docs, seed=42, n_parts=64), raw
        )
    return raw


def _ensure_typed_docs(spark: SparkSession, scratch: str, n_docs: int) -> str:
    """Materialize the parsed typed projection (doc_id, lat, lon) — the
    ONE recipe both ensure_inputs and leg_pipeline_typed use, so the
    bench can never measure two drifting input shapes. The raw corpus
    is built only when the typed table must be (re)derived — a scratch
    dir keeping just the typed table skips all generation. Returns the
    typed path."""
    typed = os.path.join(scratch, f"bench_docs_typed_{n_docs}")
    if not os.path.exists(os.path.join(typed, "_SUCCESS")):
        raw = _ensure_raw_docs(spark, scratch, n_docs)
        _materialize(
            udfs.geocode_cols(spark.read.parquet(raw)).select(
                "doc_id", "lat", "lon"
            ),
            typed,
        )
    return typed


def leg_focal(
    spark: SparkSession,
    scratch: str,
    nx: int = 64,
    ny: int = 32,
    T: int = 256,
    r: int = 7,
) -> tuple[int, float]:
    """BASELINE headline: circular-kernel (r=7) focal mean over a dense
    tile set. Returns (output tiles, seconds for scan→halo→kernel→write)."""
    level = 14  # grid large enough to hold the tile extent at T=256
    path = os.path.join(scratch, f"bench_tiles_{nx}x{ny}_{T}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _materialize(synthetic_tiles(spark, nx, ny, T, level), path)
    tiles = spark.read.parquet(path)
    t0 = time.perf_counter()
    out = tiling.apply_focal(
        tiles, r, "circle", ["mean"], T, level=level, wrap_nx=nx
    )
    n = out.count()
    secs = time.perf_counter() - t0
    return n, secs


def leg_pipeline(
    spark: SparkSession,
    scratch: str,
    n_docs: int = 1_000_000,
    level: int = 12,
    T: int = 64,
    r: int = 7,
) -> tuple[int, int, float]:
    """End-to-end: interleaved corpus → geocode → cell/tile encode →
    rasterize(count) → circular focal mean. Returns (docs, out_tiles, s)."""
    path = os.path.join(scratch, f"bench_docs_{n_docs}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _materialize(fixtures.documents_geo(spark, n_docs, seed=42, n_parts=64), path)
    docs = spark.read.parquet(path)
    t0 = time.perf_counter()
    pts = udfs.with_cell_and_tile(udfs.geocode_cols(docs), level, T)
    tiles = tiling.rasterize(pts, T, level, stat="count")
    out = tiling.apply_focal(
        tiles, r, "circle", ["mean"], T, level=level, wrap_nx=(2**level) // T
    )
    n_tiles = out.count()
    secs = time.perf_counter() - t0
    return n_docs, n_tiles, secs


def leg_pipeline_typed(
    spark: SparkSession,
    scratch: str,
    n_docs: int = 1_000_000,
    level: int = 12,
    T: int = 64,
    r: int = 7,
) -> tuple[int, int, float]:
    """Typed-ingest pipeline: the same encode → rasterize → focal chain
    as leg_pipeline, but reading a COMMITTED typed table (doc_id, lat,
    lon doubles — parsed once at ingest, the lakehouse layout real
    pipelines query repeatedly). Isolates the engine stages from the
    span-string parse, whose JVM allocation rate is the measured
    single-box ceiling of the full composite (BENCH/BASELINE.md).
    Returns (docs, out_tiles, seconds)."""
    pts0 = spark.read.parquet(_ensure_typed_docs(spark, scratch, n_docs))
    t0 = time.perf_counter()
    pts = udfs.with_cell_and_tile(pts0, level, T)
    tiles = tiling.rasterize(pts, T, level, stat="count")
    out = tiling.apply_focal(
        tiles, r, "circle", ["mean"], T, level=level, wrap_nx=(2**level) // T
    )
    n_tiles = out.count()
    secs = time.perf_counter() - t0
    return n_docs, n_tiles, secs


def synthetic_points(spark: SparkSession, n: int) -> DataFrame:
    """JVM-only deterministic points: multiplicative-hash uniform sprays
    plus the polygon-cluster mix is irrelevant for throughput — PIP cost
    is per candidate row, and the broadcast filter bounds candidates."""
    d = spark.range(0, n, 1, 64)  # fixed file layout (see synthetic_tiles)
    # the shim's Knuth multipliers (one source of truth — engine/shim.py)
    from engine.shim import LAT_MULT, LON_MULT

    lat = (F.col("id") * F.lit(LAT_MULT)) % F.lit(2**32) / F.lit(float(2**32)) * 170.0 - 85.0
    lon = (F.col("id") * F.lit(LON_MULT)) % F.lit(2**32) / F.lit(float(2**32)) * 360.0 - 180.0
    return d.select(
        F.col("id").alias("q_id"), lat.alias("lat"), lon.alias("lon")
    )


def leg_pip(
    spark: SparkSession, scratch: str, n_points: int = 4_000_000, level: int = 7
) -> tuple[int, int, float]:
    """PIP join throughput: fused cover lookup + exact refine over n
    uniform points × the 3 fixture polygons. Returns (input rows,
    output rows, seconds)."""
    path = os.path.join(scratch, f"bench_points_{n_points}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _materialize(synthetic_points(spark, n_points), path)
    pts = spark.read.parquet(path)
    t0 = time.perf_counter()
    out = joins.pip_join(pts, fixtures.polygons(), level, spark)
    n_out = out.count()
    secs = time.perf_counter() - t0
    return n_points, n_out, secs

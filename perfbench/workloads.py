"""The benchmark's workloads: seeded inputs, one timed operation, the
output check, and the traced run's per-layer measurements of each.

Inputs are generated from the seed with NumPy/pandas only (no Spark)
and written to parquet before any timing starts. ``run_op`` times one
operation and returns ``{"op_s", "units"}``: its wall time and the work
it did (output tiles, input points). The caller wraps each operation in
the trace span ``op<k>``. Checks are ``(description, passed)`` pairs,
made outside the timing.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from engine import fixtures, geometry, grid, joins, kernels, pipeline, streaming, tiling, udfs
from engine.lakehouse import LakeTable
from pyspark.sql import functions as F

from tracing import busy_s, metric_sum

TILES_ARROW = pa.schema(
    [
        ("tile_x", pa.int32()), ("tile_y", pa.int32()), ("level", pa.int32()),
        ("band", pa.string()), ("nrows", pa.int32()), ("ncols", pa.int32()),
        ("data", pa.list_(pa.float64())),
    ]
)
DOCS_ARROW = pa.schema(
    [
        ("doc_id", pa.string()),
        (
            "spans",
            pa.list_(
                pa.struct(
                    [
                        ("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32()),
                    ]
                )
            ),
        ),
        ("part_id", pa.int32()),
    ]
)


def _noop(df) -> None:
    """Run a DataFrame to completion without materializing its output."""
    df.write.format("noop").mode("overwrite").save()


def _median_wall(fn, reps: int) -> float:
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def _write_files(table: pa.Table, path: str) -> None:
    """Write ``table`` as 8 parquet files, so that Spark reads it in 8
    splits whatever the cores (one file would be one task)."""
    os.makedirs(path)
    for i, rows in enumerate(np.array_split(np.arange(table.num_rows), 8)):
        pq.write_table(table.take(rows), os.path.join(path, f"part-{i}.parquet"))


def _dir_bytes_files(path: str) -> tuple[int, int]:
    nbytes = nfiles = 0
    for d, _, files in os.walk(path):
        for f in files:
            nbytes += os.path.getsize(os.path.join(d, f))
            nfiles += 1
    return nbytes, nfiles


def _brute_focal_mean(padded: np.ndarray, r: int) -> np.ndarray:
    """Circle-window mean of the centre of ``padded`` (margin r) by
    direct enumeration of the window offsets — no chord sums."""
    H, W = padded.shape[0] - 2 * r, padded.shape[1] - 2 * r
    valid = np.isfinite(padded)
    vals = np.where(valid, padded, 0.0)
    s = np.zeros((H, W))
    c = np.zeros((H, W))
    for dy in range(-r, r + 1):
        for dx in range(-r, r + 1):
            if dy * dy + dx * dx <= r * r:
                s += vals[r + dy : r + dy + H, r + dx : r + dx + W]
                c += valid[r + dy : r + dy + H, r + dx : r + dx + W]
    with np.errstate(invalid="ignore", divide="ignore"):
        out = s / c
    out[c == 0] = np.nan
    return out


class FocalDense:
    """Circle r=7 focal mean with wrap over a dense class raster."""

    name = "focal_dense"
    UNIT = "output tiles"
    PATH_LAYERS = ("tiling.halo_s", "tiling.focal_s")
    T, R, LEVEL = 256, 7, 12

    def __init__(self, scale: float):
        self.nx = self.ny = max(2, round(8 * scale**0.5))

    def make_inputs(self, seed: int, in_dir: str, traced: bool) -> dict:
        T, nx, ny = self.T, self.nx, self.ny
        rng = np.random.default_rng(seed)
        # 6 classes in 16-cell blocks (patchy, like a land-cover map),
        # with about 3% NaN speckle
        coarse = rng.integers(0, 6, (ny * T // 16, nx * T // 16)).astype(np.float64)
        raster = np.kron(coarse, np.ones((16, 16)))
        raster[rng.random(raster.shape) < 0.03] = np.nan
        cols: dict[str, list] = {k: [] for k in TILES_ARROW.names}
        for ty in range(ny):
            for tx in range(nx):
                block = raster[ty * T : (ty + 1) * T, tx * T : (tx + 1) * T]
                for k, v in zip(
                    TILES_ARROW.names,
                    (tx, ty, self.LEVEL, "class", T, T, block.ravel()),
                ):
                    cols[k].append(v)
        path = os.path.join(in_dir, "tiles")
        _write_files(pa.table(cols, schema=TILES_ARROW), path)
        np.save(os.path.join(in_dir, "raster.npy"), raster)
        meta = {"tiles": path, "raster": os.path.join(in_dir, "raster.npy"), "seed": seed}
        if traced:
            meta["trickle"] = trickle_files(seed, in_dir)
        return meta

    def prepare(self, spark, meta: dict, work_dir: str) -> None:
        self.meta = meta
        self.work_dir = work_dir
        self.tiles = spark.read.parquet(meta["tiles"])
        self.raster = np.load(meta["raster"])

    def _focal(self):
        return tiling.apply_focal(
            self.tiles, self.R, "circle", ["mean"], self.T,
            level=self.LEVEL, wrap_nx=self.nx,
        )

    def run_op(self, spark, tracer, k: int) -> dict:
        t = time.perf_counter()
        _noop(self._focal())
        wall = time.perf_counter() - t
        return {"op_s": wall, "units": self.nx * self.ny}

    def _padded(self, tx: int, ty: int, g: int) -> np.ndarray:
        """Tile (tx, ty) with a g-cell margin: x wraps, y beyond the
        raster is NaN (no tile there)."""
        T = self.T
        H = self.raster.shape[0]
        ys = np.arange(ty * T - g, (ty + 1) * T + g)
        xs = np.arange(tx * T - g, (tx + 1) * T + g) % self.raster.shape[1]
        out = np.full((len(ys), len(xs)), np.nan)
        ok = (ys >= 0) & (ys < H)
        out[ok] = self.raster[ys[ok]][:, xs]
        return out

    def check(self, spark, ops: list[dict]) -> list[tuple[str, bool]]:
        got = {
            (r.tile_x, r.tile_y): np.asarray(r.data, dtype=np.float64).reshape(r.nrows, r.ncols)
            for r in self._focal().collect()
        }
        results = [("focal_dense: one output tile per input tile",
                    len(got) == self.nx * self.ny)]
        rng = np.random.default_rng(self.meta["seed"] + 1)
        keys = sorted(got)
        for i in rng.choice(len(keys), size=min(3, len(keys)), replace=False):
            tx, ty = keys[i]
            want = _brute_focal_mean(self._padded(tx, ty, self.R), self.R)
            ok = np.allclose(got[(tx, ty)], want, rtol=1e-12, atol=0, equal_nan=True)
            results.append((f"focal_dense: tile ({tx},{ty}) equals brute-force mean", ok))
        return results

    def layers(self, spark, tracer, ops: list[dict]) -> tuple[dict, list]:
        """Driver-side and isolated measurements of the traced run."""
        for i in range(3):
            with tracer.span(f"tiling.halo{i}"):
                _noop(tiling.halo_exchange(self.tiles, self.T, self.R, self.nx))
        out = {"tiling.halo_s": statistics.median(tracer.walls("tiling.halo"))}
        # kernel radius sweep on one padded tile of this raster; the
        # margin fits the largest radius so every radius sees one array
        padded = self._padded(0, 0, 31)
        for name, fn, radii in (
            ("focal_mean", kernels.focal_mean, (1, 7, 31)),
            ("focal_std", kernels.focal_std, (7,)),
            ("focal_majority", kernels.focal_majority, (7,)),
        ):
            for r in radii:
                fn(padded, r, "circle")
                out[f"kernels.{name}_ms.r{r}"] = 1e3 * _median_wall(
                    lambda: fn(padded, r, "circle"), 5
                )
        for r in (1, 7, 31):
            out[f"kernels.chord_rows.r{r}"] = _count_chord_rows(padded, r)
        trickle, checks = drain_trickle(
            spark, tracer, self.meta["trickle"], self.work_dir, self.meta["seed"]
        )
        out.update(trickle)
        return out, checks

    def from_log(self, groups: dict, ops: list[dict], out: dict) -> None:
        halo_rows, halo_bytes, sent, ret, worker = [], [], [], [], []
        for k in range(len(ops)):
            st = groups.get(f"op{k}", [])
            halo_rows.append(metric_sum(st, "internal.metrics.shuffle.write.recordsWritten"))
            halo_bytes.append(metric_sum(st, "internal.metrics.shuffle.write.bytesWritten"))
            sent.append(metric_sum(st, "data sent to Python workers"))
            ret.append(metric_sum(st, "data returned from Python workers"))
            worker.append(metric_sum(st, "time to run Python workers") / 1e3)
        med = statistics.median
        out.update(
            {
                "tiling.halo_rows": med(halo_rows),
                "tiling.halo_shuffle_bytes": med(halo_bytes),
                "tiling.py_bytes_sent": med(sent),
                "tiling.py_bytes_returned": med(ret),
                "tiling.py_worker_s": med(worker),
                "tiling.focal_s": med(o["op_s"] for o in ops) - out["tiling.halo_s"],
            }
        )


def _count_chord_rows(padded: np.ndarray, r: int) -> int:
    """Chord rows one ``kernels.focal_mean`` call passes to
    ``kernels.sliding_sum_chords`` (counted, not timed)."""
    orig = kernels.sliding_sum_chords
    n = 0

    def counting(plane, chords):
        nonlocal n
        n += len(chords)
        return orig(plane, chords)

    kernels.sliding_sum_chords = counting
    try:
        kernels.focal_mean(padded, r, "circle")
    finally:
        kernels.sliding_sum_chords = orig
    return n


# The streaming layer: a trickle of small document files drained
# through streaming.incremental_focal, one file per trigger. It runs in
# focal_dense's traced round (it reuses the tiling operators), not as a
# workload of its own; see README.md.
TRICKLE_FILES, TRICKLE_DOCS = 2, 100
TRICKLE_LEVEL, TRICKLE_T, TRICKLE_R = 12, 32, 3


def trickle_files(seed: int, in_dir: str) -> str:
    """Small files of documents sorted by location, so each file
    touches a few tiles of the large trickle grid."""
    n = TRICKLE_FILES * TRICKLE_DOCS
    pdf = fixtures.documents_geo_pandas(4 * n, seed=seed)
    geo = [next(s["media_ref"] for s in spans if s["kind"] == "geo") for spans in pdf["spans"]]
    lat = np.array([float(g[4:].split(",")[0]) for g in geo])
    lon = np.array([float(g[4:].split(",")[1]) for g in geo])
    order = np.lexsort((lon, np.floor(lat / 2.0)))[:n]
    out = os.path.join(in_dir, "trickle")
    os.makedirs(out)
    schema = DOCS_ARROW.append(pa.field("ts", pa.timestamp("us", tz="UTC")))
    base = pd.Timestamp("2026-01-01", tz="UTC")
    for i, chunk in enumerate(np.array_split(order, TRICKLE_FILES)):
        part = pdf.iloc[chunk].copy()
        part["ts"] = [base + pd.Timedelta(minutes=int(k)) for k in chunk]
        pq.write_table(
            pa.Table.from_pandas(part, schema=schema, preserve_index=False),
            os.path.join(out, f"f{i:03d}.parquet"),
        )
    return out


def drain_trickle(spark, tracer, src: str, work_dir: str, seed: int) -> tuple[dict, list]:
    """Drain the trickle files through ``streaming.incremental_focal``
    one file per trigger; check sampled tiles against batch focal."""
    L, T, r = TRICKLE_LEVEL, TRICKLE_T, TRICKLE_R
    wrap_nx = (2**L) // T
    cells = streaming.stream_cells(
        streaming.read_documents_stream(spark, src, max_files_per_trigger=1), L, T
    )
    start, state_path, out_path = streaming.incremental_focal(
        cells, T, L, r, "circle", ["mean", "count"],
        os.path.join(work_dir, "ivm"), wrap_nx=wrap_nx,
    )
    with tracer.span("streaming.trickle"):
        q = start()
        q.awaitTermination()
    batches = [
        p["durationMs"]["triggerExecution"] / 1e3
        for p in q.recentProgress if p["numInputRows"] > 0
    ]
    last = max(int(f[:-5]) for f in os.listdir(os.path.join(state_path, "MANIFEST")))
    manifest_file = os.path.join(state_path, "MANIFEST", f"{last}.json")
    with open(manifest_file) as f:
        manifest = json.load(f)
    dirty = sum(1 for v in manifest.values() if int(v) == last)
    last_bytes = _dir_bytes_files(os.path.join(state_path, f"v{last}"))[0]
    out = {
        "streaming.batch_s.p50": statistics.median(batches),
        "streaming.batch_s.p90": float(np.percentile(batches, 90)),
        "streaming.batch_s.last_over_first": batches[-1] / batches[0],
        "streaming.manifest_bytes.last": float(os.path.getsize(manifest_file)),
        "streaming.state_files": float(_dir_bytes_files(state_path)[1]),
        "streaming.bytes_per_dirty_tile": last_bytes / max(1, dirty),
    }
    # sampled final tiles equal one batch apply_focal over the same files
    batch_pts = udfs.with_cell_and_tile(udfs.geocode_cols(spark.read.parquet(src)), L, T)
    want_df = tiling.apply_focal(
        tiling.rasterize(batch_pts, T, L, stat="count"), r, "circle",
        ["mean", "count"], T, level=L, wrap_nx=wrap_nx,
    )
    want = {(x.tile_x, x.tile_y, x.band): np.asarray(x.data, dtype=np.float64)
            for x in want_df.collect()}
    got = {(x.tile_x, x.tile_y, x.band): np.asarray(x.data, dtype=np.float64)
           for x in spark.read.parquet(out_path).collect()}
    rng = np.random.default_rng(seed + 2)
    keys = sorted(want)
    sample = [keys[i] for i in rng.choice(len(keys), size=min(8, len(keys)), replace=False)]
    ok = set(got) == set(want) and all(
        np.allclose(got[k], want[k], rtol=1e-12, atol=1e-12, equal_nan=True) for k in sample
    )
    return out, [
        (f"streaming trickle: {len(sample)} sampled tiles equal batch apply_focal "
         f"over {len(batches)} micro-batches", ok)
    ]


class PipPoints:
    """Fused point-in-polygon join of seeded points against
    ``fixtures.polygons()``."""

    name = "pip_points"
    UNIT = "input points"
    PATH_LAYERS = ("joins.cover_s", "spark.stage_busy_s", "spark.driver_gap_s")
    LEVEL = 7

    def __init__(self, scale: float):
        self.n = max(10_000, int(1_000_000 * scale))
        self.pipeline = PipelineLayers(scale)

    @staticmethod
    def _centres(polys: list[dict]) -> list[tuple[float, float]]:
        out = []
        for p in polys:
            la = np.array([v["lat"] for v in p["ring"]])
            lo = np.array([v["lon"] for v in p["ring"]])
            out.append((float(la.mean()), float((lo.mean() + 180.0) % 360.0 - 180.0)))
        return out

    def make_inputs(self, seed: int, in_dir: str, traced: bool) -> dict:
        n = self.n
        rng = np.random.default_rng(seed)
        lat = rng.uniform(-60.0, 60.0, n)
        lon = rng.uniform(-180.0, 180.0, n)
        # second half clustered around the polygon centres
        half = np.arange(n // 2, n)
        centres = np.array(self._centres(fixtures.polygons()))
        which = rng.integers(0, len(centres), len(half))
        lat[half] = np.clip(centres[which, 0] + rng.normal(0.0, 4.0, len(half)), -60.0, 60.0)
        lon[half] = (centres[which, 1] + rng.normal(0.0, 5.0, len(half)) + 180.0) % 360.0 - 180.0
        path = os.path.join(in_dir, "points")
        _write_files(
            pa.table({"q_id": np.arange(n, dtype=np.int64), "lat": lat, "lon": lon}), path
        )
        meta = {"points": path, "seed": seed}
        if traced:
            meta.update(self.pipeline.make_inputs(seed, in_dir))
        return meta

    def prepare(self, spark, meta: dict, work_dir: str) -> None:
        self.meta = meta
        self.work_dir = work_dir
        self.points = spark.read.parquet(meta["points"])
        self.polys = fixtures.polygons()

    def run_op(self, spark, tracer, k: int) -> dict:
        t = time.perf_counter()
        _noop(joins.pip_join(self.points, self.polys, self.LEVEL, spark))
        wall = time.perf_counter() - t
        return {"op_s": wall, "units": self.n}

    def check(self, spark, ops: list[dict]) -> list[tuple[str, bool]]:
        mod = 512
        pick = self.meta["seed"] % mod
        got = {
            (r.q_id, r.poly_id)
            for r in joins.pip_join(self.points, self.polys, self.LEVEL, spark)
            .where(F.col("q_id") % mod == pick)
            .select("q_id", "poly_id")
            .collect()
        }
        pts = pq.read_table(self.meta["points"]).to_pandas()
        pts = pts[pts["q_id"] % mod == pick]
        la, lo, q = (pts[c].to_numpy() for c in ("lat", "lon", "q_id"))
        want = set()
        for p in self.polys:
            inside = geometry.point_in_rings(la, lo, geometry.poly_rings(p))
            want |= {(int(i), int(p["poly_id"])) for i in q[inside]}
        return [
            (f"pip_points: {len(q)} sampled points equal brute-force point_in_rings",
             got == want and len(want) > 0)
        ]

    def layers(self, spark, tracer, ops: list[dict]) -> tuple[dict, list]:
        covers = {}

        def cover():
            for p in self.polys:
                covers[p["poly_id"]] = geometry.polygon_cell_cover(
                    p["ring"], self.LEVEL, p.get("holes")
                )

        out = {"joins.cover_s": _median_wall(cover, 5),
               "joins.cover_cells": float(sum(len(c) for c in covers.values()))}
        pts = pq.read_table(self.meta["points"]).to_pandas()
        la, lo = pts["lat"].to_numpy(), pts["lon"].to_numpy()
        cid = grid.cell_encode(la, lo, self.LEVEL)
        cands = [(np.isin(cid, covers[p["poly_id"]]), geometry.poly_rings(p)) for p in self.polys]
        n_cand = sum(int(m.sum()) for m, _ in cands)

        def refine():
            for m, rings in cands:
                geometry.point_in_rings(la[m], lo[m], rings)

        out["joins.refine_us_per_candidate"] = 1e6 * _median_wall(refine, 3) / max(1, n_cand)
        with tracer.span("joins.count"):
            matched = joins.pip_join(self.points, self.polys, self.LEVEL, spark).count()
        out["joins.match_ratio"] = matched / self.n
        layers, checks = self.pipeline.measure(spark, tracer, self.meta, self.work_dir)
        out.update(layers)
        return out, checks

    def from_log(self, groups: dict, ops: list[dict], out: dict) -> None:
        self.pipeline.from_log(groups, self.meta, out)


class PipelineLayers:
    """The pipeline, lakehouse and udfs layers, measured in pip_points's
    traced round: ``pipeline.run_pipeline`` over seeded documents into a
    fresh root, then a rerun on the same root that must skip every
    partition (once to warm up, once measured), then isolated calls into
    ``LakeTable``, ``udfs`` and ``tiling.rasterize``. Not a workload of
    its own; see README.md."""

    # run_pipeline's stages, in order, and the table each commits
    TABLES = {"ingest": "documents", "points": "points", "tiles": "tiles", "stats": "stats"}
    LEVEL, T = 9, 32  # PipelineConfig's grid

    def __init__(self, scale: float):
        self.n = max(500, int(8000 * scale))

    def make_inputs(self, seed: int, in_dir: str) -> dict:
        pdf = fixtures.documents_geo_pandas(self.n, seed=seed)
        docs_dir = os.path.join(in_dir, "docs")
        _write_files(pa.Table.from_pandas(pdf, schema=DOCS_ARROW, preserve_index=False), docs_dir)
        return {"docs": docs_dir, "docs_bytes": _dir_bytes_files(docs_dir)[0]}

    def _run_twice(self, spark, tracer, docs, root: str, tag: str) -> tuple[dict, list]:
        cfg = pipeline.PipelineConfig(root)
        start = time.time()
        with tracer.span(f"pipeline.cold{tag}"):
            cold = pipeline.run_pipeline(spark, docs, cfg)
        info = {"start": start, "cold": cold, "bytes_files": _dir_bytes_files(root)}
        with tracer.span(f"pipeline.resume{tag}"):
            info["resume"] = pipeline.run_pipeline(spark, docs, cfg)
        resume = info["resume"]
        checks = [
            (f"pipeline{tag}: every verify_snapshot() is true", all(
                all(LakeTable(root, t).verify_snapshot().values()) for t in self.TABLES.values()
            )),
            (f"pipeline{tag}: rerun computes no partition, same content", all(
                resume[s]["computed_partitions"] == 0
                and resume[s]["content_hash"] == cold[s]["content_hash"]
                for s in self.TABLES
            )),
            (f"pipeline{tag}: every stage committed rows",
             all(cold[s]["total_rows"] > 0 for s in self.TABLES)),
        ]
        return info, checks

    def measure(self, spark, tracer, meta: dict, work_dir: str) -> tuple[dict, list]:
        docs = spark.read.schema(fixtures.DOCUMENTS_SCHEMA_DDL).parquet(meta["docs"])
        _, checks = self._run_twice(spark, tracer, docs, os.path.join(work_dir, "warm"), ".warm")
        root = os.path.join(work_dir, "root")
        self.info, measured = self._run_twice(spark, tracer, docs, root, "")
        checks += measured
        out = {
            "pipeline.cold_s": tracer.walls("pipeline.cold")[-1],
            "pipeline.resume_s": tracer.walls("pipeline.resume")[-1],
        }
        t = time.perf_counter()
        for name in self.TABLES.values():
            LakeTable(root, name).verify_snapshot()
        out["lakehouse.verify_s"] = time.perf_counter() - t
        iso = os.path.join(work_dir, "isolated")
        for stage, name in self.TABLES.items():
            src = LakeTable(root, name)
            part_col = src.snapshot()["partition_col"]
            with tracer.span(f"lakehouse.write.{stage}"):
                LakeTable(iso, name).write_stage(
                    spark, src.read(spark), part_col, stage, {"params": {"isolated": True}}
                )
            out[f"lakehouse.write_stage_s.{stage}"] = tracer.walls(f"lakehouse.write.{stage}")[-1]
        # udfs and rasterize, each timed in isolation over materialized input
        for i in range(3):
            with tracer.span(f"udfs.geocode{i}"):
                _noop(udfs.geocode_cols(docs))
        geo_path = os.path.join(work_dir, "geocoded")
        udfs.geocode_cols(docs).write.parquet(geo_path)
        geo = spark.read.parquet(geo_path)
        for i in range(3):
            with tracer.span(f"udfs.encode{i}"):
                _noop(udfs.with_cell_and_tile(geo, self.LEVEL, self.T))
        pts_path = os.path.join(work_dir, "encoded")
        udfs.with_cell_and_tile(geo, self.LEVEL, self.T).write.parquet(pts_path)
        pts = spark.read.parquet(pts_path)
        for i in range(3):
            with tracer.span(f"tiling.rasterize{i}"):
                _noop(tiling.rasterize(pts, self.T, self.LEVEL, stat="count"))
        out["udfs.geocode_s"] = statistics.median(tracer.walls("udfs.geocode"))
        out["udfs.encode_s"] = statistics.median(tracer.walls("udfs.encode"))
        out["tiling.rasterize_s"] = statistics.median(tracer.walls("tiling.rasterize"))
        return out, checks

    def from_log(self, groups: dict, meta: dict, out: dict) -> None:
        info = self.info
        prev = info["start"]
        for s in self.TABLES:
            out[f"pipeline.stage_s.{s}"] = info["cold"][s]["created_at"] - prev
            prev = info["cold"][s]["created_at"]
        # the input fingerprint is the resume's first SQL execution
        st = groups.get("pipeline.resume", [])
        ids = [x["exec_id"] for x in st if x["exec_id"] is not None]
        out["pipeline.fingerprint_s"] = (
            busy_s([x for x in st if x["exec_id"] == min(ids)]) if ids else 0.0
        )
        nbytes, nfiles = info["bytes_files"]
        out["lakehouse.bytes_written"] = float(nbytes)
        out["lakehouse.files_written"] = float(nfiles)
        out["lakehouse.write_amp"] = nbytes / meta["docs_bytes"]
        out["lakehouse.computed_partitions"] = float(
            sum(info["cold"][s]["computed_partitions"] for s in self.TABLES)
        )
        out["lakehouse.skipped_partitions"] = float(
            sum(info["resume"][s]["skipped_partitions"] for s in self.TABLES)
        )
        raster = [row for i in range(3) for row in groups.get(f"tiling.rasterize{i}", [])]
        out["tiling.rasterize_shuffle_bytes"] = (
            metric_sum(raster, "internal.metrics.shuffle.write.bytesWritten") / 3
        )


WORKLOADS = {w.name: w for w in (FocalDense, PipPoints)}

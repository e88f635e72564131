"""moving_window_spark engine — a from-scratch PySpark-native spatial
tiling + join engine with the query capabilities of ahhz/moving_window,
generalized per BASELINE.json's north rule into a lakehouse pipeline.

Modules:
  grid       — pure-NumPy hierarchical cell index (H3/S2 stand-in)
  kernels    — per-tile NumPy focal (moving-window) statistics
  fixtures   — deterministic synthetic inputs (FIXTURES.md)
  session    — SparkSession builder
  udfs       — vectorized pandas/Arrow UDF wrappers over grid
  tiling     — rasterize, halo exchange, focal-apply (Spark operators)
  joins      — point-in-polygon + kNN spatial joins
  patches    — connected components + edge-corrected patch statistics
  lakehouse  — Iceberg-style snapshots/manifests over parquet
  pipeline   — end-to-end staged pipeline with resume
  textops    — dedup / text-analysis operators over documents
  simsearch  — embedding similarity search (brute force + LSH)

Worker boot: every Python task starts with pyspark's
``setup_spark_files``, which calls ``importlib.invalidate_caches()``.
Before CPython 3.13 that makes every ``zipimporter`` re-read its whole
archive directory at once; a worker that imports pyspark from
``pyspark.zip`` (1,328 entries) holds 14-16 of them: 126-141 ms of
fixed cost per task (3.11, 4-core Xeon), for UDF bodies that can take
under a millisecond.
Every worker imports this package when it unpickles an engine UDF, so
the guard below makes an importer re-read only when its archive's
``(st_ino, st_size, st_mtime_ns)`` differs from the stamp of its last
read. A worker's first two tasks still pay (the first runs before the
import, the second takes the stamps); ``spark.python.worker.reuse``
spreads that over the session. 3.13 made the re-read lazy, so the guard
is not installed there.
"""

import sys

__version__ = "0.1.0"

if sys.version_info < (3, 13):
    import os
    import zipimport

    _reread_directory = zipimport.zipimporter.invalidate_caches

    def _invalidate_if_changed(self) -> None:
        """``zipimporter.invalidate_caches`` that skips an unchanged
        archive; no stamp yet or a failed ``stat`` re-reads as before."""
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_dir_stamp", None):
            # stamp taken before the read: a swap mid-read re-reads next time
            _reread_directory(self)
            self._dir_stamp = stamp

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

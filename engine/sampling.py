"""Deterministic dataset splitting and stratified sampling — the
training-data-pipeline staples (train/val/test carving, per-class
subsampling) as pure Spark column arithmetic.

Scale design:
- ``hash_split`` / ``sample_fraction`` are SHUFFLE-FREE: a pure
  projection/filter on a deterministic integer-mix hash of the key —
  at 100 TB they are a map-only pass that preserves the input
  partitioning, and the split is stable under reruns, repartitions,
  and cluster-size changes (unlike ``df.sample`` / ``rand()``, whose
  output depends on partitioning and seed plumbing).
- ``stratified_exact`` takes the EXACT per-group quota (ceil(frac·n))
  via one window rank per group — one shuffle on the group key; use it
  when exact class balance matters (eval carve-outs), and
  ``sample_fraction`` (hash-threshold, zero shuffle, ±binomial noise)
  for bulk subsampling.

The hash is an explicit two-round multiply-fold/xor-shift mix in
30-bit arithmetic, NOT an engine hash function: every product stays
below 2^62 so the identical expression evaluates exactly in any
BIGINT SQL dialect (Spark, DuckDB) with no overflow and no
engine-specific hash — which is what makes the split oracle-checkable
and portable across engines (the same property the doc-geo shim
exploits, engine/shim.py).

Pinned semantics:
- bucket(key) in [0, 10000): fold key to 30 bits (xor of 30-bit limbs),
  two rounds of (×Knuth-prime mod 2^30) then xor-shift-15, mod 10000;
- hash_split assigns the FIRST split whose cumulative weight covers
  the bucket (weights normalized to 10000 exactly, remainder to the
  last split);
- stratified_exact orders each group by (bucket, key) — deterministic
  total order — and keeps rank <= ceil(frac * group_count).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "balanced_downsample",
    "bucket_col",
    "bucket_sql",
    "hash_split",
    "sample_fraction",
    "stratified_exact",
]

_M = 1 << 30
_MASK = _M - 1
_P1 = 2654435761  # Knuth multiplicative primes (public-domain idiom)
_P2 = 2246822519
_BUCKETS = 10_000


def bucket_col(key: Column) -> Column:
    """key (integer) -> deterministic bucket in [0, 10000).

    The key is cast to LONG first: on an int32 column, shiftright(key,
    60) uses Java's mod-32 shift semantics (>>60 becomes >>28) and the
    bucket silently diverges from bucket_sql's int64 mirror for values
    >= 2^28."""
    key = key.cast("long")
    k = (
        (key.bitwiseAND(F.lit(_MASK)))
        .bitwiseXOR(F.shiftright(key, 30).bitwiseAND(F.lit(_MASK)))
        .bitwiseXOR(F.shiftright(key, 60))
    )
    h = (k * F.lit(_P1)) % F.lit(_M)
    h = h.bitwiseXOR(F.shiftright(h, 15))
    h = (h * F.lit(_P2)) % F.lit(_M)
    h = h.bitwiseXOR(F.shiftright(h, 15))
    return (h % F.lit(_BUCKETS)).cast("int")


def bucket_sql(key: str) -> str:
    """The identical bucket computation as ANSI-ish SQL (DuckDB
    dialect: xor() function, >> / & / % operators on BIGINT)."""
    k = f"xor(xor({key} & {_MASK}, ({key} >> 30) & {_MASK}), {key} >> 60)"
    h1 = f"(({k}) * {_P1}) % {_M}"
    h1x = f"xor({h1}, ({h1}) >> 15)"
    h2 = f"(({h1x}) * {_P2}) % {_M}"
    h2x = f"xor({h2}, ({h2}) >> 15)"
    return f"CAST(({h2x}) % {_BUCKETS} AS INT)"


def _cut_points(weights: dict[str, float]) -> list[tuple[str, int]]:
    total = sum(weights.values())
    names = list(weights)
    cuts, acc = [], 0
    for name in names[:-1]:
        acc += round(weights[name] / total * _BUCKETS)
        cuts.append((name, acc))
    cuts.append((names[-1], _BUCKETS))
    return cuts


def hash_split(
    df: DataFrame, key: str, weights: dict[str, float], out_col: str = "split"
) -> DataFrame:
    """Add ``out_col`` assigning each row to a named split (e.g.
    {"train": .9, "val": .05, "test": .05}) — shuffle-free, stable."""
    b = bucket_col(F.col(key))
    cuts = _cut_points(weights)
    expr = F.lit(cuts[-1][0])
    for name, hi in reversed(cuts[:-1]):
        expr = F.when(b < hi, F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def split_case_sql(key: str, weights: dict[str, float]) -> str:
    """CASE expression mirroring hash_split for the oracle."""
    b = bucket_sql(key)
    cuts = _cut_points(weights)
    whens = " ".join(
        f"WHEN ({b}) < {hi} THEN '{name}'" for name, hi in cuts[:-1]
    )
    return f"CASE {whens} ELSE '{cuts[-1][0]}' END"


def sample_fraction(df: DataFrame, key: str, frac: float) -> DataFrame:
    """Deterministic ~frac subsample: keep bucket(key) < frac·10000.
    Zero shuffle; supersets are nested (frac=0.1 ⊂ frac=0.2)."""
    return df.filter(bucket_col(F.col(key)) < int(round(frac * _BUCKETS)))


def stratified_exact(
    df: DataFrame, group_cols: list[str], key: str, frac: float
) -> DataFrame:
    """Exactly ceil(frac·n) rows per group, deterministically chosen
    (lowest hash buckets win; ties broken by key). One shuffle."""
    w = Window.partitionBy(*group_cols)
    ordered = w.orderBy(bucket_col(F.col(key)), F.col(key))
    out = (
        df.withColumn("_rk", F.row_number().over(ordered))
        .withColumn("_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_rk") <= F.ceil(F.lit(frac) * F.col("_n")))
        .drop("_rk", "_n")
    )
    return out


def balanced_downsample(
    df: DataFrame, group_col: str, key: str
) -> DataFrame:
    """Mixture rebalancing (round 4; the source-balancing stage of a
    pre-training data pipeline): deterministically downsample every
    group to ≈ the SMALLEST group's size, so the output mixture is
    uniform across groups. Pinned rule, mirrored by the oracle:

    - per-group keep threshold t_g = floor(min_n · 10000 / n_g) —
      exact integer arithmetic below 2^53 in both engines;
    - keep a row iff bucket(key) < t_g (the portable 30-bit hash
      bucket of hash_split — rerun/repartition/cluster-size stable,
      and nested with sample_fraction's subsets).

    Shuffle shape: ONE group-count agg (map-side combinable), its
    1-row min cross-joined lazily, and the tiny per-group threshold
    table broadcast back onto the stream — the filter itself is
    map-only column arithmetic, so the plan is flat at any scale."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_bd_n"))
    mn = counts.agg(F.min("_bd_n").alias("_bd_mn"))
    # threshold clamped to >= 1 bucket: a group > 10000x the smallest
    # would otherwise floor to 0 and VANISH from the "balanced" output;
    # the clamp keeps it at the bucket space's resolution floor
    # (~min_n/10 at 10^5x skew) instead of silently empty
    thr = counts.crossJoin(F.broadcast(mn)).select(
        group_col,
        F.greatest(
            F.lit(1),
            F.floor((F.col("_bd_mn") * _BUCKETS) / F.col("_bd_n"))
            .cast("int"),
        ).alias("_bd_t"),
    )
    return (
        df.join(F.broadcast(thr), group_col)
        .filter(bucket_col(F.col(key)) < F.col("_bd_t"))
        .drop("_bd_t")
    )

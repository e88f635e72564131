"""engine/chains.py: the pointer-jumping round driver and its two steps,
checked against plain Python on a seeded disjoint union of chains,
stars and long-tailed trees (one Spark call per step), plus the job
budget per round and the loud non-convergence error."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine import chains


def _forest(seed: int) -> dict[int, int | None]:
    """succ map over shuffled node ids: a 1,200-node chain, stars and
    random trees with long tails, as one disjoint union."""
    rng = np.random.default_rng(seed)
    parent: list[int | None] = []

    def add(par_of_new: list[int | None]) -> None:
        base = len(parent)
        parent.extend(None if p is None else base + p for p in par_of_new)

    add([None] + list(range(1199)))  # chain, terminal first
    for size in (2, 50, 300):  # stars
        add([None] + [0] * (size - 1))
    for _ in range(6):  # trees, then a tail hanging off a random node
        n = int(rng.integers(20, 200))
        tree = [None] + [int(rng.integers(0, i)) for i in range(1, n)]
        tail = int(rng.integers(0, n))
        for _ in range(int(rng.integers(100, 400))):
            tree.append(tail)
            tail = len(tree) - 1
        add(tree)
    ids = rng.permutation(len(parent) * 3)[: len(parent)]
    return {
        int(ids[i]): (None if p is None else int(ids[p]))
        for i, p in enumerate(parent)
    }


def test_follow_matches_python_walk(spark):
    succ = _forest(7)
    rng = np.random.default_rng(8)
    w = {k: int(rng.integers(0, 10)) for k in succ}
    rows = [
        (k, 10**9 + k if s is None else -(s + 1), w[k]) for k, s in succ.items()
    ]
    chain = spark.createDataFrame(rows, "okey long, val long, w long")
    out, rounds = chains.follow(chain, ("w",), "test_follow")
    got = {r.okey: (r.val, r.w) for r in out.collect()}

    want, longest = {}, 0
    for k in succ:
        node, total, hops = k, w[k], 0
        while succ[node] is not None:
            node = succ[node]
            total += w[node]
            hops += 1
        want[k] = (10**9 + node, total)
        longest = max(longest, hops)
    assert longest >= 1000
    assert got == want
    assert rounds <= math.ceil(math.log2(longest)) + 1, rounds
    # a join estimates the product of its sides; carried through every
    # checkpoint, the estimate would double in bit length per round
    size = int(out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())  # noqa: SLF001
    assert size < 2**63, size.bit_length()


def test_components_matches_union_find(spark):
    succ = _forest(11)
    name = {k: f"n{k:06d}" for k in succ}
    edges = [
        (name[k], name[s]) if k % 2 else (name[s], name[k])
        for k, s in succ.items()
        if s is not None
    ]
    lonely = ["a_lonely", "z_lonely"]  # nodes on no edge
    nodes = spark.createDataFrame(
        [(n,) for n in list(name.values()) + lonely], "id string"
    )
    edf = spark.createDataFrame(edges, "a string, b string").localCheckpoint()
    got = {
        r.node: r.root
        for r in chains.components(edf, nodes, "test_components").collect()
    }

    up: dict[str, str] = {n: n for n in list(name.values()) + lonely}

    def find(x: str) -> str:
        while up[x] != x:
            up[x] = up[up[x]]
            x = up[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        up[max(ra, rb)] = min(ra, rb)
    assert got == {n: find(n) for n in up}


def test_iterate_job_budget(spark):
    """A shuffle-free step costs exactly one Spark job per round plus
    one for the initial state: the pending count rides the checkpoint
    job, no separate action asks whether anything is left."""
    state = spark.range(5).select(F.col("id").alias("x")).localCheckpoint()
    sc = spark.sparkContext
    sc.setJobGroup("test_iterate_job_budget", "job budget")
    try:
        out, rounds = chains.iterate(
            state,
            lambda s: s.select(F.greatest(F.col("x") - 1, F.lit(0)).alias("x")),
            F.col("x") > 0,
            "countdown",
        )
        jobs = sc.statusTracker().getJobIdsForGroup("test_iterate_job_budget")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rounds == 4
    assert len(jobs) == rounds + 1, jobs
    assert sorted(r.x for r in out.collect()) == [0] * 5


def test_iterate_raises_on_cycle(spark, monkeypatch):
    monkeypatch.setattr(chains, "MAX_ROUNDS", 3)
    cyc = spark.createDataFrame([(1, -3), (2, -2)], "okey long, val long")
    with pytest.raises(RuntimeError, match=r"two_cycle: 2 rows .*round 3"):
        chains.follow(cyc, (), "two_cycle")


def test_remap_resolves_and_raises():
    table = [{"k": 7, "v": 70, "w": 1}, (3, 30, 2), {"k": 5, "v": 50, "w": 3}]
    v, w = chains.remap(np.array([5, 3, 7, 3]), table, "t")
    assert v.tolist() == [50, 30, 70, 30] and w.tolist() == [3, 2, 1, 2]
    with pytest.raises(RuntimeError, match=r"tile \(1,2\): unresolved keys: \[4\]"):
        chains.remap(np.array([3, 4]), table, "tile (1,2)")
    with pytest.raises(RuntimeError, match="empty map"):
        chains.remap(np.array([3]), None, "t")


def test_iterate_takes_any_size_estimate(spark):
    """A state can arrive with a size estimate py4j cannot convert (past
    4,300 digits): joins multiply estimates and checkpoints keep them."""
    df = spark.range(3).select(F.col("id").alias("k"))
    for _ in range(12):
        df = df.join(df.select(F.col("k").alias("k2")), F.col("k") == F.col("k2"))
        df = df.select("k").localCheckpoint()
    out, rounds = chains.iterate(df, lambda s: s, F.lit(False), "big_estimate")
    assert rounds == 0 and out.count() == 3

"""Pointer jumping over seam tables: the one round driver behind the
engine's distributed fixpoints (flow accumulation, watershed, flow
length, Strahler levels, patch stitching, q37 clusters).

Each of those operators solves its tiles locally and leaves a small
table of rows that still point across a seam. ``iterate`` runs the
rounds over it: every pass is ONE eager ``localCheckpoint`` that also
counts the pending rows through an ``Observation``, so no separate
``isEmpty()`` / ``count()`` action asks whether anything is left.
Past ``MAX_ROUNDS`` it raises, naming the operator, the pending rows
and the round. ``follow`` (Wyllie pull doubling with carried sums) and
``components`` (min-label propagation) are the two shared steps;
``remap`` is the paint-side lookup of a resolved table, and
``checkpoint`` the eager checkpoint that a loop of joins can repeat
without its size estimate compounding.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

__all__ = ["MAX_ROUNDS", "checkpoint", "components", "follow", "iterate", "remap"]

# pointer doubling resolves any chain a 64-bit id space can hold in
# 64 rounds: a fixpoint still pending here is a cycle or a lost row
MAX_ROUNDS = 64


def checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` for a loop of joins.

    A checkpoint keeps its plan's size estimate, and a join estimates
    the product of its sides: carried round to round, the estimate's
    bit length doubles per round until planning alone stalls (~20
    rounds). Past what a long holds it means nothing, so the
    checkpointed rows are re-wrapped without it (Spark then assumes its
    default size)."""
    ck = df.localCheckpoint(eager=True)
    qe = ck._jdf.queryExecution()  # noqa: SLF001
    try:
        bogus = qe.optimizedPlan().stats().sizeInBytes() >= 2**63
    except ValueError:  # past 4,300 digits py4j cannot even hand it over
        bogus = True
    if not bogus:
        return ck
    spark = ck.sparkSession
    return DataFrame(
        spark._jsparkSession.internalCreateDataFrame(  # noqa: SLF001
            qe.toRdd(), ck._jdf.schema(), False  # noqa: SLF001
        ),
        spark,
    )


def _pass(state: DataFrame, pending: Column) -> tuple[DataFrame, int]:
    obs = Observation()
    state = checkpoint(state.observe(obs, F.count(F.when(pending, 1)).alias("n")))
    return state, obs.get["n"]


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    pending: Column,
    op: str,
) -> tuple[DataFrame, int]:
    """Run ``state = step(state)`` until no row satisfies ``pending``.

    ``state`` is checkpointed once before the first round and once per
    round; each checkpoint job also counts the pending rows. Returns
    (resolved state, rounds run). Raises ``RuntimeError`` naming ``op``
    when rows are still pending after ``MAX_ROUNDS`` rounds."""
    state, n = _pass(state, pending)
    rounds = 0
    while n:
        if rounds >= MAX_ROUNDS:
            raise RuntimeError(
                f"{op}: {n} rows still pending after round {rounds} "
                f"(MAX_ROUNDS={MAX_ROUNDS}) — a cycle or a lost seam row"
            )
        state, n = _pass(step(state), pending)
        rounds += 1
    return state, rounds


def follow(
    chain: DataFrame, carry: Sequence[str], op: str
) -> tuple[DataFrame, int]:
    """Resolve a chain table ``(okey, val, *carry)`` by pull doubling.

    ``val >= 0`` is a terminal id; ``val < 0`` points at the row whose
    ``okey`` is ``-(val + 1)``. On return every reachable row holds its
    terminal id in ``val`` and, in each ``carry`` column, the sum of
    that column over every row of its path, itself and the terminal
    row included. Returns (chain, rounds)."""
    done = F.col("val") >= 0
    nxt = [F.col("okey").alias("_k"), F.col("val").alias("_v")]
    nxt += [F.col(c).alias(f"_{c}") for c in carry]

    def step(c: DataFrame) -> DataFrame:
        return c.join(
            c.select(*nxt), F.when(~done, -(F.col("val") + 1)) == F.col("_k"), "left"
        ).select(
            "okey",
            F.when(done, F.col("val")).otherwise(F.coalesce("_v", "val")).alias("val"),
            *[
                F.when(done, F.col(x))
                .otherwise(F.col(x) + F.coalesce(f"_{x}", F.lit(0)))
                .alias(x)
                for x in carry
            ],
        )

    return iterate(chain.select("okey", "val", *carry), step, ~done, op)


def components(edges: DataFrame, nodes: DataFrame, op: str) -> DataFrame:
    """Connected components of an undirected graph.

    ``edges``: ``(a, b)`` pairs, either direction (read every round,
    so pass a checkpointed frame); ``nodes``: one column of node ids,
    each once, covering every edge endpoint. Ids only need an order
    (longs, strings). Returns ``(node, root)`` with ``root`` the
    minimum node id of the node's component.

    Each round every node takes the min of its own and its neighbors'
    roots, offers that min to its old root as well (hooking the whole
    tree, as in Shiloach–Vishkin), then jumps once through its new
    root's root. Roots only decrease and stay inside the component,
    so a round that moves nothing is the fixpoint. Without the root
    hooking a 1,000-node chain in shuffled id order still moved after
    64 rounds; with it, sorted and shuffled 1,000-node chains both
    settle in 9–10 rounds."""
    und = edges.select("a", "b").unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )

    def step(lab: DataFrame) -> DataFrame:
        nb = (
            und.join(lab, und.a == lab.node)
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("root").alias("_nb"))
        )
        # least() skips nulls: a node on no edge keeps its root
        low = lab.join(nb, "node", "left").select(
            "node", "root", F.least("root", "_nb").alias("_low")
        )
        hook = low.groupBy(F.col("root").alias("_h")).agg(
            F.min("_low").alias("_hl")
        )
        new = low.join(hook, low.node == F.col("_h"), "left").select(
            "node",
            F.col("root").alias("_old"),
            F.least("_low", "_hl").alias("root"),
        )
        # roots are node ids, so a root's own root is always defined
        jump = new.select(F.col("node").alias("_n"), F.col("root").alias("_r"))
        root = F.least("root", "_r")
        return new.join(jump, new.root == F.col("_n"), "left").select(
            "node", root.alias("root"), (root != F.col("_old")).alias("moved")
        )

    node = F.col(nodes.columns[0])
    first = nodes.select(
        node.alias("node"), node.alias("root"), F.lit(True).alias("moved")
    )
    lab, _ = iterate(first, step, F.col("moved"), op)
    return lab.select("node", "root")


def remap(want: np.ndarray, table, ctx: str) -> list[np.ndarray]:
    """Paint-side lookup in a resolved table: ``table`` is one tile's
    ``collect_list(struct(key, *values))`` (dicts or Rows); returns one
    int64 array per value column, aligned with ``want``. A key the
    table lacks raises naming ``ctx`` — a clipped lookup would paint a
    neighbor's value."""
    rows = [
        tuple(e.values()) if isinstance(e, dict) else tuple(e)
        for e in (() if table is None else table)
    ]
    if not rows:
        raise RuntimeError(f"{ctx}: {len(want)} keys but an empty map")
    tab = np.array(rows, dtype=np.int64)
    tab = tab[np.argsort(tab[:, 0])]
    pos = np.clip(np.searchsorted(tab[:, 0], want), 0, len(tab) - 1)
    hit = tab[pos, 0] == want
    if not hit.all():
        raise RuntimeError(f"{ctx}: unresolved keys: {np.unique(want[~hit])[:5]}")
    return list(tab[pos, 1:].T)

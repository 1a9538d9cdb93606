"""Round materialisation for the iterative graph operators.

riptable is eager and has no iterative graph operators; the ones here
(``merge``, ``dedup``, ``mining``) run a step round after round. Each
round's state is checkpointed: without it the final plan nests every
previous round, so Catalyst re-optimizes a tree that grows with the
round count and subtrees that exchange reuse misses run again. This
module owns that policy, the stop test, and the edge relations most
graph operators start from.
"""

from __future__ import annotations

from typing import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def checkpoint(df: DataFrame) -> DataFrame:
    """Materialise ``df`` now and cut its lineage.

    Runs one Spark job while the plan is built. The blocks live on the
    executors that computed them: on a cluster where executors can be
    lost, a reliable ``checkpoint`` into a checkpoint dir is the safe
    swap (``persist`` does not cut the lineage, so it does not bound
    plan size)."""
    return df.localCheckpoint(eager=True)


def rounds(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    converged: Callable[[DataFrame, DataFrame], bool] | None = None,
) -> Iterator[DataFrame]:
    """Yield the checkpointed state after each of up to ``max_rounds``
    applications of ``step``. Without ``converged`` every round runs;
    with it, the rounds stop after the first one where
    ``converged(old, new)`` is true."""
    for _ in range(max_rounds):
        new = checkpoint(step(state))
        yield new
        if converged is not None and converged(state, new):
            return
        state = new


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    converged: Callable[[DataFrame, DataFrame], bool] | None = None,
) -> DataFrame:
    """The last state :func:`rounds` yields (``state`` itself when no
    round runs)."""
    for state in rounds(state, step, max_rounds, converged):
        pass
    return state


def same_row_count() -> Callable[[DataFrame, DataFrame], bool]:
    """A ``converged`` test for steps that only add rows: stop when a
    round adds none. Each state is counted once, the new state's count
    being carried to the next round as the old one, so a round costs
    one count job (the first round also counts the starting state)."""
    counts: list[int] = []

    def converged(old: DataFrame, new: DataFrame) -> bool:
        if not counts:
            counts.append(old.count())
        counts.append(new.count())
        return counts[-1] == counts[-2]

    return converged


def undirected_edges(df: DataFrame, a: str, b: str) -> DataFrame:
    """The canonical undirected edge relation (u, v) with u < v: each
    edge once whatever its orientation, self-loops and NULL endpoints
    dropped."""
    return (
        df.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def node_set(df: DataFrame, a: str, b: str) -> DataFrame:
    """The distinct endpoints of the edges (a, b), as one ``node``
    column."""
    return df.select(F.col(a).alias("node")).union(df.select(F.col(b).alias("node"))).distinct()


def triangles(e: DataFrame) -> DataFrame:
    """Each triangle of the canonical edge relation (u, v) once, as
    (a, b, c) with a < b < c: the two-path a-b-c closed by the edge
    (a, c). Two equi-joins, never a cross join; the orientation is the
    duplication guard (unoriented, each triangle appears 6×)."""
    ab = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bc = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    ac = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    return ab.join(bc, "b").join(ac, ["a", "c"])

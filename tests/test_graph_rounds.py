"""The round driver of operators/graph.py, on stand-in relations that
record how often they are counted (no Spark job needed)."""

from __future__ import annotations

from riptable_spark.operators import graph


class _Rel:
    """Stands in for a DataFrame: a row count and a checkpoint no-op."""

    counts = 0

    def __init__(self, n: int):
        self.n = n

    def localCheckpoint(self, eager: bool):
        return self

    def count(self) -> int:
        _Rel.counts += 1
        return self.n


def _run(sizes, max_rounds, converged=None):
    _Rel.counts = 0
    it = iter(sizes)
    steps = []

    def step(r):
        steps.append(r.n)
        return _Rel(next(it))

    out = graph.fixpoint(_Rel(next(it)), step, max_rounds, converged)
    return out.n, len(steps), _Rel.counts


def test_same_row_count_counts_each_state_once():
    # 3 -> 5 -> 6 -> 6 stops after round 3: four states, four counts
    # (counting old and new each round would take six)
    assert _run([3, 5, 6, 6, 9], 10, graph.same_row_count()) == (6, 3, 4)


def test_rounds_bound_and_no_convergence_test():
    assert _run([3, 5, 6, 6, 9], 2, graph.same_row_count()) == (6, 2, 3)
    assert _run([3, 3, 3], 2) == (3, 2, 0)  # no test: every round runs
    assert _run([3], 0) == (3, 0, 0)  # no round: the state itself

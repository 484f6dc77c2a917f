"""Recursive CTE as an iterative DataFrame loop (SURVEY.md §2B "Query
structure": DuckDB has WITH RECURSIVE, Spark has no native operator —
the survey designates this the documented custom pattern).

Semantics implemented: ``WITH RECURSIVE t AS (seed UNION ALL step(t))``
— i.e. the *frontier* variant where each iteration feeds only the
previous iteration's new rows to ``step``, and the result is the
union of all iterations. That is exactly DuckDB/Postgres UNION ALL
recursion. (UNION-distinct recursion = pass ``distinct=True``, which
also turns the loop into a fixpoint iteration over the seen-set.)

Scale design: each iteration is one Catalyst job over the frontier
only (not the accumulated result); accumulated results are unioned
lazily and the lineage is truncated with ``localCheckpoint`` every
``checkpoint_every`` iterations — unbounded lineage is the classic
iterative-Spark failure mode (plan grows linearly, stack overflows at
~100 iterations). Termination: an empty frontier; a frontier still
non-empty after ``max_iterations`` rounds raises ``RuntimeError``
rather than return a truncated result.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

StepFn = Callable[[DataFrame], DataFrame]


def recursive_cte(
    seed: DataFrame,
    step: StepFn,
    *,
    distinct: bool = False,
    max_iterations: int = 100,
    checkpoint_every: int = 10,
) -> DataFrame:
    """Evaluate ``WITH RECURSIVE t AS (seed UNION [ALL] step(t))``.

    ``step`` receives the previous iteration's frontier and returns the
    next set of rows (same schema). With ``distinct=True``, rows
    already produced are removed from the frontier each round
    (UNION-distinct fixpoint; guarantees termination on cyclic data).
    Raises ``RuntimeError`` if round ``max_iterations`` still produces
    rows.
    """
    acc = seed
    frontier = seed.localCheckpoint(eager=True)
    for i in range(max_iterations):
        nxt = step(frontier)
        if distinct:
            nxt = nxt.distinct().exceptAll(acc.distinct())
        # Materialize the frontier: terminates the loop and truncates
        # lineage so the per-iteration plan stays O(1), not O(i).
        nxt = nxt.localCheckpoint(eager=True)
        if nxt.isEmpty():
            return acc.distinct() if distinct else acc
        acc = acc.union(nxt)
        frontier = nxt
        if (i + 1) % checkpoint_every == 0:
            acc = acc.localCheckpoint(eager=True)
    raise RuntimeError(
        f"recursive_cte: frontier still non-empty after "
        f"max_iterations={max_iterations} rounds"
    )

"""Recursive CTE as an iterative DataFrame loop (SURVEY.md §2B "Query
structure": DuckDB has WITH RECURSIVE, Spark has no native operator —
the survey designates this the documented custom pattern).

Semantics implemented: ``WITH RECURSIVE t AS (seed UNION ALL step(t))``
— i.e. the *frontier* variant where each iteration feeds only the
previous iteration's new rows to ``step``, and the result is the
union of all iterations. That is exactly DuckDB/Postgres UNION ALL
recursion. (UNION-distinct recursion = pass ``distinct=True``, which
also turns the loop into a fixpoint iteration over the seen-set.)

Scale design: ``recursive_cte`` and ``operators.dedup.connected_components``
both run on :func:`fixpoint_rounds`. Each round is one Catalyst job
over the previous round only, materialized once by an eager
``localCheckpoint`` that the stop test also reads, so a round's plan
stays O(1), not O(i) — unbounded lineage is the classic iterative-Spark
failure mode (stack overflows at ~100 iterations). The result is a flat
union of the checkpointed rounds. An empty frontier ends the loop; one
still non-empty after ``max_iterations`` rounds raises ``RuntimeError``
rather than return a truncated result.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

StepFn = Callable[[DataFrame], DataFrame]


def fixpoint_rounds(
    seed: DataFrame,
    step: Callable[[list[DataFrame]], DataFrame],
    live: Column,
    cap: int,
    cap_error: str,
) -> list[DataFrame]:
    """Run ``step`` until a round holds no ``live`` row; return every
    round, the checkpointed seed first.

    ``step`` receives the rounds so far and returns the next one. Each
    round is materialized once (an eager ``localCheckpoint``), and the
    stop test filters that same materialization by ``live``. Raises
    ``RuntimeError(f"{cap_error}={cap} rounds")`` if round ``cap``
    still holds a live row.
    """
    rounds = [seed.localCheckpoint(eager=True)]
    for _ in range(cap):
        rounds.append(step(rounds).localCheckpoint(eager=True))
        if rounds[-1].filter(live).isEmpty():
            return rounds
    raise RuntimeError(f"{cap_error}={cap} rounds")


def recursive_cte(
    seed: DataFrame,
    step: StepFn,
    *,
    distinct: bool = False,
    max_iterations: int = 100,
) -> DataFrame:
    """Evaluate ``WITH RECURSIVE t AS (seed UNION [ALL] step(t))``.

    ``step`` receives the previous iteration's frontier and returns the
    next set of rows (same schema). With ``distinct=True``, rows
    already produced are removed from the frontier each round
    (UNION-distinct fixpoint; guarantees termination on cyclic data).
    Raises ``RuntimeError`` if round ``max_iterations`` still produces
    rows.
    """

    def frontier(rounds: list[DataFrame]) -> DataFrame:
        nxt = step(rounds[-1])
        if distinct:
            nxt = nxt.distinct().exceptAll(reduce(DataFrame.union, rounds).distinct())
        return nxt

    rounds = fixpoint_rounds(
        seed,
        frontier,
        F.lit(True),
        max_iterations,
        "recursive_cte: frontier still non-empty after max_iterations",
    )
    # the last round is the empty frontier that stopped the loop
    acc = reduce(DataFrame.union, rounds[:-1])
    return acc.distinct() if distinct else acc

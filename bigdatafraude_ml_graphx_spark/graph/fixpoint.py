"""Round mechanics shared by the iterative graph operators.

The reference's hand-rolled PageRank loop re-``cache()``s every round and
never truncates lineage, so each round is slower than the last: 0.27 s →
1.10 s (``/root/reference/notebooks/4_graphx.ipynb:753-757``). Every loop
here instead ends a round with a ``localCheckpoint`` that the round's one
action materializes, and broadcasts the per-round state into the edge list
while the state is measurably small.

:func:`fixpoint` owns that discipline for the operators that iterate to a
fixpoint (connected components, BFS, SCC's min-label propagation, k-core,
k-truss). PageRank's fixed-round power iteration, label propagation and the
walk/level loops in the query layer use the helpers below directly.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# A per-round state at or under this many rows is broadcast into the edge
# join; above it the state is no longer a safe broadcast and the shuffle
# join is the right plan.
_BROADCAST_ROWS = 2_000_000
# Rows per partition for a re-keyed edge list or a coalesced state frame.
_TARGET_ROWS = 250_000


class NoFixpoint(RuntimeError):
    """A fixpoint ran out of its round budget. ``state`` is the last state
    the budget allowed, for callers that accept a truncated result."""

    def __init__(self, name: str, max_rounds: int, state: DataFrame):
        super().__init__(
            f"{name}: the state did not stabilize within its budget of "
            f"{max_rounds} changing rounds, so the result would be "
            f"truncated; raise the round budget."
        )
        self.state = state


def fixpoint(
    name: str,
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_rounds: int,
) -> DataFrame:
    """Run ``state ← step(state, n)`` until the state stops changing, where
    ``n`` is the state's row count, and return the fixpoint state.

    One action per round: each round's state is checkpointed lazily
    (``localCheckpoint(eager=False)``), and one aggregate,
    ``count(*), bit_xor(xxhash64(<all columns>))``, both materializes (and
    so saves) that checkpoint and fingerprints the state. Without AQE that
    is one job per round, plus the state's broadcast build when ``step``
    broadcasts it; AQE adds a job per exchange. The initial state is checkpointed
    and fingerprinted the same way before round 1, then coalesced to its
    row count (:func:`_coalesced`). The fingerprint works for any column
    type (a ``sum`` fails on string ids under ANSI mode), cannot overflow,
    and is independent of row order; two different consecutive states
    collide with probability ~2^-64. The row count is fresh for every
    round, so ``step`` can hand it to :func:`_maybe_broadcast`.

    ``max_rounds`` counts the rounds that change the state; the round that
    confirms the fixpoint is free, so a budget equal to the exact number of
    changing rounds succeeds. Past the budget the driver raises
    :class:`NoFixpoint`, which names the operator (``name``) and the budget.
    """
    state = state.localCheckpoint(eager=False)
    fp = _fingerprint(state)
    state = _coalesced(state, fp[0])
    changes = 0
    while True:
        new = step(state, fp[0]).localCheckpoint(eager=False)
        new_fp = _fingerprint(new)
        if new_fp == fp:
            return new
        changes += 1
        if changes > max_rounds:
            raise NoFixpoint(name, max_rounds, state)
        state, fp = new, new_fp


def _fingerprint(df: DataFrame) -> tuple:
    """``(row count, bit_xor of the rows' xxhash64)`` in one aggregate."""
    row = df.agg(F.count("*"), F.bit_xor(F.xxhash64(*df.columns))).collect()[0]
    return row[0], row[1]


def _iteration_edges(df: DataFrame, key: str | None = None) -> DataFrame:
    """Materialize the edge lineage of an iterative operator ONCE (one eager
    localCheckpoint) and lay it out for the operator's rounds.

    ``key=None`` — the round joins the edges against broadcast vertex state
    and reduces on the same key the edges would be keyed on (PageRank and
    personalized PageRank on ``dst``, connected components on ``v``), or
    reduces on a key the edges cannot be keyed on at all (BFS on
    ``(dst, landmark)``). The checkpoint itself is returned: no Exchange,
    no cached copy. A round never moves the edge list — partial
    aggregation combines each edge partition's rows before the exchange,
    so it shuffles at most P rows per reduce key (P edge partitions), the
    combine GraphX's ``aggregateMessages`` relies on. A pass of CC,
    PageRank, PPR and BFS over a 747k-edge co-occurrence graph at
    ``local[2]`` shuffles 21 MB this way, 45 MB with the edges re-keyed.

    ``key=<column>`` — label propagation, whose count per (vertex, label)
    and window per vertex both run on ``src`` and combine little map-side,
    and the walk/level loops, which join each step's frontier on ``key``.
    The checkpoint is hash-partitioned on ``key`` (~``_TARGET_ROWS`` rows
    per partition, never more partitions than the checkpoint has) and
    persisted, which keeps the partitioning: LPA's rounds fuse with no edge
    exchange, and a frontier too large to broadcast joins the edges
    without moving them. Callers ``unpersist()`` the keyed result after
    the loop.
    """
    ck = df.localCheckpoint(eager=True)
    if key is None:
        return ck
    n = ck.count()
    parts = max(1, min(ck.rdd.getNumPartitions(), -(-n // _TARGET_ROWS)))
    return ck.repartition(parts, F.col(key)).persist()


def _coalesced(df: DataFrame, n_rows: int) -> DataFrame:
    """Coalesce a materialized frame to ~``_TARGET_ROWS``-row partitions —
    never an increase, never a shuffle. The state frame's partition count
    propagates through every broadcast-join iteration output (and so sizes
    every checkpoint/aggregate job in the loop), so keep it matched to the
    row count: 1 partition for a 150-vertex bench graph, thousands at
    billion-vertex scale (where the count exceeds target and this is a
    no-op)."""
    parts = max(1, min(df.rdd.getNumPartitions(), -(-n_rows // _TARGET_ROWS)))
    return df.coalesce(parts) if parts < df.rdd.getNumPartitions() else df


def _broadcastable(n_rows: int) -> bool:
    return 0 < n_rows <= _BROADCAST_ROWS


def _maybe_broadcast(df: DataFrame, n_rows: int) -> DataFrame:
    """Broadcast-hint a frame whose measured row count is small.

    ``localCheckpoint`` erases size statistics, so AQE cannot see that the
    per-round state frame (ranks/labels — one narrow row per vertex) is
    tiny; without the hint every round sort-merges the FULL edge list.
    Past ``_BROADCAST_ROWS`` the frame is left to the shuffle join."""
    return F.broadcast(df) if _broadcastable(n_rows) else df

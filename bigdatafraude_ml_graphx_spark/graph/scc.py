"""Strongly connected components (directed) — the GraphX
``graphx.lib.StronglyConnectedComponents`` contract as iterative
DataFrame phases.

Algorithm: the distributed coloring scheme (Orzan's coloring / FW-BW
without pivot sampling, made deterministic with MIN labels):

  repeat until every vertex is assigned:
    1. trim: vertices with no in- or out-edge in the REMAINING graph are
       their own singleton SCCs (removes the long tail in O(1) rounds);
    2. color: propagate ``color(v) = min id that can reach v`` forward to
       fixpoint (rounds = remaining diameter);
    3. mark: the root r of each color class (color(r) = r) definitely
       belongs to its SCC; propagate membership BACKWARD from the roots
       along edges that stay inside the same color class — every reached
       vertex v has r → v (same color ⇒ r reaches v) and v → r (the
       backward walk), so SCC(v) = r exactly;
    4. remove assigned vertices and iterate on the remainder.

  Every phase is joins + aggregates, each propagation run to fixpoint by
  ``fixpoint.fixpoint``; per-phase
  state is one (id, color) row per remaining vertex. Worst case is
  O(#SCC-levels) phases (a path of SCCs), the known bound for
  pivot/coloring SCC — the same worst case GraphX's implementation has.

Determinism: colors and SCC ids are MIN vertex ids, ties impossible; the
result is the canonical "scc = min member id" labeling, which is what the
recursive-CTE oracle (mutual reachability closure) computes directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _min_label_fixpoint(
    edges: DataFrame, labels: DataFrame, max_rounds: int
) -> DataFrame:
    """Propagate MIN ``label`` along directed ``edges`` (src → dst) to
    fixpoint: returns (id, label) with label = min over {label(u): u
    reaches id} ∪ {label(id)}."""
    from .fixpoint import _maybe_broadcast, fixpoint

    def step(labels: DataFrame, n: int) -> DataFrame:
        lb = _maybe_broadcast(labels, n)
        cand = lb.join(edges, lb.id == edges.src).select(
            F.col("dst").alias("id"), "label"
        )
        return labels.unionByName(cand).groupBy("id").agg(
            F.min("label").alias("label")
        )

    return fixpoint("strongly_connected_components", labels, step, max_rounds)


def strongly_connected_components(
    edges: DataFrame,
    max_phases: int = 10,
    max_rounds: int = 30,
) -> DataFrame:
    """SCC labels ``(id, scc)`` (scc = min member id) for every vertex of
    the directed graph ``edges`` (src, dst). Raises if ``max_phases``
    outer phases don't assign every vertex (the bfs non-convergence
    contract — a truncated answer would silently diverge from the
    mutual-reachability oracle)."""
    # The edge frames the min-label fixpoints iterate over are eager
    # checkpoints (``_iteration_edges``): a job saves only the lazy
    # checkpoints nearest its output, and the fixpoint's jobs end at its
    # own state. Every other per-phase frame is a lazy checkpoint that the
    # next action reading it saves: the remaining-vertex count, or the
    # caller's action on the returned union.
    from .fixpoint import _iteration_edges

    remaining_edges = edges.select("src", "dst").distinct().localCheckpoint(eager=False)
    remaining = (
        remaining_edges.select(F.col("src").alias("id"))
        .unionByName(remaining_edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_remaining = remaining.count()
    # Per-phase increments are collected and unioned ONCE at return —
    # re-checkpointing the accumulated frame every phase would
    # re-materialize all previously assigned vertices O(phases) times.
    increments = []
    for _ in range(max_phases):
        if n_remaining == 0:
            break
        # 1. trim singletons: no in-edge or no out-edge ⇒ own SCC.
        srcs = remaining_edges.select(F.col("src").alias("id")).distinct()
        dsts = remaining_edges.select(F.col("dst").alias("id")).distinct()
        core = remaining.join(srcs, "id", "left_semi").join(dsts, "id", "left_semi")
        # Lazy: consumed only by the final increments union — the return
        # action materializes it off the already-saved parent blocks.
        trimmed = remaining.join(core, "id", "left_anti").select(
            "id", F.col("id").alias("scc")
        ).localCheckpoint(eager=False)
        increments.append(trimmed)
        remaining = core.localCheckpoint(eager=False)
        n_remaining = remaining.count()
        if n_remaining == 0:
            break
        remaining_edges = _iteration_edges(
            remaining_edges.join(remaining, remaining_edges.src == remaining.id, "left_semi")
            .join(remaining, remaining_edges.dst == remaining.id, "left_semi")
        )
        # 2. forward MIN coloring to fixpoint.
        init = remaining.select("id", F.col("id").alias("label"))
        colors = _min_label_fixpoint(remaining_edges, init, max_rounds)
        # 3. backward walk from roots inside same-color edges.
        ec = _iteration_edges(
            remaining_edges.join(
                colors.select(F.col("id").alias("src"), F.col("label").alias("c_src")),
                "src",
            )
            .join(
                colors.select(F.col("id").alias("dst"), F.col("label").alias("c_dst")),
                "dst",
            )
            .filter(F.col("c_src") == F.col("c_dst"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))  # reversed
        )
        roots = colors.filter(F.col("id") == F.col("label")).select("id")
        member = roots.select("id", F.col("id").alias("label"))
        # backward min-label propagation restricted to same-color edges:
        # a vertex reached from root r gets label r (labels are colors —
        # within one color class only its root propagates).
        reached = _min_label_fixpoint(ec, member, max_rounds)
        scc_now = reached.select("id", F.col("label").alias("scc")).localCheckpoint(
            eager=False
        )
        increments.append(scc_now)
        # 4. remove assigned, iterate.
        remaining = remaining.join(scc_now, "id", "left_anti").localCheckpoint(
            eager=False
        )
        n_remaining = remaining.count()
        remaining_edges = (
            remaining_edges.join(remaining, remaining_edges.src == remaining.id, "left_semi")
            .join(remaining, remaining_edges.dst == remaining.id, "left_semi")
            .localCheckpoint(eager=False)
        )
    if n_remaining != 0:
        raise RuntimeError(
            f"strongly_connected_components: {n_remaining} vertices "
            f"unassigned after max_phases={max_phases} — raise the budget."
        )
    if not increments:
        # empty edge list → empty labeling, typed from the INPUT's vertex
        # id type (ADVICE r5 item 4: a hardcoded long would give the empty
        # and non-empty cases different output schemas for int/string ids)
        id_t = edges.schema["src"].dataType.simpleString()
        return edges.sparkSession.createDataFrame([], f"id {id_t}, scc {id_t}")
    out = increments[0]
    for inc in increments[1:]:
        out = out.unionByName(inc)
    return out

"""Connected components, DataFrame-native.

The reference calls GraphFrames' ``g.connectedComponents()``
(``/root/reference/notebooks/4_graphx.ipynb:504-586, cell 44735382``), which
requires a Scala package and an RDD checkpoint dir. The engine implements the
same semantics in pure DataFrames: iterative min-label propagation

    label(v) ← min(label(v), min over neighbors u of label(u))

to fixpoint (``fixpoint.fixpoint``). Each iteration is one equi join + one
aggregation (both AQE-planned).

Scale: O(graph diameter) rounds. Social/fraud graphs have tiny diameters
(≤ ~20). The edge list is materialized ONCE and not re-keyed. While the
label frame fits a broadcast, a round never moves it: the neighbor-min
combines map-side, so a round shuffles at most P × |V| rows (P edge
partitions; ``fixpoint._iteration_edges``). Past the broadcast threshold
each round degrades to one |E|+|V| shuffle on the id key.
(GraphFrames' large-star/small-star does O(log d) rounds — worth adopting
only if diameters are large.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .builders import symmetrize


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    dedup_edges: bool = True,
) -> DataFrame:
    """Label every vertex with its component id (the min vertex id in the
    component). Returns ``(id, component)``. Raises if the labels are still
    changing after ``max_iter`` rounds.

    ``vertices`` (a DF with an ``id`` column) may add isolated vertices that
    appear in no edge; they become singleton components, matching GraphFrames
    (the reference graph is 99.8% singletons — 275,191 of 275,236 components,
    cell 44735382 output).
    """
    from .fixpoint import _iteration_edges, _maybe_broadcast, fixpoint

    sym = symmetrize(edges.select(src, dst), src, dst).select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    )
    # Duplicate edges don't change the min-label fixpoint, only the work per
    # round; pass dedup_edges=False when the input is already one row per
    # pair (e.g. cooccurrence_edges — a groupBy output with src<dst), which
    # saves a full |E| shuffle here.
    if dedup_edges:
        sym = sym.distinct()
    sym = _iteration_edges(sym)

    ids = sym.select(F.col("u").alias("id"))
    if vertices is not None:
        ids = ids.unionByName(vertices.select("id"))

    def step(labels: DataFrame, n: int) -> DataFrame:
        # Candidate labels flowing across edges: min neighbor label per
        # vertex, with the label state broadcast into the edge list.
        lb = _maybe_broadcast(labels, n)
        neighbor_min = (
            sym.join(lb, sym.u == lb.id)
            .select(F.col("v").alias("id"), F.col("component"))
            .groupBy("id")
            .agg(F.min("component").alias("nbr_component"))
        )
        # least() ignores NULLs, so isolated vertices (no neighbor row after
        # the left join) keep their own label. No broadcast hint on
        # neighbor_min: labels ⋈ neighbor_min is |V|-vs-|V| — a broadcast
        # build job per round costs more than the equal-sized exchange it
        # avoids, and at billion-vertex scale the shuffle join is the only
        # correct plan.
        return labels.join(neighbor_min, "id", "left").select(
            "id", F.least("component", "nbr_component").alias("component")
        )

    return fixpoint(
        "connected_components",
        ids.distinct().withColumn("component", F.col("id")),
        step,
        max_iter,
    )


def connected_components_star(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star/small-star contraction
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond") —
    O(log² n) rounds instead of :func:`connected_components`' O(diameter).

    Same contract: ``(id, component)`` with component = min vertex id.

    When to use which: label propagation does less work per round (one join +
    one aggregate) and wins on short-diameter graphs — social/fraud graphs,
    LSH candidate graphs (diameter ≤ ~20). Star contraction pays two
    window-aggregate shuffles + a distinct per round but collapses a
    1000-hop chain in ~10 rounds where propagation needs 1000; at 100 TB it
    is the safe default when the diameter is unknown (road networks, linked
    event chains, long reply threads).

    Round shape: large-star hangs every strictly-larger neighbor of ``u``
    onto ``m = min(Γ(u) ∪ u)``; small-star re-hangs the smaller-or-equal
    neighbors (max-keyed representation) onto the same min. Both are window
    minimums over the edge key — per-round cost is |E| through two hash
    shuffles, monotonically shrinking as stars flatten. Convergence = edge
    set unchanged (``fixpoint``); at the fixpoint every edge is
    (vertex, root). Raises if the edges still change after ``max_iter``
    rounds.
    """
    from pyspark.sql import Window

    from .fixpoint import fixpoint

    def step(e: DataFrame, n: int) -> DataFrame:
        # --- large-star over e: key = each endpoint (symmetric view);
        # hang every strictly-larger neighbor onto min(Γ(a) ∪ a) ----------
        sym = e.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
                    F.struct(F.col("v").alias("a"), F.col("u").alias("b")),
                )
            ).alias("s")
        ).select(F.col("s.a").alias("a"), F.col("s.b").alias("b"))
        m = F.least(F.min("b").over(Window.partitionBy("a")), F.col("a"))
        e_ls = (
            sym.withColumn("m", m)
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # --- small-star over the LARGE-STAR OUTPUT (the phases alternate —
        # they are not parallel views of the same edge set): max-keyed
        # edges re-hang key + smaller neighbors onto the minimum ----------
        keyed = e_ls.select(
            F.greatest(F.col("u"), F.col("v")).alias("a"),
            F.least(F.col("u"), F.col("v")).alias("b"),
        )
        m2 = F.min("b").over(Window.partitionBy("a"))  # b < a always
        return (
            keyed.withColumn("m", m2)
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("b").alias("x"), F.col("m").alias("y")),
                        F.struct(F.col("a").alias("x"), F.col("m").alias("y")),
                    )
                ).alias("s")
            )
            .select(F.col("s.x").alias("u"), F.col("s.y").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    e = fixpoint(
        "connected_components_star",
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        step,
        max_iter,
    )

    # Fixpoint edges are (vertex, root): root < vertex everywhere. Labels =
    # edge map ∪ roots ∪ isolated vertices (their own singletons).
    members = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    labels = members.unionByName(roots)
    if vertices is not None:
        isolated = vertices.select("id").join(
            labels.select("id"), "id", "left_anti"
        )
        labels = labels.unionByName(
            isolated.withColumn("component", F.col("id"))
        )
    return labels

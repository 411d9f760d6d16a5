"""Weighted PageRank, DataFrame-native with lineage truncation.

Re-expresses the reference's hand-rolled weighted PageRank
(``/root/reference/notebooks/4_graphx.ipynb:833-894, cell ac3e7869``):

    init:  pr(v) = 1/N                                  (:717)
    iter:  contrib(v) = Σ_{(u,v)∈E} pr(u) · weight(u,v) (:861-869)
           pr(v) = (1-α)·contrib(v) + α/N               (:878-882, α=0.15)

Two deliberate fidelity choices:
  * Dangling mass is NOT redistributed — same as the reference, whose scores
    therefore do not sum to 1. Documented divergence from GraphFrames'
    ``g.pageRank`` (reference checkpoint ``spark_streaming-checkpoint.py:87``).
  * Edge weights are caller-supplied (the reference normalizes per-src by
    amount share, cell 06e8d928); ``normalize_weights`` reproduces that.

The reference's loop re-``cache()``s per iteration but never checkpoints, so
lineage deepens and iteration time grows 0.27 s → 1.10 s
(``:753-757``). Here every iteration ends in ``localCheckpoint(eager=True)``:
constant-size plans, constant per-iteration cost — the property that matters
at 1000 executors.

Determinism: per-row products stay in double (deterministic); each product is
then quantized to an int64 at scale 10^14 via ``floor(x*1e14 + 0.5)`` — the
multiply, add, and floor are each single IEEE-754 ops that yield bit-identical
results in any engine — and the per-vertex contribution is an EXACT int64 sum,
finally divided back by 1e14 in double. Results are therefore identical across
partitionings, runs, and engines (the unrolled DuckDB oracle hash-matches
bit-for-bit). Note decimal casts are NOT used for this: DuckDB's
double→DECIMAL cast goes through a ``x*10^s`` double rounding that can differ
from Spark's exact BigDecimal conversion by one unit — observed cascading over
PageRank iterations at sf0.01.

The 1e-14 absolute quantization keeps ~9+ significant digits for graphs up to
~10^5 vertices. For billion-vertex graphs where pr ~ 1e-9, pass a larger
``scale`` (the sum stays exact while total mass × scale < 2^63).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_ACC = "decimal(38,18)"  # used only for weight normalization totals
_SCALE = 1e14


def _iteration_edges(
    df: DataFrame, key: str | None = None, target_rows: int = 250_000
) -> DataFrame:
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
    The checkpoint is hash-partitioned on ``key`` (~``target_rows`` rows
    per partition, never more partitions than the checkpoint has) and
    persisted, which keeps the partitioning: LPA's rounds fuse with no edge
    exchange, and a frontier too large to broadcast joins the edges
    without moving them.

    Callers ``unpersist()`` the result after the loop (a no-op on the
    unkeyed layout).
    """
    ck = df.localCheckpoint(eager=True)
    if key is None:
        return ck
    n = ck.count()
    parts = max(1, min(ck.rdd.getNumPartitions(), -(-n // target_rows)))
    return ck.repartition(parts, F.col(key)).persist()


def _coalesced(df: DataFrame, n_rows: int, target_rows: int = 250_000) -> DataFrame:
    """Coalesce a materialized frame to ~``target_rows``-row partitions —
    never an increase, never a shuffle. The state frame's partition count
    propagates through every broadcast-join iteration output (and so sizes
    every checkpoint/aggregate job in the loop), so keep it matched to the
    vertex count: 1 partition for a 150-vertex bench graph, thousands at
    billion-vertex scale (where the count exceeds target and this is a
    no-op)."""
    parts = max(1, min(df.rdd.getNumPartitions(), -(-n_rows // target_rows)))
    return df.coalesce(parts) if parts < df.rdd.getNumPartitions() else df


def _maybe_broadcast(df: DataFrame, n_rows: int, threshold: int) -> DataFrame:
    """Broadcast-hint a frame whose row count is known to be small.

    ``localCheckpoint`` erases size statistics, so AQE cannot see that the
    per-iteration state frame (ranks/labels — one narrow row per vertex) is
    tiny; without the hint every iteration sort-merges the FULL edge list.
    The hint is applied only when the measured row count is under
    ``threshold`` — at billion-vertex scale the state is no longer
    broadcastable and the shuffle join is the right plan, so pass
    ``broadcast_rows=0`` there (or leave the default: the count check keeps
    it safe either way)."""
    return F.broadcast(df) if 0 < n_rows <= threshold else df


def normalize_weights(
    edges: DataFrame, src: str = "src", weight: str = "weight"
) -> DataFrame:
    """Per-source weight normalization: weight / Σ weight over the src's
    outgoing edges (the reference's amount-share normalization,
    ``notebooks/4_graphx.ipynb:681-703``).

    A window sum over ``src``, not agg + self-join: one pass over the edge
    lineage and one shuffle. The decimal accumulator keeps the total exact
    (order-independent), so the result is deterministic either way. The
    share itself is a double division, as q23 and q162 build it: a decimal
    division would round every share to Spark's 6-digit result scale (three
    unit edges → 0.333333 each, summing to 0.999999)."""
    from pyspark.sql import Window

    total = F.sum(F.col(weight).cast(_ACC)).over(Window.partitionBy(src))
    return edges.withColumn(
        weight, F.col(weight).cast("double") / total.cast("double")
    )


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = "weight",
    alpha: float = 0.15,
    max_iter: int = 5,
    scale: float = _SCALE,
    broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """Personalized PageRank: random walks restart at the ``sources`` set
    (uniformly) instead of everywhere — GraphX's
    ``lib.PageRank.runParallelPersonalizedPageRank`` contract, the "how
    related is every vertex to THIS seed set" primitive behind fraud-ring
    expansion and related-item scoring.

    Recurrence (teleport vector t, t(v) = 1/|S| for v ∈ S else 0):

        pr₀ = t;   prᵢ(v) = (1-α)·Σ_{u→v} prᵢ₋₁(u)·w(u,v) + α·t(v)

    Same execution shape and determinism contract as :func:`pagerank`
    (edge list laid out once by ``_iteration_edges``, per-iteration
    broadcast of the rank state, quantized int64 contribution sums,
    per-iteration localCheckpoint); the teleport column rides the vertex
    frame so each iteration is still one join + one aggregate. Scores sum
    to ≤ 1 (dangling mass decays — the walk-probability reading)."""
    e = _iteration_edges(
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            (F.col(weight).cast("double") if weight else F.lit(1.0)).alias("w"),
        ),
    )
    ids = e.select(F.col("src").alias("id")).unionByName(
        e.select(F.col("dst").alias("id"))
    )
    # The seed set is consumed 3× (vertex union, teleport join, |S| count);
    # bare, each consumption replays the caller's source lineage — for
    # q162 that was a full events scan per consumer (replay audit: 4 opens
    # where 2 are legitimate). It is bounded by the distinct seed count,
    # so checkpoint once.
    # Lazy checkpoints with the counts/first-consumer as materializing
    # actions (r14 job fusion, the components.py r13 pattern): the seed
    # set, vertex union, and teleport frame each cost one job, not two.
    # |S| is counted FIRST: that job saves the seed blocks, so the vertex
    # job below reads them instead of replaying the source lineage again.
    s = (
        sources.select(F.col(sources.columns[0]).alias("id"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    ns = s.count()
    if ns == 0:
        raise ValueError("personalized_pagerank: empty source set")
    verts = ids.unionByName(s).distinct().localCheckpoint(eager=False)
    n = verts.count()
    tele = (
        verts.join(s.withColumn("_tele", F.lit(1.0 / ns)), "id", "left_outer")
        .select("id", F.coalesce("_tele", F.lit(0.0)).alias("tele"))
        .localCheckpoint(eager=False)
    )
    # Materialize the teleport frame NOW (count, one fused job): it is the
    # per-iteration left side, and _coalesced needs its partition count.
    tele.count()
    verts = _coalesced(tele, n)
    ranks = verts.select("id", F.col("tele").alias("pagerank")).localCheckpoint(
        eager=False
    )
    for it in range(max_iter):
        rk = _maybe_broadcast(ranks, n, broadcast_rows)
        contribs = (
            e.join(rk, e.src == rk.id)
            .select(
                F.col("dst").alias("id"),
                F.floor(F.col("pagerank") * F.col("w") * F.lit(scale) + F.lit(0.5))
                .cast("long")
                .alias("contrib_q"),
            )
            .groupBy("id")
            .agg(
                (F.sum("contrib_q").cast("double") / F.lit(scale)).alias("contrib")
            )
        )
        ranks = (
            verts.join(contribs, "id", "left_outer")
            .select(
                "id",
                (
                    (1.0 - alpha) * F.coalesce(F.col("contrib"), F.lit(0.0))
                    + alpha * F.col("tele")
                ).alias("pagerank"),
            )
            # LAZY interior / EAGER last — see pagerank(): one job per
            # iteration; the final materialization must precede
            # e.unpersist().
            .localCheckpoint(eager=(it == max_iter - 1))
        )
    e.unpersist()
    return ranks


def pagerank(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = "weight",
    alpha: float = 0.15,
    max_iter: int = 5,
    scale: float = _SCALE,
    broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """Run ``max_iter`` iterations of weighted PageRank. Returns
    ``(id, pagerank)`` over all vertices (edge endpoints ∪ ``vertices``)."""
    # Materialize the edge lineage once — it is joined in EVERY iteration.
    # With the rank state broadcast, an iteration's groupBy(dst) combines
    # map-side and shuffles at most P × |V| rows, never the edge list, so
    # the edges are not re-keyed (``_iteration_edges``).
    e = _iteration_edges(
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            (F.col(weight).cast("double") if weight else F.lit(1.0)).alias("w"),
        ),
    )

    ids = e.select(F.col("src").alias("id")).unionByName(
        e.select(F.col("dst").alias("id"))
    )
    if vertices is not None:
        ids = ids.unionByName(vertices.select("id"))
    # Lazy checkpoint + count() as the materializing action: one init job,
    # not two (r14 job fusion, the components.py r13 pattern).
    verts = ids.distinct().localCheckpoint(eager=False)
    n = verts.count()
    verts = _coalesced(verts, n)

    ranks = verts.withColumn("pagerank", F.lit(1.0 / n))
    ranks = ranks.localCheckpoint(eager=False)

    for it in range(max_iter):
        rk = _maybe_broadcast(ranks, n, broadcast_rows)
        contribs = (
            e.join(rk, e.src == rk.id)
            .select(
                F.col("dst").alias("id"),
                # Quantize each product to int64 at `scale`: every op here is
                # a single correctly-rounded IEEE op → engine-independent.
                F.floor(F.col("pagerank") * F.col("w") * F.lit(scale) + F.lit(0.5))
                .cast("long")
                .alias("contrib_q"),
            )
            .groupBy("id")
            .agg(
                (F.sum("contrib_q").cast("double") / F.lit(scale)).alias("contrib")
            )
        )
        # No broadcast hint on contribs: verts ⋈ contribs is |V|-vs-|V| —
        # broadcasting would add a separate build job (driver collect +
        # rebroadcast) per iteration to avoid a shuffle of the same size as
        # the broadcast. The shuffle join is one exchange over the
        # right-sized (tiny at bench scale) partitioning, and at
        # billion-vertex scale it is the only correct plan anyway. Only the
        # rank state joined against the |E|-scale edge list needs the hint.
        ranks = (
            verts.join(contribs, "id", "left_outer")
            .select(
                "id",
                (
                    (1.0 - alpha) * F.coalesce(F.col("contrib"), F.lit(0.0))
                    + alpha / n
                ).alias("pagerank"),
            )
            # LAZY for interior iterations (r14 job fusion): the next
            # iteration's broadcast-build (or join) job is the action that
            # materializes this checkpoint — one job per iteration instead
            # of two. The LAST iteration stays eager: its blocks must exist
            # before e.unpersist() below, or the caller's first action
            # would recompute the final join against an evicted edge cache.
            .localCheckpoint(eager=(it == max_iter - 1))
        )
    e.unpersist()
    return ranks

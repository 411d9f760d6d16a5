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
(``:753-757``). Here every iteration ends in a ``localCheckpoint`` that
the iteration's own job materializes (``graph/fixpoint.py``): constant-size
plans, constant per-iteration cost — the property that matters at 1000
executors.

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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_ACC = "decimal(38,18)"  # used only for weight normalization totals
_SCALE = 1e14


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


def _weighted_edges(edges: DataFrame, src: str, dst: str, weight: str | None):
    """The edge list as ``(src, dst, w)``, materialized once: every
    iteration joins it. With the rank state broadcast, an iteration's
    groupBy(dst) combines map-side and shuffles at most P × |V| rows, never
    the edge list, so the edges are not re-keyed (``_iteration_edges``)."""
    from .fixpoint import _iteration_edges

    return _iteration_edges(
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            (F.col(weight).cast("double") if weight else F.lit(1.0)).alias("w"),
        ),
    )


def _power_iteration(
    e: DataFrame,
    verts: DataFrame,
    n: int,
    rank0: Column,
    restart: Column,
    alpha: float,
    max_iter: int,
    scale: float,
) -> DataFrame:
    """``max_iter`` rounds of ``pr(v) = (1-α)·Σ_{u→v} pr(u)·w(u,v) +
    restart`` from ``pr = rank0``, over the ``n`` rows of ``verts``.

    One action per round saves the round's checkpoint. While the rank state
    fits a broadcast, that is the next round's broadcast build; past
    ``_BROADCAST_ROWS`` no later action would save it, so the checkpoint is
    eager. The last round is always eager: the result is materialized when
    this returns."""
    from .fixpoint import _broadcastable, _maybe_broadcast

    ranks = verts.select("id", rank0.alias("pagerank")).localCheckpoint(eager=False)
    for it in range(max_iter):
        rk = _maybe_broadcast(ranks, n)
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
                    + restart
                ).alias("pagerank"),
            )
            .localCheckpoint(eager=(it == max_iter - 1 or not _broadcastable(n)))
        )
    return ranks


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = "weight",
    alpha: float = 0.15,
    max_iter: int = 5,
    scale: float = _SCALE,
) -> DataFrame:
    """Personalized PageRank: random walks restart at the ``sources`` set
    (uniformly) instead of everywhere — GraphX's
    ``lib.PageRank.runParallelPersonalizedPageRank`` contract, the "how
    related is every vertex to THIS seed set" primitive behind fraud-ring
    expansion and related-item scoring.

    Recurrence (teleport vector t, t(v) = 1/|S| for v ∈ S else 0):

        pr₀ = t;   prᵢ(v) = (1-α)·Σ_{u→v} prᵢ₋₁(u)·w(u,v) + α·t(v)

    Same execution shape and determinism contract as :func:`pagerank`
    (one power-iteration body); the teleport column rides the vertex frame
    so each iteration is still one join + one aggregate. Scores sum to ≤ 1
    (dangling mass decays — the walk-probability reading)."""
    from .fixpoint import _coalesced

    e = _weighted_edges(edges, src, dst, weight)
    ids = e.select(F.col("src").alias("id")).unionByName(
        e.select(F.col("dst").alias("id"))
    )
    # The seed set is consumed twice (vertex union, teleport join) and
    # counted; bare, each consumption replays the caller's source lineage —
    # for q162 that was a full events scan per consumer. It is bounded by
    # the distinct seed count, so checkpoint it; |S| is counted FIRST, and
    # that job saves the seed blocks the teleport job below reads.
    s = (
        sources.select(F.col(sources.columns[0]).alias("id"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    ns = s.count()
    if ns == 0:
        raise ValueError("personalized_pagerank: empty source set")
    tele = (
        ids.unionByName(s)
        .distinct()
        .join(s.withColumn("_tele", F.lit(1.0 / ns)), "id", "left_outer")
        .select("id", F.coalesce("_tele", F.lit(0.0)).alias("tele"))
        .localCheckpoint(eager=False)
    )
    # One row per vertex: its count is |V|, and the job saves the frame.
    n = tele.count()
    return _power_iteration(
        e, _coalesced(tele, n), n, F.col("tele"), alpha * F.col("tele"),
        alpha, max_iter, scale,
    )


def pagerank(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = "weight",
    alpha: float = 0.15,
    max_iter: int = 5,
    scale: float = _SCALE,
) -> DataFrame:
    """Run ``max_iter`` iterations of weighted PageRank. Returns
    ``(id, pagerank)`` over all vertices (edge endpoints ∪ ``vertices``)."""
    from .fixpoint import _coalesced

    e = _weighted_edges(edges, src, dst, weight)
    ids = e.select(F.col("src").alias("id")).unionByName(
        e.select(F.col("dst").alias("id"))
    )
    if vertices is not None:
        ids = ids.unionByName(vertices.select("id"))
    verts = ids.distinct().localCheckpoint(eager=False)
    n = verts.count()
    return _power_iteration(
        e, _coalesced(verts, n), n, F.lit(1.0 / n), F.lit(alpha / n),
        alpha, max_iter, scale,
    )

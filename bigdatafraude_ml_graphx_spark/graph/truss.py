"""k-truss decomposition: the maximal subgraph where every edge closes at
least k−2 triangles (Cohen 2008, "Trusses: cohesive subgraphs for social
network analysis") — the edge-centric cousin of k-core and the standard
community-core / fraud-ring detector (a dense collusive cluster keeps its
edges; bridges and stars peel away).

Iterative peel run to fixpoint by ``fixpoint.fixpoint``: per round, every
surviving canonical edge (u < v) counts its support (= triangles
containing it) via the COMPACT-FORWARD incidence enumeration
(triangles.triangle_edge_incidences — hub wedge fan-out bounded O(√E),
unlike a symmetric-adjacency self-join whose hot key grows as degree²) and
under-supported edges drop; a round budget raises loudly instead of
returning a truncated truss. Deleting under-supported
edges is idempotent at the fixpoint, so the DuckDB oracle unrolls the same
peel a fixed number of rounds (any depth ≥ the true peel depth is exact —
the q149 MATERIALIZED-unroll technique).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _support(ec: DataFrame) -> DataFrame:
    """Per canonical edge (u, v): the number of triangles containing it —
    enumerated through the compact-forward incidence relation
    (``triangles.triangle_edge_incidences``), NOT a symmetric-adjacency
    wedge self-join: the naive join keys wedges on raw vertices and a
    degree-D hub emits D² rows to one key, while the oriented enumeration
    bounds every vertex's wedge fan-out by O(√E) regardless of skew."""
    from .triangles import triangle_edge_incidences

    return (
        triangle_edge_incidences(
            ec.select(F.col("u").alias("src"), F.col("v").alias("dst")),
            materialize=False,
        )
        .groupBy("u", "v")
        .agg(F.count("*").alias("support"))
    )


def k_truss(
    edges: DataFrame, k: int, max_rounds: int = 20
) -> DataFrame:
    """The k-truss of the undirected graph ``edges`` (src, dst): returns
    the surviving canonical edges ``(src, dst, support)`` with their
    final-truss support. ``k >= 3``; raises on round-budget exhaustion."""
    if k < 3:
        raise ValueError("k-truss requires k >= 3")
    from .fixpoint import fixpoint

    def step(ec: DataFrame, n: int) -> DataFrame:
        return (
            ec.join(_support(ec), ["u", "v"], "left_outer")
            .filter(F.coalesce("support", F.lit(0)) >= k - 2)
            .select("u", "v")
        )

    ec = fixpoint(
        "k_truss",
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        step,
        max_rounds,
    )
    if ec.isEmpty():
        id_t = edges.schema["src"].dataType.simpleString()
        return edges.sparkSession.createDataFrame(
            [], f"src {id_t}, dst {id_t}, support long"
        )
    return _support(ec).select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "support"
    )

"""Degree centrality as a plain DataFrame aggregation.

Reference: ``g.degrees`` + distribution analysis
(``/root/reference/notebooks/4_graphx.ipynb:354-378``). GraphFrames'
``degrees`` is exactly ``explode([src,dst]) → groupBy(id).count()`` — a
single shuffle, no graph library needed (SURVEY.md §2.10 G2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Total degree per vertex over a directed edge list: in + out.

    ``explode(array(src, dst))``, not a two-branch unionAll: Spark plans
    union branches independently, so a union would execute the upstream edge
    lineage (e.g. a co-occurrence self-join) twice. The explode reads each
    edge row once — one scan, one shuffle, at any scale.
    """
    ids = edges.select(F.explode(F.array(F.col(src), F.col(dst))).alias("id"))
    return ids.groupBy("id").agg(F.count("*").alias("degree"))


def out_degrees(edges: DataFrame, src: str = "src") -> DataFrame:
    return edges.groupBy(F.col(src).alias("id")).agg(
        F.count("*").alias("out_degree")
    )


def in_degrees(edges: DataFrame, dst: str = "dst") -> DataFrame:
    return edges.groupBy(F.col(dst).alias("id")).agg(
        F.count("*").alias("in_degree")
    )


def k_core(edges, k: int, max_rounds: int = 50):
    """Vertices of the k-core: the maximal subgraph where every vertex has
    degree ≥ ``k`` — computed by iterative peeling (delete under-degree
    vertices, recompute, repeat to fixpoint), the standard cohesion /
    collusion-ring filter (a k-clique survives the (k−1)-core; hangers-on
    peel away). Returns ``(id, core_degree)`` — each survivor's degree
    WITHIN the core.

    Per round: one degree aggregate + two semi joins on the (shrinking)
    edge list, run to fixpoint by ``fixpoint.fixpoint``. Rounds = peeling
    depth (≤ graph degeneracy ordering length), usually far below the
    vertex count; a round that removes nothing is the fixpoint. Raises if
    ``max_rounds`` peeling rounds leave edges still to peel.
    """
    from .builders import symmetrize
    from .fixpoint import fixpoint

    def step(sym: DataFrame, n: int) -> DataFrame:
        deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src")
        return sym.join(keep, "src", "left_semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "left_semi"
        )

    sym = fixpoint(
        "k_core", symmetrize(edges).select("src", "dst"), step, max_rounds
    )
    return sym.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("core_degree")
    )

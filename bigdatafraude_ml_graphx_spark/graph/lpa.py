"""Label Propagation (community detection) — the GraphX
``graphx.lib.LabelPropagation`` contract as iterative DataFrame rounds.

Replaces ``LabelPropagation.run(graph, maxSteps)``: every vertex starts
with its own id as label; each synchronous round a vertex adopts the most
frequent label among its neighbors. GraphX leaves ties arbitrary (its
per-message map merge is order-dependent); this implementation pins ties
to the SMALLEST label, which makes the whole algorithm deterministic and
lets a fixed-round run be certified against an unrolled SQL oracle
(the q23 PageRank discipline — /root/reference/notebooks/4_graphx.ipynb
drives GraphX's lib algorithms; LPA is the community-detection member of
that library).

Scale shape per round: one join of the label table against the
symmetrized edges, materialized once and keyed on src
(``fixpoint._iteration_edges``) — the count per (vertex, label) combines
little map-side, and keyed edges let it and the window below run with no
edge-sized exchange; one count aggregate; one per-vertex window over
that vertex's candidate labels only (bounded by its degree), then ``localCheckpoint``
every 5th round and at the end to truncate lineage. Fixed rounds = fixed cost; LPA famously oscillates
rather than converges, which is why the GraphX API itself takes
``maxSteps`` instead of a convergence test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .builders import symmetrize


def label_propagation(edges: DataFrame, num_iterations: int = 3) -> DataFrame:
    """Synchronous min-tie LPA over the undirected graph of ``edges``
    (src, dst) → ``(id, label)`` after ``num_iterations`` rounds."""
    from .fixpoint import _iteration_edges

    sym = _iteration_edges(symmetrize(edges).select("src", "dst"), key="src")
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for i in range(num_iterations):
        cnt = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy(F.col("src").alias("vid"), "label")
            .agg(F.count("*").alias("c"))
        )
        w = Window.partitionBy("vid").orderBy(F.col("c").desc(), F.col("label"))
        labels = (
            cnt.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("vid").alias("id"), "label")
        )
        # Checkpoint on the last round (materialize + release sym) and
        # every 5th round (bound lineage for large budgets). For the
        # typical 3-round run the whole propagation compiles into ONE
        # job instead of one per round — measured ~5% at sf0.1; lineage
        # of a few chained rounds is safely below the plan-bloat zone
        # the per-round discipline in bfs/pagerank exists for.
        if i == num_iterations - 1 or (i + 1) % 5 == 0:
            labels = labels.localCheckpoint(eager=True)
    sym.unpersist()
    return labels


def oracle_lpa_sql(edges_cte: str, num_iterations: int = 3) -> str:
    """DuckDB SQL replaying the identical min-tie synchronous rounds,
    unrolled (``edges_cte`` must define ``e0(src, dst, ...)``)."""
    parts = [
        f"""{edges_cte},
    sym AS (SELECT src AS u, dst AS v FROM e0 UNION SELECT dst, src FROM e0),
    lab0 AS (SELECT DISTINCT u AS id, u AS label FROM sym)"""
    ]
    for i in range(num_iterations):
        parts.append(f"""
    c{i + 1} AS (
      SELECT s.u AS vid, l.label, COUNT(*) AS c
      FROM sym s JOIN lab{i} l ON l.id = s.v
      GROUP BY 1, 2),
    lab{i + 1} AS (
      SELECT vid AS id, label FROM (
        SELECT vid, label,
               ROW_NUMBER() OVER (PARTITION BY vid
                                  ORDER BY c DESC, label) AS rn
        FROM c{i + 1})
      WHERE rn = 1)""")
    return (
        "WITH "
        + ",".join(parts)
        + f"\n    SELECT id, label FROM lab{num_iterations}"
    )

"""Near-duplicate cluster labeling as a STANDING artifact.

A release pipeline consumes the same dup-cluster labeling several times —
the cluster-size histogram (q250), the leakage-safe train/holdout split
(q254), removable-doc accounting, canonical-doc election. Recomputing the
pair graph + connected components per consumer multiplies the most
expensive stage of the pipeline; the right shape at 100 TB is label ONCE,
materialize, and let every downstream artifact be a cheap projection/
aggregate over the labeling (VERDICT r11 next-round item #6).

:func:`cluster_labels` computes ``(doc, cluster)`` over the df-capped
n-gram Jaccard dup graph (the q233-certified capped pair semantics) and
offers two materialization modes:

- in-memory (default): ``localCheckpoint(eager=True)`` — one lineage,
  every consumer reuses the computed blocks (the q247 composed-plan model);
- standing table (``table=...``): a BUCKETED managed table keyed on
  ``cluster`` (the ``write_bucketed_table`` primitive, `sources/io.py`) —
  per-cluster aggregations over the read-back table need NO exchange
  (bucketed scan already satisfies the hash distribution), and tomorrow's
  pipeline run reads the labeling instead of re-running components
  (asserted in tests/test_round12.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The certified near-dup Jaccard threshold (q233's oracle-pinned value).
# Single source of truth: the query layer (queries_r11._JACC_TAU) aliases
# THIS constant, so the operator default and the oracle-mirrored queries
# cannot drift apart (ADVICE r12 #1).
JACC_TAU = 0.04


def cluster_labels(
    docs: DataFrame,
    n: int = 3,
    threshold: float = JACC_TAU,
    max_shingle_freq: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str | None = None,
    num_buckets: int = 16,
    return_pairs: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """``(doc, cluster)`` labeling of the near-duplicate graph.

    Pairs come from :func:`dedup.ngram.ngram_jaccard_pairs` (posting lists
    capped at ``max_shingle_freq`` — the boilerplate-safe production
    config); components are min-label propagation over the candidate graph
    only, with every document (including singletons) labeled. ``cluster``
    is the min doc id of the component — stable under re-runs.

    With ``table`` set, the labeling is written as a managed table bucketed
    (and sorted) on ``cluster`` and the read-back frame is returned — the
    standing-artifact path. Otherwise the labeling is eagerly checkpointed
    so multiple consumers share one computation.

    With ``return_pairs=True`` the return value is ``(labels, pairs)`` —
    the eagerly-checkpointed ``(doc_a, doc_b, jaccard)`` frame the labeling
    was built from — so audits that need the EDGES as well as the labels
    (q257's split-leakage count) consume the single certified construction
    instead of re-inlining the dup-graph build (ADVICE r12 #2).
    """
    from ..graph.components import connected_components
    from .ngram import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        docs,
        n=n,
        threshold=threshold,
        max_shingle_freq=max_shingle_freq,
        id_col=id_col,
        text_col=text_col,
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    cc = connected_components(
        edges,
        vertices=docs.select(F.col(id_col).alias("id")),
        dedup_edges=False,
    )
    labels = cc.select(
        F.col("id").alias("doc"), F.col("component").alias("cluster")
    )
    if table is not None:
        from ..sources.io import write_bucketed_table

        write_bucketed_table(
            labels, table, ("cluster",), num_buckets=num_buckets,
            sort_cols=("doc",),
        )
        out = docs.sparkSession.table(table)
        return (out, pairs) if return_pairs else out
    out = labels.localCheckpoint(eager=True)
    return (out, pairs) if return_pairs else out


def update_cluster_labels(
    labels: DataFrame,
    base: DataFrame,
    batch: DataFrame,
    n: int = 3,
    threshold: float = JACC_TAU,
    max_shingle_freq: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental maintenance of a standing ``(doc, cluster)`` labeling:
    merge a newly-ingested ``batch`` into the labeling built over ``base``
    WITHOUT relabeling the corpus (the daily-loop counterpart of
    :func:`cluster_labels` — q265).

    New edges are today's probe set — batch↔base ∪ batch↔batch under the
    base+batch capped universe (``ngram_jaccard_probe_pairs`` with
    ``within_probe=True``; pass ``max_shingle_freq`` relative to
    |base|+|batch|). Component propagation runs ONLY over the affected
    subgraph: the clusters containing a base endpoint of a new edge
    (their labels re-expressed as star edges doc→cluster) plus the batch
    docs; every untouched label is carried over through one anti join.
    Correctness: star edges preserve the old components' connectivity
    exactly, so closing (stars ∪ new edges) over (touched ∪ batch)
    vertices yields the same min-label components a closure over (old
    pair graph ∪ new edges) would — applying the merge day after day
    composes losslessly (pinned across a 3-day split in
    tests/test_round13.py).

    Scale shape: each call still shingles the whole ``base`` once, in one
    map-side pass into a local checkpoint — at 100 TB the posting lists
    are a standing artifact maintained at ingest, which that pass stands
    in for (see ``ngram_jaccard_probe_pairs``; the bench's
    ``x_ngram_probe_standing_b*`` rows measure the amortized shape). The
    base's shingle rows never cross an exchange: the batch's capped
    shingles are broadcast into the base scan (join work ∝ |batch| ×
    collision rate), and the base side shuffles only map-side-combined
    counts (hot list, per-doc sizes, shared counts), which still grow
    with the base's distinct shingles and docs. A base scan narrower than
    the cluster is also spread by doc id before shingling (the
    scan-parallelism floor of ``_doc_shingles``), a shuffle of the base
    text. The rest is |touched clusters| (the subgraph CC) plus one slim
    anti join over the labeling.
    """
    from ..graph.components import connected_components
    from .ngram import ngram_jaccard_probe_pairs

    new_pairs = ngram_jaccard_probe_pairs(
        batch, base, n=n, threshold=threshold,
        max_shingle_freq=max_shingle_freq,
        id_col=id_col, text_col=text_col,
        within_probe=True,
    )
    # Affected = clusters containing a base endpoint of any new edge. Tiny
    # by construction (≤ |new pairs|); eager so the aggregate runs once
    # for the semi and anti joins.
    affected = (
        new_pairs.select(F.col("doc_probe").alias("doc"))
        .unionByName(new_pairs.select(F.col("doc_index").alias("doc")))
        .distinct()
        .join(labels, "doc")
        .select("cluster")
        .distinct()
        .localCheckpoint(eager=True)
    )
    touched = labels.join(affected, ["cluster"], "left_semi")
    untouched = labels.join(affected, ["cluster"], "left_anti")
    star = touched.filter(F.col("doc") != F.col("cluster")).select(
        F.col("doc").alias("src"), F.col("cluster").alias("dst")
    )
    edges = star.unionByName(
        new_pairs.select(
            F.col("doc_probe").alias("src"), F.col("doc_index").alias("dst")
        )
    )
    verts = touched.select(F.col("doc").alias("id")).unionByName(
        batch.select(F.col(id_col).alias("id"))
    )
    cc = connected_components(edges, vertices=verts, dedup_edges=False)
    return untouched.select("doc", "cluster").unionByName(
        cc.select(F.col("id").alias("doc"), F.col("component").alias("cluster"))
    )

"""Round-13 batch: the standing-artifact consumers of the incremental
dedup loop (VERDICT r12 next-round items #2/#7).

- q264: the standing-table consumer — build the bucketed cluster labeling
  ONCE (``cluster_labels(table=...)``) and derive q255's release report
  from the READ-BACK, with the per-cluster aggregation running with zero
  Exchange off the bucketed scan (same oracle as q255: the materialization
  path must not change the answer).
- q265: incremental cluster-label MAINTENANCE — merge today's probe edges
  into yesterday's standing labeling by relabeling ONLY the affected
  components, instead of re-running connected components over the corpus.
- q266: the per-source ingest report — q263's decision table aggregated
  into the accounting a crawl operator reads (docs and tokens kept/dropped
  per source per action).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .queries import query
from .queries_r10 import _DF_FRAC
from .queries_r11 import _JACC_TAU
from .queries_r12 import (
    _BATCH_MOD,
    _Q255_ORACLE,
    _SPLIT_CASE,
    _ingest_decision_table,
    _q263_oracle,
    _split_col,
)
from .queries_text import _NORM, _SHINGLES_CTE, _TOKS


@query("q264_standing_labels_report", oracle=_Q255_ORACLE)
def q264_standing_labels_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q255's release report derived through the STANDING-TABLE path: the
    cluster labeling is written once as a managed table bucketed on
    ``cluster`` (``cluster_labels(table=...)``) and the report is computed
    from the read-back frame — the per-cluster count aggregates with ZERO
    Exchange because the bucketed scan already satisfies the hash
    distribution (plan-asserted in tests/test_round13.py). Same oracle as
    q255: materialization strategy must never change the answer.

    This is the production shape the x_cluster_labels_standing_* bench
    rows measure (build ~9 s once at sf0.1, each derived artifact 0.28 s):
    tomorrow's pipeline run READS the labeling instead of re-running
    components, and every downstream artifact (q250's histogram, q254's
    split, this report) is a cheap aggregate over the table. At 100 TB
    the bucketed write amortizes the labeling shuffle once; the 2-key
    report regroup happens on the ≤|clusters| histogram frame, never the
    corpus.

    The table name is uuid-suffixed (the q236 sink convention): a managed
    table's LOCATION outlives the session catalog, so a fixed name
    collides with a previous session's run. The name of the most recent
    build is exposed as ``q264_standing_labels_report.last_table`` for
    the plan test; each call drops the previous call's table first, so
    one build per session stays live."""
    import uuid

    from .dedup.clusters import cluster_labels

    prev = getattr(q264_standing_labels_report, "last_table", None)
    if prev is not None:
        spark.sql(f"DROP TABLE IF EXISTS {prev}")
    docs = load_table(spark, sf_dir, "documents")
    cap = _DF_FRAC * docs.count()
    name = f"q264_labels_{uuid.uuid4().hex[:8]}"
    labels = cluster_labels(
        docs, n=3, threshold=_JACC_TAU, max_shingle_freq=cap,
        table=name, num_buckets=16,
    )
    q264_standing_labels_report.last_table = name
    return _labels_report(labels)


def _labels_report(labels: DataFrame) -> DataFrame:
    """q255's report over an existing (doc, cluster) labeling frame —
    shared by the build path (q264) and the plan test's read-back-only
    derive."""
    csize = labels.groupBy("cluster").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    lab = csize.select("cluster_size", _split_col("cluster").alias("split"))
    return lab.groupBy("cluster_size", "split").agg(
        F.count("*").cast("long").alias("n_clusters"),
        (F.count("*") * F.col("cluster_size")).cast("long").alias("docs_total"),
        (F.count("*") * (F.col("cluster_size") - 1))
        .cast("long")
        .alias("docs_removable"),
    )


# The maintenance-semantics CTE chain, shared by q265 (the labeling), q267
# (the manifest delta), and q268 (the split churn): yesterday's certified
# dup graph (pb — base-base pairs, df capped over the BASE corpus) unioned
# with today's new edges (pt — any pair touching a batch doc, df capped
# over the base+batch corpus), closed into `comp`; `compb` is yesterday's
# standalone closure (the standing labeling the deltas diff against).
_Q265_CTES = f"""{_SHINGLES_CTE},
    shb AS (SELECT doc, shingle FROM sh WHERE doc % {_BATCH_MOD} != 0),
    keepb AS (SELECT shingle FROM shb GROUP BY shingle
              HAVING COUNT(*) <= {_DF_FRAC} * (SELECT COUNT(*) FROM documents
                                               WHERE doc_id % {_BATCH_MOD} != 0)),
    shcb AS (SELECT shb.doc, shb.shingle FROM shb JOIN keepb USING (shingle)),
    sizb AS (SELECT doc, COUNT(*) AS n_sh FROM shcb GROUP BY doc),
    shrb AS (SELECT a.doc AS da, b.doc AS db, COUNT(*) AS s
             FROM shcb a JOIN shcb b
               ON a.shingle = b.shingle AND a.doc < b.doc
             GROUP BY 1, 2),
    pb AS (SELECT da, db FROM shrb
           JOIN sizb sa ON shrb.da = sa.doc
           JOIN sizb sb ON shrb.db = sb.doc
           WHERE CAST(s AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - s AS DOUBLE)
                 >= {_JACC_TAU}),
    keept AS (SELECT shingle FROM sh GROUP BY shingle
              HAVING COUNT(*) <= {_DF_FRAC} * (SELECT COUNT(*) FROM documents)),
    shct AS (SELECT sh.doc, sh.shingle FROM sh JOIN keept USING (shingle)),
    sizt AS (SELECT doc, COUNT(*) AS n_sh FROM shct GROUP BY doc),
    shrt AS (SELECT a.doc AS da, b.doc AS db, COUNT(*) AS s
             FROM shct a JOIN shct b
               ON a.shingle = b.shingle AND a.doc < b.doc
              AND (a.doc % {_BATCH_MOD} = 0 OR b.doc % {_BATCH_MOD} = 0)
             GROUP BY 1, 2),
    pt AS (SELECT da, db FROM shrt
           JOIN sizt sa ON shrt.da = sa.doc
           JOIN sizt sb ON shrt.db = sb.doc
           WHERE CAST(s AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - s AS DOUBLE)
                 >= {_JACC_TAU}),
    allp AS (SELECT da, db FROM pb UNION SELECT da, db FROM pt),
    sym AS (SELECT da AS u, db AS v FROM allp
            UNION SELECT db, da FROM allp),
    reach(a, bnode) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, s.v FROM reach r JOIN sym s ON r.bnode = s.u),
    comp AS (SELECT a AS doc, MIN(bnode) AS cluster FROM reach GROUP BY a)"""

# Yesterday's standalone closure (base docs, base edges only).
_Q265_BASE_CTES = f"""symb AS (SELECT da AS u, db AS v FROM pb
          UNION SELECT db, da FROM pb),
    reachb(a, bnode) AS (
        SELECT doc_id, doc_id FROM documents WHERE doc_id % {_BATCH_MOD} != 0
        UNION
        SELECT r.a, s.v FROM reachb r JOIN symb s ON r.bnode = s.u),
    compb AS (SELECT a AS doc, MIN(bnode) AS cluster FROM reachb GROUP BY a)"""


def _q265_oracle() -> str:
    """The maintenance labeling. NOTE this is exactly the incremental
    answer, not a full relabel: base-base pairs whose hotness flipped when
    the batch arrived keep yesterday's adjudication (a daily loop does not
    re-pair the corpus to chase cap drift); on corpora where no cap flip
    alters connectivity — including this fixture, pinned in
    tests/test_round13.py — the result equals the full relabel."""
    return f"""
    WITH RECURSIVE {_Q265_CTES}
    SELECT doc, cluster FROM comp
    """


@query("q265_incremental_cluster_maintenance", oracle=_q265_oracle())
def q265_incremental_cluster_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Merge today's ingest into the standing near-dup labeling WITHOUT
    relabeling the corpus: the post-ingest ``(doc, cluster)`` for ALL
    documents (base + batch), where component propagation runs only over
    the AFFECTED subgraph — the clusters touched by a new edge, plus the
    batch docs — and every untouched label is carried over by anti join.
    This closes the incremental family's loop: q263 decides keep/drop per
    batch doc; this maintains the labeling those decisions (and q264's
    standing table) come from, at batch-proportional propagation cost.

    Semantics (mirrored exactly by the oracle): yesterday's edges are the
    certified base-universe capped pairs (what the standing labeling was
    built from); today's new edges are batch↔base ∪ batch↔batch under the
    base+batch universe (``ngram_jaccard_probe_pairs(within_probe=True)``).
    Cap drift on base-base pairs keeps yesterday's adjudication — a daily
    loop does not re-pair the corpus; the fixture-pinned property is that
    this equals the full relabel when no cap flip alters connectivity.

    Scale shape: one probe join (batch-proportional) + one star-edge
    extraction over the touched labels; connected components runs on a
    subgraph of size ≈ |batch| + |touched clusters|, NOT |corpus|. The
    untouched majority moves through ONE anti join on the slim labeling.
    The standing labeling is rebuilt in-query per the driver contract;
    production reads it from q264's bucketed table."""
    return _maintained_labels(spark, sf_dir)


def _maintained_labels(
    spark: SparkSession, sf_dir: str, standing: DataFrame | None = None
) -> DataFrame:
    """q265's affected-component maintenance, factored so the delta
    artifacts (q267 manifest delta, q268 split churn) diff the SAME
    maintained labeling against the same standing one. The merge itself is
    the :func:`dedup.clusters.update_cluster_labels` operator; this
    wrapper only binds the driver-contract corpus split (doc_id %
    ``_BATCH_MOD``). Callers that ALSO consume the standing labeling
    (q267/q268 diff against it) pass it in so the most expensive stage of
    the lineage — the base labeling build — runs ONCE per query, not
    twice (it is eagerly checkpointed by cluster_labels; measured 101 s →
    ~60 s at sf1.0 for q267/q268)."""
    from .dedup.clusters import update_cluster_labels

    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % _BATCH_MOD == 0
    base = docs.filter(~is_batch)
    batch = docs.filter(is_batch)
    if standing is None:
        standing = _standing_base_labels(spark, sf_dir)
    return update_cluster_labels(
        standing, base, batch, n=3, threshold=_JACC_TAU,
        max_shingle_freq=_DF_FRAC * docs.count(),
    )


def _standing_base_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yesterday's standing labeling: the certified cluster labeling over
    the BASE corpus alone (df capped over base — the universe it saw when
    built). Shared by q265 (internally), q267, and q268."""
    from .dedup.clusters import cluster_labels

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % _BATCH_MOD != 0)
    return cluster_labels(
        base, n=3, threshold=_JACC_TAU,
        max_shingle_freq=_DF_FRAC * base.count(),
    )


def _manifest(docs: DataFrame, labels: DataFrame) -> DataFrame:
    """q258's per-document curation manifest over an EXPLICIT (docs,
    labels) pair — fingerprint canonicals and token counts computed over
    exactly the given corpus slice, actions and split derived from the
    given labeling."""
    from pyspark.sql import Window

    from .functions.text import fingerprint, tokens

    meta = docs.select(
        "doc_id",
        fingerprint("text").alias("_f"),
        F.size(tokens("text")).cast("long").alias("n_toks"),
    )
    fpc = meta.withColumn(
        "fp_canon", F.min("doc_id").over(Window.partitionBy("_f"))
    )
    m = labels.join(fpc, labels["doc"] == fpc["doc_id"])
    action = (
        F.when(F.col("doc_id") != F.col("fp_canon"), F.lit("drop_exact_dup"))
        .when(F.col("doc") != F.col("cluster"), F.lit("drop_near_dup"))
        .otherwise(F.lit("keep"))
    )
    return m.select(
        "doc",
        "cluster",
        _split_col("cluster").alias("split"),
        action.alias("action"),
        "n_toks",
    )


def _q267_oracle() -> str:
    return f"""
    WITH RECURSIVE {_Q265_CTES},
    {_Q265_BASE_CTES},
    fpa AS (SELECT doc_id, md5({_NORM}) AS f FROM documents),
    fpca AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY f) AS fp_canon
             FROM fpa),
    nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks FROM d),
    newm AS (SELECT comp.doc, comp.cluster, {_SPLIT_CASE} AS split,
                    CASE WHEN comp.doc != fpca.fp_canon THEN 'drop_exact_dup'
                         WHEN comp.doc != comp.cluster THEN 'drop_near_dup'
                         ELSE 'keep' END AS action,
                    nt.n_toks
             FROM comp JOIN fpca ON comp.doc = fpca.doc_id
                       JOIN nt ON comp.doc = nt.doc_id),
    fpo AS (SELECT doc_id, f FROM fpa WHERE doc_id % {_BATCH_MOD} != 0),
    fpco AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY f) AS fp_canon
             FROM fpo),
    oldm AS (SELECT compb.doc, compb.cluster, {_SPLIT_CASE} AS split,
                    CASE WHEN compb.doc != fpco.fp_canon THEN 'drop_exact_dup'
                         WHEN compb.doc != compb.cluster THEN 'drop_near_dup'
                         ELSE 'keep' END AS action
             FROM compb JOIN fpco ON compb.doc = fpco.doc_id)
    SELECT n.doc,
           CASE WHEN o.doc IS NULL THEN 'added' ELSE 'updated' END AS change,
           n.cluster, n.split, n.action, n.n_toks
    FROM newm n LEFT JOIN oldm o ON n.doc = o.doc
    WHERE o.doc IS NULL OR n.cluster != o.cluster
       OR n.split != o.split OR n.action != o.action
    """


@query("q267_manifest_delta", oracle=_q267_oracle())
def q267_manifest_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CHANGE SET today's ingest applies to the standing curation
    manifest (q258): one row per batch doc (``added``) and per base doc
    whose (cluster, split, action) the merge altered (``updated``). A
    batch doc with a small id can displace a base cluster's canonical or
    drag a merged cluster to the other split side — base docs then flip
    keep→drop_near_dup or train↔holdout, and THIS table is what a
    downstream consumer applies instead of re-reading a full manifest.

    Scale shape: both manifests are projections over slim (doc_id, md5,
    n_toks) frames joined to labelings; the NEW labeling is q265's
    affected-component maintenance (batch-proportional propagation), the
    OLD one is the standing artifact (rebuilt in-query per the driver
    contract; production reads q264's table). The delta itself is one
    doc-keyed left join on the manifest frames — and since untouched
    components keep identical labels by construction, the emitted change
    set is ingest-proportional, never corpus-proportional."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % _BATCH_MOD != 0)
    standing = _standing_base_labels(spark, sf_dir)
    new_m = _manifest(docs, _maintained_labels(spark, sf_dir, standing))
    old_m = _manifest(base, standing)
    old_t = old_m.select(
        F.col("doc").alias("_odoc"),
        F.col("cluster").alias("_ocluster"),
        F.col("split").alias("_osplit"),
        F.col("action").alias("_oaction"),
    )
    j = new_m.join(old_t, new_m["doc"] == old_t["_odoc"], "left")
    changed = (
        F.col("_odoc").isNull()
        | (F.col("cluster") != F.col("_ocluster"))
        | (F.col("split") != F.col("_osplit"))
        | (F.col("action") != F.col("_oaction"))
    )
    return j.filter(changed).select(
        "doc",
        F.when(F.col("_odoc").isNull(), F.lit("added"))
        .otherwise(F.lit("updated"))
        .alias("change"),
        "cluster",
        "split",
        "action",
        "n_toks",
    )


@query(
    "q268_split_churn",
    oracle=f"""
    WITH RECURSIVE {_Q265_CTES},
    {_Q265_BASE_CTES},
    o AS (SELECT doc, {_SPLIT_CASE} AS split FROM compb),
    n AS (SELECT doc, {_SPLIT_CASE} AS split FROM comp)
    SELECT o.split AS from_split, n.split AS to_split,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM o JOIN n USING (doc) GROUP BY 1, 2
    """,
)
def q268_split_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split STABILITY under ingest: for every base doc, its train/holdout
    side before and after today's merge, rolled up into the (from, to)
    transition matrix. Cluster-wise splitting hashes the cluster LABEL,
    and a merge can lower a cluster's min-id label — so ingest can move
    previously-assigned docs across the boundary. A release pipeline
    monitors the off-diagonal mass: train→holdout churn silently shrinks
    usable training data, holdout→train churn CONTAMINATES the holdout
    (those docs may already have been trained on) — the operational
    number that decides whether to pin split assignments in a standing
    table (q264's shape) rather than recompute them.

    Scale shape: two slim (doc, split) projections of labelings already
    computed by the maintenance lineage, one doc-keyed join, a ≤4-group
    aggregate."""
    standing = _standing_base_labels(spark, sf_dir)
    new_sp = _maintained_labels(spark, sf_dir, standing).select(
        "doc", _split_col("cluster").alias("to_split")
    )
    old_sp = standing.select(
        "doc", _split_col("cluster").alias("from_split")
    )
    return (
        old_sp.join(new_sp, "doc")
        .groupBy("from_split", "to_split")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def _q266_oracle() -> str:
    """q263's decision statement (embedded with its WITH scoped locally)
    joined to the slim per-doc metadata and rolled up per source."""
    return f"""
    WITH dec AS ({_q263_oracle()}),
    meta AS (SELECT doc_id, source,
                    CAST(len({_TOKS}) AS BIGINT) AS n_toks
             FROM documents)
    SELECT m.source, dec.action,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(m.n_toks), 0) AS BIGINT) AS tokens
    FROM dec JOIN meta m ON dec.doc = m.doc_id
    GROUP BY m.source, dec.action
    """


@query("q266_ingest_report_by_source", oracle=_q266_oracle())
def q266_ingest_report_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest report a crawl operator actually reads: today's batch
    decisions (q263's certified probe — exact dup / near dup / keep)
    aggregated per SOURCE with document and token accounting. A source
    whose batches are mostly drops is re-crawling known content — the
    direct input to crawl-deprioritization (the incremental counterpart
    to q245's whole-corpus source dup rate).

    Scale shape: composes the SAME ``_ingest_decision_table`` lineage as
    q263 (one probe join, batch-proportional) plus one slim (doc_id,
    source, n_toks) projection of the batch rows; the report is a
    |sources|×3-group aggregate with map-side combine."""
    from .functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    dec = _ingest_decision_table(spark, sf_dir)
    meta = docs.filter(F.col("doc_id") % _BATCH_MOD == 0).select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("long").alias("n_toks"),
    )
    j = dec.join(meta, dec["doc"] == meta["doc_id"])
    return j.groupBy("source", "action").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.coalesce(F.sum("n_toks"), F.lit(0).cast("long"))
        .cast("long")
        .alias("tokens"),
    )


@query(
    "q269_scd2_incremental_merge",
    oracle="""
    SELECT user_id AS key, event_id AS row_id, event_type AS attr_value,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           CASE WHEN LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL THEN 1 ELSE 0 END AS is_current
    FROM events
    WHERE user_id % 97 = 0
    """,
)
def q269_scd2_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 dimension maintenance: the standing dimension is
    built from the historical change stream (event_id % 5 != 0 stands in
    for yesterday's ingested history), then today's batch (event_id % 5
    == 0 — which includes LATE-ARRIVING changes landing mid-timeline) is
    merged via :func:`operators.cdc.scd2_apply_batch` — affected keys
    rebuilt from dimension rows + batch, untouched keys carried over by
    anti join. The oracle is the FULL-HISTORY rebuild: the merge is
    row-identical to replaying everything, which is the associativity a
    daily warehouse loop relies on (the q265 affected-partition discipline
    applied to the warehouse family: q74 compacts the head, q105 builds
    the timeline, this MAINTAINS it).

    Scale shape: the standing dim rebuild here is the driver-contract
    stand-in for reading a stored table; the merge itself costs one slim
    anti join over the dimension plus a window over only the touched
    keys' rows — batch-proportional, never history-proportional."""
    from .operators.cdc import scd2_apply_batch, scd2_intervals

    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 97 == 0
    )
    hist = e.filter(F.col("event_id") % 5 != 0)
    batch = e.filter(F.col("event_id") % 5 == 0)
    dim = scd2_intervals(
        hist, "user_id", "event_type", "ts", "event_id"
    ).localCheckpoint(eager=True)  # the standing artifact, materialized
    merged = scd2_apply_batch(
        dim, batch, "user_id", "event_type", "ts", "event_id"
    )
    return merged


_EV_SCHEMA = "user_id long, event_id long, event_type string, ts timestamp_ntz"


def _staged_scd2_dir(spark: SparkSession, sf_dir: str) -> str:
    """File-stream staging for the SCD2 change history: the q105 event
    subset split into 5 single-file batches (event_id % 5), so an
    availableNow stream with maxFilesPerTrigger=1 replays history as five
    micro-batch 'days'. Staged once per sf_dir (atomic rename — concurrent
    sessions race safely); read-only testdata is never touched."""
    import hashlib
    import os
    import shutil
    import uuid as _uuid

    key = hashlib.md5(f"scd2|{os.path.abspath(sf_dir)}".encode()).hexdigest()[:8]
    root = f"/tmp/spark_graft_stream_scd2_{key}"
    src = os.path.join(root, "src")
    if os.path.isdir(src):
        return src
    tmp = f"{root}.tmp.{_uuid.uuid4().hex[:8]}"
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 97 == 0)
        .select("user_id", "event_id", "event_type", "ts")
    )
    for i in range(5):
        e.filter(F.col("event_id") % 5 == i).coalesce(1).write.parquet(
            os.path.join(tmp, f"batch_{i}")
        )
    stage = os.path.join(tmp, "src")
    os.makedirs(stage)
    files = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(tmp)
        for f in fs
        if f.endswith(".parquet") and "/src" not in r
    )
    for i, f in enumerate(files):
        # RELATIVE links — the whole tree is renamed into place below, and
        # absolute targets into the pre-rename path would dangle.
        os.symlink(
            os.path.relpath(f, stage), os.path.join(stage, f"b{i}.parquet")
        )
    try:
        os.rename(tmp, root)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # another session won the race
    return src


@query(
    "q270_stream_scd2_maintenance",
    oracle="""
    SELECT user_id AS key, event_id AS row_id, event_type AS attr_value,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           CASE WHEN LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL THEN 1 ELSE 0 END AS is_current
    FROM events
    WHERE user_id % 97 = 0
    """,
)
def q270_stream_scd2_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 dimension maintained by a REAL Structured Streaming loop:
    the change history arrives as five single-file micro-batches
    (``maxFilesPerTrigger=1``, availableNow) and ``foreachBatch`` merges
    each into the standing dimension via
    :func:`operators.cdc.scd2_apply_batch`, starting from an EMPTY
    dimension — no bootstrap rebuild anywhere. The final dimension is
    row-identical to the full-history rebuild (the oracle is exactly
    q269's), which is the merge's associativity doing real work: batches
    arrive in whatever order the file listing yields, each carrying
    changes that land mid-timeline relative to the others, and the
    affected-key rebuild absorbs them all.

    Scale shape: per micro-batch, one anti join over the standing
    dimension + a window over only the touched keys' rows; the dimension
    is re-materialized per batch (versioned parquet dirs — in production,
    a table format's atomic commit). The q236/q237 stream-ingest
    discipline applied to the warehouse family."""
    import os
    import tempfile

    from .operators.cdc import scd2_apply_batch, scd2_intervals
    from .streaming.sinks import run_available_now

    src = _staged_scd2_dir(spark, sf_dir)
    out_root = tempfile.mkdtemp(prefix="q270_dim_")
    state: dict[str, str | None] = {"dim": None}

    def _step(batch_df, batch_id):
        sp = batch_df.sparkSession
        if state["dim"] is None:
            new = scd2_intervals(
                batch_df, "user_id", "event_type", "ts", "event_id"
            )
        else:
            new = scd2_apply_batch(
                sp.read.parquet(state["dim"]),
                batch_df,
                "user_id", "event_type", "ts", "event_id",
            )
        path = os.path.join(out_root, f"dim_v{batch_id}")
        new.write.parquet(path)
        state["dim"] = path

    q = (
        spark.readStream.schema(_EV_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(_step)
        .option("checkpointLocation", os.path.join(out_root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    run_available_now(q, timeout_s=300)
    assert state["dim"] is not None, "stream drained no batches"
    return spark.read.parquet(state["dim"])


def _q271_oracle() -> str:
    from .queries_ann import _ivf_assign_cte, _qdot_sql

    sim = (
        f"{_qdot_sql('e.embedding', 'c.cvec')}"
        f" / (sqrt({_qdot_sql('e.embedding', 'e.embedding')})"
        f" * sqrt({_qdot_sql('c.cvec', 'c.cvec')}))"
    )
    return f"""
    WITH {_ivf_assign_cte(where="vec_id % 10 != 0")},
    nb AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_base
           FROM asg GROUP BY cell),
    ba0 AS (SELECT e.vec_id AS id, c.cell, {sim} AS sim
            FROM (SELECT * FROM embeddings WHERE vec_id % 10 = 0) e
            CROSS JOIN cent c),
    ba AS (SELECT id, cell FROM (
             SELECT id, cell,
                    ROW_NUMBER() OVER (PARTITION BY id
                                       ORDER BY sim DESC, cell ASC) AS arn
             FROM ba0) WHERE arn = 1),
    nn AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_new
           FROM ba GROUP BY cell)
    SELECT cent.cell,
           CAST(COALESCE(nb.n_base, 0) AS BIGINT) AS n_base,
           CAST(COALESCE(nn.n_new, 0) AS BIGINT) AS n_new,
           CASE WHEN COALESCE(nb.n_base, 0) + COALESCE(nn.n_new, 0) = 0
                THEN NULL
                ELSE CAST(COALESCE(nn.n_new, 0) AS DOUBLE)
                     / (COALESCE(nb.n_base, 0) + COALESCE(nn.n_new, 0)) END
             AS new_share
    FROM cent
    LEFT JOIN nb ON cent.cell = nb.cell
    LEFT JOIN nn ON cent.cell = nn.cell
    """


@query("q271_ivf_ingest_stats", oracle=_q271_oracle())
def q271_ivf_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN ingest at the INDEX level (the q237 probe family's
    maintenance companion): today's batch of vectors (vec_id % 10 == 0 —
    the q237 split) is routed into the STANDING coarse quantizer trained
    on the base corpus (``similarity.ivf.assign_to_index`` — centroids are
    index metadata; zero corpus work), and the report is per cell: standing
    population, newly-ingested count, and the new-vector share. A cell
    whose new_share runs hot is where the data distribution is drifting
    away from the quantizer — the signal that triggers a centroid refresh
    (q260's dispersion is the cohesion view; this is the growth view).

    Scale shape: the batch×n_cells assignment is inlined/broadcast
    arithmetic; both counts aggregate map-side; the report is ≤n_cells
    rows joined on cell. The standing assignment is rebuilt in-query per
    the driver contract — production reads its stored (id, cell) table."""
    from .similarity.ivf import assign_to_index, build_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    is_batch = F.col("vec_id") % 10 == 0
    base = emb.filter(~is_batch)
    batch = emb.filter(is_batch)
    centroids, base_assigned = build_ivf_index(base, n_cells=16)
    nb = base_assigned.groupBy("cell").agg(
        F.count("*").cast("long").alias("n_base")
    )
    nn = assign_to_index(batch, centroids).groupBy("cell").agg(
        F.count("*").cast("long").alias("n_new")
    )
    cells = centroids.select("cell")
    j = (
        cells.join(nb, "cell", "left")
        .join(nn, "cell", "left")
        .select(
            "cell",
            F.coalesce(F.col("n_base"), F.lit(0)).cast("long").alias("n_base"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
        )
    )
    total = F.col("n_base") + F.col("n_new")
    return j.withColumn(
        "new_share",
        F.when(total > 0, F.col("n_new").cast("double") / total),
    )

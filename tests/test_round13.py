"""Round-13 regression tests — the VERDICT r12 / ADVICE closures.

1. q263's de-weak: ``ngram_jaccard_probe_pairs`` (batch shingles vs base
   posting lists, df/cap over the combined universe) is EXACTLY equivalent
   to the certified self-join over batch ∪ base filtered to cross pairs —
   the q231/q237 cross-subset contract at exact-Jaccard granularity
   (VERDICT r12 What's-wrong #1 / next-round #2).
2. The multi-batch loop is lossless at q263's decision granularity:
   sequential daily probes over 3 batch partitions produce the same
   keep/drop decision table as the one-shot run (VERDICT r12 #3).
3. ``cluster_labels(return_pairs=True)`` exposes the SAME pair frame the
   labeling is built from (ADVICE r12 #2), labels unchanged.
4. The operator default threshold IS the certified constant — one source
   of truth (ADVICE r12 #1).
5. Empty-corpus edges: q259 returns an empty curve instead of raising,
   and q261's cross_frac is NULL (not NaN / divide-by-zero) on an empty
   pair set, matching the oracle's CASE guard (ADVICE r12 #3/#4).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bigdatafraude_ml_graphx_spark import registry as q
from bigdatafraude_ml_graphx_spark.catalog import load_table
from bigdatafraude_ml_graphx_spark.dedup.ngram import (
    ngram_jaccard_pairs,
    ngram_jaccard_probe_pairs,
)
from bigdatafraude_ml_graphx_spark.queries_r10 import _DF_FRAC
from bigdatafraude_ml_graphx_spark.queries_r11 import _JACC_TAU

_MOD = 17  # q263's batch predicate


def test_probe_pairs_equal_self_join_cross_pairs(spark, sf_dir):
    """Cross-subset equivalence: probe-vs-index finds EXACTLY the cross
    pairs of the capped self-join over the union — same pair set, same
    jaccard values bit-for-bit (identical capped universe: df counts both
    sides, so denominators match)."""
    docs = load_table(spark, sf_dir, "documents")
    cap = _DF_FRAC * docs.count()
    is_batch = F.col("doc_id") % _MOD == 0

    probe = ngram_jaccard_probe_pairs(
        docs.filter(is_batch),
        docs.filter(~is_batch),
        n=3,
        threshold=_JACC_TAU,
        max_shingle_freq=cap,
    )
    got = {
        (r["doc_probe"], r["doc_index"]): r["jaccard"]
        for r in probe.collect()
    }

    full = ngram_jaccard_pairs(
        docs, n=3, threshold=_JACC_TAU, max_shingle_freq=cap
    )
    want = {}
    for r in full.collect():
        a_in = r["doc_a"] % _MOD == 0
        b_in = r["doc_b"] % _MOD == 0
        if a_in != b_in:
            key = (
                (r["doc_a"], r["doc_b"]) if a_in else (r["doc_b"], r["doc_a"])
            )
            want[key] = r["jaccard"]
    assert want, "fixture must contain cross near-dup pairs"
    assert got == want


def test_probe_pairs_uncapped_equivalence(spark, sf_dir):
    """Same contract without the df cap (no hot list in play) on a
    different batch predicate — pins the core join shape, not just the
    capped configuration."""
    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 3 == 0
    probe = ngram_jaccard_probe_pairs(
        docs.filter(is_batch), docs.filter(~is_batch),
        n=3, threshold=_JACC_TAU,
    )
    got = {
        (r["doc_probe"], r["doc_index"]): r["jaccard"]
        for r in probe.collect()
    }
    full = ngram_jaccard_pairs(docs, n=3, threshold=_JACC_TAU)
    want = {}
    for r in full.collect():
        a_in = r["doc_a"] % 3 == 0
        b_in = r["doc_b"] % 3 == 0
        if a_in != b_in:
            key = (
                (r["doc_a"], r["doc_b"]) if a_in else (r["doc_b"], r["doc_a"])
            )
            want[key] = r["jaccard"]
    assert want and got == want


# A cap low enough that the sf0.001 fixture has hot shingles (document
# frequency above 4), so the hot-list anti joins are in the plan.
_HOT_CAP = 4


def _shuffles_during(spark, fn):
    """Run ``fn()``; return its result and the ``Input``/``Arguments`` text
    of every shuffle Exchange in the physical plans (final adaptive plans
    included) of the SQL executions it ran, read from the SQL status
    store."""
    import re

    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    n = int(store.executionsCount())
    last = store.executionsList(n - 1, 1).apply(0).executionId() if n else -1
    out = fn()
    bus.waitUntilEmpty()
    execs = store.executionsList()
    found = []
    for i in reversed(range(execs.size())):
        ex = execs.apply(i)
        if ex.executionId() <= last:
            break
        for block in ex.physicalPlanDescription().split("\n\n"):
            lines = block.strip().splitlines()
            if lines and re.fullmatch(r"\(\d+\) Exchange", lines[0]):
                found.append(" ".join(lines[1:]))
    return out, found


def _shingle_row_shuffles(exchanges):
    """Exchanges that move (doc, shingle) rows keyed on the shingle — the
    layout a shuffle join on the shingle needs. Partial aggregates keyed on
    the shingle (the hot list's df counts) carry no doc column."""
    return [
        e for e in exchanges
        if "hashpartitioning(shingle#" in e and "doc#" in e.split("Arguments")[0]
    ]


def _probe_split(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % _MOD == 0
    return docs, docs.filter(is_batch), docs.filter(~is_batch)


def test_probe_pairs_broadcast_moves_no_shingle_rows(spark, sf_dir):
    """A probe that fits a broadcast is joined into the index scan: no
    exchange of the call moves (doc, shingle) rows on the shingle — only
    map-side-combined aggregates cross the network. Every intermediate is
    a localCheckpoint, so the call leaves no CacheManager entry."""
    _, batch, base = _probe_split(spark, sf_dir)
    spark.catalog.clearCache()
    pairs, exchanges = _shuffles_during(
        spark,
        lambda: ngram_jaccard_probe_pairs(
            batch, base, n=3, threshold=_JACC_TAU,
            max_shingle_freq=_HOT_CAP, within_probe=True,
        ),
    )
    assert exchanges, "the status store must show the call's plans"
    assert _shingle_row_shuffles(exchanges) == [], exchanges
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert pairs.count() > 0


def test_probe_pairs_shuffle_fallback_equal(spark, sf_dir, monkeypatch):
    """Past the broadcast threshold (forced to 0 here, with the planner's
    own size-based broadcast off) the join is a shuffle join on the
    shingle; the pairs are identical to the broadcast path's and to the
    capped self-join's cross pairs."""
    from bigdatafraude_ml_graphx_spark.graph import fixpoint

    docs, batch, base = _probe_split(spark, sf_dir)

    def call():
        return sorted(
            map(
                tuple,
                ngram_jaccard_probe_pairs(
                    batch, base, n=3, threshold=_JACC_TAU,
                    max_shingle_freq=_HOT_CAP,
                ).collect(),
            )
        )

    broadcast = call()
    monkeypatch.setattr(fixpoint, "_BROADCAST_ROWS", 0)
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        shuffled, exchanges = _shuffles_during(spark, call)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert _shingle_row_shuffles(exchanges), exchanges
    assert shuffled == broadcast

    want = []
    for r in ngram_jaccard_pairs(
        docs, n=3, threshold=_JACC_TAU, max_shingle_freq=_HOT_CAP
    ).collect():
        a_in = r["doc_a"] % _MOD == 0
        if a_in != (r["doc_b"] % _MOD == 0):
            a, b = (r["doc_a"], r["doc_b"]) if a_in else (r["doc_b"], r["doc_a"])
            want.append((a, b, r["jaccard"]))
    assert want and broadcast == sorted(want)


def _decisions(spark, batch_docs, base_docs, cap):
    """q263's decision logic over an explicit (batch, base) split — the
    exact+capped-Jaccard probe a daily loop runs per ingested partition."""
    from pyspark.sql import Window

    from bigdatafraude_ml_graphx_spark.functions.text import fingerprint

    bfp = batch_docs.select("doc_id", fingerprint("text").alias("_f"))
    ofp = base_docs.select(
        F.col("doc_id").alias("_base"), fingerprint("text").alias("_f")
    )
    ex = bfp.join(ofp, "_f").groupBy("doc_id").agg(
        F.min("_base").alias("exact_match")
    )
    np0 = ngram_jaccard_probe_pairs(
        batch_docs, base_docs, n=3, threshold=_JACC_TAU, max_shingle_freq=cap
    )
    w = Window.partitionBy("doc_probe").orderBy(
        F.col("jaccard").desc(), F.col("doc_index").asc()
    )
    np = (
        np0.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("doc_probe").alias("bdoc"),
            F.col("doc_index").alias("base_doc"),
            "jaccard",
        )
    )
    out = (
        batch_docs.select("doc_id")
        .join(ex, "doc_id", "left")
        .join(np, F.col("doc_id") == np["bdoc"], "left")
    )
    has_exact = F.col("exact_match").isNotNull()
    return out.select(
        F.col("doc_id").alias("doc"),
        F.when(has_exact, F.lit("drop_exact_dup"))
        .when(F.col("base_doc").isNotNull(), F.lit("drop_near_dup"))
        .otherwise(F.lit("keep"))
        .alias("action"),
        F.when(has_exact, F.col("exact_match"))
        .otherwise(F.col("base_doc"))
        .alias("match_doc"),
        F.when(has_exact, F.lit(None).cast("double"))
        .otherwise(F.col("jaccard"))
        .alias("best_jaccard"),
    )


def test_q263_multi_batch_loop_lossless(spark, sf_dir):
    """Sequential daily probes over 3 partitions of the batch produce the
    SAME decision table as the one-shot q263 run. Each day probes the same
    standing base with the day's own df statistic (hot list over
    base ∪ day-batch, cap at the same 2% fraction of that universe) —
    exactly what a daily loop computes after appending its batch."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % _MOD != 0)
    n_base = base.count()

    got = {}
    for k in range(3):
        sub = docs.filter(
            (F.col("doc_id") % _MOD == 0)
            & (F.col("doc_id") % (3 * _MOD) == k * _MOD)
        )
        cap_k = _DF_FRAC * (n_base + sub.count())
        for r in _decisions(spark, sub, base, cap_k).collect():
            got[r["doc"]] = (r["action"], r["match_doc"], r["best_jaccard"])

    want = {
        r["doc"]: (r["action"], r["match_doc"], r["best_jaccard"])
        for r in q.QUERIES["q263_incremental_dedup_decisions"](
            spark, sf_dir
        ).collect()
    }
    assert want and set(want.values()) != {("keep", None, None)}
    assert got == want


def test_cluster_labels_return_pairs(spark, sf_dir):
    """return_pairs exposes the construction's own pair frame: labels are
    identical to the labels-only call, and the pairs equal
    ngram_jaccard_pairs under the same config (ADVICE r12 #2)."""
    from bigdatafraude_ml_graphx_spark.dedup.clusters import cluster_labels

    docs = load_table(spark, sf_dir, "documents")
    cap = _DF_FRAC * docs.count()
    labels, pairs = cluster_labels(
        docs, n=3, max_shingle_freq=cap, return_pairs=True
    )
    labels_only = cluster_labels(docs, n=3, max_shingle_freq=cap)
    assert sorted(map(tuple, labels.collect())) == sorted(
        map(tuple, labels_only.collect())
    )
    want = ngram_jaccard_pairs(
        docs, n=3, threshold=_JACC_TAU, max_shingle_freq=cap
    )
    assert sorted(map(tuple, pairs.collect())) == sorted(
        map(tuple, want.collect())
    )
    # the endpoints of every pair share a cluster label — the edges really
    # are the labeling's own graph
    lab = {r["doc"]: r["cluster"] for r in labels.collect()}
    for r in pairs.collect():
        assert lab[r["doc_a"]] == lab[r["doc_b"]]


def test_threshold_single_source_of_truth():
    """The operator default and the query-layer certified constant are the
    same object (ADVICE r12 #1)."""
    import inspect

    from bigdatafraude_ml_graphx_spark.dedup.clusters import (
        JACC_TAU,
        cluster_labels,
    )

    assert _JACC_TAU is JACC_TAU
    sig = inspect.signature(cluster_labels)
    assert sig.parameters["threshold"].default == JACC_TAU


def test_q264_reads_back_standing_table_and_matches_q255(spark, sf_dir):
    """The standing-table path must not change the answer (same oracle as
    q255), and the per-cluster aggregation over the READ-BACK bucketed
    table must plan with zero Exchange — the amortized derive the
    x_cluster_labels_standing_* bench rows measure."""
    from bigdatafraude_ml_graphx_spark.plans import formatted_plan
    from bigdatafraude_ml_graphx_spark.queries_r13 import (
        _labels_report,
        q264_standing_labels_report,
    )

    name = None
    try:
        got = sorted(
            map(
                tuple,
                q.QUERIES["q264_standing_labels_report"](
                    spark, sf_dir
                ).collect(),
            )
        )
        name = q264_standing_labels_report.last_table
        want = sorted(
            map(
                tuple,
                q.QUERIES["q255_dedup_release_report"](spark, sf_dir).collect(),
            )
        )
        assert got == want
        # derive-only plan off the read-back: the corpus-scale stage (the
        # per-cluster count) must not exchange; the only exchanges allowed
        # are on the ≤|clusters| histogram regroup.
        tbl = spark.table(name)
        csize = tbl.groupBy("cluster").count()
        assert "Exchange" not in formatted_plan(csize), formatted_plan(csize)
        full = formatted_plan(_labels_report(tbl))
        first_agg = full.index("HashAggregate")
        assert "Exchange" not in full[:first_agg], full
    finally:
        if name:
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_q264_keeps_one_labels_table_per_session(spark, sf_dir):
    """Each q264 build drops the previous call's uuid-named table, so two
    calls leave one ``q264_labels_*`` table in the catalog, not two."""
    from bigdatafraude_ml_graphx_spark.queries_r13 import (
        q264_standing_labels_report,
    )

    def q264_tables():
        return {
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("q264_labels_")
        }

    before = q264_tables()
    names = []
    try:
        for _ in range(2):
            q.QUERIES["q264_standing_labels_report"](spark, sf_dir).collect()
            names.append(q264_standing_labels_report.last_table)
        assert q264_tables() - before == {names[-1]}
    finally:
        for name in names:
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_q265_equals_full_relabel_on_fixture(spark, sf_dir):
    """Incremental maintenance == full relabel over base+batch whenever no
    cap flip alters connectivity — pinned on the fixture (the docstring's
    documented equivalence condition)."""
    from bigdatafraude_ml_graphx_spark.dedup.clusters import cluster_labels

    docs = load_table(spark, sf_dir, "documents")
    got = sorted(
        map(
            tuple,
            q.QUERIES["q265_incremental_cluster_maintenance"](
                spark, sf_dir
            ).collect(),
        )
    )
    full = cluster_labels(
        docs, n=3, max_shingle_freq=_DF_FRAC * docs.count()
    )
    assert got == sorted(map(tuple, full.collect()))
    # and the merge is real on this fixture: some batch doc joins a base
    # cluster (otherwise the test pins nothing about edge merging)
    lab = dict(got)
    merged = [
        d for d, c in lab.items() if d % _MOD == 0 and c % _MOD != 0
    ]
    assert merged, "fixture must merge at least one batch doc into a base cluster"


def test_q266_consistent_with_q263(spark, sf_dir):
    """The per-source report's totals must reproduce q263's decision
    counts exactly — same lineage, aggregated."""
    from collections import Counter

    dec = q.QUERIES["q263_incremental_dedup_decisions"](spark, sf_dir).collect()
    rep = q.QUERIES["q266_ingest_report_by_source"](spark, sf_dir).collect()
    by_action = Counter()
    for r in rep:
        by_action[r["action"]] += r["n_docs"]
    assert by_action == Counter(r["action"] for r in dec)
    assert sum(r["n_docs"] for r in rep) == len(dec)


def test_update_cluster_labels_daily_loop_composes(spark, sf_dir):
    """Applying the label-maintenance merge day after day (3 sequential
    batch partitions, each merged into the previous day's labeling over
    the grown corpus) lands on the same labeling as the one-shot merge of
    the whole batch — the composition a production daily loop relies on."""
    from bigdatafraude_ml_graphx_spark.dedup.clusters import (
        update_cluster_labels,
    )
    from bigdatafraude_ml_graphx_spark.queries_r13 import (
        _maintained_labels,
        _standing_base_labels,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % _MOD != 0)
    labels = _standing_base_labels(spark, sf_dir)
    for k in range(3):
        day = docs.filter(
            (F.col("doc_id") % _MOD == 0)
            & (F.col("doc_id") % (3 * _MOD) == k * _MOD)
        )
        cap = _DF_FRAC * (corpus.count() + day.count())
        labels = update_cluster_labels(
            labels, corpus, day, max_shingle_freq=cap
        ).localCheckpoint(eager=True)
        corpus = corpus.unionByName(day)
    got = sorted(map(tuple, labels.collect()))
    want = sorted(map(tuple, _maintained_labels(spark, sf_dir).collect()))
    assert got == want


def test_q267_delta_rehydrates_new_manifest(spark, sf_dir):
    """The delta's CONTRACT: applying it to the standing manifest must
    reproduce the post-ingest manifest exactly — (old rows not superseded)
    ∪ (delta rows) == new manifest."""
    from bigdatafraude_ml_graphx_spark.queries_r13 import (
        _maintained_labels,
        _manifest,
        _standing_base_labels,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % _MOD != 0)
    new_m = {
        r["doc"]: (r["cluster"], r["split"], r["action"], r["n_toks"])
        for r in _manifest(docs, _maintained_labels(spark, sf_dir)).collect()
    }
    old_m = {
        r["doc"]: (r["cluster"], r["split"], r["action"], r["n_toks"])
        for r in _manifest(
            base, _standing_base_labels(spark, sf_dir)
        ).collect()
    }
    delta = q.QUERIES["q267_manifest_delta"](spark, sf_dir).collect()
    assert delta, "fixture must produce a non-empty change set"
    assert any(r["change"] == "added" for r in delta)
    rehydrated = dict(old_m)
    for r in delta:
        if r["change"] == "updated":
            assert r["doc"] in old_m
        else:
            assert r["doc"] not in old_m
        rehydrated[r["doc"]] = (
            r["cluster"], r["split"], r["action"], r["n_toks"],
        )
    assert rehydrated == new_m


def test_q268_covers_every_base_doc(spark, sf_dir):
    """The churn matrix partitions the base corpus: its doc counts sum to
    |base|, and each transition matches a direct labeling comparison."""
    from collections import Counter

    from bigdatafraude_ml_graphx_spark.queries_r12 import _split_col
    from bigdatafraude_ml_graphx_spark.queries_r13 import (
        _maintained_labels,
        _standing_base_labels,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_base = docs.filter(F.col("doc_id") % _MOD != 0).count()
    rows = q.QUERIES["q268_split_churn"](spark, sf_dir).collect()
    assert sum(r["n_docs"] for r in rows) == n_base
    old = {
        r["doc"]: r["s"]
        for r in _standing_base_labels(spark, sf_dir)
        .select("doc", _split_col("cluster").alias("s"))
        .collect()
    }
    new = {
        r["doc"]: r["s"]
        for r in _maintained_labels(spark, sf_dir)
        .select("doc", _split_col("cluster").alias("s"))
        .collect()
    }
    want = Counter((old[d], new[d]) for d in old)
    got = Counter(
        {(r["from_split"], r["to_split"]): r["n_docs"] for r in rows}
    )
    assert got == want


def test_scd2_apply_batch_equals_full_rebuild_any_split(spark):
    """scd2_apply_batch is row-identical to the full-history rebuild for
    ARBITRARY batches — including late-arriving changes that land in the
    middle of a key's timeline and brand-new keys."""
    from bigdatafraude_ml_graphx_spark.operators.cdc import (
        scd2_apply_batch,
        scd2_intervals,
    )

    rows = []
    # key 1: interleaved history; key 2: single row; key 3: batch-only key;
    # ties on ts broken by id.
    for key, rid, ts, attr in [
        (1, 10, 100, "a"), (1, 11, 200, "b"), (1, 12, 150, "c"),
        (1, 13, 150, "d"), (2, 20, 50, "x"), (3, 30, 75, "y"),
        (1, 14, 300, "e"), (2, 21, 60, "z"),
    ]:
        rows.append((key, rid, attr, ts))
    ev = spark.createDataFrame(
        rows, "k long, eid long, attr string, ts long"
    )
    full = sorted(
        map(
            tuple,
            scd2_intervals(ev, "k", "attr", "ts", "eid").collect(),
        )
    )
    for pred in (
        F.col("eid") % 2 == 0,          # scattered, late-arriving
        F.col("eid").isin(12, 13, 30),  # mid-timeline ties + whole new key
        F.lit(False),                   # empty batch
        F.lit(True),                    # everything is the batch
    ):
        dim = scd2_intervals(ev.filter(~pred), "k", "attr", "ts", "eid")
        got = sorted(
            map(
                tuple,
                scd2_apply_batch(
                    dim, ev.filter(pred), "k", "attr", "ts", "eid"
                ).collect(),
            )
        )
        assert got == full, pred


def test_q270_stream_equals_batch_merge(spark, sf_dir):
    """The streaming maintenance loop lands on exactly q269's dimension —
    stream/batch equivalence for the SCD2 merge (the q236 discipline
    applied to the warehouse family)."""
    got = sorted(
        map(
            tuple,
            q.QUERIES["q270_stream_scd2_maintenance"](spark, sf_dir).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            q.QUERIES["q269_scd2_incremental_merge"](spark, sf_dir).collect(),
        )
    )
    assert got and got == want


def test_q271_ingest_assignment_matches_grown_rebuild(spark, sf_dir):
    """Routing the batch into the standing quantizer gives each batch
    vector the SAME cell a full rebuild over base+batch would (same
    centroids — base ids win the md5 sample on this fixture's id range is
    NOT guaranteed, so assert via assign_to_index against the base-trained
    centroids directly), and the report's totals cover the corpus."""
    from bigdatafraude_ml_graphx_spark.catalog import load_table as lt
    from bigdatafraude_ml_graphx_spark.similarity.ivf import (
        assign_to_index,
        build_ivf_index,
    )

    emb = lt(spark, sf_dir, "embeddings")
    rows = q.QUERIES["q271_ivf_ingest_stats"](spark, sf_dir).collect()
    assert len(rows) == 16
    n = emb.count()
    assert sum(r["n_base"] + r["n_new"] for r in rows) == n
    # per-vector cross-check: the batch assignment really is the standing
    # quantizer's nearest-cell answer
    base = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    centroids, _ = build_ivf_index(base, n_cells=16)
    got = {
        r["id"]: r["cell"]
        for r in assign_to_index(batch, centroids).collect()
    }
    from collections import Counter

    per_cell = Counter(got.values())
    for r in rows:
        assert per_cell.get(r["cell"], 0) == r["n_new"]


def _empty_sf_dir(spark, sf_dir, tmp_path):
    """A schema-correct, zero-row copy of the testdata tables q259/q261
    touch."""
    d = str(tmp_path / "sf_empty")
    os.makedirs(d)
    for name in ("documents", "embeddings"):
        load_table(spark, sf_dir, name).limit(0).write.parquet(
            os.path.join(d, f"{name}.parquet")
        )
    return d


def test_q259_empty_corpus(spark, sf_dir, tmp_path):
    """MAX(doc_id) over zero rows is NULL — the guard yields an empty
    curve instead of TypeError (ADVICE r12 #4)."""
    d = _empty_sf_dir(spark, sf_dir, tmp_path)
    out = q.QUERIES["q259_shingle_novelty_curve"](spark, d)
    assert out.count() == 0


def test_q261_empty_corpus_cross_frac_null(spark, sf_dir, tmp_path):
    """On an empty pair set cross_frac is NULL in BOTH engines — never NaN
    (ADVICE r12 #3)."""
    import duckdb

    d = _empty_sf_dir(spark, sf_dir, tmp_path)
    row = q.QUERIES["q261_semantic_split_leakage"](spark, d).collect()[0]
    assert row["n_pairs"] == 0
    assert row["cross_frac"] is None
    assert row["max_cross_cosine"] is None

    con = duckdb.connect()
    for name in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{d}/{name}.parquet/*.parquet')"
        )
    orow = con.execute(q.ORACLE["q261_semantic_split_leakage"]).fetchone()
    cols = [c[0] for c in con.description]
    od = dict(zip(cols, orow))
    assert od["n_pairs"] == 0
    assert od["cross_frac"] is None
    assert od["max_cross_cosine"] is None

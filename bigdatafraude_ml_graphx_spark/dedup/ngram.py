"""Word n-gram shingling and n-gram Jaccard near-duplicate detection.

The scale path is an inverted index: explode distinct shingles, self-join on
the shingle (equi join — AQE-skew-splittable), count shared shingles per pair,
then Jaccard = shared / (|A| + |B| − shared). Only pairs that share at least
one shingle are ever materialized — never the O(N²) cross product. Hot
shingles (stop-phrases) are the skew risk; ``max_shingle_freq`` drops them,
the standard trick (a shingle shared by thousands of docs carries no
near-dup signal but quadratic join cost).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def ngrams_from_tokens(toks: Column, n: int) -> Column:
    """N-gram array from an ALREADY-MATERIALIZED token array column.

    Docs shorter than ``n`` tokens yield an empty array (guarded explicitly:
    Spark's ``sequence(0, negative)`` would generate a DESCENDING sequence,
    not an empty one).
    """
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Array of space-joined word n-grams over the canonical tokenization.

    NOTE: this inlines the tokenize expression into every lambda reference —
    fine for one-off column use, but hot paths must stage the token array in
    its own projection first (see :func:`_doc_shingles`): with the expression
    inlined, Catalyst re-evaluates the regex tokenization per produced
    n-gram, turning an O(tokens) pass into O(tokens²) regex work (observed
    12 s → 1.4 s at sf0.1 for the shingle build).
    """
    return ngrams_from_tokens(tokens(col), n)


def _doc_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int, distinct: bool = True
) -> DataFrame:
    """(doc, shingle) stream. ``distinct=True`` gives SET semantics (required
    by Jaccard sizes and contamination overlap counts). Pass
    ``distinct=False`` for consumers that need MULTISET semantics (tf counts)
    or are invariant under duplicates and cheaper without the dedup pass.

    Set semantics are computed MAP-SIDE via ``array_distinct`` on the n-gram
    array before the explode (optimization r13, guide §2.4): a document's
    duplicate shingles dedup inside the row, so the global ``.distinct()``
    Exchange of the full (doc, shingle) stream — one corpus-wide shuffle of
    shingle STRINGS — disappears while the output multiset is identical.
    PRECONDITION (holds for every caller: ``id_col`` is a primary key of
    ``df``): rows have unique ids — with duplicate id rows the old global
    distinct would also have deduped ACROSS rows. Equivalence to the
    post-explode distinct is pinned in tests/test_dedup.py."""
    if distinct:
        # Scan-parallelism floor (r13, guide §2.5 "input skew"): the bench
        # corpora are ONE parquet file → a 1-split scan, so the regex
        # tokenize pipeline ran as a single ~3 s task at the head of every
        # labeling/pair query. Spread the (tiny) document rows across the
        # cluster by id hash before tokenizing — deterministic, and gated
        # on the scan actually being narrower than the cluster, so at
        # 100 TB (thousands of splits) no corpus-text shuffle ever fires.
        sc = df.sparkSession.sparkContext
        if df.rdd.getNumPartitions() < sc.defaultParallelism:
            df = df.repartition(sc.defaultParallelism, F.col(id_col))
    sh = df.select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("_toks")
    )
    if distinct:
        return sh.select(
            "doc",
            F.explode(
                F.array_distinct(ngrams_from_tokens(F.col("_toks"), n))
            ).alias("shingle"),
        )
    return sh.select(
        "doc", F.explode(ngrams_from_tokens(F.col("_toks"), n)).alias("shingle")
    )


def candidate_pair_shingle_stats(
    sh: DataFrame, cand_pairs: DataFrame, max_df: int = 100_000
) -> DataFrame:
    """Exact shared-shingle statistics for CANDIDATE pairs only — the
    bounded verification join behind the q151 MinHash error contract
    (VERDICT r5 item 1). Returns ``(doc_a, doc_b, sh_n, na, nb)``:
    ``sh_n`` = |A∩B| and ``na``/``nb`` = per-doc set sizes, all over the
    DF-capped shingle universe.

    Bounded two ways:

    1. ``sh`` is semi-joined to the distinct candidate docs BEFORE the
       shingle self-join — exact, because pairs outside ``cand_pairs``
       are discarded by the final left-outer anyway; the self-join input
       shrinks from the corpus to the candidate docs.
    2. shingles above ``max_df`` document frequency (counted over the
       FULL corpus ``sh``, pre-restriction) are dropped from both the
       shared counts and the sizes (``drop_hot_buckets`` — Jaccard over
       the capped universe), so a boilerplate shingle shared by B docs
       can never emit B·(B−1)/2 join rows.

    Candidate pairs sharing no shingle report ``sh_n = 0``; a candidate
    doc with NO surviving shingles (all above the cap, or fewer tokens
    than the shingle width) drops out of the sizes and hence the result —
    mirrored by the oracle's inner sizes join.
    """
    from ..operators.skew import drop_hot_buckets

    cand = cand_pairs.select("doc_a", "doc_b")
    docs = (
        cand.select(F.col("doc_a").alias("doc"))
        .unionByName(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    shv = (
        drop_hot_buckets(sh, ["shingle"], max_df)
        .join(docs, "doc", "left_semi")
        .localCheckpoint(eager=True)  # read 3×: sizes + both join sides
    )
    sizes = shv.groupBy("doc").agg(F.count("*").alias("n_sh"))
    shared = (
        shv.alias("x")
        .join(
            shv.alias("y"),
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .groupBy(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        .agg(F.count("*").alias("sh_n"))
    )
    return (
        cand.join(shared, ["doc_a", "doc_b"], "left_outer")
        .join(
            sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.coalesce(F.col("sh_n"), F.lit(0)).cast("long").alias("sh_n"),
            "na",
            "nb",
        )
    )


def _keyed_capped_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_shingle_freq: int | float | None,
) -> DataFrame:
    """The staged, df-capped (doc, shingle) frame the pair finders self-join:
    tokenize once, key-partition on ``shingle``, hot-cap, persist.

    Shape (r13 optimization, guide §2.4 — measured on q250/q233):

    * Set semantics come from ``array_distinct`` inside
      :func:`_doc_shingles` (map-side), so the old global ``.distinct()``
      Exchange — a corpus-wide shuffle of shingle STRINGS keyed on
      (doc, shingle), useless to every downstream consumer — is gone.
    * In its place, ONE ``repartition(shingle)`` Exchange does double duty:
      it is the lineage's sharing point (its map side — the whole
      tokenize→ngram→explode pipeline — runs once per query no matter how
      many consumer stages race the persist cache; the old plan re-ran the
      regex pipeline per join side) and it establishes the hash
      partitioning every consumer needs: the df/hot aggregation, the
      self-join (both sides), and the per-shingle grouping all fuse on it
      with NO further Exchange. Partition count comes from
      ``spark.sql.shuffle.partitions`` — the session-owned scale knob
      (AQE cannot coalesce under persist, which is exactly what keeps the
      pair-generating join ``parts``-way parallel on an idle 32-core host).
    * The hot list (df > cap) aggregates straight off that Exchange
      (fused, no second shuffle) into a tiny eager checkpoint whose
      measured size makes the cap an AQE broadcast anti join — which
      preserves the hash partitioning.

    CALLER CONTRACT: ``unpersist()`` the returned frame after eagerly
    materializing the derived pairs (the lsh_candidate_pairs cache-hygiene
    rule).
    """
    sh = _doc_shingles(df, text_col, id_col, n).repartition(
        F.col("shingle")
    )
    if max_shingle_freq is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_bn"))
            .filter(F.col("_bn") > max_shingle_freq)
            .select("shingle")
            .localCheckpoint(eager=True)
        )
        sh = sh.join(hot, ["shingle"], "left_anti")
    return sh.persist()


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | float | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs ``(doc_a, doc_b, jaccard)`` with
    ``doc_a < doc_b`` and n-gram Jaccard ≥ ``threshold``.

    EAGER + NON-RECOVERABLE: the result is ``localCheckpoint``-ed at call
    time. The keyed shingle frame is ``persist()``-ed for the self-join and
    unpersisted before returning, so no CacheManager entry outlives the
    call (cache-hygiene contract — see ``lsh_candidate_pairs``); executor
    loss invalidates the returned frame, and callers composing larger
    pipelines should treat this call as a materialization barrier.
    """
    shingles = _keyed_capped_shingles(
        df, text_col, id_col, n, max_shingle_freq
    )
    sizes = shingles.groupBy("doc").agg(F.count("*").alias("n_shingles"))

    # merge hint: both sides are the SAME persisted frame hash-partitioned
    # on the join key, so sort-merge runs with ZERO Exchange and no driver
    # involvement. Unhinted, the planner broadcast the ~8 MB (at sf0.1)
    # InMemoryRelation — a per-run driver collect+broadcast of a
    # CORPUS-proportional frame (measured 5.5 s first-run spike), which is
    # exactly the wrong side to broadcast at 100 TB (guide §3.1).
    a = shingles.alias("a")
    b = shingles.hint("merge").alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_shingles").alias("nb"))
    # Eagerly materialize the (small) pair result so the keyed shingle frame
    # can be unpersisted before returning — a leaked persist() lives in the
    # CacheManager forever and pollutes later jobs (see lsh_candidate_pairs).
    pairs = (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .localCheckpoint(eager=True)
    )
    shingles.unpersist()
    return pairs


def ngram_jaccard_probe_pairs(
    probe: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | float | None = None,
    within_probe: bool = False,
) -> DataFrame:
    """Incremental-ingest n-gram Jaccard: pairs ``(doc_probe, doc_index,
    jaccard)`` between a PROBE batch and a standing INDEX corpus — the
    daily-crawl shape where a new batch is deduplicated against the corpus
    WITHOUT re-pairing the corpus with itself (the ``lsh_probe_pairs`` /
    ``srp_probe_pairs`` discipline, now at exact-Jaccard granularity).

    Scale shape: the shingle join is probe-shingles × matching posting
    lists — work ∝ batch size × collision rate, never index × index. The
    self-join formulation (``ngram_jaccard_pairs`` over base+batch, then
    filtering to cross pairs) computes ~(|index|/|corpus|)² of its join
    work on index×index pairs that the filter discards, because the
    cross-pair predicate references both sides and cannot push below the
    join; at a 1/17th daily batch that is ~88% wasted work, growing with
    the CORPUS instead of the batch (VERDICT r12 What's-wrong #1).

    Cap semantics are IDENTICAL to the capped self-join over
    probe ∪ index: the hot-shingle list is computed over the combined
    (doc, shingle) universe — document frequency counts both sides, so a
    shingle's hotness (and both Jaccard denominators) match the certified
    ``ngram_jaccard_pairs(probe ∪ index, max_shingle_freq)`` answer
    exactly; cross-subset equivalence is pinned in
    ``tests/test_round13.py``. At 100 TB the index-side artifacts — the
    shingle posting lists, per-doc set sizes over the capped universe, and
    the df statistic the hot list derives from — are standing tables
    maintained incrementally at ingest (the q159 IVM shape); recomputing
    them here from the index corpus stands in for that read, and is LINEAR
    in the corpus (one aggregate scan), not quadratic like the self-join.

    Probe and index ids may overlap (a re-ingested batch): a doc meeting
    ITSELF across the two sides is filtered out rather than reported as a
    trivially-perfect match.

    ``within_probe=True`` additionally emits probe-probe pairs
    (``doc_probe < doc_index``, both ids from the probe side) under the
    SAME combined-universe cap — the complete "new edges of today's
    ingest" set (batch↔base ∪ batch↔batch) that incremental cluster-label
    maintenance unions into the standing dup graph (q265). The extra
    self-join runs on the BATCH-sized shingle frame only.

    Plan: the index side never crosses an exchange keyed on ``shingle``.
    Its (doc, shingle) stream is materialized once, map-side, by one eager
    ``localCheckpoint``; the hot-list aggregate, the per-doc sizes and the
    pair join all read that checkpoint. The capped probe frame is
    broadcast into the index scan (:func:`graph.fixpoint._maybe_broadcast`
    on the probe's measured row count, which bounds the capped frame), so
    the only index-side shuffles are map-side-combined aggregates (hot
    list, sizes, shared counts). Past the broadcast threshold the hint
    does not fire and AQE plans the shuffle join. The hot list is
    broadcast into both anti joins the same way.

    Eager + non-recoverable: every intermediate is a ``localCheckpoint``
    and the result is materialized before returning, so the call leaves
    no CacheManager entry; executor loss invalidates the returned frame.
    """
    from ..graph.fixpoint import _maybe_broadcast

    sh_i = _doc_shingles(index, text_col, id_col, n).localCheckpoint(eager=True)
    # Saved by the count, which also bounds the capped probe's rows.
    sh_p = _doc_shingles(probe, text_col, id_col, n).localCheckpoint(eager=False)
    n_p = sh_p.count()
    cap_p, cap_i = sh_p, sh_i
    if max_shingle_freq is not None:
        # Hot list over the COMBINED universe (df counts probe and index
        # docs alike) — exactly the self-join's drop_hot_buckets semantics
        # over probe ∪ index. Broadcast on its measured size so the anti
        # join filters the index checkpoint in place.
        hot = (
            sh_i.unionByName(sh_p)
            .groupBy("shingle")
            .agg(F.count("*").alias("_bn"))
            .filter(F.col("_bn") > max_shingle_freq)
            .select("shingle")
            .localCheckpoint(eager=False)
        )
        n_hot = hot.count()
        # An empty list filters nothing; unhinted (_maybe_broadcast skips
        # 0 rows), its anti join would shuffle the index on the shingle.
        if n_hot:
            hot = _maybe_broadcast(hot, n_hot)
            cap_p = sh_p.join(hot, ["shingle"], "left_anti")
            cap_i = sh_i.join(hot, ["shingle"], "left_anti")
    bp = _maybe_broadcast(cap_p, n_p)
    sizes_p = cap_p.groupBy("doc").agg(F.count("*").alias("n_p"))
    sizes_i = cap_i.groupBy("doc").agg(F.count("*").alias("n_i"))
    shared = (
        cap_i.alias("i")
        .join(
            bp.alias("p"),
            (F.col("p.shingle") == F.col("i.shingle"))
            & (F.col("p.doc") != F.col("i.doc")),
        )
        .groupBy(
            F.col("p.doc").alias("doc_probe"), F.col("i.doc").alias("doc_index")
        )
        .agg(F.count("*").alias("shared"))
    )
    cross = (
        shared.join(
            sizes_p.select(F.col("doc").alias("doc_probe"), "n_p"), "doc_probe"
        )
        .join(
            sizes_i.select(F.col("doc").alias("doc_index"), "n_i"), "doc_index"
        )
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("n_p") + F.col("n_i") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_probe", "doc_index", "jaccard")
    )
    if within_probe:
        wshared = (
            cap_p.alias("x")
            .join(
                bp.alias("y"),
                (F.col("x.shingle") == F.col("y.shingle"))
                & (F.col("x.doc") < F.col("y.doc")),
            )
            .groupBy(
                F.col("x.doc").alias("doc_probe"),
                F.col("y.doc").alias("doc_index"),
            )
            .agg(F.count("*").alias("shared"))
        )
        within = (
            wshared.join(
                sizes_p.select(F.col("doc").alias("doc_probe"), "n_p"),
                "doc_probe",
            )
            .join(
                sizes_p.select(
                    F.col("doc").alias("doc_index"),
                    F.col("n_p").alias("n_i"),
                ),
                "doc_index",
            )
            .withColumn(
                "jaccard",
                F.col("shared").cast("double")
                / (F.col("n_p") + F.col("n_i") - F.col("shared")).cast(
                    "double"
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("doc_probe", "doc_index", "jaccard")
        )
        cross = cross.unionByName(within)
    return cross.localCheckpoint(eager=True)


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | float | None = None,
) -> DataFrame:
    """Asymmetric near-duplicate pairs by n-gram CONTAINMENT:
    ``c_a_in_b = |A∩B| / |A|`` and ``c_b_in_a = |A∩B| / |B|``, keeping
    pairs where either direction reaches ``threshold``. Catches the
    subset-duplicates symmetric Jaccard misses — a short document quoted
    or embedded whole inside a longer one has near-1 containment but low
    Jaccard (the union is dominated by the host document). The standard
    LLM-corpus use: drop documents mostly contained in another (quote
    farms, boilerplate-wrapped reposts).

    Same inverted-shingle-index join shape as ``ngram_jaccard_pairs``
    (work ∝ shared shingles, never O(N²)); same eager + non-recoverable
    cache-hygiene contract (see ``lsh_candidate_pairs``).

    ``max_shingle_freq`` is the hot-content valve (same semantics as
    ``ngram_jaccard_pairs``): shingles in more than that many documents
    are dropped BEFORE the self-join and the containment denominators are
    the per-doc sizes over the CAPPED universe. A boilerplate shingle
    shared by B docs otherwise emits B·(B−1)/2 join rows — and because a
    shared boilerplate block pushes a short doc's containment toward 1,
    the uncapped ANSWER itself goes quadratic on boilerplate-heavy
    corpora; capping is a semantic choice (boilerplate carries no
    subset-duplicate signal), not just a plan optimization."""
    # Staged tokenize-once + keyed-persist frame — see _keyed_capped_shingles
    # (the q250 finding: racy lazy persist re-ran the tokenize pipeline ~3×).
    shingles = _keyed_capped_shingles(
        df, text_col, id_col, n, max_shingle_freq
    )
    sizes = shingles.groupBy("doc").agg(F.count("*").alias("n_shingles"))

    # merge hint — see ngram_jaccard_pairs: zero-Exchange co-partitioned
    # SMJ instead of a corpus-side broadcast.
    a = shingles.alias("a")
    b = shingles.hint("merge").alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_shingles").alias("nb"))
    pairs = (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "c_a_in_b", F.col("shared").cast("double") / F.col("na").cast("double")
        )
        .withColumn(
            "c_b_in_a", F.col("shared").cast("double") / F.col("nb").cast("double")
        )
        .filter(
            (F.col("c_a_in_b") >= threshold) | (F.col("c_b_in_a") >= threshold)
        )
        .select("doc_a", "doc_b", "c_a_in_b", "c_b_in_a")
        .localCheckpoint(eager=True)
    )
    shingles.unpersist()
    return pairs

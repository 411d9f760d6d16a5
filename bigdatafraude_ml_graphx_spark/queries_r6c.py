"""Round-6 batch 3: DAG longest-path leveling (topological layering),
exponentially weighted moving averages, and Markov transition matrices.

Determinism: the EWMA folds run left-to-right over frame-ordered arrays
with Python-inlined literal weights (both engines execute the identical
multiply-add sequence); everything else is integer counting or
single-division ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import load_table
from .queries import query

# ---------------------------------------------------------------------------
# q175 — DAG longest-path levels (topological layering)
# ---------------------------------------------------------------------------

_LEVEL_MAX_ROUNDS = 64  # sf0.1 depth measured 31; budget 2x


@query(
    "q175_dag_levels",
    oracle="""
    WITH RECURSIVE b AS (
      SELECT DISTINCT user_id AS entity, date_trunc('hour', ts) AS bucket,
             event_type
      FROM events),
    e0 AS (
      SELECT a.entity AS src, b2.entity AS dst
      FROM b a JOIN b b2
        ON a.bucket = b2.bucket AND a.event_type = b2.event_type
       AND a.entity < b2.entity
      GROUP BY 1, 2
      HAVING COUNT(*) >= 6),
    nodes AS (SELECT src AS id FROM e0 UNION SELECT dst FROM e0),
    paths(v, d) AS (
      SELECT id, 0 FROM nodes
      UNION ALL
      SELECT e.dst, p.d + 1 FROM paths p JOIN e0 e ON e.src = p.v)
    SELECT v AS id, CAST(MAX(d) AS INT) AS level
    FROM paths GROUP BY v
    """,
)
def q175_dag_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topological layering of the strong-tie DAG (the src < dst canonical
    orientation): level(v) = longest path ending at v — the scheduling
    depth / dependency-wave number (parallel build systems, feature-DAG
    execution order). Iterative max-relaxation with the repo's fixpoint
    contract: per-round localCheckpoint, scalar convergence fingerprint,
    loud raise past the round budget (rounds = longest path, bounded by
    the DAG depth). The oracle enumerates all paths with a recursive CTE
    and takes MAX(d) — exponential as a plan, exact as a spec; the
    engine's relaxation is the plan that survives 100×."""
    from .graph import cooccurrence_edges
    from .graph.fixpoint import _iteration_edges, _maybe_broadcast

    ev = load_table(spark, sf_dir, "events")
    # The edge list is joined every round: materialize it once, keyed on
    # the relaxation join key (_iteration_edges) — one setup shuffle, and a
    # frontier too large to broadcast joins it with no edge exchange.
    e = _iteration_edges(
        cooccurrence_edges(ev, "user_id", "ts", "hour", ("event_type",))
        .filter(F.col("weight") >= 6)
        .select("src", "dst")
        .distinct(),
        key="src",
    )
    # Lazy + count() as the materializer (r14 job fusion): one init job.
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nv = nodes.count()
    levels = nodes.withColumn("level", F.lit(0)).localCheckpoint(eager=False)
    # FRONTIER relaxation: only vertices whose level rose last round can
    # raise a successor, so each round joins the (shrinking) frontier —
    # not the full level table — against the persisted edges.
    frontier = levels
    for _ in range(_LEVEL_MAX_ROUNDS):
        fr = _maybe_broadcast(frontier, nv)
        cand = (
            e.join(fr, e.src == fr.id)
            .select(F.col("dst").alias("id"), (F.col("level") + 1).alias("lv"))
            .groupBy("id")
            .agg(F.max("lv").alias("lv"))
        )
        # LAZY checkpoint + count() as the materializing action (r14 job
        # fusion, the components.py r13 pattern): the frontier count both
        # materializes the round's checkpoint AND answers the convergence
        # test — one job per round instead of an eager-checkpoint job plus
        # an isEmpty job (count == 0 ⇔ the old isEmpty, and unlike take(1)
        # it computes every partition, so the checkpoint is complete).
        joined = levels.join(cand, "id", "left_outer").localCheckpoint(
            eager=False
        )
        frontier = joined.filter(F.col("lv") > F.col("level")).select(
            "id", F.col("lv").alias("level")
        )
        levels = joined.select(
            "id",
            F.greatest("level", F.coalesce("lv", F.lit(0))).alias("level"),
        )
        if frontier.count() == 0:
            break
    else:
        raise RuntimeError(
            f"dag_levels: no fixpoint within {_LEVEL_MAX_ROUNDS} rounds — "
            "the DAG is deeper than the budget; raise _LEVEL_MAX_ROUNDS."
        )
    e.unpersist()
    return levels.select("id", F.col("level").cast("int").alias("level"))


# ---------------------------------------------------------------------------
# q176 — EWMA over per-user value series (literal-weight fold)
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.9  # decay per step back
_EWMA_N = 10

_EWMA_W = [float(_EWMA_ALPHA**j) for j in range(_EWMA_N)]
_EWMA_W_SQL = "[" + ", ".join(repr(w) for w in _EWMA_W) + "]"


@query(
    "q176_ewma_values",
    oracle=f"""
    WITH framed AS (
      SELECT user_id, event_id, event_type,
             list_reverse(list(value) OVER w) AS vs
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {_EWMA_N - 1} PRECEDING AND CURRENT ROW)),
    folded AS (
      SELECT user_id, event_id,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, len(vs) + 1),
                     i -> vs[i] * ({_EWMA_W_SQL})[i])),
               (acc, x) -> acc + x) AS wsum_val,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, len(vs) + 1),
                     i -> ({_EWMA_W_SQL})[i])),
               (acc, x) -> acc + x) AS wsum
      FROM framed WHERE event_type = 'purchase')
    SELECT user_id, event_id,
           ROUND(wsum_val / wsum, 9) AS ewma
    FROM folded
    """,
)
def q176_ewma_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of each user's event values
    (window {10}, decay {0.9}) reported at every purchase — the trend
    feature fraud/recommendation models consume. The recursion
    EWMA_t = α·EWMA_{{t-1}} + ... is unrolled into a LITERAL-WEIGHT dot
    product over the frame-ordered trailing window: weights are inlined
    Python floats (bit-identical text in both engines) and both engines
    fold the weighted terms LEFT-TO-RIGHT over the same reversed frame
    array, so every intermediate IEEE operation matches — a deterministic
    formulation of an operator usually written as an
    order-sensitive recursive UDF. One user-partitioned window, no other
    shuffle.

    Truncation bound: the {10}-term window approximates the
    infinite-memory recursion with tail weight α^N = 0.9^10 ≈ 0.349 of
    the geometric total — i.e. the reported EWMA is the normalized
    average over the most recent N events only (wsum normalizes by the
    TRUNCATED weight mass, so the value is an exact weighted mean of
    the window, not a biased estimate of the infinite EWMA)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWMA_N - 1), 0)
    )
    framed = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.reverse(F.collect_list("value").over(w)).alias("vs"),
    ).filter(F.col("event_type") == "purchase")
    wlits = F.array(*[F.lit(x) for x in _EWMA_W])
    zero = F.lit(0.0)
    wsum_val = F.aggregate(
        F.zip_with(
            F.col("vs"),
            F.slice(wlits, 1, F.size("vs")),
            lambda x, wt: x * wt,
        ),
        zero,
        lambda acc, x: acc + x,
    )
    wsum = F.aggregate(
        F.slice(wlits, 1, F.size("vs")), zero, lambda acc, x: acc + x
    )
    return framed.select(
        "user_id", "event_id", F.round(wsum_val / wsum, 9).alias("ewma")
    )


# ---------------------------------------------------------------------------
# q177 — Markov transition matrix over event sequences
# ---------------------------------------------------------------------------


@query(
    "q177_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events)
    SELECT prev_type, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(COUNT(*)) OVER (PARTITION BY prev_type) AS DOUBLE)
             AS p_transition
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    ORDER BY prev_type, event_type
    """,
)
def q177_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user event sequences —
    P(next type | current type), the behavioral fingerprint behind
    anomaly scoring (a user whose transitions diverge from the matrix is
    the outlier) and session simulation. One user-partitioned lag window
    + one |types|² aggregate; the row-normalizing share is a window over
    the ≤|types|² result and a single division over exact counts. The
    matrix size is independent of event volume."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    counts = seq.groupBy("prev_type", "event_type").agg(
        F.count("*").alias("n")
    )
    row_total = F.sum("n").over(Window.partitionBy("prev_type"))
    return counts.select(
        "prev_type",
        "event_type",
        "n",
        (F.col("n").cast("double") / row_total.cast("double")).alias(
            "p_transition"
        ),
    ).orderBy("prev_type", "event_type")


# ---------------------------------------------------------------------------
# q178 — Misra-Gries heavy hitters with the theorem as the contract
# ---------------------------------------------------------------------------

_HH_K = 32

_TOKS_SQL = (
    "list_filter(string_split(regexp_replace(regexp_replace("
    "lower(trim(text)), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'), ' '),"
    " x -> x != '')"
)


@query(
    "q178_heavy_hitters_contract",
    oracle=f"""
    WITH tok AS (SELECT unnest({_TOKS_SQL}) AS tok FROM documents),
    n AS (SELECT COUNT(*) AS n FROM tok),
    exact AS (
      SELECT tok, COUNT(*) AS exact_count FROM tok GROUP BY tok)
    SELECT e.tok, CAST(e.exact_count AS BIGINT) AS exact_count,
           TRUE AS in_candidates, TRUE AS undercount_ok
    FROM exact e, n
    WHERE {_HH_K} * e.exact_count > n.n
    ORDER BY e.tok
    """,
)
def q178_heavy_hitters_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Misra-Gries heavy hitters with the SKETCH THEOREMS as
    the driver-checked contract (the q81/q151 discipline applied to the
    frequent-items family): per-partition MG({32}) via ``mapInPandas``
    (≤31 counters of Python state per task — the shape built-in
    aggregates cannot express), exact partial summing, one merge prune.
    For every EXACT heavy hitter (frequency > n/k — computed by both
    engines), the query asserts (a) presence in the merged candidate set
    and (b) sketched count within n/k of truth — both integer
    comparisons of theorem guarantees, TRUE in any engine, partitioning,
    or arrival order even though the sketch state itself is
    order-dependent. At 100 TB this replaces the |vocab| shuffle with a
    k·P-row reduce before an exact count of survivors only."""
    from .functions.text import tokens
    from .operators.heavyhitters import misra_gries_candidates

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(tokens("text").alias("_t")).select(
        F.explode("_t").alias("tok")
    ).localCheckpoint(eager=True)  # two consumers: sketch + exact counts
    cand = misra_gries_candidates(tok, "tok", k=_HH_K)
    n = tok.count()
    exact_hh = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("exact_count"))
        .filter(_HH_K * F.col("exact_count") > F.lit(n))
    )
    return (
        exact_hh.join(
            F.broadcast(cand.withColumnRenamed("item", "tok")),
            "tok",
            "left_outer",
        )
        .select(
            "tok",
            "exact_count",
            F.col("mg_count").isNotNull().alias("in_candidates"),
            (
                _HH_K * (F.col("exact_count") - F.coalesce("mg_count", F.lit(0)))
                <= F.lit(n)
            ).alias("undercount_ok"),
        )
        .orderBy("tok")
    )


# ---------------------------------------------------------------------------
# q179 — implicit-feedback ALS with a fit-improvement contract
# ---------------------------------------------------------------------------

_ALS_RANK = 4


@query(
    "q179_als_implicit_contract",
    oracle=f"""
    WITH r AS (
      SELECT user_id, event_type, COUNT(*) AS cnt
      FROM events GROUP BY user_id, event_type)
    SELECT CAST((SELECT COUNT(DISTINCT user_id) FROM r) AS BIGINT) AS n_users,
           CAST((SELECT COUNT(DISTINCT event_type) FROM r) AS BIGINT)
             AS n_items,
           CAST({_ALS_RANK} AS INT) AS rank,
           TRUE AS fit_improves,
           TRUE AS factors_complete
    """,
)
def q179_als_implicit_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit-feedback ALS (Hu/Koren/Volinsky 2008, MLlib's blocked
    implementation — the distributed SVD++-family factorizer GraphX users
    reach for): factorize the user × event-type interaction-count matrix
    at rank {4} and certify the CONTRACT, not the floats (factors are
    engine/BLAS-specific — the q32/q49 class, upgraded with q81-style
    booleans): (a) the rank-{4} reconstruction fits the observed counts
    strictly better than the best rank-0 model (the global-mean
    baseline — training must beat the null model it generalizes), and
    (b) every user and item received a full-width factor vector. Counts
    and both booleans are engine-independent; the oracle asserts them
    over the same interaction rollup."""
    from pyspark.ml.recommendation import ALS

    ev = load_table(spark, sf_dir, "events")
    r = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count("*").cast("float").alias("cnt"))
        .withColumn(
            "item_id",
            F.dense_rank().over(Window.orderBy("event_type")) - 1,
        )
        .localCheckpoint(eager=True)  # ALS iterates; freeze the input
    )
    als = ALS(
        rank=_ALS_RANK,
        maxIter=8,
        seed=42,
        userCol="user_id",
        itemCol="item_id",
        ratingCol="cnt",
        implicitPrefs=False,
        coldStartStrategy="drop",
        regParam=0.01,
    )
    model = als.fit(r)
    pred = model.transform(r)
    dec = "decimal(28,6)"
    stats = pred.agg(
        F.count("*").alias("n"),
        F.sum(F.col("cnt").cast(dec)).alias("s"),
        F.sum((F.col("cnt") * F.col("cnt")).cast(dec)).alias("s2"),
        F.sum(
            (
                (F.col("cnt") - F.col("prediction"))
                * (F.col("cnt") - F.col("prediction"))
            ).cast(dec)
        ).alias("sse_model"),
    ).collect()[0]
    n, s, s2 = float(stats["n"]), float(stats["s"]), float(stats["s2"])
    sse_null = s2 - s * s / n  # best constant predictor (global mean)
    fit_improves = float(stats["sse_model"]) < sse_null
    n_users = r.select("user_id").distinct().count()
    n_items = r.select("item_id").distinct().count()
    factors_complete = (
        model.userFactors.filter(F.size("features") == _ALS_RANK).count()
        == n_users
        and model.itemFactors.filter(F.size("features") == _ALS_RANK).count()
        == n_items
    )
    return spark.createDataFrame(
        [(n_users, n_items, _ALS_RANK, fit_improves, factors_complete)],
        "n_users long, n_items long, rank int, fit_improves boolean,"
        " factors_complete boolean",
    )


# ---------------------------------------------------------------------------
# q181 — custom Python DataSource, corpus replayed bit-exact in SQL
# ---------------------------------------------------------------------------

_SYNTH_N = 300
_SYNTH_SEED = 7

_SYNTH_WORDS_SQL = (
    "['key','value','table','row','scan','hash','join','sort','merge',"
    "'batch','part','line','the','a','spark','window','filter','agg',"
    "'fast','slow']"
)


def _synth_rng_sql(salt_expr: str) -> str:
    return (
        f"CAST('0x' || substr(md5(CAST({_SYNTH_SEED} AS VARCHAR) || ':' ||"
        f" CAST(i AS VARCHAR) || ':' || {salt_expr}), 1, 15) AS BIGINT)"
    )


@query(
    "q181_python_datasource",
    oracle=f"""
    WITH ids AS (SELECT unnest(range(0, {_SYNTH_N})) AS i),
    docs AS (
      SELECT i AS doc_id,
             array_to_string(
               list_transform(
                 range(0, 20 + {_synth_rng_sql("'len'")} % 80),
                 j -> ({_SYNTH_WORDS_SQL})[
                        CAST({_synth_rng_sql("'w' || CAST(j AS VARCHAR)")}
                             % 20 AS INT) + 1]),
               ' ') AS text,
             (['en','de','es','fr'])[
               CAST({_synth_rng_sql("'lang'")} % 4 AS INT) + 1] AS lang
      FROM ids)
    SELECT doc_id, text, lang FROM docs
    """,
)
def q181_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 custom Python DataSource driven end-to-end as a QUERY:
    read {300} synthetic documents from the ``synth_docs`` source (driver
    plans InputPartition slices; each executor materializes only its
    slice — the zero-storage benchmark feeder) and return the raw rows.
    The oracle REGENERATES the identical corpus in pure SQL from the
    source's md5 recurrence — certifying not an aggregate of the source
    but every generated byte, across a completely different execution
    substrate. The determinism contract (rows are a pure function of
    (seed, doc_id) — any partition count, any placement) is exactly what
    makes a synthetic feeder usable for reproducible load tests."""
    from .sources.pydatasource import register_synth_docs

    register_synth_docs(spark)
    return (
        spark.read.format("synth_docs")
        .option("n", _SYNTH_N)
        .option("seed", _SYNTH_SEED)
        .option("partitions", 8)
        .load()
    )


# ---------------------------------------------------------------------------
# q182 — link-prediction features (neighborhood Jaccard + Adamic-Adar)
# ---------------------------------------------------------------------------


@query(
    "q182_link_prediction_features",
    oracle="""
    WITH b AS (SELECT DISTINCT user_id AS entity,
                      date_trunc('hour', ts) AS bucket, event_type
               FROM events),
    ew AS (SELECT a.entity AS src, b2.entity AS dst, COUNT(*) AS weight
           FROM b a JOIN b b2
             ON a.bucket = b2.bucket AND a.event_type = b2.event_type
            AND a.entity < b2.entity
           GROUP BY 1, 2),
    ec AS (SELECT src AS u, dst AS v FROM ew WHERE weight >= 5),
    sym AS (SELECT u, v FROM ec UNION SELECT v, u FROM ec),
    deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
    common AS (
      SELECT e.u, e.v, a.v AS w
      FROM ec e
      JOIN sym a ON a.u = e.u
      JOIN sym bb ON bb.u = e.v AND bb.v = a.v),
    feat AS (
      SELECT c.u, c.v,
             COUNT(*) AS n_common,
             SUM(CAST(CAST(ROUND(1.0 / ln(CAST(dw.d AS DOUBLE)), 6)
                      AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS aa_micros
      FROM common c JOIN deg dw ON dw.u = c.w
      GROUP BY c.u, c.v)
    SELECT f.u AS src, f.v AS dst,
           CAST(f.n_common AS BIGINT) AS n_common,
           CAST(f.n_common AS DOUBLE)
             / CAST(du.d + dv.d - f.n_common AS DOUBLE) AS jaccard,
           ROUND(CAST(f.aa_micros AS DOUBLE) / 1000000.0, 6) AS adamic_adar
    FROM feat f
    JOIN deg du ON du.u = f.u
    JOIN deg dv ON dv.u = f.v
    """,
)
def q182_link_prediction_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction feature extraction over the strong-tie graph:
    per existing edge, the classic triad of scores — common-neighbor
    count, neighborhood Jaccard |N(u)∩N(v)| / |N(u)∪N(v)|, and
    Adamic-Adar Σ_w 1/ln(deg(w)) (Adamic & Adar 2003) — the features a
    who-knows-who / collusion-scoring model trains on. Shape: the
    common-neighbor relation comes from the COMPACT-FORWARD triangle
    incidence enumeration (``triangles.triangle_edge_incidences`` — hub
    wedge fan-out bounded O(√E); a symmetric-adjacency self-join would
    put degree² rows on every hub key), degrees attach by
    broadcast-scale joins. Float discipline:
    1/ln(deg) lands on the 6-dp grid and accumulates as exact integer
    MICROS (the q167 lesson — decimal-sum→double casts diverge in the
    last ulp); Jaccard is one division over exact integers. A common
    neighbor of degree 1 cannot exist (it has ≥2 edges by membership),
    so ln(deg) ≥ ln 2 > 0 — no division hazard."""
    from .graph import cooccurrence_edges
    from .graph.triangles import triangle_edge_incidences

    ev = load_table(spark, sf_dir, "events")
    ec = (
        cooccurrence_edges(ev, "user_id", "ts", "hour", ("event_type",))
        .filter(F.col("weight") >= 5)
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .localCheckpoint(eager=True)  # incidence build + degree rollup
    )
    sym = ec.unionByName(
        ec.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    common = triangle_edge_incidences(
        ec.select(F.col("u").alias("src"), F.col("v").alias("dst"))
    )
    aa_micros = (
        F.round(1.0 / F.log(F.col("d").cast("double")), 6)
        .cast("decimal(18,6)")
        * 1_000_000
    ).cast("long")
    feat = (
        common.join(deg.select(F.col("u").alias("w"), "d"), "w")
        .groupBy("u", "v")
        .agg(
            F.count("*").alias("n_common"),
            F.sum(aa_micros).alias("aa_micros"),
        )
    )
    du = deg.select(F.col("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dv"))
    return (
        feat.join(du, "u")
        .join(dv, "v")
        .select(
            F.col("u").alias("src"),
            F.col("v").alias("dst"),
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("du") + F.col("dv") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
            F.round(
                F.col("aa_micros").cast("double") / 1_000_000.0, 6
            ).alias("adamic_adar"),
        )
    )


# ---------------------------------------------------------------------------
# q183 — session sequence-pattern matching (CEP / MATCH_RECOGNIZE shape)
# ---------------------------------------------------------------------------

_SEQ_GAP_MIN = 30


@query(
    "q183_sequence_patterns",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, ts, substring(event_type, 1, 1) AS init,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR date_diff('microsecond', LAG(ts) OVER w, ts)
                     > {_SEQ_GAP_MIN * 60 * 1_000_000}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, event_id, ts, init,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM e),
    seqs AS (
      SELECT user_id, session_id,
             string_agg(init, '' ORDER BY ts, event_id) AS seq
      FROM s GROUP BY user_id, session_id)
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_sessions,
      CAST(COALESCE(SUM(CASE WHEN regexp_matches(seq, 'v.*c.*p') THEN 1 END), 0)
           AS BIGINT) AS n_view_click_buy,
      CAST(COALESCE(SUM(CASE WHEN regexp_matches(seq, 'e') THEN 1 END), 0)
           AS BIGINT) AS n_with_error,
      CAST(COALESCE(SUM(CASE WHEN regexp_matches(seq, '^s') THEN 1 END), 0)
           AS BIGINT) AS n_signup_first,
      CAST(COALESCE(SUM(CASE WHEN regexp_matches(seq, 'pp') THEN 1 END), 0)
           AS BIGINT) AS n_double_purchase
    FROM seqs
    """,
)
def q183_sequence_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing patterns over session sequences — the
    MATCH_RECOGNIZE workload expressed Spark-first: sessionize (30-min
    gap), reduce each session to its ordered event-initial string
    (rank-led struct sort — the q147 deterministic-listagg discipline),
    and count sessions matching each behavioral regex
    (view→click→purchase funnels, error presence, signup-first,
    back-to-back purchases). Two user-partitioned windows + one
    |sessions|-row aggregate; the regexes run on strings whose length is
    bounded by session size, never on raw event rows. Counts are exact
    integers — trivially engine-portable."""
    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = _SEQ_GAP_MIN * 60 * 1_000_000
    is_new = F.when(
        F.lag("ts").over(wu).isNull()
        | (
            F.timestamp_diff("MICROSECOND", F.lag("ts").over(wu), F.col("ts"))
            > gap_us
        ),
        1,
    ).otherwise(0)
    s = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.substring("event_type", 1, 1).alias("init"),
        is_new.alias("is_new"),
    ).withColumn(
        "session_id",
        F.sum("is_new").over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    seqs = (
        s.groupBy("user_id", "session_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", F.col("init"))
                        )
                    ),
                    lambda x: x["init"],
                ),
            ).alias("seq")
        )
    )
    cnt = lambda pat, name: F.coalesce(  # noqa: E731
        F.sum(F.when(F.col("seq").rlike(pat), 1)), F.lit(0)
    ).cast("long").alias(name)
    return seqs.agg(
        F.count("*").alias("n_sessions"),
        cnt("v.*c.*p", "n_view_click_buy"),
        cnt("e", "n_with_error"),
        cnt("^s", "n_signup_first"),
        cnt("pp", "n_double_purchase"),
    )

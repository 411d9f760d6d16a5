"""Round-6 batch 2: content-defined chunking, OOV-rate screening, unigram
LM scoring, deterministic random-walk corpus generation, schema-drift
profiling, readability scoring, and temperature-rebalanced mixture
sampling.

Float discipline as established (q85/q134/q157): exact integer/DECIMAL
cross-partition accumulation; `ln`/`sqrt` outputs land on the 6-dp grid and
become DECIMAL before any sum; final ratios are identically parenthesized
single-rounded IEEE chains; md5 is the only randomness (portable, replayed
verbatim in the oracles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import load_table
from .plans.hints import broadcast_if_small
from .queries import query

_NORM_SQL = (
    "regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g')"
)
_TOKS_SQL = f"list_filter(string_split({_NORM_SQL}, ' '), x -> x != '')"

# ---------------------------------------------------------------------------
# q165 — content-defined chunking (rolling-hash boundaries)
# ---------------------------------------------------------------------------

_CDC_W = 8  # rolling window width (chars)
_CDC_MASK = 64  # boundary when H % 64 == 0 → expected chunk ≈ 64 chars
_RK_BASE = 257
_RK_MOD = 2_147_483_647


def _cdc_fold_sql(slice_expr: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {slice_expr}),"
        f" (acc, c) -> (acc * {_RK_BASE} + c) % {_RK_MOD})"
    )


@query(
    "q165_content_defined_chunks",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, {_NORM_SQL} AS nt FROM documents
      WHERE length({_NORM_SQL}) > 0),
    codes AS (
      SELECT doc_id, length(nt) AS n,
             list_transform(string_split(nt, ''),
                            c -> CAST(ascii(c) AS BIGINT)) AS cs
      FROM norm),
    bounds AS (
      SELECT doc_id, n,
             list_filter(range({_CDC_W}, n),
                 i -> {_cdc_fold_sql(f'cs[i - {_CDC_W} + 1 : i]')}
                      % {_CDC_MASK} = 0) AS bs
      FROM codes),
    aug AS (
      SELECT doc_id, n,
             list_concat(list_concat([CAST(0 AS BIGINT)], bs),
                         [CAST(n AS BIGINT)]) AS a
      FROM bounds)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_chars,
           CAST(len(a) - 1 AS BIGINT) AS n_chunks,
           CAST(list_max(list_transform(range(1, len(a)),
                j -> a[j + 1] - a[j])) AS BIGINT) AS max_chunk,
           CAST(n AS DOUBLE) / CAST(len(a) - 1 AS DOUBLE) AS mean_chunk
    FROM aug
    """,
)
def q165_content_defined_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: split each document where the Rabin-Karp
    hash of the trailing {8}-char window hits a boundary mask — the
    shift-resistant chunking used for near-dup detection in code/corpus
    datasets and dedup-friendly storage (insertions move byte offsets;
    content-defined boundaries stay put). Everything is JVM higher-order
    array work over a STAGED char array (one linear pass per doc, the
    q160 discipline; no shuffle at all), and the boundary arithmetic is
    pure integers, so chunk counts, max and mean sizes replay
    bit-identically in DuckDB."""
    from .functions.text import normalize_text

    d = load_table(spark, sf_dir, "documents")
    staged = (
        d.select("doc_id", normalize_text("text").alias("nt"))
        .filter(F.length("nt") > 0)
        .select(
            "doc_id",
            F.length("nt").alias("n"),
            F.transform(
                F.split(F.col("nt"), ""), lambda c: F.ascii(c).cast("long")
            ).alias("cs"),
        )
        .localCheckpoint(eager=True)
    )
    zero = F.lit(0).cast("long")
    fold = lambda sl: F.aggregate(  # noqa: E731
        sl, zero, lambda acc, c: (acc * _RK_BASE + c) % _RK_MOD
    )
    n = F.col("n")
    # sequence(a, b) COUNTS DOWN when a > b — guard short docs explicitly
    positions = F.when(
        n - 1 >= _CDC_W, F.sequence(F.lit(_CDC_W), n - 1)
    ).otherwise(F.array().cast("array<int>"))
    bounds = F.filter(
        positions,
        lambda i: fold(F.slice(F.col("cs"), i - _CDC_W + 1, _CDC_W))
        % _CDC_MASK
        == 0,
    )
    aug = F.concat(
        F.array(zero),
        F.transform(bounds, lambda i: i.cast("long")),
        F.array(n.cast("long")),
    )
    withb = staged.select("doc_id", "n", aug.alias("a"))
    sz = F.size("a")
    diffs = F.zip_with(
        F.slice("a", 1, sz - 1), F.slice("a", 2, sz - 1), lambda a, b: b - a
    )
    return withb.select(
        "doc_id",
        F.col("n").cast("long").alias("n_chars"),
        (sz - 1).cast("long").alias("n_chunks"),
        F.array_max(diffs).cast("long").alias("max_chunk"),
        (F.col("n").cast("double") / (sz - 1).cast("double")).alias(
            "mean_chunk"
        ),
    )


# ---------------------------------------------------------------------------
# q166 — out-of-vocabulary rate per language
# ---------------------------------------------------------------------------

_OOV_VOCAB = 1000


@query(
    "q166_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT lang, unnest({_TOKS_SQL}) AS tok FROM documents),
    vocab AS (
      SELECT tok FROM (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok)
      ORDER BY cnt DESC, tok LIMIT {_OOV_VOCAB}),
    flagged AS (
      SELECT t.lang, (v.tok IS NULL) AS oov
      FROM tok t LEFT JOIN vocab v ON v.tok = t.tok)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COALESCE(SUM(CASE WHEN oov THEN 1 END), 0) AS BIGINT)
             AS n_oov,
           CAST(COALESCE(SUM(CASE WHEN oov THEN 1 END), 0) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS oov_rate
    FROM flagged
    GROUP BY lang
    ORDER BY lang
    """,
)
def q166_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per language against the corpus top-{1000}
    vocabulary — the tokenizer-coverage screen run before committing to a
    vocab size (high OOV → the tokenizer will shred this slice into
    bytes). The vocabulary cut is a TakeOrderedAndProject over the token
    rollup with a (count, token) total order; the tiny vocab broadcasts
    into a LEFT join (null ⇒ OOV) and the per-language counts are one
    aggregate — integer arithmetic end-to-end except the final single
    division."""
    from .functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("lang", tokens("text").alias("_t")).select(
        "lang", F.explode("_t").alias("tok")
    )
    vocab = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "tok")
        .limit(_OOV_VOCAB)
        .select("tok", F.lit(True).alias("_in_vocab"))
    )
    flagged = tok.join(broadcast_if_small(vocab), "tok", "left_outer")
    oov = F.col("_in_vocab").isNull()
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.coalesce(F.sum(F.when(oov, 1)), F.lit(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_oov",
            (
                F.col("n_oov").cast("double") / F.col("n_tokens").cast("double")
            ).alias("oov_rate"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q167 — unigram LM document scoring (average log-probability)
# ---------------------------------------------------------------------------


@query(
    "q167_unigram_logprob",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
    counts AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
    tot AS (SELECT SUM(cnt) AS total FROM counts),
    lp AS (
      SELECT c.tok,
             CAST(CAST(ROUND(ln(CAST(c.cnt AS DOUBLE) / CAST(t.total AS DOUBLE)), 6)
                       AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS lp_micros
      FROM counts c, tot t)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(CAST(CAST(SUM(l.lp_micros) AS BIGINT) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 9) AS avg_logprob
    FROM tok s JOIN lp l ON l.tok = s.tok
    GROUP BY s.doc_id
    """,
)
def q167_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average unigram log-probability under the corpus's own
    unigram LM — the cheapest perplexity-style quality score (surprising
    docs = far-from-distribution = candidates for filtering or upweighting;
    the C4/CCNet 'LM filter' shape with the n-gram order at 1). Token
    log-probs are computed ONCE on the |vocab| rollup (ln on the 6-dp grid
    → integer MICROS — not decimal: the wide-decimal-sum→double cast
    differs between engines in the last ulp, observed flipping a 9-dp
    boundary at sf0.001), broadcast back onto the token stream, and
    accumulated as exact int64 sums, so the division operands are
    bit-identical everywhere. Two corpus passes total (vocab rollup +
    scoring join)."""
    from .functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", tokens("text").alias("_t")).select(
        "doc_id", F.explode("_t").alias("tok")
    )
    counts = tok.groupBy("tok").agg(F.count("*").alias("cnt"))
    tot = counts.agg(F.sum("cnt").alias("total"))
    lp = counts.crossJoin(F.broadcast(tot)).select(
        "tok",
        (
            F.round(
                F.log(
                    F.col("cnt").cast("double") / F.col("total").cast("double")
                ),
                6,
            ).cast("decimal(18,6)")
            * 1_000_000
        )
        .cast("long")
        .alias("lp_micros"),
    )
    return (
        tok.join(broadcast_if_small(lp), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.sum("lp_micros").cast("double")
                / F.count("*").cast("double")
                / 1_000_000.0,
                9,
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# q168 — deterministic random-walk corpus (DeepWalk prep)
# ---------------------------------------------------------------------------

_WALK_LEN = 4


def _walk_hash_sql(start: str, step: int, v: str) -> str:
    return (
        f"CAST('0x' || substr(md5(CAST({start} AS VARCHAR) || ':{step}:' ||"
        f" CAST({v} AS VARCHAR)), 1, 15) AS BIGINT)"
    )


def _walks_oracle(walk_len: int = _WALK_LEN) -> str:
    parts = [
        """
    WITH b AS (SELECT DISTINCT user_id AS entity,
                      date_trunc('hour', ts) AS bucket, event_type
               FROM events),
    ew AS (SELECT a.entity AS src, b2.entity AS dst, COUNT(*) AS weight
           FROM b a JOIN b b2
             ON a.bucket = b2.bucket AND a.event_type = b2.event_type
            AND a.entity < b2.entity
           GROUP BY 1, 2),
    e0 AS (SELECT src, dst FROM ew WHERE weight >= 5),
    sym AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    adj AS (SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
                   COUNT(*) OVER (PARTITION BY src) AS deg
            FROM sym),
    w0 AS (SELECT s.id AS start, s.id AS v FROM
             (SELECT DISTINCT user_id AS id FROM events WHERE user_id % 50 = 0) s
           JOIN (SELECT DISTINCT src FROM sym) g ON g.src = s.id)
    """
    ]
    for t in range(1, walk_len + 1):
        parts.append(
            f", w{t} AS (SELECT w.start, a.dst AS v"
            f" FROM w{t-1} w JOIN adj a ON a.src = w.v"
            f" AND a.idx = {_walk_hash_sql('w.start', t, 'w.v')} % a.deg)"
        )
    steps = " UNION ALL ".join(
        f"SELECT start, {t} AS step, v FROM w{t}" for t in range(walk_len + 1)
    )
    return "".join(parts) + f" SELECT start, CAST(step AS INT) AS step, v FROM ({steps})"


@query("q168_random_walks", oracle=_walks_oracle())
def q168_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random-walk corpus over the strong-tie graph — the
    DeepWalk/node2vec data-prep step (walks become 'sentences' for
    embedding training). The walk is DERANDOMIZED the engine's standard
    way: step t from vertex v in the walk started at s picks neighbor
    index md5(s:t:v) mod degree — portable hashing instead of an RNG, so
    walks are reproducible across runs, partitionings, AND engines (the
    oracle replays them exactly). Execution is {4} tiny hash-joins of the
    walk frontier against the indexed adjacency (row_number per source —
    each join is frontier-sized, never |E|); the adjacency builds once."""
    from .graph import cooccurrence_edges, symmetrize

    ev = load_table(spark, sf_dir, "events")
    edges = cooccurrence_edges(ev, "user_id", "ts", "hour", ("event_type",))
    sym = (
        symmetrize(edges.filter(F.col("weight") >= 5).select("src", "dst"))
        .select("src", "dst")
        .distinct()
    )
    from .graph.fixpoint import _iteration_edges

    # The adjacency is joined at EVERY walk step: materialize it once, keyed
    # on the per-step join key (_iteration_edges) — one setup shuffle; the
    # tiny frontier broadcasts into it (AQE) so steps move no edge data.
    adj = _iteration_edges(
        sym.select(
            "src",
            "dst",
            (
                F.row_number().over(Window.partitionBy("src").orderBy("dst"))
                - 1
            ).alias("idx"),
            F.count("*").over(Window.partitionBy("src")).alias("deg"),
        ),
        key="src",
    )
    starts = (
        ev.filter(F.col("user_id") % 50 == 0)
        .select(F.col("user_id").alias("start"))
        .distinct()
        .join(
            adj.select(F.col("src").alias("start")).distinct(),
            "start",
            "left_semi",
        )
        .select("start", F.col("start").alias("v"))
    )
    out = starts.select("start", F.lit(0).cast("int").alias("step"), "v")
    cur = starts
    for t in range(1, _WALK_LEN + 1):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("start").cast("string"),
                        F.lit(f":{t}:"),
                        F.col("v").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        cur = (
            cur.join(adj, cur.v == adj.src)
            .filter(F.col("idx") == h % F.col("deg"))
            .select("start", F.col("dst").alias("v"))
        )
        out = out.unionByName(
            cur.select("start", F.lit(t).cast("int").alias("step"), "v")
        )
    # Materialize the (tiny) walk corpus, then release the persisted
    # adjacency — the eager/non-recoverable pair-builder contract.
    out = out.localCheckpoint(eager=True)
    adj.unpersist()
    return out


# ---------------------------------------------------------------------------
# q169 — schema/profile drift between event snapshots
# ---------------------------------------------------------------------------

_DRIFT_CUTOFF = "2024-01-20 00:00:00"


@query(
    "q169_profile_drift",
    oracle=f"""
    WITH base AS (SELECT * FROM events WHERE ts < TIMESTAMP '{_DRIFT_CUTOFF}'),
    delta AS (SELECT * FROM events WHERE ts >= TIMESTAMP '{_DRIFT_CUTOFF}'),
    m AS (
      SELECT 'event_type' AS col,
             (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) FROM base) AS distinct_base,
             (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) FROM delta) AS distinct_delta,
             (SELECT CAST(COUNT(*) FILTER (event_type IS NULL) AS BIGINT) FROM base) AS nulls_base,
             (SELECT CAST(COUNT(*) FILTER (event_type IS NULL) AS BIGINT) FROM delta) AS nulls_delta
      UNION ALL
      SELECT 'user_id',
             (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM base),
             (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM delta),
             (SELECT CAST(COUNT(*) FILTER (user_id IS NULL) AS BIGINT) FROM base),
             (SELECT CAST(COUNT(*) FILTER (user_id IS NULL) AS BIGINT) FROM delta)
      UNION ALL
      SELECT 'props',
             (SELECT CAST(COUNT(DISTINCT props) AS BIGINT) FROM base),
             (SELECT CAST(COUNT(DISTINCT props) AS BIGINT) FROM delta),
             (SELECT CAST(COUNT(*) FILTER (props IS NULL) AS BIGINT) FROM base),
             (SELECT CAST(COUNT(*) FILTER (props IS NULL) AS BIGINT) FROM delta))
    SELECT col, distinct_base, distinct_delta, nulls_base, nulls_delta,
           (distinct_delta NOT BETWEEN distinct_base // 2
                AND distinct_base * 2) AS cardinality_drift
    FROM m ORDER BY col
    """,
)
def q169_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile drift between the pre/post-cutoff event snapshots —
    the data-contract monitor an ingestion pipeline runs per batch
    (cardinality collapse = upstream enum change; null-rate jump = broken
    producer). Engine shape: ONE aggregate pass per snapshot computing
    every column's metrics as parallel aggregate expressions, then a
    3-row unpivot — never one scan per column (the oracle's scalar
    subqueries are the readable spec; at 100 TB you run the fused pass).
    The drift verdict (>2× cardinality change) is integer arithmetic."""
    ev = load_table(spark, sf_dir, "events")

    def profile(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            *[
                x
                for c in ("event_type", "user_id", "props")
                for x in (
                    F.countDistinct(c).alias(f"d_{c}"),
                    F.coalesce(
                        F.sum(F.when(F.col(c).isNull(), 1)), F.lit(0)
                    )
                    .cast("long")
                    .alias(f"n_{c}"),
                )
            ]
        ).select(
            F.expr(
                "stack(3, "
                + ", ".join(
                    f"'{c}', d_{c}, n_{c}"
                    for c in ("event_type", "user_id", "props")
                )
                + f") AS (col, distinct_{tag}, nulls_{tag})"
            )
        )

    base = profile(ev.filter(F.col("ts") < _DRIFT_CUTOFF), "base")
    delta = profile(ev.filter(F.col("ts") >= _DRIFT_CUTOFF), "delta")
    return (
        base.join(delta, "col")
        .select(
            "col",
            "distinct_base",
            "distinct_delta",
            "nulls_base",
            "nulls_delta",
            (
                (F.col("distinct_delta") < F.floor(F.col("distinct_base") / 2))
                | (F.col("distinct_delta") > F.col("distinct_base") * 2)
            ).alias("cardinality_drift"),
        )
        .orderBy("col")
    )


# ---------------------------------------------------------------------------
# q170 — readability scoring (Flesch reading ease, vowel-run syllables)
# ---------------------------------------------------------------------------


@query(
    "q170_readability",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS words,
             CAST(GREATEST(1, length(text) - length(replace(text, '.', '')))
                  AS BIGINT) AS sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiou]+'))
                  AS BIGINT) AS syllables
      FROM documents)
    SELECT doc_id, words, sentences, syllables,
           ROUND(206.835
                 - 1.015 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
                 - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE)),
                 6) AS flesch
    FROM m WHERE words > 0
    """,
)
def q170_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document with a portable syllable proxy
    (maximal vowel runs — the standard heuristic when no dictionary is
    allowed) — the readability band a curation pipeline uses to route
    documents (children's content, legalese, OCR garbage). All three
    inputs are integer counts from single regex passes; the score is the
    canonical two-division formula, identically parenthesized and landed
    on the 6-dp grid. Pure projection — zero shuffle."""
    from .functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    words = F.size(tokens("text")).cast("long")
    sentences = F.greatest(
        F.lit(1).cast("long"),
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit("."), F.lit("")))
        ).cast("long"),
    )
    syllables = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiou]+', 0)")
    ).cast("long")
    m = d.select(
        "doc_id",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
    ).filter(F.col("words") > 0)
    return m.select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        F.round(
            F.lit(206.835)
            - 1.015
            * (F.col("words").cast("double") / F.col("sentences").cast("double"))
            - 84.6
            * (
                F.col("syllables").cast("double") / F.col("words").cast("double")
            ),
            6,
        ).alias("flesch"),
    )


# ---------------------------------------------------------------------------
# q171 — temperature-rebalanced mixture sampling (√-temperature)
# ---------------------------------------------------------------------------

_MIX_KEEP_FRACTION = 0.5


@query(
    "q171_temperature_mixture",
    oracle=f"""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source),
    tot AS (SELECT SUM(n_docs) AS total FROM counts),
    q AS (
      SELECT source, n_docs,
             CAST(ROUND(sqrt(CAST(n_docs AS DOUBLE)), 6) AS DECIMAL(18,6))
               AS sq
      FROM counts),
    den AS (SELECT SUM(sq) AS denom FROM q),
    rates AS (
      SELECT q.source, q.n_docs,
             LEAST(1.0,
               (CAST(q.sq AS DOUBLE) / CAST(d.denom AS DOUBLE))
               * ({_MIX_KEEP_FRACTION} * CAST(t.total AS DOUBLE))
               / CAST(q.n_docs AS DOUBLE)) AS keep_rate
      FROM q, den d, tot t),
    kept AS (
      SELECT doc.source,
             CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM documents doc JOIN rates r ON r.source = doc.source
      WHERE CAST(CAST('0x' || substr(md5('mix:' || CAST(doc.doc_id AS VARCHAR)),
                      1, 15) AS BIGINT) AS DOUBLE) / 1152921504606846976.0
            < r.keep_rate
      GROUP BY doc.source)
    SELECT r.source, r.n_docs, ROUND(r.keep_rate, 9) AS keep_rate,
           COALESCE(k.n_kept, 0) AS n_kept
    FROM rates r LEFT JOIN kept k ON k.source = r.source
    ORDER BY r.source
    """,
)
def q171_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """√-temperature mixture rebalancing: per-source keep rates
    ∝ √share / share (T = 0.5 — the multilingual-sampling temperature
    trick that upweights small sources without flattening the mix), with
    deterministic md5-fraction sampling (the q55/q124 discipline — the
    same doc is kept in any engine, any partitioning, any rerun). √ is
    the ONE non-arithmetic function and it is correctly rounded in IEEE,
    then landed on the 6-dp grid and summed as DECIMAL, so the
    normalizing denominator is exact; each keep rate is an identically
    parenthesized IEEE chain. The per-source rate table is tiny →
    broadcast join; one corpus scan decides every keep."""
    d = load_table(spark, sf_dir, "documents")
    # |sources| rows, consumed by THREE derivations (totals, sqrt shares,
    # normalizer) — checkpoint so the corpus aggregate runs once, not once
    # per consumer (the one-scan contract the docstring claims)
    counts = (
        d.groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .localCheckpoint(eager=True)
    )
    tot = counts.agg(F.sum("n_docs").alias("total"))
    q = counts.select(
        "source",
        "n_docs",
        F.round(F.sqrt(F.col("n_docs").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("sq"),
    )
    den = q.agg(F.sum("sq").alias("denom"))
    rates = (
        q.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.least(
                F.lit(1.0),
                (F.col("sq").cast("double") / F.col("denom").cast("double"))
                * (_MIX_KEEP_FRACTION * F.col("total").cast("double"))
                / F.col("n_docs").cast("double"),
            ).alias("keep_rate"),
        )
    )
    frac = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .cast("double")
        / F.lit(float(1 << 60))
    )
    kept = (
        d.join(F.broadcast(rates.select("source", "keep_rate")), "source")
        .filter(frac < F.col("keep_rate"))
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        rates.join(kept, "source", "left_outer")
        .select(
            "source",
            "n_docs",
            F.round("keep_rate", 9).alias("keep_rate"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
        .orderBy("source")
    )

"""Registrations for the r30 window — five capabilities added after
the r29 batch. ``tests/test_oracle_parity.py`` replays every
(query, oracle) pair with hash parity + non-vacuity like any other
registered key; ``tests/test_staged_r30.py`` pins their content.

Families: per-key OLS trend (closed-form linear regression from six
EXACT integer moments — slope, intercept, and r² as ratios of exact
BIGINTs, so no engine-dependent accumulation exists), embedding-space
cosine histograms (adjacent-id pairing — a linear, never-n², corpus
similarity profile over the sequential-fold dot product), Kneser-Ney
continuation counts (the "how many distinct contexts precede this
token" statistic behind KN smoothing — pure integer counting),
per-shard corpus novelty curves (duplication decay over ingest order
— min-shard first-seen attribution, exact integers), and total
variation divergence between each language's token distribution and
the English reference — the registry's first cross-row DOUBLE sum,
made run- and engine-deterministic by a TWO-LEVEL SORTED FOLD
(md5-bucketed partials, each level folding a sorted list, the
win_holt pattern scaled out; no libm anywhere in it).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.similarity import dot
from ..operators.text import TOKEN_PATTERN, md5_draw, pattern_tokens
from ..sources.tables import load_table

# --------------------------------------------------------------------------
# win_linreg_trend — exact-integer OLS per event type
# --------------------------------------------------------------------------

#: Day-index epoch for the regressor: x = days since this date. Any
#: fixed date works (OLS is translation-invariant); fixing it keeps x
#: an exact small integer on both engines.
LINREG_EPOCH = "2024-01-01"


def q_win_linreg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_linreg_trend`` — per event type, the OLS line through its
    daily event counts: slope (events/day of drift), intercept, and
    r², from the closed form over six EXACT integer moments
    (n, Σx, Σy, Σxy, Σx², Σy²). Every emitted value is a ratio of
    exact BIGINTs — ONE correctly-rounded division (or two plus one
    multiply for r²) — so there is no engine- or order-dependent
    accumulation anywhere: the no-libm exactness class of
    ``corpus_length_gini``, applied to trend detection.

    100 TB plan: the events scan collapses map-side to the
    O(types × days) daily relation; the six moments are one more
    map-side-combining aggregate to O(types) rows. r² is NULL for a
    constant series (zero y-variance — the textbook undefined case),
    via the same CASE on both engines."""
    ev = load_table(spark, sf_dir, "events", spread=False)
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("y"))
        .select(
            "event_type",
            F.datediff(F.col("d"), F.lit(LINREG_EPOCH).cast("date"))
            .cast("bigint")
            .alias("x"),
            F.col("y"),
        )
    )
    m = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.where("n >= 2").select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(num.cast("double") / den.cast("double"), 6).alias("slope"),
        F.round(
            (F.col("sy") * den - num * F.col("sx")).cast("double")
            / (F.col("n") * den).cast("double"),
            6,
        ).alias("intercept"),
        F.when(vary == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (num.cast("double") / den.cast("double"))
                * (num.cast("double") / vary.cast("double")),
                6,
            )
        )
        .alias("r2"),
    )


_WIN_LINREG_TREND_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '{LINREG_EPOCH}', CAST(ts AS DATE)) AS x,
         COUNT(*) AS y
  FROM events
  GROUP BY 1, 2
), m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM daily GROUP BY 1
)
SELECT event_type, n AS n_days,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
       ROUND(CAST(sy * (n * sxx - sx * sx)
                  - (n * sxy - sx * sy) * sx AS DOUBLE)
             / CAST(n * (n * sxx - sx * sx) AS DOUBLE), 6) AS intercept,
       CASE WHEN n * syy - sy * sy = 0 THEN NULL
            ELSE ROUND(
              (CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE))
              * (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * syy - sy * sy AS DOUBLE)), 6)
       END AS r2
FROM m
WHERE n >= 2
"""

# --------------------------------------------------------------------------
# embed_cosine_hist — corpus similarity profile over adjacent-id pairs
# --------------------------------------------------------------------------

#: Histogram resolution: bucket = floor(cos · 10) ∈ [-10, 10].
COS_HIST_SCALE = 10


def q_embed_cosine_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``embed_cosine_hist`` — the corpus's pairwise-similarity
    profile without the n² pair explosion: cosine over ADJACENT-id
    pairs (vec_id ⨝ vec_id+1 — a fixed, content-independent linear
    pairing that samples the corpus uniformly), histogrammed at 0.1
    resolution. The shape diagnostic behind dedup-threshold tuning:
    a right-shifted profile means near-dup mass before any LSH run.

    Determinism: the dot products are the engine-pinned sequential
    fold (:func:`~..operators.similarity.dot`; DuckDB ``list_sum``
    matches it element-for-element), sqrt is IEEE-exact, so each
    pair's cosine is bit-identical — bucketing and min/max never see
    a boundary disagreement.

    100 TB plan: a self-join on consecutive ids — co-partitioned
    range join, O(n) pairs; the histogram is an O(buckets) map-side
    aggregate. No driver state, no cartesian anywhere."""
    e = load_table(spark, sf_dir, "embeddings", spread=False)
    a = e.select(F.col("vec_id").alias("pid"), F.col("embedding").alias("va"))
    b = e.select(
        (F.col("vec_id") - 1).alias("pid"), F.col("embedding").alias("vb")
    )
    va, vb = F.col("va"), F.col("vb")
    cos = dot(va, vb) / (F.sqrt(dot(va, va)) * F.sqrt(dot(vb, vb)))
    return (
        a.join(b, "pid")
        .select(F.floor(cos * COS_HIST_SCALE).cast("int").alias("bucket"),
                cos.alias("cos"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(F.min("cos"), 6).alias("min_cos"),
            F.round(F.max("cos"), 6).alias("max_cos"),
        )
    )


_SQL_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
)

_EMBED_COSINE_HIST_ORACLE = f"""
WITH pairs AS (
  SELECT {_SQL_DOT.format(a='a.embedding', b='b.embedding')}
         / (sqrt({_SQL_DOT.format(a='a.embedding', b='a.embedding')})
            * sqrt({_SQL_DOT.format(a='b.embedding', b='b.embedding')}))
           AS cos
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
)
SELECT CAST(FLOOR(cos * {COS_HIST_SCALE}) AS INTEGER) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(MIN(cos), 6) AS min_cos,
       ROUND(MAX(cos), 6) AS max_cos
FROM pairs
GROUP BY 1
"""

# --------------------------------------------------------------------------
# lm_kn_discount — Kneser-Ney continuation counts
# --------------------------------------------------------------------------

#: Output bound: only tokens preceded by at least this many DISTINCT
#: left contexts (the interesting head of the continuation table).
KN_MIN_CONT = 5


def q_lm_kn_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``lm_kn_discount`` — the continuation statistics behind
    Kneser-Ney smoothing: for each token, how many DISTINCT left
    contexts precede it (``cont_types``), its raw right-position count,
    and the KN continuation probability cont/|distinct bigrams| — the
    "Francisco problem" fix (frequent-but-predictable tokens get LOW
    continuation mass). Pure integer counting + one exact ratio: the
    no-libm class, per the tfidf no-log rule.

    100 TB plan: bigrams are a scan-side array expression (sequence +
    element_at — no self-join); one (w1, w2)-keyed distinct collapse
    (map-side combined), then an O(vocab) rollup; the 1-row bigram-type
    total broadcasts."""
    docs = load_table(spark, sf_dir, "documents", spread=False)
    toks = docs.select(pattern_tokens(F.col("text")).alias("w")).where(
        F.size("w") >= 2
    )
    bigrams = toks.select(
        F.explode(F.sequence(F.lit(1), F.size("w") - 1)).alias("i"), "w"
    ).select(
        F.element_at("w", F.col("i")).alias("w1"),
        F.element_at("w", F.col("i") + 1).alias("w2"),
    )
    pair_counts = bigrams.groupBy("w1", "w2").agg(
        F.count("*").alias("c")
    )
    total = pair_counts.agg(F.count("*").alias("n_bigram_types"))
    per_w2 = pair_counts.groupBy("w2").agg(
        F.count("*").alias("cont_types"),
        F.sum("c").alias("right_count"),
    )
    return (
        per_w2.where(F.col("cont_types") >= KN_MIN_CONT)
        .crossJoin(F.broadcast(total))
        .select(
            "w2",
            F.col("cont_types").cast("bigint").alias("cont_types"),
            F.col("right_count").alias("right_count"),
            F.round(
                F.col("cont_types").cast("double")
                / F.col("n_bigram_types").cast("double"),
                6,
            ).alias("kn_cont_prob"),
        )
    )


_LM_KN_DISCOUNT_ORACLE = f"""
WITH toks AS (
  SELECT regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS w
  FROM documents WHERE text IS NOT NULL
), bigrams AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 2
), pair_counts AS (
  SELECT w1, w2, COUNT(*) AS c FROM bigrams GROUP BY 1, 2
), total AS (
  SELECT COUNT(*) AS n_bigram_types FROM pair_counts
)
SELECT w2,
       CAST(COUNT(*) AS BIGINT) AS cont_types,
       CAST(SUM(c) AS BIGINT) AS right_count,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / CAST(ANY_VALUE(n_bigram_types) AS DOUBLE), 6)
         AS kn_cont_prob
FROM pair_counts, total
GROUP BY w2
HAVING COUNT(*) >= {KN_MIN_CONT}
"""

# --------------------------------------------------------------------------
# corpus_novelty_curve — duplication decay over ingest order
# --------------------------------------------------------------------------

#: Number of ingest shards the corpus is split into (by doc_id).
NOVELTY_SHARDS = 10


def q_corpus_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_novelty_curve`` — duplication decay over ingest order:
    split the corpus into ``NOVELTY_SHARDS`` shards by doc_id, credit
    each normalized-content fingerprint to its FIRST shard
    (min-shard attribution — exactly how a streaming dedup would see
    it), and report per shard the docs, the first-seen fingerprints,
    the novelty rate, and the cumulative distinct count. The curve's
    flattening rate is the "is more data still worth ingesting"
    signal. All exact integers + one ratio.

    100 TB plan: fingerprint is the dedup_exact scan-side md5; the
    min-shard attribution is one map-side-combining min per
    fingerprint; the curve itself is O(shards) rows and the running
    total a 10-row window."""
    docs = load_table(spark, sf_dir, "documents", spread=False)
    fp = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    )
    d = docs.select(
        F.pmod(F.col("doc_id"), NOVELTY_SHARDS).alias("shard"),
        fp.alias("fp"),
    )
    per_shard = d.groupBy("shard").agg(F.count("*").alias("n_docs"))
    firsts = (
        d.groupBy("fp")
        .agg(F.min("shard").alias("shard"))
        .groupBy("shard")
        .agg(F.count("*").alias("n_new"))
    )
    w = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_shard.join(firsts, "shard", "left")
        .select(
            "shard",
            "n_docs",
            F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"),
        )
        .select(
            F.col("shard").cast("bigint").alias("shard"),
            "n_docs",
            "n_new",
            F.sum("n_new").over(w).alias("cum_distinct"),
            F.round(
                F.col("n_new").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("novelty"),
        )
    )


_CORPUS_NOVELTY_CURVE_ORACLE = f"""
WITH d AS (
  SELECT doc_id % {NOVELTY_SHARDS} AS shard,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
), per_shard AS (
  SELECT shard, COUNT(*) AS n_docs FROM d GROUP BY 1
), firsts AS (
  SELECT shard, COUNT(*) AS n_new FROM (
    SELECT fp, MIN(shard) AS shard FROM d GROUP BY 1
  ) GROUP BY 1
)
SELECT CAST(p.shard AS BIGINT) AS shard,
       CAST(p.n_docs AS BIGINT) AS n_docs,
       CAST(COALESCE(f.n_new, 0) AS BIGINT) AS n_new,
       CAST(SUM(COALESCE(f.n_new, 0))
            OVER (ORDER BY p.shard
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_distinct,
       ROUND(CAST(COALESCE(f.n_new, 0) AS DOUBLE)
             / CAST(p.n_docs AS DOUBLE), 6) AS novelty
FROM per_shard p LEFT JOIN firsts f ON f.shard = p.shard
"""

# --------------------------------------------------------------------------
# text_lang_divergence — total variation vs the English reference
# --------------------------------------------------------------------------

#: Reference language every other distribution is compared against.
TV_REFERENCE_LANG = "en"
#: md5 bucket count for the two-level deterministic summation tree.
TV_BUCKETS = 64


def q_text_lang_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_lang_divergence`` — per non-reference language, the
    total variation distance ½·Σ|p − q| between its token distribution
    and the reference's, plus the union/common vocabulary sizes: the
    corpus-drift / contamination probe (TV = the largest possible
    difference in probability either distribution assigns to any
    token set; no libm, unlike KL/JS).

    Determinism at scale — the two-level sorted-fold summation tree:
    a cross-row double SUM accumulates in nondeterministic
    partial-merge order, so Σ|p−q| is folded (1) per md5 bucket of
    the token (``md5_draw`` — the engine's canonical cross-engine
    hash, so both engines build the SAME buckets) over the
    token-sorted term list, then (2) per language over the
    bucket-sorted partial list. Both levels are sequential folds of
    sorted lists (the win_holt pattern), so the IEEE op stream is
    identical across engines AND runs, with each collected list
    bounded by vocab/buckets — the technique that lets free-order
    double metrics into the hash path without libm risk.

    100 TB plan: tokenize once; the (lang, token) count relation is
    map-side combined; the reference column broadcasts (one language's
    vocab); level-1 state is O(vocab/64) per list, level-2 is 64 rows
    per language."""
    docs = load_table(spark, sf_dir, "documents", spread=False)
    toks = docs.select(
        "lang", F.explode(pattern_tokens(F.col("text"))).alias("tok")
    )
    cnt = toks.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    totals = cnt.groupBy("lang").agg(F.sum("c").alias("n"))
    en_cnt = (
        cnt.where(F.col("lang") == TV_REFERENCE_LANG)
        .select("tok", F.col("c").alias("c_ref"))
    )
    en_total = (
        totals.where(F.col("lang") == TV_REFERENCE_LANG)
        .select(F.col("n").alias("n_ref"))
    )
    oth = cnt.where(F.col("lang") != TV_REFERENCE_LANG)
    langs = oth.select("lang").distinct()
    vocab = (
        oth.select("lang", "tok")
        .unionByName(langs.crossJoin(en_cnt.select("tok")))
        .distinct()
    )
    j = (
        vocab.join(oth, ["lang", "tok"], "left")
        .join(F.broadcast(en_cnt), ["tok"], "left")
        .join(F.broadcast(totals), ["lang"])
        .crossJoin(F.broadcast(en_total))
    )
    term = F.abs(
        F.coalesce(F.col("c"), F.lit(0)).cast("double")
        / F.col("n").cast("double")
        - F.coalesce(F.col("c_ref"), F.lit(0)).cast("double")
        / F.col("n_ref").cast("double")
    )
    j = j.select(
        "lang",
        "tok",
        F.pmod(md5_draw(F.col("tok")), TV_BUCKETS).alias("b"),
        term.alias("term"),
        (F.col("c").isNotNull() & F.col("c_ref").isNotNull()).cast(
            "int"
        ).alias("common"),
    )
    lvl1 = j.groupBy("lang", "b").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("tok", "term"))),
            F.lit(0.0),
            lambda acc, x: acc + x.getField("term"),
        ).alias("s"),
        F.count("*").alias("n_tok"),
        F.sum("common").alias("n_common"),
    )
    return lvl1.groupBy("lang").agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("b", "s"))),
                F.lit(0.0),
                lambda acc, x: acc + x.getField("s"),
            )
            / F.lit(2.0),
            6,
        ).alias("tv_distance"),
        F.sum("n_tok").alias("n_union"),
        F.sum("n_common").alias("n_common"),
    )


_TEXT_LANG_DIVERGENCE_ORACLE = f"""
WITH cnt AS (
  SELECT lang, tok, COUNT(*) AS c
  FROM (
    SELECT lang,
           unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))
             AS tok
    FROM documents
  )
  GROUP BY 1, 2
), totals AS (
  SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1
), en_cnt AS (
  SELECT tok, c AS c_ref FROM cnt WHERE lang = '{TV_REFERENCE_LANG}'
), en_total AS (
  SELECT n AS n_ref FROM totals WHERE lang = '{TV_REFERENCE_LANG}'
), oth AS (
  SELECT lang, tok, c FROM cnt WHERE lang <> '{TV_REFERENCE_LANG}'
), vocab AS (
  SELECT lang, tok FROM oth
  UNION
  SELECT l.lang, e.tok
  FROM (SELECT DISTINCT lang FROM oth) l CROSS JOIN en_cnt e
), j AS (
  SELECT v.lang, v.tok,
         CAST(('0x' || substr(md5(v.tok), 1, 8)) AS BIGINT)
           % {TV_BUCKETS} AS b,
         ABS(CAST(COALESCE(o.c, 0) AS DOUBLE) / CAST(t.n AS DOUBLE)
             - CAST(COALESCE(e.c_ref, 0) AS DOUBLE)
               / CAST(r.n_ref AS DOUBLE)) AS term,
         CASE WHEN o.c IS NOT NULL AND e.c_ref IS NOT NULL
              THEN 1 ELSE 0 END AS common
  FROM vocab v
  LEFT JOIN oth o ON o.lang = v.lang AND o.tok = v.tok
  LEFT JOIN en_cnt e ON e.tok = v.tok
  JOIN totals t ON t.lang = v.lang
  CROSS JOIN en_total r
), lvl1 AS (
  SELECT lang, b,
         list_reduce(
           list_transform(
             list_sort(list({{'t': tok, 'v': term}})),
             x -> x.v
           ),
           (a, bb) -> a + bb
         ) AS s,
         COUNT(*) AS n_tok,
         SUM(common) AS n_common
  FROM j GROUP BY 1, 2
)
SELECT lang,
       ROUND(
         list_reduce(
           list_transform(
             list_sort(list([CAST(b AS DOUBLE), s])),
             x -> x[2]
           ),
           (a, bb) -> a + bb
         ) / 2.0, 6) AS tv_distance,
       CAST(SUM(n_tok) AS BIGINT) AS n_union,
       CAST(SUM(n_common) AS BIGINT) AS n_common
FROM lvl1 GROUP BY 1
"""


STAGED_R30_QUERIES: "dict[str, Callable[[SparkSession, str], DataFrame]]" = {
    "win_linreg_trend": q_win_linreg_trend,
    "embed_cosine_hist": q_embed_cosine_hist,
    "lm_kn_discount": q_lm_kn_discount,
    "corpus_novelty_curve": q_corpus_novelty_curve,
    "text_lang_divergence": q_text_lang_divergence,
}

STAGED_R30_ORACLES: "dict[str, str]" = {
    "win_linreg_trend": _WIN_LINREG_TREND_ORACLE,
    "embed_cosine_hist": _EMBED_COSINE_HIST_ORACLE,
    "lm_kn_discount": _LM_KN_DISCOUNT_ORACLE,
    "corpus_novelty_curve": _CORPUS_NOVELTY_CURVE_ORACLE,
    "text_lang_divergence": _TEXT_LANG_DIVERGENCE_ORACLE,
}

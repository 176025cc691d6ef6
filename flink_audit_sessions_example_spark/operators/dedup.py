"""Deduplication operators — exact and near-dup, designed for 100 TB.

Scale design notes (these choices are the point of the module):

- **Exact dedup** is a hash aggregation on the dedup key — one shuffle,
  map-side partial aggregation, no sort. Keeping ``min(id)`` per group (not
  ``dropDuplicates``) makes the survivor deterministic, which the oracle
  needs and production pipelines want anyway.
- **N-gram Jaccard** uses an *inverted-index join* (explode shingles, join
  on shingle, count common) — never an O(n²) cross join. The join key is
  the shingle, so extremely common shingles create skew; the standard
  mitigation (drop shingles whose document frequency exceeds a cap —
  they can only connect near-identical boilerplate) is built in.
- **MinHash + LSH banding** is the sub-quadratic scale path: H hash
  minima per doc → b bands of r rows → exact-match join on (band, band
  signature) buckets → candidate pairs → exact Jaccard verification of
  candidates only. All built-in expressions (xxhash64), one explode + one
  self-join on the band key.
- **SimHash** packs a document into one 32-bit fingerprint whose hamming
  distance approximates cosine similarity of the token sets; near-dup
  candidates come from exact-match joins on fingerprint bands (Manku et
  al., WWW'07 style). Bit arithmetic over md5 hex digits — chosen over
  murmur3 because md5 is identically available in the DuckDB oracle.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import (
    hashed_shingle_rows,
    minhash_doc_sigs,
    shingle_rows,
    with_fingerprint,
    _words,
)

# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, key_cols: list[str], id_col: str
) -> DataFrame:
    """``dedup_exact`` — deterministic exact deduplication.

    Keeps the row with the minimum ``id_col`` per distinct ``key_cols``
    group. One hash-shuffle on the key; Catalyst plans partial + final
    aggregation so the map side already collapses local duplicates —
    at 100 TB the shuffle carries one row per distinct key per task,
    not one per input row.
    """
    return df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))


def distinct_count(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Cardinality-after-dedup per key — the cheap pre-pass that sizes a
    dedup job (exact ``count_distinct``; swap in
    ``approx_count_distinct`` when ±2% suffices at scale)."""
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(*[F.col(c) for c in key_cols]).alias("n_distinct"),
    )


def stream_dedup(
    df: DataFrame,
    key_cols: list[str],
    *,
    time_col: str | None = None,
    watermark_delay: str = "2 days",
    allow_unbounded_state: bool = False,
) -> DataFrame:
    """``dedup_stream`` — drop duplicate records in a stream, keyed on
    ``key_cols``, with state bounded by the watermark.

    An at-least-once upstream (the reference's Kafka audit feed, or any
    replayed file source) re-delivers records; this keeps the FIRST
    arrival per key and discards re-deliveries that arrive within
    ``watermark_delay`` of the stream's event-time frontier. State per
    key is just the key (no payload buffering) and is evicted once the
    watermark passes — bounded memory at any throughput, unlike a plain
    ``dropDuplicates`` whose state grows forever.

    Works on batch DataFrames too (plain ``dropDuplicates`` — complete
    data needs no watermark), so the same operator serves both the
    replay-test path and production streams.

    On a STREAMING DataFrame ``time_col`` is required: a silent fallback
    to plain ``dropDuplicates`` would be exactly the unbounded-state
    hazard this operator exists to prevent (state grows forever). Pass
    ``allow_unbounded_state=True`` to opt in explicitly (e.g. a
    short-lived test stream over a bounded replay).
    """
    if not df.isStreaming:
        return df.dropDuplicates(key_cols)
    if time_col is not None:
        df = df.withWatermark(time_col, watermark_delay)
        return df.dropDuplicatesWithinWatermark(key_cols)
    if not allow_unbounded_state:
        raise ValueError(
            "stream_dedup on a streaming DataFrame without time_col keeps "
            "one state entry per key FOREVER. Pass time_col (watermark-"
            "bounded state) or allow_unbounded_state=True to opt in."
        )
    return df.dropDuplicates(key_cols)


# --------------------------------------------------------------------------
# Shared pairs-from-postings machinery
# --------------------------------------------------------------------------


def _pair_explode(ids_col: str = "ids") -> Column:
    """All (ids[i], ids[j]) with i < j from a sorted id-array column —
    the in-place pair emission of the pairs-from-postings pattern (no
    self-join). Lists are sorted, so ``id_a < id_b`` by construction."""
    return F.flatten(
        F.transform(
            ids_col,
            lambda x, i: F.transform(
                F.slice(F.col(ids_col), i + 2, F.size(ids_col)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def bounded_posting_lists(
    keyed: DataFrame,
    key_cols: list[str],
    payload: Column | str,
    *,
    max_size: int | None,
    min_size: int = 2,
    pin_keyed: bool = True,
) -> DataFrame:
    """Per-key sorted posting lists ``(key_cols..., ids)`` where
    ``max_size`` bounds the aggregation BUFFER itself, not just the
    finished list.

    The naive form — ``collect_list`` then ``where(size(ids) <= cap)``
    (the r5 shape) — drops an over-cap key only AFTER one aggregation
    buffer has materialized its entire posting list. Spark's hash
    aggregation spills ACROSS groups, never within one, so a single hot
    key (a stopword token, a boilerplate shingle, a dup-saturated LSH
    bucket) with 10⁸ postings is gigabytes in ONE buffer row — an
    executor OOM on exactly the skewed input the cap exists for.

    Bounded form (``max_size`` set): per-key COUNTS run first — count
    buffers are constant-size and partial-aggregate map-side, so the
    count shuffle carries at most one 8-byte-key row per key per map
    task regardless of skew — and the over-cap key set (small by
    definition: only keys with df > cap, i.e. the stopword/boilerplate
    tail) anti-joins into the keyed rows BEFORE ``collect_list``. Every
    group reaching the list build then has ≤ ``max_size`` rows by
    construction. No broadcast hint on the anti-join: AQE broadcasts
    the blacklist from its runtime size, and an adversarial all-hot
    input degrades to a shuffle join instead of a driver OOM. Results
    are IDENTICAL to the naive form (the count equals the list length
    the old filter inspected).

    Both the count pass and the list build consume ``keyed``.
    ``pin_keyed=True`` (default) pins it with a lazy
    ``localCheckpoint`` so the subtree below (often a scan + tokenizer
    Arrow pass) executes ONCE structurally — AQE exchange reuse across
    Python-stage subtrees is a runtime maybe, not a guarantee — at the
    cost of materializing the keyed rows to executor memory/disk
    (MEMORY_AND_DISK; spills, never OOMs). ``pin_keyed=False`` trades
    that storage for recomputing the subtree in the count pass: prefer
    it when the subtree is a cheap column-pruned scan and the keyed
    rows are large relative to it.

    With ``max_size=None`` this is the plain single-aggregation build
    (no count pass, no pin) — the unbounded buffer is then the CALLER's
    stated contract, not an accident.
    """
    payload = F.col(payload) if isinstance(payload, str) else payload
    if max_size is not None:
        if pin_keyed:
            keyed = keyed.localCheckpoint(eager=False)
        counts = keyed.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_df"))
        # Null-safe anti-join (r7, ADVICE): a plain name-list anti-join
        # never matches NULL keys, so an over-cap NULL-keyed group would
        # bypass the cap — rebuilding the unbounded buffer the cap exists
        # to prevent AND surviving into results, breaking the identical-
        # results contract with the naive post-filter form. ``<=>`` makes
        # NULL groups cap exactly like any other key.
        hot = counts.where(F.col("_df") > max_size).select(
            *[F.col(c).alias(f"_hot_{c}") for c in key_cols]
        )
        cond = reduce(
            and_,
            [F.col(c).eqNullSafe(F.col(f"_hot_{c}")) for c in key_cols],
        )
        keyed = keyed.join(hot, cond, "left_anti")
    postings = keyed.groupBy(*key_cols).agg(
        F.sort_array(F.collect_list(payload)).alias("ids")
    )
    if min_size > 1:
        postings = postings.where(F.size("ids") >= min_size)
    return postings


def _postings_pairs(
    keyed: DataFrame,
    key_col: str,
    *,
    max_size: int | None,
    pin_keyed: bool = True,
) -> DataFrame:
    """Group ``(key, id)`` rows into per-key sorted posting lists and emit
    each list's id pairs in place (no self-join). ``max_size`` drops
    degenerate oversized groups *before* both the quadratic pair explode
    (a key shared by 10⁶ ids would emit ~10¹² pairs from one row) and —
    via :func:`bounded_posting_lists` — before the ``collect_list``
    buffer that would otherwise materialize the hot key's full posting
    list in one aggregation row. At scale such boilerplate keys only
    connect near-identical rows that their rarer keys connect anyway."""
    sized = bounded_posting_lists(
        keyed, [key_col], "id", max_size=max_size, pin_keyed=pin_keyed
    )
    return sized.select(F.explode(_pair_explode()).alias("p")).select(
        F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b")
    )


# --------------------------------------------------------------------------
# N-gram Jaccard near-dup (exact, inverted index)
# --------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """``dedup_ngram`` — all pairs with word-``k``-shingle Jaccard ≥
    ``threshold``, computed exactly via an inverted index.

    Plan: explode distinct shingles (hashed to 8-byte ``xxhash64`` keys —
    identical counts at ~2⁻⁶⁴ collision odds, a fraction of the shuffle
    bytes), each row carrying its document's distinct-shingle count
    ``n`` (free in the tokenizer pass) → ONE ``groupBy(shingle)``
    building each shingle's sorted ``struct(id, n)`` posting list →
    emit its id pairs in place (no self-join; the classic
    pairs-from-postings shape) → count common shingles per pair, with
    ``n_a``/``n_b`` popping out of the grouping key for free → Jaccard
    as a pure projection. Carrying ``n`` on the rows (the
    ``dedup_minhash`` r5 lesson) makes single tokenizer execution
    STRUCTURAL instead of optimizer-dependent: the previous sizes
    branch + two size joins put three logical references on the
    tokenizer subtree, and whether AQE's exchange reuse collapses them
    is a runtime optimization, not a guarantee (observed: one of the
    three references reused, i.e. the tokenizer + scan physically ran
    TWICE in the finalized adaptive plan). Now the final plan is one
    scan + one Python stage by construction (plan-gated in
    tests/test_plans.py). Measured honestly: at sf0.1 on local[32] the
    shapes are within ~5-10 % of each other (struct posting lists
    sort/compare/explode cost a bit more than bare ids, while the
    redundant tokenizer run overlapped on idle cores); at scale a
    whole redundant corpus scan + tokenize is the dominant cost and
    idle cores don't exist.

    Skew guard: ``max_shingle_df`` drops over-cap shingles BEFORE both
    the ``collect_list`` buffer and the quadratic pair explode
    (:func:`bounded_posting_lists` — r6: the r5 shape filtered the
    finished list, so one boilerplate shingle shared by 10⁶ docs still
    materialized its whole posting list in a single aggregation row
    before being dropped); such boilerplate shingles only connect
    near-identical docs that their rarer shingles connect anyway. Set
    it at corpus scale. With the cap active the tokenizer output is
    pinned (lazy ``localCheckpoint``) so the count pre-filter and the
    postings build share ONE tokenizer execution structurally; the
    corpus scan + Arrow pass then live inside the checkpointed lineage
    (the finalized plan shows ``Scan ExistingRDD``, still computed
    exactly once — plan-gated in tests/test_plans.py).

    Output: ``(id_a, id_b, jaccard)`` with ``id_a < id_b``.
    """
    shingled = shingle_rows(
        df, id_col=id_col, text_col=text_col, k=k, with_n=True
    ).select("id", F.xxhash64("sh").alias("shingle"), "n")
    paired = bounded_posting_lists(
        shingled, ["shingle"], F.struct("id", "n"), max_size=max_shingle_df
    )
    common = (
        paired.select(F.explode(_pair_explode()).alias("p"))
        .groupBy(
            F.col("p.id_a.id").alias("id_a"),
            F.col("p.id_a.n").alias("n_a"),
            F.col("p.id_b.id").alias("id_b"),
            F.col("p.id_b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.withColumn(
            "jaccard",
            F.col("common")
            / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# Span-level (substring) dedup
# --------------------------------------------------------------------------


def duplicated_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    scope: str = "cross",
    pin_shingles: bool = True,
) -> DataFrame:
    """``dedup_spans`` — substring-level duplicate detection: the maximal
    token spans covered by duplicated word-``k``-shingles.

    Document-level dedup (exact / minhash / simhash / ngram-Jaccard)
    misses PARTIAL duplication — the boilerplate header pasted into a
    million otherwise-distinct pages, the quoted paragraph, the
    templated footer. Span-level dedup finds the duplicated REGIONS.
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") locate exact duplicated substrings with a corpus suffix
    array; the w-gram formulation here is its join-friendly equivalent:
    a token is in a reported span iff some duplicated ``k``-gram covers
    it, so every duplicated substring of length ≥ ``k`` is recovered in
    full (shorter ones are below the resolution — the suffix-array
    method's length threshold plays the same role).

    Plan — 3 exchanges, no all-pairs join, no unbounded task state:

    1. :func:`~.text.positioned_shingle_rows` — narrow Arrow tokenizer
       pass emitting ``(id, pos, sh)`` per shingle occurrence.
    2. Duplicated-shingle set: ``groupBy(sh).agg(min(id), max(id),
       count)``. Deliberately NOT ``count_distinct(id)``: min/max/count
       have O(1) agg state and full map-side partial aggregation, so a
       boilerplate shingle occurring in 10M documents costs each map
       task ONE shuffle row — no distinct expansion, no hot-reducer
       blowup. ``scope='cross'`` keeps shingles seen in ≥2 distinct
       documents (``min(id) != max(id)``); ``scope='any'`` keeps any
       repeat, including within one document (``count >= 2``).
    3. Join occurrences back on ``sh`` (shuffle join; a hot shingle's
       probe rows split under AQE skew handling — the build side is one
       row per key).
    4. Per-doc maximal-interval merge (gaps-and-islands): ONE window
       over ``(id ORDER BY pos)`` serving both ``lag`` and the running
       island sum; islands break where the next duplicated shingle
       starts more than ``k`` after the previous (coverage gap). The
       final ``groupBy(id, island)`` reuses the window's hash
       partitioning on ``id`` — no fourth exchange.

    ``pin_shingles=True`` (default) pins the Arrow pass with a lazy
    ``localCheckpoint``: steps 2 and 3 are two consumers of the same
    MapInPandas subtree feeding DIFFERENT exchanges, and without the pin
    the tokenizer runs twice (ReuseExchange only deduplicates identical
    exchanges).

    Output: one row per maximal duplicated span —
    ``(id_col, span_start, span_end, span_len, n_dup_shingles)``, token
    indices 0-based, both ends inclusive.
    """
    from .text import positioned_shingle_rows

    if scope not in ("cross", "any"):
        raise ValueError(f"scope must be 'cross' or 'any', got {scope!r}")
    if k < 1:
        # k=0 would make every position an empty-string shingle shared
        # by ALL documents (whole corpus one giant "duplicated span")
        raise ValueError(f"k must be >= 1, got {k}")
    occ = positioned_shingle_rows(df, id_col=id_col, text_col=text_col, k=k)
    if pin_shingles:
        occ = occ.localCheckpoint(eager=False)
    stats = occ.groupBy("sh").agg(
        F.min("id").alias("_mn"),
        F.max("id").alias("_mx"),
        F.count(F.lit(1)).alias("_n"),
    )
    dup_cond = (
        F.col("_n") >= 2
        if scope == "any"
        else F.col("_mn") != F.col("_mx")
    )
    dup = stats.where(dup_cond).select("sh")
    hits = occ.join(dup, "sh")

    from pyspark.sql.window import Window

    w = Window.partitionBy("id").orderBy("pos")
    prev = F.lag("pos").over(w)
    island = F.sum(
        F.when(prev.isNull() | (F.col("pos") > prev + k), 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        hits.withColumn("_island", island)
        .groupBy("id", "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_shingles"),
        )
        .select(
            F.col("id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
            "n_dup_shingles",
        )
    )


def strip_spans(
    df: DataFrame,
    spans: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The actionable half of span-level dedup: REMOVE the token ranges
    :func:`duplicated_spans` reported, keeping everything else.

    ``spans`` is ``(id_col, span_start, span_end)`` rows (token indices,
    0-based inclusive — exactly :func:`duplicated_spans` output; extra
    columns are ignored). Documents without spans pass through intact.

    Token alignment: spans index the Java-``\\s``-run tokenization the
    dedup family uses. Whitespace runs are CASE-INSENSITIVE, so
    splitting the ORIGINAL text yields the same token boundaries as the
    lowercased dedup pass — original casing is preserved; original
    whitespace is normalized to single spaces in the output (the same
    canonicalization ``with_fingerprint`` applies).

    Plan: aggregate spans to one array per doc (bounded: a doc has at
    most tokens/k spans), ONE left join on the id (docs without spans
    keep NULL → empty array), then pure scan-side array expressions —
    split once into an ATTRIBUTE (higher-order array functions are
    interpreted and would re-split per token if handed the raw
    expression), index-aware ``filter`` with an ``exists`` probe of the
    per-doc span array, ``concat_ws`` back. No shuffle beyond the span
    aggregation + join.

    Output: input columns with ``text_col`` replaced by the cleaned
    text, plus ``n_tokens_removed``.

    Note: removing a span can make its neighbours adjacent and thereby
    CREATE a new k-gram across the seam; one strip pass removes every
    span it was given, it does not guarantee a re-run of
    :func:`duplicated_spans` finds nothing (run detect→strip to a fixed
    point if that matters — each pass strictly shrinks the corpus).
    """
    span_arrays = spans.groupBy(F.col(id_col).alias("_sid")).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("_spans")
    )
    trimmed = F.regexp_replace(
        F.col(text_col), r"^[\s]+|[\s]+$", ""
    )
    joined = (
        df.join(
            span_arrays, df[id_col] == span_arrays["_sid"], "left"
        )
        .drop("_sid")
        .withColumn(
            "_spans",
            F.coalesce(
                "_spans",
                F.array().cast("array<struct<s:bigint,e:bigint>>"),
            ),
        )
        .withColumn(
            "_w",
            F.when(
                F.length(trimmed) == 0, F.array().cast("array<string>")
            ).otherwise(F.split(trimmed, r"[\s]+")),
        )
    )
    kept = F.filter(
        F.col("_w"),
        lambda w, i: ~F.exists(
            F.col("_spans"),
            lambda sp: (i.cast("bigint") >= sp["s"])
            & (i.cast("bigint") <= sp["e"]),
        ),
    )
    out_cols = [c for c in df.columns if c != text_col]
    return joined.select(
        *out_cols,
        F.concat_ws(" ", kept).alias(text_col),
        (F.size("_w") - F.size(kept)).cast("bigint").alias(
            "n_tokens_removed"
        ),
    )


# --------------------------------------------------------------------------
# MinHash + LSH banding (sub-quadratic scale path)
# --------------------------------------------------------------------------


def _hex40(digest: Column, start: int) -> Column:
    """Integer value of 10 hex digits of an md5 hex digest (40 bits —
    small enough that ``a + 63·b`` stays far below 2⁶³ in both engines)."""
    return F.conv(F.substring(digest, start, 10), 16, 10).cast("bigint")


def _minhash_keyed(
    rows: DataFrame, hash_family: str
) -> tuple[DataFrame, list[str], "Callable[[int], Column]"]:
    """Project ``(id, sh)`` shingle rows to hashed key columns + the i-th
    hash expression of a MinHash family over those keys.

    ``xxhash64`` (production default): key = xxhash64(shingle), hᵢ =
    xxhash64(key, i) — 8-byte keys, cheapest shuffle, not reproducible in
    SQL oracles.

    ``md5``: ONE md5 per shingle row split into two 40-bit ints (k1, k2)
    that serve as BOTH the 80-bit shingle identity and the hash family
    hᵢ = k1 + i·k2 — the standard two-hash affine construction (Kirsch &
    Mitzenmacher 2006). md5 + hex arithmetic exist verbatim in DuckDB, so
    the whole pipeline is oracle-checkable; the digest is hoisted into
    real columns so the minima never recompute md5 per expression.
    """
    if hash_family == "xxhash64":
        keyed = rows.select("id", F.xxhash64("sh").alias("k1"))
        return keyed, ["k1"], lambda i: F.xxhash64(F.col("k1"), F.lit(i))
    if hash_family == "md5":
        digest = F.md5(F.col("sh"))
        keyed = rows.select(
            "id", _hex40(digest, 1).alias("k1"), _hex40(digest, 11).alias("k2")
        )
        return keyed, ["k1", "k2"], (
            lambda i: F.col("k1") + F.lit(i) * F.col("k2")
        )
    raise ValueError(f"hash_family must be 'xxhash64' or 'md5', got {hash_family!r}")


def minhash_signatures(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per document: for each of ``num_hashes`` hash
    functions, the minimum hash over the document's shingle set. One
    narrow projection — the signature is ``num_hashes`` fixed-width
    values regardless of document size, which is what makes the LSH
    join's shuffle volume independent of text length.
    """
    # Explode shingles to rows and compute the minima as ``num_hashes``
    # plain min() aggregations: every hash is then a whole-stage-codegen
    # projection (array higher-order functions are interpreted per element —
    # observed ~4× slower), and the map-side partial aggregation collapses
    # each task to one row per doc before the shuffle.
    shingled = shingle_rows(df, id_col=id_col, text_col=text_col, k=k)
    keyed, _, h = _minhash_keyed(shingled, hash_family)
    mins = keyed.groupBy("id").agg(
        *[F.min(h(i)).alias(f"h{i}") for i in range(num_hashes)]
    )
    return mins.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


#: Modulus / multiplier of the ``'affine'`` band-key fold. M = 2⁴⁰ keeps
#: the key in the same 40-bit space as the md5-prefix variant; P ≈ 2²⁰ so
#: every intermediate (acc·P + hᵢ < 2⁶⁰ + 2⁴⁶) stays far inside a signed
#: 64-bit integer — Spark wraps silently on overflow but DuckDB RAISES,
#: so the bound is a correctness requirement of the oracle, not a nicety.
_AFFINE_M = 1 << 40
_AFFINE_P = 1_000_003


def _band_key(bucket_hash: str, rows_per_band: int, b: int) -> Column:
    """The ``b``-th band's bucket key over a ``sig`` array column — one
    fixed-width BIGINT per (doc, band) in all three variants (see
    :func:`lsh_candidate_pairs` for the trade-offs)."""
    if bucket_hash == "affine":
        acc: Column = F.lit(b).cast("bigint")
        for r in range(rows_per_band):
            h_el = F.element_at("sig", b * rows_per_band + r + 1)
            acc = (acc * F.lit(_AFFINE_P) + h_el) % F.lit(_AFFINE_M)
        return acc
    joined = F.concat_ws(
        "|",
        F.lit(str(b)),
        *[
            F.element_at("sig", b * rows_per_band + r + 1).cast("string")
            for r in range(rows_per_band)
        ],
    )
    if bucket_hash == "xxhash64":
        return F.xxhash64(joined)
    return _hex40(F.md5(joined), 1)


def lsh_candidate_pairs(
    signatures: DataFrame,
    *,
    bands: int,
    rows_per_band: int,
    max_bucket_size: int | None = None,
    bucket_hash: str = "xxhash64",
    hash_family: str | None = None,
) -> DataFrame:
    """LSH banding: docs agreeing on all ``rows_per_band`` minima of any
    band become a candidate pair. Band key = hash of (band index ‖ the
    band's minima) — ONE fixed-width BIGINT per (doc, band), so the
    shuffle moves 8-byte keys, not ~80-char minima strings. Then ONE
    ``groupBy(bkey)`` builds each bucket's posting list and emits its
    pairs in place (pairs-from-postings — no self-join, and the bucket
    size is visible for the skew cap). Shuffle volume O(docs · bands),
    never O(n²).

    ``bucket_hash``:

    - ``'xxhash64'`` (production) — one JVM hash over the stringified
      band minima;
    - ``'affine'`` — a polynomial fold over the minima as INTEGERS,
      ``acc = (acc·P + hᵢ) mod 2⁴⁰`` seeded with the band index: pure
      codegen'd bigint arithmetic (no md5, no string concat — the r2
      profile showed that expression tax dominating the query) and
      reproducible verbatim in DuckDB, so oracle-checked pipelines get
      hashing at integer-math cost;
    - ``'md5'`` — 40-bit md5 prefix of the stringified minima (the r2
      oracle construction; kept for baseline comparability).

    A ~2⁻⁴⁰ key collision in either 40-bit variant only adds a false
    *candidate*, which downstream exact verification discards.

    ``max_bucket_size`` drops degenerate buckets (e.g. thousands of
    identical boilerplate docs) whose pair explosion would be quadratic;
    their members still pair through their other, more selective bands.

    ``hash_family`` (optional hint): the family that produced ``sig``;
    when given, the affine/xxhash64 overflow hazard is rejected eagerly
    instead of silently wrapping (or erroring under ANSI mode) at run
    time.
    """
    if bucket_hash not in ("xxhash64", "md5", "affine"):
        raise ValueError(
            f"bucket_hash must be 'xxhash64', 'md5' or 'affine', got {bucket_hash!r}"
        )
    if bucket_hash == "affine" and hash_family is not None and hash_family != "md5":
        # see minhash_near_dup_pairs: the affine fold overflows on
        # full-range signed-64 minima (xxhash64 family)
        raise ValueError(
            "bucket_hash='affine' requires md5-family signatures (bounded "
            f"nonnegative minima); got hash_family={hash_family!r}"
        )
    banded = signatures.select(
        "id",
        F.explode(
            F.array(
                *[_band_key(bucket_hash, rows_per_band, b) for b in range(bands)]
            )
        ).alias("bkey"),
    )
    return _postings_pairs(banded, "bkey", max_size=max_bucket_size).distinct()


def minhash_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    hash_family: str = "xxhash64",
    bucket_hash: str | None = None,
    max_shingle_df: int | None = None,
    max_bucket_size: int | None = None,
    persist: bool = False,
    pre_dedup: bool = True,
    max_group_size: int | None = None,
) -> DataFrame:
    """``dedup_minhash`` — end-to-end near-dup detection: exact-dup
    collapse → MinHash → LSH candidates → exact Jaccard verification
    *of candidates only* → dup-group re-expansion.

    With b=16, r=4 the candidate-recall S-curve crosses ~0.5 probability
    at s ≈ (1/b)^(1/r) ≈ 0.5, matching the default threshold; the exact
    verification then removes false positives, so precision is 1.0 and
    only recall is probabilistic (tunable via bands) — EXCEPT for exact
    duplicates, whose recall is 1.0 deterministically via the pre-pass
    below.

    Plan (r5 shape):

    1. **Signatures in the scan pass.** Each document is ONE input row,
       so its shingle set — and its complete MinHash signature — is
       local to the map task. The md5 family computes (id, fingerprint,
       sig, n_sh) wholly inside the Arrow tokenizer pass
       (``text.minhash_doc_sigs``): no shingle-row shuffle, no
       65-buffer hash aggregation (the r4 plan's dominant cost —
       measured 1.7 s → 0.6 s for the signature subtree at sf0.1). The
       xxhash64 family keeps the JVM exploded-rows + min-agg path
       (xxhash64 is not reproducible Python-side).
    2. **Exact-dup collapse (``pre_dedup``, default on).** Signatures
       are collapsed per normalized-text fingerprint
       (``text.with_fingerprint``) — ``min(struct(id, sig, n_sh))``
       keyed on the fingerprint, one slim shuffle — so each distinct
       text enters LSH banding, bucketing, and verification ONCE. On
       real corpora (20-40 % exact dups) this removes the dup share of
       every shuffle and of the quadratic bucket work; identical docs
       also stop inflating LSH buckets toward ``max_bucket_size``
       (which previously could silently drop a popular doc's buckets
       and lose its near-dup pairs).
    3. **Banding → buckets → candidates** as before: one fixed-width
       BIGINT band key per (rep, band); ONE ``groupBy(bkey)`` builds
       posting lists; ``[2, max_bucket_size]`` buckets yield the
       candidate REP set with n_sh riding the explode.
    4. **Candidates-only verify**: the candidate-id semi join filters
       the ORIGINAL documents (candidate ids are rep ids ⊆ doc ids), so
       the second Arrow tokenizer pass touches only candidate docs;
       shingle postings (``max_shingle_df``-capped) emit pairs in
       place; exact Jaccard filters at ``threshold``.
    5. **Re-expansion.** Verified rep pairs fan out across their dup
       groups (all members share the rep's shingle set, so the Jaccard
       value carries over exactly), and each multi-member group with at
       least one shingle emits its intra-group pairs at Jaccard 1.0 —
       identical shingle sets are near-dups by definition, regardless
       of banding luck or bucket caps. The group map is a SLIM second
       lineage (id + fingerprint only, no text payload), pinned with a
       LAZY ``localCheckpoint`` so its three consumers (intra pairs,
       two expansion joins) evaluate the fingerprint aggregation once —
       ReusedExchange does NOT fire across those subtrees (verified
       empirically), so without the pin each consumer would re-run it.
       ``max_group_size`` caps degenerate dup groups (one boilerplate
       text repeated 10⁶ times — empty pages, "404 not found") whose
       intra-pair explode would be quadratic in the group, exactly like
       ``max_bucket_size`` for LSH buckets: an over-cap group is
       dropped from the dup map entirely (its rep still competes in
       LSH; the members' pairs are forfeited — the same documented
       bounded-work-for-recall trade as an over-cap bucket).

    Doc-level candidacy verifies slightly MORE pairs than pair-level
    (two candidate docs that never co-bucketed still get checked if
    they share a shingle) — every extra emitted pair is a true
    ≥-threshold near-dup, so precision stays 1.0 and recall can only
    rise. The quadratic work stays restricted to band-colliding
    distinct texts — the whole point of LSH at 100 TB — and
    ``max_shingle_df`` caps the verify posting lists against
    boilerplate shingles shared by many candidates.

    ``hash_family='md5'`` makes every step DuckDB-reproducible (the
    driver's oracle); ``'xxhash64'`` is the cheaper production default.
    ``bucket_hash`` defaults per family: ``'xxhash64'`` for the xxhash64
    family, ``'affine'`` (integer polynomial fold — no md5/string tax,
    still DuckDB-verbatim; requires the md5 family's bounded nonnegative
    minima to stay overflow-free under ANSI arithmetic) for md5.
    ``max_bucket_size`` caps degenerate LSH buckets; ``max_shingle_df``
    additionally caps verify-side posting lists.

    ``pre_dedup=False`` restores the r4 semantics (exact dups compete
    inside LSH like any other doc; a dup-saturated bucket can exceed
    ``max_bucket_size`` and drop its pairs). Corpus-dependence of the
    verify cost on this synthetic word-salad corpus (91 % of docs
    band-collide with SOMETHING) is discussed in BASELINE.md; on real
    corpora background Jaccard is far lower and candidates ≪ corpus.

    ``persist=True`` caches the signature table (and, for the xxhash64
    family, the keyed shingle rows) at ``MEMORY_AND_DISK``. CALLER
    CONTRACT: the caches outlive this call — release with
    ``spark.catalog.clearCache()`` (or track handles yourself) in
    long-lived sessions. Default False — the recompute is cheaper than
    the cache churn at every scale measured (BASELINE.md r3 note).
    """
    from pyspark.storagelevel import StorageLevel

    def _p(d: DataFrame) -> DataFrame:
        return d.persist(StorageLevel.MEMORY_AND_DISK) if persist else d

    rows_per_band = num_hashes // bands
    if hash_family == "md5":
        # hash fused into the Arrow tokenizer pass: hashlib.md5 at C
        # speed replaces a JVM conv(substring(md5(...))) pair per shingle
        # row (the r2 expression-tax hot spot) and the shuffle carries
        # 24 B of fixed-width ints instead of shingle strings
        def keyed_rows(src: DataFrame) -> DataFrame:
            return hashed_shingle_rows(
                src, id_col=id_col, text_col=text_col, k=k, with_n=True
            )

        key_cols = ["k1", "k2"]
    elif hash_family == "xxhash64":

        def keyed_rows(src: DataFrame) -> DataFrame:
            shingled = shingle_rows(
                src, id_col=id_col, text_col=text_col, k=k, with_n=True
            )
            return shingled.select("id", F.xxhash64("sh").alias("k1"), "n")

        key_cols = ["k1"]
        h = lambda i: F.xxhash64(F.col("k1"), F.lit(i))  # noqa: E731
    else:
        raise ValueError(
            f"hash_family must be 'xxhash64' or 'md5', got {hash_family!r}"
        )
    if bucket_hash is None:
        bucket_hash = "xxhash64" if hash_family == "xxhash64" else "affine"
    if bucket_hash == "affine" and hash_family != "md5":
        # xxhash64 minima span the full signed-64 range, so the affine
        # fold acc·P + hᵢ overflows — silent wraparound in default Spark
        # and a runtime error under spark.sql.ansi.enabled=true. The fold
        # is only sound for the md5 family's bounded nonnegative minima.
        raise ValueError(
            "bucket_hash='affine' requires hash_family='md5' (bounded "
            f"nonnegative minima); got hash_family={hash_family!r}"
        )

    slim = df.select(F.col(id_col), F.col(text_col))
    if pre_dedup:
        staged = with_fingerprint(slim, text_col)
        # slim dup-group map (no text payload): rep = min id, sorted
        # member list, and whether the group's docs shingle at all
        # (groups below k words never entered the old pipeline either).
        # Shingle-ability is derived from the fingerprint's NORMALIZED
        # text (whitespace runs already collapsed to single spaces):
        # word count = spaces + 1 — two string-length ops instead of a
        # second regex split per document (measured 0.62 s → 0.2 s per
        # evaluation of this subtree at sf0.1).
        norm = F.trim(
            F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
        )
        n_words = F.when(F.length(norm) == 0, F.lit(0)).otherwise(
            F.length(norm) - F.length(F.replace(norm, F.lit(" "))) + 1
        )
        slim_fp = staged.select(
            F.col(id_col).alias("id"),
            "fingerprint",
            (n_words >= k).alias("sh_ok"),
        )
        if max_group_size is not None:
            # drop degenerate groups BEFORE their member lists ever
            # build (r6, the bounded_posting_lists pattern): per-
            # fingerprint COUNTS (constant-size buffers, map-side
            # partial) find the over-cap groups — one boilerplate text
            # repeated 10⁶ times would otherwise sit as an 8 MB members
            # list in a single aggregation buffer before the old
            # size-filter dropped it — and the tiny hot set anti-joins
            # the slim rows ahead of collect_list; the intra-pair
            # explode (quadratic in the group) is bounded a fortiori.
            # The slim (id, fingerprint, sh_ok) projection is pinned so
            # the count pass and the group build share one evaluation
            # of the fingerprint pass instead of re-scanning the corpus.
            slim_fp = slim_fp.localCheckpoint(eager=False)
            hot_fp = (
                slim_fp.groupBy("fingerprint")
                .agg(F.count(F.lit(1)).alias("_m"))
                .where(F.col("_m") > max_group_size)
                .select(F.col("fingerprint").alias("_hot_fp"))
            )
            # null-safe: md5(NULL text) = NULL fingerprint; a plain
            # anti-join would let an over-cap NULL-text group bypass
            # the cap (same contract as bounded_posting_lists, r7)
            slim_fp = slim_fp.join(
                hot_fp,
                F.col("fingerprint").eqNullSafe(F.col("_hot_fp")),
                "left_anti",
            )
        dup_groups = (
            slim_fp.groupBy("fingerprint")
            .agg(
                F.min("id").alias("rid"),
                F.sort_array(F.collect_list("id")).alias("members"),
                F.max("sh_ok").alias("sh_ok"),
            )
            .where(F.size("members") >= 2)
        )
        # LAZY localCheckpoint: three consumers (intra pairs + two
        # expansion broadcasts) would each re-run the fingerprint
        # aggregation (no ReusedExchange fires across them — verified
        # empirically); the checkpoint materializes this tiny relation
        # (dup groups only) once, on first use, with no eager action at
        # plan-construction time
        dup_groups = dup_groups.localCheckpoint(eager=False)
    # signature relation: (id, sig), one row per distinct text
    # (pre_dedup) or per doc, docs with ≥ k words only
    if hash_family == "md5":
        if pre_dedup:
            # sigs for ALL docs in the (fully parallel, scan-side) Arrow
            # pass, then ONE min(struct(id, sig)) collapse per
            # fingerprint. Collapsing BEFORE the Arrow pass was measured
            # SLOWER here: the fingerprint aggregation's output is a
            # shuffle AQE coalesces to few partitions, serializing the
            # compute-heavy Python stage that follows (1.3 s vs 0.78 s
            # at sf0.1) — and dup docs' signatures are identical bytes
            # the min() collapse discards for free. At dup-heavy corpus
            # scale the wasted sig CPU for dups is scan-parallel while
            # the alternative's extra text-carrying exchange is not.
            stats = minhash_doc_sigs(
                staged,
                id_col=id_col,
                text_col=text_col,
                k=k,
                num_hashes=num_hashes,
                carry_col="fingerprint",
            )
            sigs = _p(
                stats.groupBy("carry")
                .agg(F.min(F.struct("id", "sig")).alias("r"))
                .select("r.id", "r.sig")
            )
        else:
            sigs = _p(
                minhash_doc_sigs(
                    slim,
                    id_col=id_col,
                    text_col=text_col,
                    k=k,
                    num_hashes=num_hashes,
                )
            )
    else:
        if pre_dedup:
            # rep docs WITH text for the JVM tokenizer: one
            # min(struct(id, text)) agg per fingerprint
            work = (
                staged.groupBy("fingerprint")
                .agg(
                    F.min(
                        F.struct(
                            F.col(id_col).alias("_i"),
                            F.col(text_col).alias("_t"),
                        )
                    ).alias("r")
                )
                .select(
                    F.col("r._i").alias(id_col), F.col("r._t").alias(text_col)
                )
            )
        else:
            work = slim
        keyed = _p(keyed_rows(work))
        per_doc = keyed.groupBy("id").agg(
            *[F.min(h(i)).alias(f"h{i}") for i in range(num_hashes)]
        )
        sigs = _p(
            per_doc.select(
                "id",
                F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias(
                    "sig"
                ),
            )
        )

    # banding: one fixed-width BIGINT key per (doc, band); buckets in
    # [2, max_bucket_size] yield the candidate-id set. Nothing else
    # rides the explode — per-doc sizes come from the verify tokenizer
    # itself (below), so this whole signature subtree is referenced
    # exactly ONCE: single execution is structural, not dependent on
    # AQE exchange reuse collapsing duplicate references (a runtime
    # optimization, not a guarantee — the r4 shape carried three
    # logical references via the candidate join plus two size joins,
    # and finalized plans showed reuse recovering them only sometimes).
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[_band_key(bucket_hash, rows_per_band, b) for b in range(bands)]
            )
        ).alias("bkey"),
    )
    # r6: the bucket cap bounds the collect_list BUFFER, not just the
    # finished bucket (bounded_posting_lists: count pre-filter + anti-
    # join before the list build; a dup-saturated bucket of 10⁶ reps
    # would otherwise materialize fully in one aggregation row). With
    # the cap active the slim (id, bkey) banding output is pinned so
    # the signature subtree still executes exactly once structurally.
    buckets = bounded_posting_lists(
        banded, ["bkey"], "id", max_size=max_bucket_size
    )
    # no .distinct(): the LEFT SEMI join below only tests existence, so
    # duplicate candidate ids (one per surviving band) are harmless and
    # dropping the dedup saves a full exchange
    cand_ids = buckets.select(F.explode("ids").alias("id"))
    # verify tail restricted BEFORE the tokenizer: candidate ids are doc
    # ids (reps ⊆ docs), so the semi join filters the ORIGINAL documents
    # and the second Arrow tokenizer pass touches only candidate docs —
    # at corpus scale candidates ≪ corpus. The pass emits each doc's
    # distinct-shingle count n on every row (with_n=True): the sizes a
    # Jaccard needs then ride the posting lists as struct(id, n) and the
    # two post-aggregation size joins of the r4 plan disappear.
    # NO broadcast hint: "candidates ≪ corpus" is a fraction, not an
    # absolute — on a high-overlap corpus the candidate-id set can be
    # 10⁹ rows, far past any broadcast threshold, and a forced broadcast
    # would OOM the driver. AQE sees the runtime size and picks
    # broadcast when the set is genuinely small (it is, at every test
    # SF — and letting the two join inputs build as independent stages
    # measured equal-or-faster locally than the serialized
    # broadcast-build-then-probe shape).
    cand_docs = slim.join(
        cand_ids.withColumnRenamed("id", id_col),
        id_col,
        "left_semi",
    )
    verify_rows = keyed_rows(cand_docs)
    # r6: the shingle-df cap likewise bounds the verify posting-list
    # buffer (a boilerplate shingle shared by most candidates would
    # otherwise buffer its whole list before the old size filter); the
    # candidate-only tokenizer output is pinned so the count pre-filter
    # does not re-run the Arrow pass.
    vposts = bounded_posting_lists(
        verify_rows,
        list(key_cols),
        F.struct("id", "n"),
        max_size=max_shingle_df,
    )
    # posting elements are struct(id, n) — ids are unique so the sort and
    # the i<j pair property behave exactly as with bare ids, and n_a/n_b
    # pop out of the pair-count groupBy for free (n is functionally
    # dependent on id: the widened grouping key has identical cardinality)
    common = (
        vposts.select(F.explode(_pair_explode()).alias("p"))
        .groupBy(
            F.col("p.id_a.id").alias("id_a"),
            F.col("p.id_a.n").alias("n_a"),
            F.col("p.id_b.id").alias("id_b"),
            F.col("p.id_b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    rep_pairs = (
        common.withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    if not pre_dedup:
        return rep_pairs

    # re-expansion: a verified (rep_a, rep_b, j) pair holds for every
    # (member_a, member_b) cross pair — members share their rep's exact
    # shingle set. Non-dup reps expand to themselves via the coalesce.
    # No broadcast hint (dup-group count scales with the corpus; AQE
    # broadcasts when small); the lazy checkpoint above makes extra
    # references to the dup-group map cheap either way.
    mgrp = dup_groups.select("rid", "members")
    expanded = (
        rep_pairs.join(
            mgrp.alias("_ga"),
            F.col("id_a") == F.col("_ga.rid"),
            "left",
        )
        .join(
            mgrp.alias("_gb"),
            F.col("id_b") == F.col("_gb.rid"),
            "left",
        )
        .withColumn("_ma", F.coalesce(F.col("_ga.members"), F.array("id_a")))
        .withColumn("_mb", F.coalesce(F.col("_gb.members"), F.array("id_b")))
        .select("jaccard", F.explode("_ma").alias("_a"), "_mb")
        .select("jaccard", "_a", F.explode("_mb").alias("_b"))
        .select(
            F.least("_a", "_b").alias("id_a"),
            F.greatest("_a", "_b").alias("id_b"),
            "jaccard",
        )
    )
    if threshold > 1.0:
        return expanded
    # identical texts are Jaccard-1.0 near-dups by definition: emit every
    # intra-group pair deterministically (recall 1.0 for exact dups, no
    # banding luck, no bucket-cap loss); groups below k words never had
    # a shingle set and are skipped, like everywhere else
    intra = (
        dup_groups.where("sh_ok")
        .select(F.explode(_pair_explode("members")).alias("p"))
        .select(
            F.col("p.id_a").alias("id_a"),
            F.col("p.id_b").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return expanded.unionByName(intra)



#: Adaptive pointer-jumping trigger (``pointer_jumping=None``): if the
#: labeling has not converged after this many propagation rounds, the
#: graph is not the dense clique-ish near-dup shape the plain loop is
#: tuned for — switch the remaining rounds to label-doubling. Dense
#: near-dup graphs converge in round 2 (round 1 is the fused
#: min(id, neighbors) aggregation) and never reach the trigger; a
#: graph still changing at round 3 pays one extra O(|V|) self-join
#: per remaining round and halves its remaining diameter each round.
_JUMP_AFTER_ROUNDS = 2


def near_dup_clusters(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    pointer_jumping: "bool | None" = None,
) -> DataFrame:
    """``dedup_cluster`` — connected components over a near-dup pair
    graph: every doc in a component gets the component's MINIMUM doc id
    as ``cluster_id`` (the deterministic canonical representative — the
    survivor a dedup pipeline keeps; everything else in the cluster is
    the removal set). This is the step that turns pairwise near-dup
    output (``dedup_ngram`` / ``dedup_minhash``) into actionable
    dedup groups: near-duplication is transitive in practice (A≈B≈C
    chains), and pairs alone can't answer "which docs do I drop".

    Algorithm: iterative min-label propagation. Each round every node
    takes ``min(own label, min of neighbors' labels)``; converged when
    a round changes nothing. Rounds needed = component diameter;
    near-dup components are dense (clique-ish — members share most
    shingles), so 2-3 rounds in practice. The known pathological case —
    a long chain, diameter ~n — is handled by POINTER JUMPING
    (label-doubling): a jumping round also compresses labels through
    themselves (``label ← min(label, label(label(x)))``, one extra
    O(|V|) self-join per round), which roughly halves the unresolved
    path length every round — O(log diameter) total rounds.
    ``pointer_jumping=None`` (default, r16) is ADAPTIVE: plain rounds
    first, and if the labeling has not converged after
    ``_JUMP_AFTER_ROUNDS`` propagation rounds (a dense graph is long
    done by then) the remaining rounds jump — dense graphs never pay
    the extra join, chain graphs degrade to O(log d) instead of O(d).
    ``True`` jumps from round 2; ``False`` never jumps and relies on
    ``max_iters`` to turn an unexpected chain into a loud error
    instead of a silent wrong answer.

    Cost model per round (r16 shape): ONE join (labels into the
    symmetrized edges, keyed on doc id) + ONE min-aggregation over the
    joined rows UNIONED with the labels themselves — each vertex's own
    label rides the aggregation as a tagged row, so ``min`` over the
    group IS ``min(own, neighbors)`` and the round needs no second
    re-attach join (the pre-r16 shape ran join → agg → left-join: one
    more join, one more broadcast, one more AQE stage per round). The
    convergence signal is a ``changed`` flag fused into the same
    aggregation (labels only ever decrease, so ``new < old`` is exact;
    ``old`` = the tagged own-label row), counted with a cheap scan of
    the just-checkpointed frame. Round 1 is fused further:
    ``min(id, min(neighbors))`` is a single aggregation over the edge
    list (every node appears as ``src`` in the symmetrized edges).
    Each round's labels are ``localCheckpoint``-ed: without it round k
    re-evaluates all k-1 prior joins from scratch (lazy lineage),
    turning the loop quadratic — the checkpoint makes every round O(1)
    joins and bounds the plan depth, at the cost of caching O(|V|)
    label rows per round.

    Output: ``(doc_id, cluster_id)`` for every doc that appears in at
    least one pair (singletons are their own cluster trivially — left
    out so the output size is O(near-dups), not O(corpus))."""
    # checkpointed: the edge list joins into EVERY round — without this
    # each round would re-run the (expensive) upstream pair pipeline.
    # Symmetrized with ONE explode instead of a self-union (r15): the
    # union form referenced the pair pipeline twice, re-running its
    # post-shuffle tail (jaccard projection + threshold filter) once
    # per branch during edge materialization. Hash-partitioned by the
    # JOIN key (``dst``) with an EXPLICIT partition count BEFORE the
    # pin (r16, guide §2.4): ``localCheckpoint`` records the physical
    # partitioning on the LogicalRDD, so every round's
    # ``edges.dst == labels.id`` join sees the edge side already
    # clustered and only ever moves the O(|V|) label side — without it
    # each round re-shuffles the O(|E|) edge relation (per-round
    # exchanges of the biggest relation in the loop, observed as one
    # full cache scan + shuffle write per round). Explicit count: AQE
    # would coalesce an unnumbered repartition, and a coalesced
    # exchange reports no usable output partitioning. LAZY pin: the
    # round-1 convergence count is the first action and materializes
    # edges as its parent — an eager pin here is one whole extra job.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .repartition(
            pairs.sparkSession.sparkContext.defaultParallelism, "dst"
        )
        .localCheckpoint(eager=False)
    )
    # round 1, fused: label = min(id, min(direct neighbors)) in one agg.
    # LAZY checkpoint (r15): the first loop round's convergence count is
    # the next action anyway — it materializes this RDD as its parent,
    # so the eager pin's own job is pure overhead (one job per round
    # saved; the RDD is still cached before round 2 reads it twice).
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nmin"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("nmin")).alias("label"),
        )
        .localCheckpoint(eager=False)
    )
    rounds_done = 1
    for _ in range(max_iters - 1):
        jumping = (
            pointer_jumping
            if pointer_jumping is not None
            else rounds_done >= _JUMP_AFTER_ROUNDS
        )
        # ONE join + ONE aggregation: neighbors' labels and each
        # vertex's own label meet in the same groupBy — `min` over the
        # group is min(own, neighbors), and the tagged own-label row
        # doubles as `old` for the fused convergence flag (labels only
        # ever decrease, so new < old is exact). The pre-r16 shape
        # re-attached `old` with a second (left) join per round.
        neighbor_leg = edges.join(labels, edges.dst == labels.id).select(
            F.col("src").alias("id"), "label", F.lit(False).alias("own")
        )
        self_leg = labels.select("id", "label", F.lit(True).alias("own"))
        prop = (
            neighbor_leg.unionByName(self_leg)
            .groupBy("id")
            .agg(
                F.min("label").alias("new_label"),
                F.max(F.when(F.col("own"), F.col("label"))).alias(
                    "old_label"
                ),
            )
        )
        if jumping:
            # label ← label(label): every label is itself a node id, so
            # chase it one hop through the propagated labels. The LAZY
            # checkpoint pins `prop` so its two roles (relation +
            # lookup side) evaluate once — materialized by the same
            # count action as the round itself (no extra job; the
            # pre-r16 eager pin cost one). Unresolved path lengths
            # halve per round ⇒ O(log diameter) total rounds.
            prop = prop.localCheckpoint(eager=False)
            lut = prop.select(
                F.col("id").alias("_jid"), F.col("new_label").alias("_jlabel")
            )
            prop = prop.join(
                lut, prop.new_label == F.col("_jid"), "left"
            ).select(
                "id",
                F.least(
                    F.col("new_label"),
                    F.coalesce(F.col("_jlabel"), F.col("new_label")),
                ).alias("new_label"),
                "old_label",
            )
        # lazy pin + count in ONE action: the count job materializes the
        # checkpoint RDD (full rows cached; the `changed` filter applies
        # above the cache), so each round costs one job, not two
        new_labels = prop.select(
            "id",
            F.col("new_label").alias("label"),
            (F.col("new_label") < F.col("old_label")).alias("changed"),
        ).localCheckpoint(eager=False)
        changed = new_labels.where("changed").count()
        labels = new_labels.drop("changed")
        rounds_done += 1
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iters} rounds — "
            "component diameter exceeds max_iters (degenerate chain "
            "graph); raise max_iters, or pass pointer_jumping=True "
            "(label-doubling: O(log diameter) rounds at one extra "
            "self-join per round)"
        )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 32


def _hex_digit_value(digest: Column, pos: int) -> Column:
    """Value 0–15 of the ``pos``-th (1-indexed) hex digit of a digest."""
    return (
        F.instr(F.lit("0123456789abcdef"), F.substring(digest, pos, 1)) - 1
    )


def simhash(df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """``dedup_simhash`` — 32-bit SimHash fingerprint per document.

    For each bit j: sum over distinct tokens of (2·bit_j(md5(token)) − 1);
    fingerprint bit j = (sum > 0). Documents within small hamming distance
    are near-dup candidates. md5-hex bit extraction (not murmur3) keeps
    the computation reproducible in the DuckDB oracle.

    Implementation is a single explode → aggregate: 32 conditional sums in
    one hash aggregation, shuffle keyed by doc id.
    """
    # md5 hoisted into ONE materialized column: the 32 bit expressions
    # then reference it directly instead of each embedding an md5(tok)
    # call and relying on Catalyst subexpression elimination (which holds
    # in codegen'd projections but is fragile inside aggregates).
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(_words(F.col(text_col)))).alias("tok"),
    ).select("id", F.md5(F.col("tok")).alias("digest"))
    bit_sums = []
    for j in range(SIMHASH_BITS):
        digit = _hex_digit_value(F.col("digest"), j // 4 + 1)
        bit = F.floor(digit / F.pow(F.lit(2), F.lit(j % 4))).cast("int") % 2
        bit_sums.append(F.sum(bit * 2 - 1).alias(f"s{j}"))
    sums = toks.groupBy("id").agg(*bit_sums)
    fp = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return sums.select("id", fp.cast("bigint").alias("simhash"))


def simhash_candidate_pairs(
    fingerprints: DataFrame,
    *,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup candidates: split the 32-bit fingerprint into ``bands``
    byte-blocks; docs sharing any block value are candidates (hamming
    distance < bands guarantees at least one identical block — the
    pigeonhole rotation trick). One ``groupBy(block, val)`` bucket
    aggregation emits each bucket's pairs in place (pairs-from-postings;
    no self-join), with ``max_bucket_size`` capping degenerate buckets —
    a corpus of near-identical boilerplate collapses to few fingerprints
    and would otherwise emit O(n²) pairs from one bucket row.
    """
    width = SIMHASH_BITS // bands
    mask = (1 << width) - 1
    blocks = fingerprints.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block"),
                        (
                            F.shiftright(F.col("simhash"), b * width)
                            .bitwiseAND(F.lit(mask))
                        ).alias("val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.block", "bk.val")
    keyed = blocks.select(
        F.concat_ws(
            "#", F.col("block").cast("string"), F.col("val").cast("string")
        ).alias("bkey"),
        "id",
    )
    return _postings_pairs(keyed, "bkey", max_size=max_bucket_size).distinct()


# --------------------------------------------------------------------------
# Chunk-level (paragraph) dedup
# --------------------------------------------------------------------------


def chunk_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 20,
) -> DataFrame:
    """Sub-document exact dedup: drop repeated CHUNKS across the corpus,
    keep each document's surviving text (the paragraph-dedup step of
    RefinedWeb/Dolma-style pipelines, expressed over fixed-width word
    chunks because the driver corpus has no paragraph breaks).

    Semantics: each document's token stream is cut into consecutive
    ``chunk_words``-word chunks (last chunk may be short). A chunk
    survives iff it is the globally FIRST occurrence of its text, ordered
    by ``(doc id, chunk index)`` — the deterministic survivor rule that
    keeps original text for the earliest document and scrubs boilerplate
    from later ones. Output per (non-empty) document: ``n_chunks``,
    ``n_kept``, and ``text_kept`` (surviving chunks re-joined in order;
    NULL when nothing survives).

    Plan shape (scales linearly): chunking is a scan-side ``transform``
    over the staged token array (no explode of words — one array op per
    row), then ONE ``posexplode`` to chunk rows. First-occurrence is a
    ``row_number`` window partitioned by the chunk text: high-cardinality
    key, so the exchange spreads evenly (a boilerplate chunk repeated
    millions of times makes one big partition — the same hot-key
    phenomenon ``max_shingle_df`` caps for n-gram dedup; here the window
    only ranks, so the sort within the hot key is the bound). The rebuild
    is one hash agg by doc id with an in-row ``array_sort`` — no second
    window.
    """
    from pyspark.sql.window import Window

    from .text import _WORDS, _with_words

    c = chunk_words
    # stage the token array as an ATTRIBUTE: referencing the split
    # expression inside the transform lambda would re-tokenize the
    # document once per chunk (the O(words²) HOF inlining pathology
    # documented in operators/text.py::_with_words)
    staged = _with_words(df, text_col)
    words = F.col(_WORDS)
    n_chunks = F.floor((F.size(words) + (c - 1)) / F.lit(c)).cast("int")
    idx = F.when(
        F.size(words) > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    chunk_arr = F.transform(
        idx, lambda i: F.array_join(F.slice(words, i * c + 1, c), " ")
    )
    chunks = staged.select(
        F.col(id_col).alias("id"),
        F.posexplode(chunk_arr).alias("chunk_idx", "chunk_text"),
    )
    w = Window.partitionBy("chunk_text").orderBy("id", "chunk_idx")
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct("chunk_idx", "chunk_text")
    )
    out = ranked.groupBy(F.col("id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum((F.col("rn") == 1).cast("bigint")).alias("n_kept"),
        F.array_sort(F.collect_list(kept_struct)).alias("_kept"),
    )
    return out.select(
        id_col,
        "n_chunks",
        "n_kept",
        F.when(
            F.col("n_kept") > 0,
            F.array_join(
                F.transform(F.col("_kept"), lambda s: s["chunk_text"]), " "
            ),
        ).alias("text_kept"),
    )


def latest_by_key(
    df: DataFrame,
    *,
    key_cols: "list[str]",
    order_cols: "list[str]",
    payload_cols: "list[str]",
) -> DataFrame:
    """``xform_compact`` — log compaction / CDC upsert collapse: keep each
    key's LATEST record, ordered by ``order_cols`` (e.g. event time, with
    a unique id as tiebreak). The operator class behind changelog →
    snapshot materialization, "current state per user", and
    keep-newest-version dedup of re-crawled documents.

    Plan: ONE aggregation of ``max(struct(order_cols ⧺ payload_cols))``
    keyed on ``key_cols`` — struct comparison is lexicographic by field
    order, so the max IS the latest record and the payload rides along
    in the same comparison. Spark executes this as a SortAggregate
    (struct aggregation buffers are not hash-agg mutable; ``max_by``
    hits the same fallback), but the partial aggregate still runs
    SCAN-SIDE: each task sorts only its own scan batch by key and
    emits one row per key before the single exchange, so shuffle volume
    is O(distinct keys), not O(rows). At 100 TB this beats the textbook
    ``row_number() OVER (PARTITION BY key ORDER BY ... DESC) = 1``
    window, which must shuffle EVERY row and then sort each key's full
    history on one task (the hot-key hazard); here hot keys collapse
    scan-side and no task ever holds more than its scan batch.

    Determinism contract: callers must make ``order_cols`` total (append
    a unique id after the event-time column) — otherwise ties fall
    through to PAYLOAD comparison and the "latest" pick, while stable,
    is semantically arbitrary. Rows with NULL in ``order_cols`` sort
    below non-NULL under Spark struct comparison, so they lose to any
    ordered row — but ``F.struct`` never produces a NULL struct, so a
    key with ONLY null-ordered rows still emits one (its pick decided
    by payload comparison, i.e. arbitrarily); filter null-ordered rows
    upstream if the source allows them and absent-key semantics are
    wanted.

    Streaming: pass a streaming DataFrame and run the result in
    ``update`` output mode — the same aggregation becomes a streaming
    aggregation whose state store holds exactly one (key → max struct)
    row per key, updated as newer events arrive and re-emitted on
    change (changelog → continuously-materialized view). State is
    bounded by key cardinality, not stream length — here the per-key
    state IS the product, so no watermark/eviction applies
    (tests/test_streaming.py::test_stream_compact_latest_by_key_across_batches).
    """
    return max_struct_state(
        df, key_cols=key_cols, field_cols=[*order_cols, *payload_cols]
    )


def max_struct_state(
    df: DataFrame, *, key_cols: "list[str]", field_cols: "list[str]"
) -> DataFrame:
    """The shared kernel of :func:`latest_by_key`, :func:`cdc_apply`,
    and the streaming CDC materializer (``streaming/cdc.py``): per-key
    ``max(struct(field_cols))`` — lexicographic by field order, partial
    collapse scan-side, shuffle O(distinct keys) — unpacked back to
    columns. One definition so ordering semantics (NULL fields sort
    smallest; never a NULL struct) are fixed in exactly one place."""
    packed = F.struct(*[F.col(c) for c in field_cols])
    agg = df.groupBy(*key_cols).agg(F.max(packed).alias("_latest"))
    return agg.select(
        *key_cols,
        *[F.col(f"_latest.{c}").alias(c) for c in field_cols],
    )


def cdc_epoch0_rows(
    snapshot: DataFrame,
    changelog_schema,
    *,
    key_cols: "list[str]",
    order_cols: "list[str]",
    payload_cols: "list[str]",
    op_col: str,
) -> DataFrame:
    """Tag snapshot rows as epoch 0 — implicit upserts predating the
    whole log, with NULL order columns typed from the changelog schema."""
    return snapshot.select(
        F.lit(0).alias("_epoch"),
        *key_cols,
        *[
            F.lit(None).cast(changelog_schema[c].dataType).alias(c)
            for c in order_cols
        ],
        F.lit("U").alias(op_col),
        *payload_cols,
    )


def cdc_epoch1_rows(
    changelog: DataFrame,
    *,
    key_cols: "list[str]",
    order_cols: "list[str]",
    payload_cols: "list[str]",
    op_col: str,
) -> DataFrame:
    """Tag changelog rows as epoch 1 (they beat every epoch-0 row)."""
    return changelog.select(
        F.lit(1).alias("_epoch"), *key_cols, *order_cols, op_col, *payload_cols
    )


def cdc_apply(
    snapshot: DataFrame,
    changelog: DataFrame,
    *,
    key_cols: "list[str]",
    order_cols: "list[str]",
    payload_cols: "list[str]",
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC changelog to a snapshot: the materialized
    "table after replaying the log" — :func:`latest_by_key`'s sibling
    with DELETE semantics, the missing half of changelog → snapshot
    materialization (Debezium/Flink-CDC-style upsert streams; the
    reference's session store compaction is the I/U-only special case).

    Contract: ``snapshot`` holds base state (``key_cols`` +
    ``payload_cols``, no op column — every row an implicit upsert that
    predates the whole log); ``changelog`` additionally carries
    ``order_cols`` (the total per-key replay order: log sequence /
    event time + unique id) and ``op_col`` with ``'I'``/``'U'``
    (upsert — both set the payload) or ``'D'`` (tombstone). Output: one
    row per surviving key — the latest payload, with keys whose latest
    op is a delete ABSENT. Late-arriving ops are handled by order, not
    arrival: replaying the same union always yields the same state.

    Plan: tag snapshot rows epoch 0 / changelog epoch 1, union, and run
    the same single ``max(struct(epoch, order, op, payload))``
    aggregation as :func:`latest_by_key` — scan-side partial collapse,
    shuffle O(distinct keys), hot keys (one entity updated 10^9 times)
    collapse before the exchange. The delete filter runs on the
    aggregated relation (O(keys) rows). Snapshot order columns don't
    exist and don't need to: epoch 0 loses to every log row by the
    struct's leading field.

    Determinism contract (inherited): ``order_cols`` must be total
    within a key's log rows, and a key must not appear twice in the
    snapshot — both are caller invariants, not checked (checking
    requires an extra aggregation pass).
    """
    cdc_cols = dict(
        key_cols=key_cols,
        order_cols=order_cols,
        payload_cols=payload_cols,
        op_col=op_col,
    )
    snap = cdc_epoch0_rows(snapshot, changelog.schema, **cdc_cols)
    log = cdc_epoch1_rows(changelog, **cdc_cols)
    latest = max_struct_state(
        snap.unionByName(log),
        key_cols=key_cols,
        field_cols=["_epoch", *order_cols, op_col, *payload_cols],
    )
    return latest.where(F.col(op_col) != "D").select(
        *key_cols, *order_cols, *payload_cols
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    key_cols: "list[str]",
    payload_cols: "list[str]",
    include_unchanged: bool = False,
    digest_only: bool = False,
) -> DataFrame:
    """Key-level diff of two dataset versions: one row per key present in
    either snapshot, tagged ``status`` ∈ ``added`` (new only) /
    ``removed`` (old only) / ``changed`` (both, payload differs) /
    ``unchanged`` (both, payload identical — emitted only with
    ``include_unchanged``). The dataset-versioning primitive a corpus
    pipeline needs between crawls: what did this refresh actually touch —
    and the batch way to AUDIT what :func:`cdc_apply` replayed (apply a
    log, diff against the previous snapshot, get the net effect).

    Payload comparison is null-safe per column (``<=>``, member-wise on
    the struct — measured): a NULL→NULL field is unchanged, NULL→value
    is a change. Output: ``key_cols``, ``status``, and (unless
    ``digest_only``) the payload columns — the whole NEW payload when
    the key exists in ``new``, else the last OLD payload (the pick is
    per-SIDE, never per-column: a changed row whose new payload has a
    legitimate NULL field keeps that NULL, not the stale old value).

    Plan: each side projects to key + payload struct scan-side, one
    full-outer shuffle join on the keys, status/coalesce in codegen above
    it. Column pruning reaches both scans (only key + payload columns
    are read), AQE handles size skew between versions.

    Caller invariant (same class as :func:`cdc_apply`'s): ``key_cols``
    must be unique within EACH snapshot — a duplicated key makes the
    full-outer join emit that key's cross product, multiplying and
    misreporting the diff. Not checked (checking costs an extra
    aggregation pass per side); run the diff's own keys through
    :func:`distinct_count` first when upstream uniqueness is in doubt.

    ``digest_only=True`` is the 100 TB mode for wide payloads (document
    text): each side ships only ``xxhash64(to_json(struct(payload),
    ignoreNullFields=false))`` — 8 bytes per row through the shuffle
    instead of the corpus — and the output drops the payload columns.
    The JSON detour is deliberate: ``xxhash64`` over a raw struct SKIPS
    null fields, so ``("x", NULL)`` and ``(NULL, "x")`` collide —
    measured; the null-preserving JSON disambiguates. Contract: payload
    types must serialize stably (no maps — JSON key order is undefined).
    """
    if digest_only:
        pay = F.xxhash64(
            F.to_json(
                F.struct(*payload_cols), {"ignoreNullFields": "false"}
            )
        )
        o = old.select(*key_cols, pay.alias("_old"))
        n = new.select(*key_cols, pay.alias("_new"))
    else:
        o = old.select(*key_cols, F.struct(*payload_cols).alias("_old"))
        n = new.select(*key_cols, F.struct(*payload_cols).alias("_new"))
    j = o.join(n, on=key_cols, how="full_outer")
    status = (
        F.when(F.col("_old").isNull(), F.lit("added"))
        .when(F.col("_new").isNull(), F.lit("removed"))
        .when(F.col("_old").eqNullSafe(F.col("_new")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    pick = F.when(F.col("_new").isNotNull(), F.col("_new")).otherwise(
        F.col("_old")
    )
    out = j.select(
        *key_cols,
        status.alias("status"),
        *(
            []
            if digest_only
            else [pick.getField(c).alias(c) for c in payload_cols]
        ),
    )
    if not include_unchanged:
        out = out.where(F.col("status") != "unchanged")
    return out


# -- incremental minhash dedup (signature-table index) ----------------------


def incremental_minhash_pairs(
    new_sigs: DataFrame,
    old_sigs: "DataFrame | None" = None,
    *,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    bucket_hash: str = "xxhash64",
    max_bucket_size: int | None = None,
    max_history_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental near-dup detection for a GROWING corpus: given the
    MinHash signature table of a new document batch and the persisted
    signature table of everything ingested before, emit the near-dup
    pairs involving AT LEAST ONE new document — ``(id_a, id_b,
    est_jaccard)`` — without ever recomputing, reshuffling, or even
    re-reading the text of the historical corpus. The nightly-crawl
    shape: history participates as ONE pruned parquet scan of its
    (id, sig) rows; the updated index for the next increment is simply
    ``old_sigs.unionByName(new_sigs)`` (signatures are content-derived,
    so the union IS the table :func:`minhash_signatures` would build
    from scratch).

    Mechanics:

    - Banding is a SCAN-SIDE projection of a signature table (the band
      key folds ``rows_per_band`` minima — no shingles, no text), so
      "index the history" costs a projection, not storage: the
      persisted artifact stays ``num_hashes`` longs per doc.
    - (new × old) candidates come from an equi-join on the band key
      with the NEW side explicitly broadcast — increments are small by
      definition; the history side therefore joins map-side with ZERO
      exchange (plan-gated in tests). Old×old pairs never form: they
      were reported when their younger member was the increment.
    - (new × new) candidates use the ordinary pairs-from-postings
      bucket build (:func:`bounded_posting_lists` semantics via the
      banded rows), ``max_bucket_size``-capped like every LSH bucket.
    - Verification is the ESTIMATED Jaccard — the fraction of agreeing
      signature minima (``zip_with`` + fold, codegen'd) — because the
      historical text is deliberately not retained. Standard estimator:
      unbiased, σ = sqrt(t(1−t)/num_hashes) ≈ 0.06 at t=0.5, H=64; for
      exact-verify semantics run the batch operator
      (:func:`minhash_near_dup_pairs`) over the texts instead. Pairs
      with ``est_jaccard ≥ threshold`` survive; both sub-paths use the
      same estimator, so the output is one uniform relation.

    Caller contract: ids are unique across old ∪ new (re-ingesting an
    id pairs it with itself — filtered, but its dup won't be flagged);
    both tables were built with the same k / num_hashes / hash family.

    Degenerate-bucket hazard, stated plainly: ``max_bucket_size`` caps
    only the (new × new) posting lists. A boilerplate band value with
    millions of HISTORY members meeting one new doc in that bucket
    emits |bucket| join rows map-side — bounded per increment by
    O(|history hot bucket| · |new docs in it|), filtered by the
    estimator before any shuffle. ``max_history_bucket_size`` bounds
    that side too: history band buckets with MORE members than the cap
    are dropped entirely before the candidate join (bounded recall
    instead of unbounded fan-out — pairs agreeing only in a boilerplate
    band are missed; pairs sharing any non-hot band still surface,
    mirroring ``max_bucket_size``'s contract). The cap costs one extra
    keys-only pass over the history bands: a map-side-partial
    ``groupBy(bkey).count`` whose exchange carries distinct band keys —
    never signatures — and an anti-join of the hot keys. On healthy
    corpora hot is tiny and AQE broadcasts it at runtime, preserving
    the "history never shuffles its payload" property; the hint is
    deliberately NOT forced, so an adversarial all-hot history (a low
    cap over template pages) degrades to a shuffled anti-join instead
    of a driver OOM (the ``bounded_posting_lists`` rule).
    Corpora with known boilerplate classes should still run the batch
    operator's ``pre_dedup`` collapse before signing, which keeps such
    buckets small in the first place.
    """
    if bands < 1:
        raise ValueError(f"bands must be >= 1, got {bands}")
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes "
            f"({num_hashes})"
        )
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    rows_per_band = num_hashes // bands

    # Pin the increment's signature table (lazy localCheckpoint): the
    # plan references it FOUR times — the bucket count pass, the posting
    # build, the broadcast band keys, and the signature re-attach — and
    # when the caller hands a COMPUTED relation (scan → tokenizer →
    # signature Arrow pass, as the dedup_incremental registration does)
    # each reference re-runs that whole pipeline (measured: 6 Python
    # stages in one plan, r15). The increment is small by this
    # operator's own contract (it is broadcast below), so the pin is
    # O(increment), never O(corpus). History is deliberately NOT
    # pinned: its two passes (hot-bucket count + candidate join) are
    # the documented cost, and in production old_sigs is a bare parquet
    # scan that must not be cached.
    new_sigs = new_sigs.localCheckpoint(eager=False)

    def banded(sigs: DataFrame) -> DataFrame:
        return sigs.select(
            F.struct("id", "sig").alias("pay"),
            F.explode(
                F.array(
                    *[
                        _band_key(bucket_hash, rows_per_band, b)
                        for b in range(bands)
                    ]
                )
            ).alias("bkey"),
        )

    def est_jaccard(sig_a: Column, sig_b: Column) -> Column:
        matches = F.aggregate(
            F.zip_with(
                sig_a, sig_b, lambda x, y: (x == y).cast("int")
            ),
            F.lit(0),
            lambda acc, m: acc + m,
        )
        return matches / F.lit(float(num_hashes))

    new_b = banded(new_sigs)

    # (new, new): posting lists per band bucket over the increment only
    buckets = bounded_posting_lists(
        new_b, ["bkey"], F.col("pay"), max_size=max_bucket_size,
        pin_keyed=False,
    )
    nn = (
        buckets.select(F.explode(_pair_explode()).alias("p"))
        .select(
            F.col("p.id_a.id").alias("id_a"),
            F.col("p.id_b.id").alias("id_b"),
            est_jaccard(F.col("p.id_a.sig"), F.col("p.id_b.sig")).alias(
                "est_jaccard"
            ),
        )
        .where(F.col("est_jaccard") >= threshold)
        .distinct()
    )
    if old_sigs is None:
        return nn

    # (new, old): history scans once, joins the broadcast increment
    # map-side; old ids take the id_a slot for a stable output contract.
    # Only (bkey, id) is broadcast — carrying the sig payload on every
    # exploded band row would amplify the broadcast bands× (~16× at
    # defaults; review r9). The candidate set (pair-sized, already
    # bucket-matched) re-attaches the new side's signatures from the
    # un-exploded table in a second small broadcast.
    old_b = banded(old_sigs)
    if max_history_bucket_size is not None:
        if max_history_bucket_size < 1:
            raise ValueError(
                "max_history_bucket_size must be >= 1, got "
                f"{max_history_bucket_size}"
            )
        hot = (
            old_b.groupBy("bkey")
            .count()
            .where(F.col("count") > max_history_bucket_size)
            .select("bkey")
        )
        # no broadcast hint: hot is TINY on healthy corpora and AQE
        # broadcasts it from its runtime size, but an adversarial
        # all-hot history (low cap over template pages) must degrade
        # to a shuffled anti-join, not a driver OOM — the same rule
        # bounded_posting_lists documents for its over-cap anti-join
        old_b = old_b.join(hot, "bkey", "left_anti")
    new_keys = new_b.select(
        "bkey", F.col("pay.id").alias("_nid")
    ).distinct()
    cand = (
        old_b.withColumnRenamed("pay", "op")
        .join(F.broadcast(new_keys), "bkey")
        .where(F.col("op.id") != F.col("_nid"))
        .select(
            F.col("op.id").alias("id_a"),
            F.col("op.sig").alias("_osig"),
            "_nid",
        )
        .dropDuplicates(["id_a", "_nid"])
    )
    no = (
        cand.join(
            F.broadcast(
                new_sigs.select(
                    F.col("id").alias("_nid"), F.col("sig").alias("_nsig")
                )
            ),
            "_nid",
        )
        .select(
            "id_a",
            F.col("_nid").alias("id_b"),
            est_jaccard(F.col("_osig"), F.col("_nsig")).alias(
                "est_jaccard"
            ),
        )
        .where(F.col("est_jaccard") >= threshold)
    )
    return nn.unionByName(no)


def ngram_containment_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """``text_containment`` — all pairs with word-``k``-shingle
    CONTAINMENT ≥ ``threshold``, where containment is the asymmetric
    inclusion coefficient ``|A ∩ B| / min(|A|, |B|)`` (Broder's
    resemblance/containment split): the near-dup signal Jaccard
    structurally misses — a short document quoted wholesale inside a
    much longer one has containment ≈ 1 while its Jaccard ≈
    |small|/|large| ≈ 0, so a Jaccard-thresholded dedup
    (:func:`ngram_jaccard_pairs`) never flags quote-inclusion,
    boilerplate-wrapping, or subset-document pairs. Training-data use:
    catching eval questions embedded inside web pages, and
    super/subset crawl duplicates.

    Plan: byte-for-byte :func:`ngram_jaccard_pairs`' inverted-index
    pairs-from-postings shape (one tokenizer pass carrying each doc's
    distinct-shingle count ``n``, ONE ``groupBy(shingle)`` with
    ``max_shingle_df`` dropping boilerplate shingles before the
    ``collect_list`` buffer and the quadratic explode, pair counts by
    grouped projection) — only the final projection differs:
    ``common / least(n_a, n_b)`` instead of the union ratio. Same
    100 TB properties, same skew guard, same single-Python-stage
    structure.

    Output: ``(id_a, id_b, containment)`` with ``id_a < id_b``,
    containment rounded to 6 dp. Note the SYMMETRIC min-denominator
    form: the pair is reported once, not per direction — consumers
    that need to know WHICH side is the subset compare ``n_a``/``n_b``
    upstream (both engines agree on the count; re-deriving direction
    is a projection, not a second operator).
    """
    shingled = shingle_rows(
        df, id_col=id_col, text_col=text_col, k=k, with_n=True
    ).select("id", F.xxhash64("sh").alias("shingle"), "n")
    paired = bounded_posting_lists(
        shingled, ["shingle"], F.struct("id", "n"), max_size=max_shingle_df
    )
    common = (
        paired.select(F.explode(_pair_explode()).alias("p"))
        .groupBy(
            F.col("p.id_a.id").alias("id_a"),
            F.col("p.id_a.n").alias("n_a"),
            F.col("p.id_b.id").alias("id_b"),
            F.col("p.id_b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.withColumn(
            "containment",
            F.col("common") / F.least(F.col("n_a"), F.col("n_b")),
        )
        .where(F.col("containment") >= threshold)
        .select(
            "id_a", "id_b", F.round("containment", 6).alias("containment")
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 20,
    prefix_len: int = 16,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """``sim_edit_pairs`` — all document pairs within Levenshtein
    distance ``max_dist``, under PREFIX BLOCKING: only pairs agreeing
    on their first ``prefix_len`` characters are compared. The
    character-level near-dup signal shingle methods miss (a one-char
    typo flips every shingle it touches; edit distance counts it as 1)
    — the standard key-dedup for titles, product names, and template
    pages differing by substitutions.

    Blocking contract, stated plainly: recall is BOUNDED — a pair
    edited inside its first ``prefix_len`` characters lands in two
    buckets and is never compared (the "length+prefix buckets, never
    cross" discipline: exact edit-distance joins have no LSH, so SOME
    blocking key is the price of never going O(n²); callers needing
    prefix-edit recall run a second pass blocked on a suffix or on
    :func:`minhash_near_dup_pairs`' candidates). Within a bucket the
    length filter ``|len(a) − len(b)| ≤ max_dist`` (a hard lower bound
    on edit distance) prunes before any distance is computed, and
    Spark's bounded ``levenshtein(a, b, threshold)`` early-exits any
    row exceeding ``max_dist`` in O(len·max_dist) instead of O(len²).

    Plan: ONE ``groupBy(prefix)`` via :func:`bounded_posting_lists`
    (``max_bucket_size`` caps boilerplate prefixes — the stopword rule;
    buffer bound = cap × text length) and in-place pair emission;
    everything downstream is a codegen'd projection + filter over the
    pair rows. Shuffle O(docs), pair work O(Σ bucket²) bounded by the
    cap. Output ``(id_a, id_b, edit_distance)`` with ``id_a < id_b``.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if prefix_len < 1:
        raise ValueError(f"prefix_len must be >= 1, got {prefix_len}")
    rows = df.where(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.substring(F.col(text_col), 1, prefix_len).alias("pfx"),
        F.struct(
            F.col(id_col).alias("id"), F.col(text_col).alias("txt")
        ).alias("pay"),
    )
    buckets = bounded_posting_lists(
        rows, ["pfx"], F.col("pay"), max_size=max_bucket_size,
        pin_keyed=False,
    )
    pairs = (
        buckets.select(F.explode(_pair_explode()).alias("p"))
        .select(
            F.col("p.id_a.id").alias("id_a"),
            F.col("p.id_a.txt").alias("_ta"),
            F.col("p.id_b.id").alias("id_b"),
            F.col("p.id_b.txt").alias("_tb"),
        )
        .where(
            F.abs(F.length("_ta") - F.length("_tb")) <= F.lit(max_dist)
        )
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.levenshtein("_ta", "_tb", max_dist)
            .cast("bigint")
            .alias("edit_distance"),
        )
        # the bounded form returns -1 for pairs past the threshold
        .where(F.col("edit_distance") >= 0)
    )


def keep_best_per_cluster(
    clusters: DataFrame,
    scores: DataFrame,
    *,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str,
) -> DataFrame:
    """The actionable end of near-dup clustering: given cluster labels
    (:func:`near_dup_clusters` output) and a per-document quality
    signal, pick each cluster's SURVIVOR — highest score, lowest id on
    ties (deterministic) — instead of the min-id default, which keeps
    whichever crawl happened to get the smallest id rather than the
    most complete copy. Output: one row per cluster — ``(cluster_id,
    keep_id, best_score, n_members)``; every other member is a drop.
    Docs in no cluster never appear (they are implicitly kept — a
    singleton needs no survivor election).

    Members MISSING from ``scores`` (LEFT join) still count in
    ``n_members`` and still win as the min-id fallback when NO member
    of the cluster is scored (``best_score`` NULL then) — but a scored
    member always beats an unscored one: a doc the scoring pass
    dropped must not silently vanish from the census, and a cluster of
    entirely-unscored docs must still elect a deterministic survivor
    rather than disappear.

    Plan: one broadcast-eligible join attaching scores to the cluster
    relation (both are id-keyed, orders of magnitude smaller than the
    corpus: only clustered docs appear), then ONE aggregation with an
    argmin-by-struct — ``min(struct(unscored, -score, id))``: the
    boolean leg puts scored members first, the negated score makes the
    numeric score DESCEND, and the id leg ascends NATIVELY, so the
    min-id tiebreak works for ANY orderable id type (string doc ids
    included — negating the id instead would fail analysis on strings,
    r10 advice #1). ``score_col`` must therefore be NUMERIC (it is the
    column that gets negated); that matches the quality-signal
    contract, and the unscored legs compare as NULL == NULL so
    all-unscored clusters still fall through to the ascending id. The
    survivor election stays a map-side-combining hash agg, never a
    window over ranked members. Hot clusters (a boilerplate page with
    10⁶ copies) collapse scan-side to one partial row per task.
    """
    joined = clusters.join(
        scores.select(
            F.col(id_col).alias("_sid"), F.col(score_col).alias("_score")
        ),
        clusters[id_col] == F.col("_sid"),
        "left",
    )
    best = F.min(
        F.struct(
            F.col("_score").isNull().alias("u"),
            (-F.col("_score")).alias("negs"),
            F.col(id_col).alias("i"),
            # trailing payload — never reached by the ordering except
            # when negs already ties, in which case s ties too
            F.col("_score").alias("s"),
        )
    )
    return (
        joined.groupBy(cluster_col)
        .agg(
            best.alias("_best"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
        )
        .select(
            cluster_col,
            F.col("_best.i").alias("keep_id"),
            F.col("_best.s").alias("best_score"),
            "n_members",
        )
    )

"""Link-graph authority scoring — iterative PageRank on an edge list.

Why it lives in a training-data engine: crawl curation weights documents
by their host/page centrality (the RefinedWeb/FineWeb lineage uses link
-graph signals for exactly this), and the near-dup machinery already
produces graphs (``dedup.py::near_dup_clusters`` runs label propagation
over candidate-pair edges). PageRank is the canonical "iterative
algorithm on Spark" shape: a loop of join + aggregate with explicit
lineage truncation — Catalyst cannot optimize ACROSS iterations, so the
operator must manage what the optimizer can't see:

- **Lineage truncation.** Each iteration's plan nests the previous
  one's, and the per-iteration dangling-mass action would RE-EXECUTE
  every uncheckpointed predecessor (O(iterations^2) redundant work, not
  just deep plans). ``localCheckpoint`` after EVERY iteration cuts the
  lineage — the rank relation is O(V), so materializing it per round is
  the cheap side of that trade (the `near_dup_clusters` pattern, taken
  one step further because this loop takes an action per iteration).
- **Dangling mass.** Vertices with no out-edges leak rank; their mass
  redistributes uniformly each iteration (one scalar aggregate), which
  keeps the rank vector summing to N — without it, ranks drift toward 0
  and comparisons across iterations are meaningless.
- **Bounded driver state.** The driver holds one scalar per iteration
  (the dangling mass, plus the L1 delta when ``tol`` is set); ranks
  stay distributed.

Scale: per iteration ONE shuffle join (ranks ⨝ edges on src — ranks is
keyed O(V), edges O(E)) and one aggregation on dst. Hot destinations
(every page links to the hub) collapse map-side in the partial sum; hot
SOURCES are free (the join fans out scan-side). AQE handles src skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    max_iter: int = 20,
    tol: "float | None" = None,
    init_ranks: "DataFrame | None" = None,
    round_dp: "int | None" = None,
    exact_scale: "int | None" = None,
) -> DataFrame:
    """Ranks over the directed graph ``edges`` (duplicate edges count as
    parallel links — pre-``distinct()`` them for simple-graph semantics;
    self-loops are ordinary edges). Returns ``(vertex, rank)`` with
    ranks summing to the vertex count (the standard "average rank = 1"
    normalization): rank_i = (1−d) + d·(Σ_{j→i} rank_j/outdeg_j +
    dangling_mass/N).

    ``tol``: when set, iteration stops once the L1 delta between
    successive rank vectors drops below it — costs one extra distributed
    aggregate per iteration (an action); leave None for a fixed
    ``max_iter`` sweep with no per-iteration driver round-trip beyond
    the dangling-mass scalar.

    ``init_ranks``: WARM START — a ``(vertex, rank)`` relation from a
    previous run (e.g. yesterday's crawl graph). Power iteration
    converges to the same fixpoint from any positive start, so the
    answer is unchanged; starting near it just needs fewer iterations —
    the incremental re-rank when the graph grew by a day of edges.
    Vertices absent from ``init_ranks`` (new pages) start at 1.0;
    ``init_ranks`` rows for vertices no longer in the graph are ignored.

    ``round_dp``: when set, every iteration's rank vector is rounded
    in-engine to this many decimal places before it feeds the next
    iteration. Power iteration amplifies last-ulp float-summation noise
    across rounds (BLAS-order sums differ run to run with AQE
    re-partitioning); per-iteration rounding resets the drift each
    round, which makes repeated runs agree WITH HIGH PROBABILITY — not
    by construction: within one iteration the contribution sums still
    carry ~1e-12 summation-order noise, and a value that lands within
    that noise of a rounding boundary can round apart (engines' ROUND
    edge semantics also differ on exact halves). For guaranteed
    bit-stability use ``exact_scale``. Production leaves both ``None``:
    ranks feed thresholds/ordering, where trailing-ulp noise is
    irrelevant.

    ``exact_scale``: when set (e.g. ``10**9``), the ENTIRE iteration
    runs in scaled-integer arithmetic — ranks are BIGINTs counting
    units of 1/scale, the per-edge contribution is the integral
    division ``rank_s div outdeg`` and the per-vertex sum is a BIGINT
    sum (integer addition is associative: summation order CANNOT
    perturb a bit, unlike the float path), and the only float op per
    iteration is one correctly-rounded IEEE multiply by ``damping`` of
    an integer every engine holds identically, floored straight back
    to BIGINT. The fixpoint differs from true PageRank by < 1/scale
    per edge term (quantization truncation) — irrelevant at 1e-9 —
    and the result is REPRODUCIBLE BY CONSTRUCTION across engines,
    partitionings and AQE plans, which is what lets the
    ``graph_pagerank`` registration hash-check against an unrolled-CTE
    DuckDB oracle exactly. Mutually exclusive with ``round_dp``.
    Returned ranks are DOUBLE (``rank_s / scale``).
    """
    if not 0 < damping < 1:
        raise ValueError(f"damping must be in (0,1), got {damping}")
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    if exact_scale is not None:
        if round_dp is not None:
            raise ValueError(
                "round_dp and exact_scale are mutually exclusive"
            )
        if exact_scale != int(exact_scale) or int(exact_scale) < 1:
            raise ValueError(
                f"exact_scale must be a positive integer; got "
                f"{exact_scale!r}"
            )
    scale = int(exact_scale) if exact_scale is not None else None
    # the (1-d) teleport term as a pinned integer literal — computed
    # once driver-side so both engines consume the identical constant
    base_s = round((1.0 - damping) * scale) if scale is not None else None

    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).where(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # edges annotated once with the source out-degree; checkpointed so
    # every iteration reuses the materialized relation instead of
    # re-deriving the join. Built FIRST (r15): vertices and the
    # dangling set below derive from this pinned relation instead of
    # from ``e`` — the caller's edge pipeline (often a join+distinct of
    # its own) previously re-evaluated ~4x across the setup relations;
    # now it runs once, here. ``ew`` keeps every edge (each edge's src
    # has outdeg >= 1 by construction), so vertex derivation is
    # unchanged.
    # Hash-partitioned by the per-iteration JOIN key (``src``) with an
    # EXPLICIT count BEFORE the pin (r16, guide §2.4): localCheckpoint
    # records the physical partitioning on the LogicalRDD, so every
    # iteration's ``ranks.vertex == ew.src`` join sees the edge side
    # already clustered and only moves the O(V) rank side — without it
    # each iteration re-shuffled the O(E) edge relation (observed: one
    # full ew-cache scan + shuffle write per iteration at sf0.1).
    # Explicit count because AQE would coalesce an unnumbered
    # repartition and a coalesced exchange reports no usable output
    # partitioning.
    ew = (
        e.join(outdeg, "src")
        .repartition(e.sparkSession.sparkContext.defaultParallelism, "src")
    )
    ew = ew.localCheckpoint()
    # lazy pin: the n-count below is the first action and computes every
    # partition, which materializes the cache — an eager pin here is one
    # whole extra job (r16)
    vertices = (
        ew.select(
            F.explode(F.array(F.col("src"), F.col("dst"))).alias("vertex")
        )
        .distinct()
    )
    vertices = vertices.localCheckpoint(eager=False)
    n = vertices.count()
    if n == 0:
        return vertices.withColumn("rank", F.lit(0.0))
    # the dangling-VERTEX set is static; compute it once instead of an
    # anti-join per iteration (anti against the pinned edge relation —
    # duplicates on src are irrelevant to an anti-join)
    dangling_verts = vertices.join(
        ew.select(F.col("src").alias("_s")),
        vertices["vertex"] == F.col("_s"),
        "left_anti",
    )
    dangling_verts = dangling_verts.localCheckpoint()
    # symmetric / out-degree-closed graphs have NO dangling vertices;
    # detect that once (one cheap action on the checkpointed relation)
    # and skip the per-iteration dangling aggregate entirely — 5 of the
    # loop's 10 actions on the graph_pagerank registration's graph
    has_dangling = dangling_verts.limit(1).count() > 0

    if scale is not None:
        _one = F.lit(scale).cast("long")
        _init_expr = F.floor(F.col("_init") * F.lit(scale)).cast("long")
    else:
        _one = F.lit(1.0)
        _init_expr = F.col("_init")
    if init_ranks is not None:
        ranks = (
            vertices.join(
                init_ranks.select(
                    "vertex", F.col("rank").alias("_init")
                ),
                "vertex",
                "left",
            )
            .select(
                "vertex",
                F.coalesce(_init_expr, _one).alias("rank"),
            )
        )
        ranks = ranks.localCheckpoint(eager=False)
    else:
        # lazy: iteration 1's first action (dangling collect or the
        # new_ranks checkpoint) reads every rank partition and
        # materializes the cache — no dedicated job needed (r16)
        ranks = vertices.withColumn("rank", _one).localCheckpoint(eager=False)
    for i in range(max_iter):
        # mass parked on vertices with no out-edges, redistributed
        # uniformly
        if has_dangling:
            dangling = (
                ranks.join(dangling_verts, "vertex")
                .agg(
                    F.coalesce(
                        F.sum("rank"),
                        F.lit(0).cast("long") if scale is not None
                        else F.lit(0.0),
                    )
                )
                .collect()[0][0]
            )
        else:
            dangling = 0
        if scale is not None:
            # ENTIRELY integer per-iteration arithmetic: integral
            # division per edge, exact BIGINT sums (order-independent
            # by associativity), one IEEE multiply by `damping` of an
            # integer both engines hold identically, floored back to
            # BIGINT — bit-stable across engines/partitionings by
            # construction (see the exact_scale docstring)
            contrib_expr = F.expr("rank div outdeg").alias("c")
            dangling_term = int(dangling) // n
            rank_expr = (
                F.lit(base_s)
                + F.floor(
                    F.lit(damping)
                    * (
                        F.coalesce(F.col("c"), F.lit(0).cast("long"))
                        + F.lit(dangling_term)
                    )
                )
            ).alias("rank")
        else:
            contrib_expr = (F.col("rank") / F.col("outdeg")).alias("c")
            rank_expr = (
                F.lit(1.0 - damping)
                + F.lit(damping)
                * (
                    F.coalesce(F.col("c"), F.lit(0.0))
                    + F.lit(dangling / n)
                )
            ).alias("rank")
        # ONE join + ONE aggregation (r16): a zero-contribution row per
        # vertex rides the same aggregation, so every vertex (including
        # in-degree-0 ones) comes out of the groupBy and the pre-r16
        # re-attach join (vertices LEFT JOIN contribs — one more join,
        # one more broadcast, one more AQE stage per iteration) is
        # gone. Exact: summing an extra 0 (long) / 0.0 never changes
        # the value, so the recurrence is bit-identical in both the
        # exact_scale and float paths.
        zero_c = (
            F.lit(0).cast("long") if scale is not None else F.lit(0.0)
        )
        contribs = (
            ranks.join(ew, ranks["vertex"] == ew["src"])
            .select(F.col("dst").alias("vertex"), contrib_expr)
            .unionByName(vertices.select("vertex", zero_c.alias("c")))
            .groupBy("vertex")
            .agg(F.sum("c").alias("c"))
        )
        new_ranks = contribs.select("vertex", rank_expr)
        if round_dp is not None:
            new_ranks = new_ranks.withColumn(
                "rank", F.round(F.col("rank"), round_dp)
            )
        # checkpoint EVERY iteration, EAGERLY: the next round's dangling
        # collect (and the tol delta) are actions — on lazy lineage they
        # would re-execute every uncheckpointed iteration before them.
        # Measured alternative (lazy marks + one terminal action when
        # the loop body has no actions of its own): the 5-iteration
        # nested plan costs MORE in optimizer/AQE re-planning time than
        # the 5 shallow jobs it saves (8.7–42 s vs 7–8 s at sf0.1) —
        # keep the shallow-job shape.
        new_ranks = new_ranks.localCheckpoint()
        if tol is not None:
            delta = (
                ranks.join(
                    new_ranks.withColumnRenamed("rank", "_nr"), "vertex"
                )
                .agg(F.sum(F.abs(F.col("rank") - F.col("_nr"))))
                .collect()[0][0]
            )
            ranks = new_ranks
            if scale is not None and delta is not None:
                delta = delta / scale  # back to rank units
            if delta is not None and delta < tol:
                break
        else:
            ranks = new_ranks
    if scale is not None:
        # unscale once at the end: BIGINT -> exact double (< 2^53) ->
        # one IEEE divide — identical bits on every engine
        return ranks.select(
            "vertex",
            (F.col("rank").cast("double") / F.lit(float(scale))).alias(
                "rank"
            ),
        )
    return ranks


def triangle_counts(
    edges: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """``graph_triangles`` — per-node triangle participation counts over
    an undirected graph given as CANONICAL edges (``src < dst``, one row
    per unordered pair — the near-dup pair relations' native shape).
    Output ``(node, n_triangles)``, nodes in ≥1 triangle only. The
    cluster-density / community-cohesion primitive: near-dup clusters
    that are cliques (every member pairwise similar) are true duplicate
    groups, while triangle-free stars are usually threshold artifacts —
    and on co-occurrence graphs triangles are the classic
    clustering-coefficient numerator.

    Plan — the ordered-wedge join (the id-ordering plays the role of
    the classic degree-ordering orientation): each triangle a<b<c is
    found EXACTLY ONCE as wedge (a→b, b→c) closed by edge (a→c), so
    two equi-joins on the edge relation, no direction explosion, no
    dedup pass. Then one Expand-style union charges the triangle to
    each of its three corners and a counting aggregation collapses.
    Shuffle: both joins key on edge endpoints — O(E) rows each; the
    wedge stream is Σ_b deg⁺(b)·deg⁻(b), the standard bound, kept
    honest upstream by the pair relations' df/band caps (this engine's
    near-dup graphs bound degree by construction). For a general
    power-law graph at 100 TB the production refinement is re-orienting
    by (degree, id) instead of raw id — same plan shape, provably
    O(E^1.5) wedges (Schank & Wagner 2005); id-orientation is kept here
    because it is what the cross-engine oracle can reproduce exactly.
    """
    e = edges.select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
    )
    wedge = e.alias("e1").join(
        e.alias("e2"), F.col("e1._d") == F.col("e2._s")
    ).select(
        F.col("e1._s").alias("_a"),
        F.col("e1._d").alias("_b"),
        F.col("e2._d").alias("_c"),
    )
    tri = wedge.join(
        e.alias("e3"),
        (F.col("_a") == F.col("e3._s")) & (F.col("_c") == F.col("e3._d")),
    ).select("_a", "_b", "_c")
    corners = tri.select(
        F.explode(F.array("_a", "_b", "_c")).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )

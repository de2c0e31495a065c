"""Whole-graph algorithms as pure-DataFrame iteration.

Reference parity:
- pagerank: damping 0.85, convergence threshold 1e-6 on max per-vertex
  delta, dangling-node mass redistributed uniformly
  (/root/reference/src/core/functions/scalar/pagerank.cpp:35-36,50-67).
- weakly_connected_component: the reference returns an arbitrary union-find
  root per component (weakly_connected_component.cpp:92-99); we return the
  MINIMUM member id, a deterministic representative (documented difference —
  ids compare equal up to relabeling, and min-member is what oracle tests
  normalize to anyway).
- local_clustering_coefficient: neighbor-pair linkage over the doubled
  (both-direction) undirected edge set, count / (deg * (deg - 1)), 0 when
  deg < 2 (local_clustering_coefficient.cpp:11-70 — note the reference does
  NOT halve because its undirected CSR stores both directions).

Implementation is DataFrame-only (no GraphX): PySpark 4 has no Python
GraphX binding, and the DataFrame formulation keeps every step inside
Catalyst/Tungsten with explicit partitioning — edges hash-partitioned by
src once, ranks/labels co-partitioned.  Every loop whose state is one
DataFrame runs through `pathops.fixpoint`, which owns the lineage-cutting
checkpoint cadence, the convergence aggregates riding each checkpoint job
and the stop test.  pagerank and hits with tol > 0 warn (RuntimeWarning:
rounds run, last delta) when max_iter ends before tol is met; fixed
budgets (tol=0, LPA, katz, eigenvector) are the spec and never warn.
Loop bodies are SQL strings (selectExpr / string-key joins): the
Column-API form cost ~190 ms of py4j round-trips per pagerank round
(sf0.1, warm; ~35% of the kernel wall), GIL-serialized across
run_concurrent kernels.  The plans are the same either way.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .errors import PGQCapacityError
from .operators import paths as pathops

DAMPING = 0.85
TOLERANCE = 1e-6


def pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    damping: float = DAMPING,
    tol: float = TOLERANCE,
    max_iter: int = 100,
    phantom_vertices: int = 0,
    sources: DataFrame | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank over (src, dst) edges for vertex ids in `vertices(vid)`.

    Returns (vid, pagerank).  Ranks are probabilities (sum to 1), matching
    the reference's formulation (pagerank.cpp:45-82).

    `phantom_vertices`: the reference iterates over its CSR offset array,
    whose size is |V|+2 — two phantom dangling vertices participate in every
    iteration and soak up rank mass (pagerank.cpp:27-28 uses csr->vsize).
    Pass 2 to reproduce the reference's numbers bit-for-bit; the default 0
    computes the textbook-correct ranks.

    `sources` (beyond-reference): a one-column DataFrame of vertex ids
    turns this into PERSONALIZED PageRank — the (1-damping) teleport and
    the dangling mass return uniformly to the source set instead of to
    all vertices, so ranks measure proximity to the sources (the random
    walker restarts there).  Same per-iteration plan: the reset vector
    rides inside the ranks frame next to out_deg, zero extra joins.

    `weight_col` (beyond-reference): an edge-weight column name turns the
    walk into WEIGHTED PageRank — a vertex's rank is split across its
    out-edges proportionally to weight (share = rank * w / sum_w(src))
    instead of uniformly.  Zero/negative total weight at a vertex makes
    it dangling, like a vertex with no out-edges.  Identical plan shape:
    out_deg simply becomes the weight sum and each edge carries its
    weight into the contribution join.
    """
    if sources is not None and phantom_vertices:
        raise ValueError("phantom_vertices is a reference-parity mode; "
                         "it cannot combine with personalized sources")
    vertices = pathops.materialize(vertices.toDF("vid").distinct())
    real_vertices = vertices
    if phantom_vertices:
        max_vid = vertices.agg(F.max("vid")).first()[0] or 0
        spark = vertices.sparkSession
        phantoms = spark.range(max_vid + 1, max_vid + 1 + phantom_vertices).select(
            F.col("id").alias("vid")
        )
        vertices = pathops.materialize(vertices.unionByName(phantoms))
    n = vertices.count()
    if n == 0:
        return vertices.withColumn("pagerank", F.lit(0.0))
    parts = pathops.default_parallelism(edges.sparkSession)
    if weight_col is None:
        edges = edges.select("src", "dst", F.lit(1.0).alias("__w"))
    else:
        edges = edges.select(
            "src", "dst", F.col(weight_col).cast("double").alias("__w")
        )
    edges = pathops.persist_partitioned(edges, parts)  # cache-owned
    if weight_col is not None:
        # negative per-edge weights would emit negative rank shares and
        # silently break the probability contract — reject them loudly
        # (one bounded probe over the persisted edge frame)
        bad = (F.col("__w") < 0) | F.isnan("__w")
        if edges.where(bad).limit(1).count() > 0:
            raise ValueError(
                f"weight column '{weight_col}' contains negative or NaN "
                "values; weighted pagerank requires non-negative finite "
                "edge weights"
            )
    # uniform walk: out_deg = edge count; weighted walk: out_deg = sum of
    # weights (NULLed when <= 0, which makes the vertex dangling below)
    out_deg = (
        edges.groupBy("src")
        .agg(F.sum("__w").alias("out_deg"))
        .withColumn(
            "out_deg", F.when(F.col("out_deg") > 0, F.col("out_deg"))
        )
    )

    # out_deg (and the teleport/reset weight) ride INSIDE the ranks frame
    # (static per vertex), so each iteration needs no ranks-to-degree or
    # ranks-to-sources join — one join per iteration removed vs the r2
    # formulation
    if sources is None:
        with_reset = vertices.select("vid", F.lit(1.0 / n).alias("reset"))
    else:
        # restrict to the vertex domain FIRST: out-of-set source ids must
        # not dilute the teleport weight (a fully out-of-set source list
        # would otherwise produce silent all-zero ranks)
        src_set = sources.toDF("vid").distinct().join(vertices, "vid", "left_semi")
        n_src = src_set.count()
        if n_src == 0:
            raise ValueError(
                "personalized pagerank needs a non-empty source set that "
                "intersects the vertex set"
            )
        with_reset = (
            vertices.join(src_set.withColumn("__s", F.lit(1)), "vid", "left")
            .select(
                "vid",
                F.when(F.col("__s").isNotNull(), F.lit(1.0 / n_src))
                .otherwise(F.lit(0.0))
                .alias("reset"),
            )
        )
    # dangling probe rides the initial checkpoint job (zero extra
    # jobs): a graph with NO dangling vertices (every vertex has
    # positive out-weight) contributes exactly __dang = 0.0 every round,
    # so the per-round broadcast-aggregate branch is dead weight — one
    # broadcast exchange + crossJoin per round (an extra AQE stage-job)
    # plus its plan-construction cost.  Skipping it when the probe says
    # "none" is value-identical: in_mass + 0.0 * reset == in_mass for
    # the non-negative masses this kernel produces.
    ranks, probe = pathops._materialize_observed(
        with_reset.alias("v")
        .join(out_deg.alias("d"), F.col("v.vid") == F.col("d.src"), "left")
        .select("vid", F.col("reset").alias("rank"), "out_deg", "reset"),
        "sum(CASE WHEN out_deg IS NULL THEN 1 ELSE 0 END) AS n_dang",
    )
    has_dangling = (probe["n_dang"] or 0) > 0
    d_str = f"CAST('{damping!r}' AS DOUBLE)"
    r_str = f"CAST('{(1.0 - damping)!r}' AS DOUBLE)"
    if has_dangling:
        rank_expr = (
            f"({r_str} * reset + {d_str} * (coalesce(in_mass, "
            f"CAST(0.0 AS DOUBLE)) + __dang * reset)) AS rank"
        )
    else:
        rank_expr = (
            f"({r_str} * reset + {d_str} * coalesce(in_mass, "
            f"CAST(0.0 AS DOUBLE))) AS rank"
        )

    def pr_round(ranks):
        contribs = (
            ranks.where("out_deg IS NOT NULL")
            .selectExpr("vid AS src", "rank / out_deg AS share")
            .join(edges, "src")
            .selectExpr("dst AS vid", "share * __w AS c")
            .groupBy("vid")
            .agg(F.expr("sum(c) AS in_mass"))
        )
        # join the OLD ranks (one row per vid, phantoms included) rather
        # than the vertex list, so the convergence delta is computable
        # on this same frame, inside the round's one checkpoint job
        new_full = ranks.join(contribs, "vid", "left")
        if has_dangling:
            # mass from dangling vertices (no out-edges) is spread
            # uniformly; kept as a broadcast 1-row frame so no scalar is
            # collected to the driver per round
            new_full = new_full.crossJoin(F.broadcast(
                ranks.where("out_deg IS NULL").agg(F.expr(
                    "coalesce(sum(rank), CAST(0.0 AS DOUBLE)) AS __dang"
                ))
            ))
        # __old feeds only the delta; the checkpoint prunes it
        return new_full.selectExpr(
            "vid", rank_expr, "out_deg", "reset", "rank AS __old"
        )

    ranks = _until_tol(
        "pagerank", ranks, pr_round, "max(abs(rank - __old))", tol, max_iter
    )
    if phantom_vertices:
        ranks = ranks.join(real_vertices.toDF("vid"), "vid", "left_semi")
    return ranks.select("vid", F.col("rank").alias("pagerank"))


# Adaptive pointer-jumping threshold for WCC: contraction rounds <= this
# skip the label-compression self-join (small-effective-diameter graphs
# converge before it can pay for itself); beyond it every round also
# path-compresses labels, bounding total rounds at
# _JUMP_AFTER + O(log diameter) on chains/meshes.
_JUMP_AFTER = 8

# Deferred-L1-normalization kernels (hits tol=0, eigenvector_centrality)
# let unnormalized magnitudes grow ~degree^k across rounds; past this many
# rounds they insert an L1 rescale at each checkpoint so user-supplied
# large max_iter on high-degree graphs can't overflow double to inf/NaN.
# Rescaling by a positive scalar commutes with the linear map, so the
# final (normalized) vector is unchanged; the rescale rides the rounds
# that materialize anyway, so the fused-lineage/broadcast caveat
# (PERF.md round-8) does not apply.
_DEFERRED_NORM_SAFE_ROUNDS = 40


def _l1_rescale(df: DataFrame, *cols: str) -> DataFrame:
    """Divide each of `cols` by its L1 sum (no-op on zero mass)."""
    sums = F.broadcast(
        df.agg(
            *[F.coalesce(F.sum(c), F.lit(0.0)).alias(f"__n_{c}") for c in cols]
        )
    )
    keep = [c for c in df.columns if c not in cols]
    return df.crossJoin(sums).select(
        *keep,
        *[
            F.when(F.col(f"__n_{c}") > 0, F.col(c) / F.col(f"__n_{c}"))
            .otherwise(F.col(c))
            .alias(c)
            for c in cols
        ],
    )


def _until_tol(kernel, state, step, delta_sql, tol, max_iter):
    """Run `step` through pathops.fixpoint until the round's `delta_sql`
    aggregate drops below tol (tol <= 0: exactly max_iter rounds).  When
    max_iter ends first the result is the last iterate, not a converged
    one, and one RuntimeWarning says so."""
    if tol <= 0:
        return pathops.fixpoint(state, step, max_rounds=max_iter).state
    delta = None

    def met(row):
        nonlocal delta
        delta = row["delta"]
        return delta is not None and delta < tol

    run = pathops.fixpoint(state, step, observe=(f"{delta_sql} AS delta",),
                           done=met, max_rounds=max_iter)
    if not run.converged:
        warnings.warn(f"{kernel}: tol={tol!r} not met after {max_iter} rounds "
                      f"(last delta {delta!r})", RuntimeWarning, stacklevel=3)
    return run.state


def weakly_connected_component(
    edges: DataFrame, vertices: DataFrame
) -> DataFrame:
    """WCC via min-label propagation with EDGE CONTRACTION, falling back
    to compounding pointer-jump propagation for high-diameter residue;
    returns (vid, component_id) where component_id is the minimum
    IN-DOMAIN vertex id of the component (edge endpoints outside the
    caller's vertex set connect components but never name them —
    reference convention, weakly_connected_component.cpp:66-99).

    Phase 1 (rounds 1.._JUMP_AFTER): hash-to-min propagation (one join +
    groupBy min) then CONTRACT — every edge rewritten to
    (label(src), label(dst)) and deduplicated, so intra-component edges
    vanish as soon as both endpoints agree.  Near-clique mass collapses
    after a round or two, and a label group only disappears from the
    contracted graph when its WHOLE component has merged (a closed label
    group with external edges would contradict the component being
    connected), so frozen labels are final.  Measured (r6, same-session
    pairs vs the r3-r5 propagation+jump kernel): 9.5 vs 6.3 s at sf0.1,
    27.6 vs 12.9 s at sf1, 89.9 vs 35.3 s at sf10.

    Phase 2 (only if edges remain): contraction shrinks a length-n path
    by O(1) vertices per round — retired labels freeze, so per-round
    label composition cannot compound — so high-diameter residue
    switches to the r5 kernel's loop on the (much smaller) contracted
    skeleton: plain propagation with a pointer jump fused into EVERY
    round, where all nodes keep updating and the jump reach doubles
    per round (O(log diameter) rounds; the 512-chain pytest pins this).

    Phase 3: collapse stale label chains (a vid that stopped appearing
    in the contracted graph keeps the label it last saw), then re-name
    every component by its minimum in-domain member and union isolated
    domain vertices back in.
    """
    vertices = vertices.toDF("vid").distinct()
    und = _doubled_neighbors(edges)  # cached-persisted, shared with lcc etc.
    parts = pathops.default_parallelism(edges.sparkSession)
    labels = pathops.materialize(
        und.select(F.col("src").alias("vid"))
        .distinct()
        .select("vid", F.col("vid").alias("comp"))
    )
    cur = und
    for _ in range(_JUMP_AFTER):
        prop = (
            labels.selectExpr("vid AS src", "comp")
            .join(cur, "src")
            .selectExpr("dst AS vid", "comp")
            .unionByName(labels.select("vid", "comp"))
            .groupBy("vid")
            .agg(F.expr("min(comp) AS comp"))
        )
        labels = pathops.materialize(prop)
        contracted = (
            cur.join(labels.selectExpr("vid AS src", "comp AS __sc"), "src")
            .join(labels.selectExpr("vid AS dst", "comp AS __dc"), "dst")
            .selectExpr("__sc AS src", "__dc AS dst")
            .where("src != dst")
        )
        contracted = contracted.unionByName(
            contracted.selectExpr("dst AS src", "src AS dst")
        ).distinct().repartition(parts, "src")
        cur, n_edges = pathops.checkpoint_with_count(contracted)
        if not n_edges:
            break
    else:
        # high-diameter residue: compounding propagate+jump to fixpoint
        # on the contracted skeleton, then compose vid -> comp -> final
        sub = _min_label_fixpoint(cur)
        labels = pathops.materialize(
            labels.alias("l")
            .join(sub.alias("s"), F.col("l.comp") == F.col("s.vid"), "left")
            .select(
                F.col("l.vid").alias("vid"),
                F.least(
                    F.col("l.comp"),
                    F.coalesce(F.col("s.comp"), F.col("l.comp")),
                ).alias("comp"),
            )
        )
    # collapse stale label chains: comp := labels[comp] until stable
    def jump(labels):
        return (
            labels.alias("p")
            .join(labels.alias("q"), F.col("p.comp") == F.col("q.vid"), "left")
            .select(
                F.col("p.vid").alias("vid"),
                F.least(
                    F.col("p.comp"),
                    F.coalesce(F.col("q.comp"), F.col("p.comp")),
                ).alias("comp"),
                (
                    F.col("p.comp")
                    != F.coalesce(F.col("q.comp"), F.col("p.comp"))
                ).cast("int").alias("__ch"),
            )
        )

    labels = pathops.fixpoint(
        labels, jump, observe=("sum(__ch) AS n",), done=lambda row: not row["n"]
    ).state
    # re-name components by their minimum IN-DOMAIN member; restrict to
    # the caller's vertex domain (contract: one row per input vertex,
    # like pagerank/lcc); isolated vertices are their own component
    in_dom = labels.join(vertices, "vid", "left_semi")
    renames = in_dom.groupBy("comp").agg(F.min("vid").alias("component_id"))
    connected = in_dom.join(renames, "comp").select("vid", "component_id")
    isolated = vertices.join(labels, "vid", "left_anti").select(
        "vid", F.col("vid").alias("component_id")
    )
    return connected.unionByName(isolated)


def _min_label_fixpoint(graph: DataFrame) -> DataFrame:
    """(vid, comp) min-label fixpoint over a doubled edge frame — plain
    propagation with a pointer jump fused into every round (the r3-r5
    WCC loop).  All nodes keep updating through real edges, so the jump
    composes the full map each round and reach doubles: O(log diameter)
    rounds.  Used on WCC's post-contraction skeleton."""
    labels = pathops.materialize(
        graph.select(F.col("src").alias("vid"))
        .distinct()
        .select("vid", F.col("vid").alias("comp"))
    )

    def propagate_and_jump(labels):
        prop = (
            labels.alias("l")
            .join(graph.alias("u"), F.col("l.vid") == F.col("u.src"))
            .select(F.col("u.dst").alias("vid"), F.col("l.comp").alias("comp"))
            .unionByName(labels.select("vid", "comp"))
            .groupBy("vid")
            .agg(F.min("comp").alias("comp"))
        )
        return (
            prop.alias("p")
            .join(prop.alias("q"), F.col("p.comp") == F.col("q.vid"), "left")
            .select(
                F.col("p.vid").alias("vid"),
                F.least(
                    F.col("p.comp"),
                    F.coalesce(F.col("q.comp"), F.col("p.comp")),
                ).alias("comp"),
            )
            .alias("j")
            .join(
                labels.alias("o"), F.col("j.vid") == F.col("o.vid"), "left"
            )
            .select(
                F.col("j.vid").alias("vid"),
                F.col("j.comp").alias("comp"),
                (
                    F.col("o.comp").isNull()
                    | (F.col("j.comp") != F.col("o.comp"))
                ).cast("int").alias("__ch"),
            )
        )

    return pathops.fixpoint(labels, propagate_and_jump, observe=("sum(__ch) AS n",),
                            done=lambda row: not row["n"]).state


def _doubled_neighbors(edges: DataFrame) -> DataFrame:
    """Distinct both-direction neighbor pairs (src, dst), self-loops dropped
    — the undirected adjacency every triangle/clustering step works over.
    Session-cached per edge plan (the _prep_edges checkpoint cache): lcc,
    global_clustering, assortativity and WCC all derive this same frame
    from the same edge set, so within a session it is built once.
    Checkpoint (not persist) by measurement: WCC reads this frame twice
    per round, and the persisted InMemoryRelation's columnar decode cost
    those reads 12.6 s vs 5.1 s checkpointed at sf0.1 (r6) — the decode
    outweighs the exchange the lost partitioning re-introduces."""
    return pathops._prep_edges(
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct(),
        None,
    )


def _oriented_half_edges(nbr: DataFrame, deg: DataFrame) -> DataFrame:
    """Each undirected edge exactly once, oriented from the lower-(degree,
    id) endpoint to the higher: (src, dst, ddst) with ord(src) < ord(dst).

    This is the degree-ordering trick from scalable triangle counting
    (Cohen, "Graph Twiddling in a MapReduce World"): every vertex's
    oriented out-degree is O(sqrt(m)), so the wedge self-join below
    generates O(m^1.5) candidates total instead of the sum of squared raw
    degrees — a celebrity vertex with 10^6 neighbors contributes zero
    wedges from its own side because all its edges point INTO it.
    """
    return (
        nbr.alias("e")
        .join(deg.alias("ds"), F.col("e.src") == F.col("ds.src"))
        .join(deg.alias("dd"), F.col("e.dst") == F.col("dd.src"))
        .where(
            (F.col("ds.deg") < F.col("dd.deg"))
            | ((F.col("ds.deg") == F.col("dd.deg")) & (F.col("e.src") < F.col("e.dst")))
        )
        .select(
            F.col("e.src").alias("src"),
            F.col("e.dst").alias("dst"),
            F.col("dd.deg").alias("ddst"),
        )
    )


def triangle_counts(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Per-vertex undirected triangle participation counts: (vid, triangles).

    Degree-ordered half-edge plan: orient each undirected edge low->high by
    (degree, id), pair half-edges sharing their low apex (candidate wedge
    (b, c) with ord(b) < ord(c)), close against the half-edge b->c — each
    triangle is enumerated exactly once, then credited to all three
    corners.  Replaces the neighbor-list self-join whose wedge set is
    sum(deg^2) — quadratic in the hottest vertex's degree and a scale
    anti-pattern on power-law graphs.
    """
    vertices = vertices.toDF("vid").distinct()
    return _triangles_from_nbr(_doubled_neighbors(edges), vertices)


def _triangles_from_nbr(
    nbr: DataFrame, vertices: DataFrame, deg: DataFrame | None = None
) -> DataFrame:
    """triangle_counts over an already-doubled distinct neighbor frame;
    pass a precomputed (src, deg) frame to reuse the caller's degree agg."""
    if deg is None:
        deg = nbr.groupBy("src").agg(F.count("*").alias("deg"))
    half = _oriented_half_edges(nbr, deg).persist()
    try:
        wedges = (
            half.alias("h1")
            .join(half.alias("h2"), F.col("h1.src") == F.col("h2.src"))
            .where(
                (F.col("h1.ddst") < F.col("h2.ddst"))
                | (
                    (F.col("h1.ddst") == F.col("h2.ddst"))
                    & (F.col("h1.dst") < F.col("h2.dst"))
                )
            )
            .select(
                F.col("h1.src").alias("a"),
                F.col("h1.dst").alias("b"),
                F.col("h2.dst").alias("c"),
            )
        )
        closed = wedges.alias("w").join(
            half.alias("h3"),
            (F.col("w.b") == F.col("h3.src")) & (F.col("w.c") == F.col("h3.dst")),
            "left_semi",
        )
        tri = (
            closed.select(
                F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("vid")
            )
            .groupBy("vid")
            .agg(F.count("*").alias("triangles"))
        )
        return pathops.materialize(
            vertices.join(tri, "vid", "left").select(
                "vid", F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles")
            )
        )
    finally:
        half.unpersist()


def local_clustering_coefficient(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Per-vertex local clustering coefficient, reference convention:

    lcc(v) = |{(u,w) : u,w distinct neighbors of v, edge u->w in the
    doubled undirected edge set}| / (deg(v) * (deg(v) - 1)), and 0.0 when
    deg(v) < 2.  The ordered-pair numerator equals 2 * triangles(v), so we
    compute triangles via the degree-ordered half-edge plan
    (triangle_counts) — O(m^1.5) wedge candidates instead of sum(deg^2).
    """
    vertices = vertices.toDF("vid").distinct()
    nbr = _doubled_neighbors(edges)  # cache-owned persist
    deg = nbr.groupBy("src").agg(F.count("*").alias("deg"))
    tri = _triangles_from_nbr(nbr, vertices, deg)
    return (
        vertices.alias("vt")
        .join(deg.alias("dg"), F.col("vt.vid") == F.col("dg.src"), "left")
        .join(tri.alias("tr"), F.col("vt.vid") == F.col("tr.vid"), "left")
        .select(
            F.col("vt.vid").alias("vid"),
            F.when(
                F.coalesce(F.col("deg"), F.lit(0)) < 2, F.lit(0.0)
            )
            .otherwise(
                (2.0 * F.coalesce(F.col("triangles"), F.lit(0)).cast("double"))
                / (F.col("deg").cast("double") * (F.col("deg") - 1))
            )
            .alias("local_clustering_coefficient"),
        )
    )


def neighbor_sample(
    edges: DataFrame, k: int, salt: str = "", by_dst: bool = False
) -> DataFrame:
    """Deterministic k-neighbor sampling: keep at most `k` out-edges per
    source vertex (in-edges per destination with by_dst=True), chosen by
    a content-hash order — the GraphSAGE-style neighborhood sampling
    step of GNN training pipelines, and the standard hub-degree cap
    before neighborhood-explosion-prone joins.

    The draw is a pure function of (src, dst, salt): reproducible across
    runs, engines and partitionings, and nested like
    corpus.deterministic_sample (a k=20 sample contains the k=10 sample
    at the same salt).  Vary `salt` for independent rounds (multi-layer
    GNN fan-out).

    One window over the edge shuffle on the group key — no joins; at
    100 TB this is the degree-cap that keeps celebrity vertices from
    dominating downstream neighborhood joins.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from .functions.text import md5_long

    key = "dst" if by_dst else "src"
    h = md5_long(
        F.concat_ws("|", F.col("src").cast("string"),
                    F.col("dst").cast("string"), F.lit(salt))
    )
    w = Window.partitionBy(key).orderBy(h.asc(), F.col("src").asc(), F.col("dst").asc())
    return (
        edges.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def k_core(edges: DataFrame, vertices: DataFrame, k: int) -> DataFrame:
    """The k-core: the maximal vertex set in which every member has >= k
    distinct neighbors inside the set (undirected, self-loops dropped).
    Classic peeling: repeatedly remove vertices of degree < k until a
    fixpoint — the result is unique regardless of removal order, so the
    output is deterministic.

    Returns a one-column (vid) DataFrame.  Used for community scaffolding
    and as a denoising filter before expensive per-vertex work (a vertex
    outside the 2-core can't be in any triangle, etc.).

    Scale design: the doubled adjacency is built once (checkpointed,
    partitioned by src); each peeling round is one semi-join of the
    adjacency against the surviving set + one groupBy count — the same
    one-job-per-round shape as WCC, with the survivor-count change
    observed during the checkpoint job.  Rounds are bounded by the
    peeling depth (<= max degeneracy ordering depth, typically tens even
    on web graphs).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    und = pathops.materialize(_doubled_neighbors(edges))
    alive = pathops.materialize(vertices.toDF("vid").distinct())
    n_alive = alive.count()

    def peel(alive):
        return (
            und.join(alive.withColumnRenamed("vid", "src"), "src", "left_semi")
            .join(alive.withColumnRenamed("vid", "dst"), "dst", "left_semi")
            .groupBy("src")
            .agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= k)
            .select(F.col("src").alias("vid"))
        )

    def stable(row):
        # peeling stops once a round removes nothing (or nothing is left)
        nonlocal n_alive
        n_prev, n_alive = n_alive, row["n"] or 0
        return n_alive in (0, n_prev)

    return pathops.fixpoint(alive, peel, observe=("count(*) AS n",), done=stable).state


def sampled_neighborhood(
    edges: DataFrame,
    seeds: DataFrame,
    fanouts: list[int],
    salt: str = "",
) -> DataFrame:
    """Layered GraphSAGE-style neighborhood sampling: from the seed
    vertices, keep at most fanouts[0] out-edges per vertex; from the
    NEWLY reached vertices, fanouts[1] each; and so on — the sampled
    computation graph a GNN trainer materializes per mini-batch, as a
    deterministic DataFrame job.

    Returns the sampled edges tagged with their layer:
    (src, dst, layer).  Each layer uses an independent hash draw
    (salt|layer), and already-visited vertices are not re-expanded, so
    the result is a DAG-ish sample rooted at the seeds whose size is
    bounded by |seeds| * prod(fanouts).

    Scale design: per layer, one semi-join restricts the edge table to
    the frontier (frontier-sized, not graph-sized), one hash-ranked
    window caps the fan-out, and the frontier/visited sets are
    checkpointed to truncate lineage — the BFS cost model, with the
    window replacing the full neighbor materialization.
    """
    if not fanouts or any(k < 1 for k in fanouts):
        raise ValueError("fanouts must be a non-empty list of k >= 1")
    frontier = pathops.materialize(seeds.toDF("vid").distinct())
    visited = frontier
    out = None
    for layer, k in enumerate(fanouts):
        cand = edges.select("src", "dst").join(
            frontier.withColumnRenamed("vid", "src"), "src", "left_semi"
        )
        samp = neighbor_sample(cand, k, salt=f"{salt}|{layer}").withColumn(
            "layer", F.lit(layer)
        )
        out = samp if out is None else out.unionByName(samp)
        if layer == len(fanouts) - 1:
            break  # the last layer's frontier is never expanded — skip
            # the two eager jobs that would build and then discard it
        frontier = pathops.materialize(
            samp.select(F.col("dst").alias("vid"))
            .distinct()
            .join(visited, "vid", "left_anti")
        )
        visited = pathops.materialize(visited.unionByName(frontier))
    return out


def hits(
    edges: DataFrame,
    vertices: DataFrame,
    max_iter: int = 10,
    tol: float = 0.0,
) -> DataFrame:
    """HITS (Kleinberg hubs & authorities) over directed (src, dst) edges;
    beyond-reference — the reference stops at pagerank/wcc/lcc
    (/root/reference/src/core/functions/scalar.hpp:7-19 lists no HITS).

    Per iteration: authority(v) = sum of hub over in-neighbors, then hub(u)
    = sum of authority over out-neighbors, each L1-normalized (scores sum
    to 1 — the sum-normalized variant keeps the fixpoint identical to the
    L2 form up to scale and replays exactly in an unrolled-SQL oracle).

    Returns (vid, hub, authority).  Vertices with no edges keep score 0.
    Edges with an endpoint outside `vertices` are dropped up front (the
    graph induced on the vertex domain) — otherwise mass would flow to
    out-of-domain endpoints, be counted by the L1 norm, then silently
    discarded, breaking the sum-to-1 contract.

    Scale design: the induced edge frame is persisted twice — once
    hash-partitioned by src (authority half-step) and once by dst (hub
    half-step), so neither per-iteration join reshuffles the edges; the
    L1 norms ride as broadcast 1-row frames (no driver collect per
    iteration), and the scores frame is checkpointed per round — two
    jobs per iteration, mirroring pagerank.
    """
    vertices = pathops.materialize(vertices.toDF("vid").distinct())
    parts = pathops.default_parallelism(edges.sparkSession)
    induced = (
        edges.select("src", "dst")
        .join(vertices.withColumnRenamed("vid", "src"), "src", "left_semi")
        .join(vertices.withColumnRenamed("vid", "dst"), "dst", "left_semi")
    )
    edges = induced.repartition(parts, "src").persist()
    edges_by_dst = induced.repartition(parts, "dst").persist()
    scores = pathops.materialize(
        vertices.select("vid", F.lit(1.0).alias("hub"), F.lit(0.0).alias("auth"))
    )
    try:
        if tol == 0:
            # Deferred L1 normalization (round 9): each round's
            # normalization is a positive scalar, so applying BOTH norms
            # once at the end returns the identical (hub, authority)
            # vectors while making every round pure shuffle joins — no
            # crossJoined 1-row aggregates.  That unlocks LPA's
            # every-other-round checkpoint cadence (the r8 fused-lineage
            # regression was caused by the broadcast norm branch, now
            # gone): one materialize per TWO rounds instead of two per
            # round.  Magnitudes grow as ~(mean degree)^2 per round; for
            # max_iter > _DEFERRED_NORM_SAFE_ROUNDS an L1 rescale rides
            # each checkpoint so arbitrary user max_iter cannot overflow
            # double (rescaling commutes — result unchanged).  The
            # tol-based early-exit path below keeps per-round
            # normalization (its deltas are defined on unit-scale scores).
            #
            # Round 10: the two per-round dense merges are gone too —
            # with normalization deferred, a vertex absent from a
            # half-step aggregate has score exactly 0 and contributes
            # nothing onward, so each aggregate IS the next sparse
            # vector (hub carries the recursion; the round's auth is
            # re-derived from the previous hub).  Two joins + two
            # aggregates per round, zeros re-densified once at the end
            # against the vertex frame.
            auth = None

            def deferred_round(hub):
                nonlocal auth  # only the FINAL round's auth is consumed
                auth = (
                    hub.selectExpr("vid AS src", "hub")
                    .join(edges, "src")
                    .groupBy(F.col("dst").alias("vid"))
                    .agg(F.expr("sum(hub) AS auth"))
                )
                return (
                    auth.selectExpr("vid AS dst", "auth")
                    .join(edges_by_dst, "dst")
                    .groupBy(F.col("src").alias("vid"))
                    .agg(F.expr("sum(auth) AS hub"))
                )

            rescale = max_iter > _DEFERRED_NORM_SAFE_ROUNDS
            hub = pathops.fixpoint(
                scores.select("vid", "hub"), deferred_round, max_rounds=max_iter, every=2,
                on_checkpoint=(lambda h: _l1_rescale(h, "hub")) if rescale else None,
            ).state
            if auth is None:  # max_iter == 0: uniform hubs, zero auths
                auth = hub.select("vid", F.lit(0.0).alias("auth")).where(F.lit(False))
            elif rescale:
                auth = pathops.materialize(_l1_rescale(auth, "auth"))
            sums = F.broadcast(
                hub.agg(F.coalesce(F.sum("hub"), F.lit(0.0)).alias("__hn"))
                .crossJoin(
                    auth.agg(
                        F.coalesce(F.sum("auth"), F.lit(0.0)).alias("__an")
                    )
                )
            )
            return (
                vertices.alias("v")
                .join(hub.alias("h"), F.col("v.vid") == F.col("h.vid"), "left")
                .join(auth.alias("a"), F.col("v.vid") == F.col("a.vid"), "left")
                .crossJoin(sums)
                .select(
                    F.col("v.vid").alias("vid"),
                    F.when(
                        F.col("__hn") > 0,
                        F.coalesce(F.col("h.hub"), F.lit(0.0)) / F.col("__hn"),
                    )
                    .otherwise(F.lit(0.0))
                    .alias("hub"),
                    F.when(
                        F.col("__an") > 0,
                        F.coalesce(F.col("a.auth"), F.lit(0.0)) / F.col("__an"),
                    )
                    .otherwise(F.lit(0.0))
                    .alias("authority"),
                )
            )

        def normalized_round(scores):
            # authority step: mass flows along edge direction (hub of src)
            araw = (
                scores.alias("s")
                .join(edges.alias("e"), F.col("s.vid") == F.col("e.src"))
                .groupBy(F.col("e.dst").alias("vid"))
                .agg(F.sum("s.hub").alias("araw"))
            )
            anorm = F.broadcast(
                araw.agg(F.coalesce(F.sum("araw"), F.lit(0.0)).alias("__an"))
            )
            auth = (
                scores.alias("s")
                .join(araw.alias("a"), F.col("s.vid") == F.col("a.vid"), "left")
                .crossJoin(anorm)
                .select(
                    F.col("s.vid").alias("vid"),
                    F.col("s.hub").alias("hub"),
                    F.when(
                        F.col("__an") > 0,
                        F.coalesce(F.col("araw"), F.lit(0.0)) / F.col("__an"),
                    )
                    .otherwise(F.lit(0.0))
                    .alias("auth"),
                    # carry the round-start authority through the half-step so
                    # the convergence delta can be computed inside the hub
                    # step's checkpoint job (no extra driver action)
                    *([F.col("s.auth").alias("__prev_auth")] if tol > 0 else []),
                )
            )
            auth = pathops.materialize(auth)
            # hub step: mass flows against edge direction (auth of dst)
            hraw = (
                auth.alias("s")
                .join(edges_by_dst.alias("e"), F.col("s.vid") == F.col("e.dst"))
                .groupBy(F.col("e.src").alias("vid"))
                .agg(F.sum("s.auth").alias("hraw"))
            )
            hnorm = F.broadcast(
                hraw.agg(F.coalesce(F.sum("hraw"), F.lit(0.0)).alias("__hn"))
            )
            new_hub = (
                F.when(
                    F.col("__hn") > 0,
                    F.coalesce(F.col("hraw"), F.lit(0.0)) / F.col("__hn"),
                )
                .otherwise(F.lit(0.0))
            )
            return (
                auth.alias("s")
                .join(hraw.alias("h"), F.col("s.vid") == F.col("h.vid"), "left")
                .crossJoin(hnorm)
                .select(
                    F.col("s.vid").alias("vid"),
                    new_hub.alias("hub"),
                    F.col("s.auth").alias("auth"),
                    # s.hub is the ROUND-START hub (copied through the
                    # authority half-step), so both deltas are expressible
                    # on this one frame
                    *(
                        [
                            F.greatest(
                                F.abs(new_hub - F.col("s.hub")),
                                F.abs(F.col("s.auth") - F.col("__prev_auth")),
                            ).alias("__delta")
                        ]
                        if tol > 0
                        else []
                    ),
                )
            )

        scores = _until_tol(
            "hits", scores, normalized_round, "max(__delta)", tol, max_iter
        )
        return scores.select("vid", "hub", F.col("auth").alias("authority"))
    finally:
        edges.unpersist()
        edges_by_dst.unpersist()


def strongly_connected_component(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Strongly connected components over directed (src, dst) edges;
    beyond-reference (the reference has only the WEAKLY variant,
    weakly_connected_component.cpp:66-99).  Returns (vid, scc_id) where
    scc_id is the MINIMUM member id of the component — deterministic, the
    same representative convention as our WCC.

    Multi-pivot coloring (Orzan's coloring / FW-BW peeling, the standard
    distributed SCC formulation):

      1. color(v) = max id u in the remaining set with a path u ->* v
         (forward max-label propagation to fixpoint, one job per round).
      2. Every color c is a root (c reaches itself); the SCC of c is
         {v : color(v) = c and v ->* c} — found by ONE batched backward
         traversal from all roots at once, restricted to same-color
         vertices (frontier keyed by color, so all pivots peel in the
         same pass).
      3. Remove found SCCs; repeat on the remainder.

    Before each coloring pass, the standard TRIM step bulk-removes
    trivial SCCs: a remaining vertex with no live in-edges or no live
    out-edges cannot sit on any cycle, so it is its own component.
    Trimming iterates to fixpoint (each pass is one job) — dangling
    trees and chain periphery fall out in a few passes instead of
    costing one full color+peel round EACH (a descending id chain is
    the worst case of plain coloring: one peeled root per round).

    Each outer round then peels at least every current root's SCC, so
    rounds are bounded by the longest chain of non-trivial SCCs whose
    roots are ordered by id along edges — small in practice (power-law
    graphs: one giant SCC plus shallow periphery).  All steps are
    joins/groupBys over frames partitioned by the propagation key;
    nothing is collected.
    """
    vertices = pathops.materialize(vertices.toDF("vid").distinct())
    parts = pathops.default_parallelism(edges.sparkSession)
    all_edges = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(parts, "src")
        .persist()
    )
    remaining = vertices
    n_remaining = remaining.count()
    out = None
    try:
        while n_remaining:
            # -- trim: peel vertices that can't be on a cycle, to fixpoint.
            # Trivial frames are BUFFERED and union'd into `out` once per
            # outer round — re-materializing the growing result every trim
            # pass would be O(passes * peeled) on chain periphery, the
            # exact workload trim exists to make cheap.
            trivia = []
            while True:
                live = (
                    all_edges.join(
                        remaining.withColumnRenamed("vid", "src"), "src", "left_semi"
                    )
                    .join(
                        remaining.withColumnRenamed("vid", "dst"), "dst", "left_semi"
                    )
                )
                live = pathops.materialize(live.repartition(parts, "src"))
                cyclic = (
                    remaining.join(
                        live.select("src").withColumnRenamed("src", "vid"),
                        "vid",
                        "left_semi",
                    ).join(
                        live.select("dst").withColumnRenamed("dst", "vid"),
                        "vid",
                        "left_semi",
                    )
                )
                cyclic, n_cyc = pathops.checkpoint_with_count(cyclic)
                n_triv = n_remaining - n_cyc
                if not n_triv:
                    break
                trivia.append(
                    remaining.join(cyclic, "vid", "left_anti").select(
                        "vid", F.col("vid").alias("scc_id")
                    )
                )
                remaining = cyclic
                n_remaining = n_cyc
            if trivia:
                found0 = trivia[0]
                for t in trivia[1:]:
                    found0 = found0.unionByName(t)
                out = found0 if out is None else out.unionByName(found0)
                out = pathops.materialize(out)
            if not n_remaining:
                break
            # -- step 1: forward max-color propagation to fixpoint
            colors = pathops.materialize(
                remaining.select("vid", F.col("vid").alias("color"))
            )

            def propagate(colors):
                return (
                    colors.alias("c")
                    .join(live.alias("e"), F.col("c.vid") == F.col("e.src"))
                    .select(
                        F.col("e.dst").alias("vid"),
                        F.col("c.color").alias("color"),
                        F.lit(0).alias("__own"),
                    )
                    .unionByName(
                        colors.select("vid", "color", F.lit(1).alias("__own"))
                    )
                    .groupBy("vid")
                    .agg(
                        F.max("color").alias("color"),
                        F.max(F.when(F.col("__own") == 1, F.col("color"))).alias(
                            "__old"
                        ),
                    )
                )

            colors = pathops.fixpoint(
                colors, propagate, done=lambda row: not row["n"],
                observe=("sum(CASE WHEN color != __old THEN 1 ELSE 0 END) AS n",),
            ).state
            # -- step 2: batched backward reach from every root, same color
            # member rows are (color, vid): vid reaches its color root
            members = pathops.materialize(
                colors.where(F.col("vid") == F.col("color")).select("color", "vid")
            )
            frontier = members
            while True:
                step = (
                    frontier.alias("f")
                    .join(live.alias("e"), F.col("f.vid") == F.col("e.dst"))
                    .join(
                        colors.alias("c"),
                        (F.col("e.src") == F.col("c.vid"))
                        & (F.col("c.color") == F.col("f.color")),
                        "left_semi",
                    )
                    .select(F.col("f.color").alias("color"), F.col("e.src").alias("vid"))
                    .dropDuplicates(["color", "vid"])
                    .join(members, ["color", "vid"], "left_anti")
                )
                step, n_new = pathops.checkpoint_with_count(step)
                if not n_new:
                    break
                members = pathops.materialize(members.unionByName(step))
                frontier = step
            scc = members.groupBy("color").agg(F.min("vid").alias("scc_id"))
            found = members.join(scc, "color").select("vid", "scc_id")
            out = found if out is None else out.unionByName(found)
            out = pathops.materialize(out)
            remaining = pathops.materialize(
                remaining.join(out.select("vid"), "vid", "left_anti")
            )
            n_remaining = remaining.count()
        if out is None:
            return vertices.select("vid", F.col("vid").alias("scc_id")).limit(0)
        return out
    finally:
        all_edges.unpersist()


def global_clustering(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Whole-graph transitivity: one row (triangles, wedges,
    global_clustering) where triangles counts each undirected triangle
    once, wedges = sum over vertices of deg*(deg-1)/2 (unordered
    neighbor pairs), and global_clustering = 3 * triangles / wedges
    (0.0 on wedge-free graphs).  The graph-level companion of the
    reference's per-vertex local_clustering_coefficient
    (local_clustering_coefficient.cpp:11-70), same doubled-edge
    degree convention.

    Reuses the degree-ordered O(m^1.5) triangle plan; the wedge count is
    a pure degree aggregate — no wedge materialization anywhere.

    Edges with an endpoint outside `vertices` are dropped first, so
    triangles and wedges are measured over the SAME induced subgraph —
    counting wedges graph-wide while crediting triangles only to
    in-domain corners would fractionally undercount triangles (sum/3
    truncates) and skew the coefficient.
    """
    vertices = vertices.toDF("vid").distinct()
    edges = (
        edges.select("src", "dst")
        .join(vertices.withColumnRenamed("vid", "src"), "src", "left_semi")
        .join(vertices.withColumnRenamed("vid", "dst"), "dst", "left_semi")
    )
    nbr = _doubled_neighbors(edges)  # cache-owned persist
    deg = nbr.groupBy("src").agg(F.count("*").alias("deg"))
    tri_total = (
        _triangles_from_nbr(nbr, vertices, deg)
        .agg((F.coalesce(F.sum("triangles"), F.lit(0)) / 3).cast("long").alias("triangles"))
    )
    wedge_total = deg.agg(
        F.coalesce(
            F.sum(F.col("deg").cast("long") * (F.col("deg") - 1) / 2), F.lit(0)
        )
        .cast("long")
        .alias("wedges")
    )
    return tri_total.crossJoin(wedge_total).select(
        "triangles",
        "wedges",
        F.when(F.col("wedges") > 0,
               3.0 * F.col("triangles") / F.col("wedges"))
        .otherwise(F.lit(0.0))
        .alias("global_clustering"),
    )


def random_walks(
    edges: DataFrame,
    seeds: DataFrame,
    length: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic random walks: from every seed vertex, take `length`
    steps, at each step moving to one uniformly-pseudo-chosen out-neighbor.
    The node2vec/DeepWalk corpus-generation step of graph-embedding
    pipelines, as a reproducible DataFrame job (beyond-reference).

    The choice at (walk, step, vertex) is a pure function of
    (walk_id, step, vertex, salt) via the portable md5 hash — identical
    across runs, partitionings and engines, so an SQL oracle can replay
    the exact walks.  Walks STOP at dangling vertices (no out-edges);
    multi-edges collapse (distinct neighbors, uniform over neighbors).

    Returns (walk_id, step, vid) including step 0 at the seed.

    Scale design: the ranked adjacency (src, dst, rk, deg) is built once
    (one window over the edge shuffle) and checkpointed partitioned by
    src; each step is ONE equi-join of the walk frontier against it
    (frontier-sized shuffle), same cost model as BFS — never a per-walk
    loop, never a collect.
    """
    if length < 1:
        raise ValueError("length must be >= 1")
    from .functions.text import md5_long

    from pyspark.sql import Window

    parts = pathops.default_parallelism(edges.sparkSession)
    nbr = edges.select("src", "dst").distinct()
    w = Window.partitionBy("src").orderBy(F.col("dst").asc())
    ranked = pathops.materialize(
        nbr.select(
            "src",
            "dst",
            F.row_number().over(w).alias("rk"),
            F.count("*").over(Window.partitionBy("src")).alias("deg"),
        ).repartition(parts, "src")
    )
    frontier = pathops.materialize(
        seeds.toDF("vid").distinct().select(
            F.col("vid").alias("walk_id"), F.lit(0).alias("step"),
            F.col("vid").alias("vid"),
        )
    )
    out = frontier
    for step in range(1, length + 1):
        draw = md5_long(
            F.concat_ws(
                "|",
                F.col("f.walk_id").cast("string"),
                F.lit(str(step)),
                F.col("f.vid").cast("string"),
                F.lit(salt),
            )
        )
        frontier = (
            frontier.alias("f")
            .join(ranked.alias("r"), F.col("f.vid") == F.col("r.src"))
            .where(F.col("r.rk") == (draw % F.col("r.deg")) + 1)
            .select(
                F.col("f.walk_id").alias("walk_id"),
                F.lit(step).alias("step"),
                F.col("r.dst").alias("vid"),
            )
        )
        frontier, n = pathops.checkpoint_with_count(frontier)
        if not n:
            break
        out = out.unionByName(frontier)
    return out


def node2vec_walks(
    edges: DataFrame,
    seeds: DataFrame,
    length: int,
    p: float = 4.0,
    q: float = 0.25,
    salt: str = "n2v",
) -> DataFrame:
    """Deterministic node2vec biased walks (Grover & Leskovec, KDD'16):
    like random_walks, but each step weights candidate neighbors by the
    return parameter p and the in-out parameter q —

        w(dst) = 1/p  if dst == prev        (return)
                 1    if edge prev -> dst    (stay in prev's neighborhood)
                 1/q  otherwise              (explore outward)

    over the directed out-adjacency (the directed-graph reading of the
    paper's d(prev, dst) in {0, 1, 2}).  The first step has no prev, so
    all weights tie — uniform, as in the reference algorithm.

    Determinism: the draw at (walk, step, vertex) is the same portable
    md5 hash random_walks uses, reduced mod 2^20; the chosen neighbor is
    the first rank whose cumulative weight crosses draw/2^20 of the
    total.  The DEFAULT p=4, q=0.25 make every weight a multiple of
    0.25, so cumulative sums and the crossing comparison are EXACT in
    doubles — an SQL oracle replays the walks bit-identically (other
    p/q values stay deterministic within Spark but cross-engine float
    drift is then possible).

    Returns (walk_id, step, vid) including step 0 at the seed.

    Scale design: same per-step cost model as random_walks (one
    frontier-vs-adjacency equi-join) plus the prev->dst adjacency flag,
    computed WITHOUT touching the full edge frame a second time: prev's
    neighbor set comes from the same src-partitioned ranked adjacency
    (only the frontier shuffles), and the flag join runs between the two
    frontier-x-degree-sized frames on (walk_id, dst).  Measured at sf10
    (6M edges): the naive formulation re-shuffled the whole adjacency
    per step on (prev, dst).  All window aggregates are
    walk-partitioned (frontier-sized, not graph-sized).
    """
    if length < 1:
        raise ValueError("length must be >= 1")
    from .functions.text import md5_long

    from pyspark.sql import Window

    M = 1 << 20
    wp, wn, wq = 1.0 / p, 1.0, 1.0 / q
    parts = pathops.default_parallelism(edges.sparkSession)
    nbr = edges.select("src", "dst").distinct()
    w = Window.partitionBy("src").orderBy(F.col("dst").asc())
    ranked = pathops.materialize(
        nbr.select(
            "src", "dst", F.row_number().over(w).alias("rk")
        ).repartition(parts, "src")
    )
    adj = ranked.select("src", "dst")
    frontier = pathops.materialize(
        seeds.toDF("vid").distinct().select(
            F.col("vid").alias("walk_id"), F.lit(0).alias("step"),
            F.col("vid").alias("vid"), F.lit(None).cast("long").alias("prev"),
        )
    )
    out = frontier.select("walk_id", "step", "vid")
    for step in range(1, length + 1):
        draw = md5_long(
            F.concat_ws(
                "|",
                F.col("f.walk_id").cast("string"),
                F.lit(str(step)),
                F.col("f.vid").cast("string"),
                F.lit(salt),
            )
        ) % F.lit(M)
        # prev's out-neighborhood, from the SAME src-partitioned ranked
        # frame (only the frontier side shuffles) — never a second pass
        # over the full edge frame keyed on (prev, dst)
        prev_nbrs = (
            frontier.alias("f")
            .join(adj.alias("p"), F.col("f.prev") == F.col("p.src"))
            .select(
                F.col("f.walk_id").alias("walk_id"),
                F.col("p.dst").alias("dst"),
                F.lit(1).alias("__is_nbr"),
            )
        )
        cand = (
            frontier.alias("f")
            .join(ranked.alias("r"), F.col("f.vid") == F.col("r.src"))
            .select(
                F.col("f.walk_id").alias("walk_id"),
                F.col("f.vid").alias("vid"),
                F.col("f.prev").alias("prev"),
                F.col("r.dst").alias("dst"),
                F.col("r.rk").alias("rk"),
                draw.alias("__draw"),
            )
            .join(prev_nbrs, ["walk_id", "dst"], "left")
            .select(
                "walk_id",
                "vid",
                "dst",
                "rk",
                F.when(F.col("dst") == F.col("prev"), F.lit(wp))
                .when(F.col("__is_nbr").isNotNull(), F.lit(wn))
                .otherwise(F.lit(wq))
                .alias("w"),
                "__draw",
            )
        )
        ww = Window.partitionBy("walk_id")
        worder = ww.orderBy(F.col("rk").asc())
        picked = (
            cand.withColumn(
                "__cumw", F.sum("w").over(worder.rowsBetween(Window.unboundedPreceding, 0))
            )
            .withColumn("__totw", F.sum("w").over(ww))
            .where(F.col("__cumw") * M > F.col("__draw") * F.col("__totw"))
            .withColumn("__rn", F.row_number().over(worder))
            .where(F.col("__rn") == 1)
            .select(
                "walk_id",
                F.lit(step).alias("step"),
                F.col("dst").alias("vid"),
                F.col("vid").alias("prev"),
            )
        )
        frontier, n = pathops.checkpoint_with_count(picked)
        if not n:
            break
        out = out.unionByName(frontier.select("walk_id", "step", "vid"))
    return out


def closeness_centrality(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """Out-closeness for each seed vertex: run one batched BFS from all
    seeds (the reference's multi-source lane trick, iterativelength.cpp
    :34-143) and fold distances into

        closeness(v) = (reached - 1) / sum(dist)   (0.0 when nothing
        beyond v itself is reachable)

    where `reached` counts vertices at finite distance INCLUDING v.  The
    harmonic variant is a one-line change; this is the classic
    Bavelas/Beauchamp formulation restricted to the reachable set
    (Wasserman-Faust style), the standard choice on disconnected
    directed graphs.  Returns (vid, reached, closeness).

    Cost = one multi-source BFS (|seeds| searches batched per level) +
    one groupBy — seeds scale the frontier width, not the level count.
    """
    dists = pathops.bfs_distances(edges.select("src", "dst"), sources=seeds.toDF("vid"))
    return (
        dists.groupBy(F.col("src").alias("vid"))
        .agg(
            F.count("*").alias("reached"),
            F.sum("dist").alias("__sum"),
        )
        .select(
            "vid",
            "reached",
            F.when(F.col("__sum") > 0,
                   (F.col("reached") - 1).cast("double") / F.col("__sum"))
            .otherwise(F.lit(0.0))
            .alias("closeness"),
        )
    )


def distance_report(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """Composed per-seed distance profile: closeness, harmonic
    centrality and eccentricity from ONE batched multi-source BFS
    (beyond-reference).  The three standalone kernels
    (closeness_centrality / harmonic_centrality / eccentricity) each
    pay the same BFS — when a caller wants more than one, sharing the
    distance frame removes the duplicate traversals entirely (BFS is
    the whole cost; the folds are single aggregates).  Values are
    identical to the standalone kernels by construction: same
    bfs_distances call, same fold expressions, fused into one groupBy.

    Returns (vid, reached, closeness, harmonic, eccentricity).
    """
    dists = pathops.bfs_distances(
        edges.select("src", "dst"), sources=seeds.toDF("vid")
    )
    return (
        dists.groupBy(F.col("src").alias("vid"))
        .agg(
            F.count("*").alias("reached"),
            F.sum("dist").alias("__sum"),
            F.coalesce(
                F.sum(F.when(F.col("dist") > 0, 1.0 / F.col("dist"))),
                F.lit(0.0),
            ).alias("harmonic"),
            F.max("dist").cast("long").alias("eccentricity"),
        )
        .select(
            "vid",
            "reached",
            F.when(
                F.col("__sum") > 0,
                (F.col("reached") - 1).cast("double") / F.col("__sum"),
            )
            .otherwise(F.lit(0.0))
            .alias("closeness"),
            "harmonic",
            "eccentricity",
        )
    )


def label_propagation(
    edges: DataFrame, vertices: DataFrame, max_iter: int = 5
) -> DataFrame:
    """Deterministic synchronous label propagation (community detection,
    beyond-reference): labels start as the vertex id; each round every
    vertex adopts the most frequent label among its undirected neighbors,
    ties broken by the SMALLEST label; isolated vertices keep their own.
    Returns (vid, label) after `max_iter` rounds.

    Synchronous LPA has no convergence guarantee (bipartite-ish regions
    can oscillate), so the round budget IS the spec — the standard
    formulation for replayable results, and what makes an unrolled SQL
    oracle possible.  Every step is deterministic, so communities are
    stable across runs/partitionings.

    Scale design: per round, one join of the label frame against the
    doubled adjacency (partitioned by src once), one (vid, label) count
    aggregate — map-side combine collapses repeats — and one window
    rank on the counts.  Labels are checkpointed every OTHER round, not
    every round: each materialize is a full job barrier, and at small
    scale the barrier floor dominates the actual shuffle work (measured
    sf0.1: per-round checkpointing 4.5 s vs 3.4 s fused-by-2; results
    bit-identical since every step is deterministic).  Two rounds of
    lineage is one join + two aggregates deep — trivially within
    Catalyst's comfort zone even on a 1000-executor cluster, while
    still bounding recompute-on-failure to two rounds.
    """
    vertices = pathops.materialize(vertices.toDF("vid").distinct())
    und = pathops.materialize(_doubled_neighbors(edges))
    labels = pathops.materialize(
        vertices.select("vid", F.col("vid").alias("label"))
    )

    def lpa_round(labels):
        cnt = (
            labels.selectExpr("vid AS src", "label")
            .join(und, "src")
            .groupBy(F.col("dst").alias("vid"), F.col("label"))
            .agg(F.expr("count(*) AS c"))
        )
        # the mode is a min_by over (-count, label) — same tie-break as a
        # (count DESC, label ASC) rank, but as an AGGREGATE it partial-
        # combines map-side (one candidate per vid per mapper reaches the
        # shuffle) where a window rank ships and sorts every count row;
        # min_by(struct) lowers to SortAggregate (key-only sort), pinned
        # by a plan-guard test
        pick = cnt.groupBy("vid").agg(
            F.expr("min_by(label, struct(-c AS nc, label AS label)) AS __new")
        )
        return labels.join(pick, "vid", "left").selectExpr(
            "vid", "coalesce(__new, label) AS label"
        )

    return pathops.fixpoint(labels, lpa_round, max_rounds=max_iter, every=2).state


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the doubled undirected edge
    list — one row (assortativity), NULL on degree-constant graphs
    (zero variance).  Positive: hubs link to hubs (social nets);
    negative: hubs link to leaves (the web, biology).

    One degree aggregate + two broadcast-able joins + one corr() —
    everything stays in JVM aggregates; nothing is materialized
    per-wedge or per-pair.
    """
    nbr = _doubled_neighbors(edges)  # cache-owned persist
    deg = nbr.groupBy("src").agg(F.count("*").alias("deg"))
    pairs = (
        nbr.alias("e")
        .join(deg.alias("ds"), F.col("e.src") == F.col("ds.src"))
        .join(deg.alias("dd"), F.col("e.dst") == F.col("dd.src"))
        .select(
            F.col("ds.deg").alias("sdeg"), F.col("dd.deg").alias("ddeg")
        )
    )
    # corr() composed from moments with try_divide: a degree-constant
    # graph has zero variance, where ANSI-mode corr() raises
    # DIVIDE_BY_ZERO — NULL (SQL corr semantics) is the contract here
    return pathops.materialize(
        pairs.agg(
            F.try_divide(
                F.covar_pop("sdeg", "ddeg"),
                F.stddev_pop("sdeg") * F.stddev_pop("ddeg"),
            ).alias("assortativity")
        )
    )


def katz_centrality(
    edges: DataFrame,
    vertices: DataFrame,
    alpha: float = 0.05,
    beta: float = 1.0,
    max_iter: int = 5,
) -> DataFrame:
    """Katz centrality (beyond-reference): x = alpha * A^T x + beta
    iterated `max_iter` times from x = beta — counts incoming walks of
    every length, geometrically damped by alpha (keep alpha below the
    reciprocal spectral radius for a convergent series; the fixed round
    budget makes results replayable either way).  Returns (vid, katz),
    un-normalized (the raw damped-walk count, like networkx with
    normalized=False before the final scaling).

    One contribution join + one aggregate per iteration against the
    src-partitioned edge frame — the pagerank cost model without the
    normalization step.
    """
    vertices = pathops.materialize(vertices.toDF("vid").distinct())
    edges = pathops.persist_partitioned(edges.select("src", "dst"))  # cache-owned
    x = pathops.materialize(vertices.select("vid", F.lit(beta).alias("katz")))
    katz_expr = (
        f"(CAST('{beta!r}' AS DOUBLE) + CAST('{alpha!r}' AS DOUBLE) "
        f"* coalesce(w, CAST(0.0 AS DOUBLE))) AS katz"
    )

    def katz_round(x):
        contrib = (
            x.selectExpr("vid AS src", "katz")
            .join(edges, "src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.expr("sum(katz) AS w"))
        )
        return x.join(contrib, "vid", "left").selectExpr("vid", katz_expr)

    # every other round, like LPA: the round is pure shuffle joins
    return pathops.fixpoint(x, katz_round, max_rounds=max_iter, every=2).state


def percolation_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    keep_pct: int = 60,
    id_col: str = "eid",
    salt: str = "perc",
) -> DataFrame:
    """Reachability under deterministic bond percolation: each edge
    survives iff md5(edge_id | salt) % 100 < keep_pct, then multi-source
    BFS from `seeds` over the surviving subgraph — the robustness /
    epidemic-threshold probe ("what still connects if 40% of links
    fail"), reproducible across runs and engines because the failure
    draw is a pure hash of the edge id (vary `salt` for independent
    trials).  Returns (seed, vid, dist).

    Scale design: the percolation filter is a pushdown-able predicate on
    the edge scan; everything after is the batched multi-source BFS
    (one frontier join per level against the filtered adjacency).
    """
    if not 0 <= keep_pct <= 100:
        raise ValueError("keep_pct must be in [0, 100]")
    from .functions.text import md5_long

    active = edges.where(
        F.pmod(
            md5_long(
                F.concat_ws("|", F.col(id_col).cast("string"), F.lit(salt))
            ),
            F.lit(100),
        )
        < keep_pct
    )
    dists = pathops.bfs_distances(
        active.select("src", "dst"), sources=seeds.toDF("vid")
    )
    return dists.select(
        F.col("src").alias("seed"),
        F.col("dst").alias("vid"),
        F.col("dist").cast("long").alias("dist"),
    )


def run_concurrent(*thunks):
    """Run independent driver-orchestrated kernels CONCURRENTLY and
    return their results in order — the Spark-native fix for composed
    analytics (graph_report = pagerank + WCC): each iterative kernel
    alternates between driver coordination and cluster work, so run
    sequentially the cluster idles during every barrier; two driver
    threads interleave their jobs into each other's gaps (Spark's
    scheduler accepts jobs from any thread).  Measured on graph_report
    at sf0.1: 11.2 s sequential -> 5.3 s concurrent (2.1x), identical
    results and oracle hash.

    Safe for kernels over independent (or read-only shared) frames; the
    session adjacency cache tolerates concurrent same-key builds (worst
    case duplicated build work, never corruption).
    """
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(len(thunks)) as ex:
        futures = [ex.submit(t) for t in thunks]
        return [f.result() for f in futures]


def modularity(
    edges: DataFrame,
    labels: DataFrame,
) -> DataFrame:
    """Per-community modularity contributions (Newman-Girvan Q) of a
    community assignment over the undirected simple graph:

        Q = sum over communities c of  e_c/2m - (d_c/2m)^2

    with e_c = doubled-edge endpoints internal to c, d_c = total degree
    of c's members, 2m = the doubled edge count — the standard quality
    score for LPA/Louvain output (beyond-reference).  `labels` must
    assign a label to EVERY edge endpoint (label_propagation's result
    does — it covers the full vertex set): 2m is computed from ALL
    doubled edges, while the internal/degree sums come from the label
    joins, so endpoints missing from a partial assignment would
    silently deflate every community's contribution rather than error.

    Returns (community, internal_half_edges, degree_sum, contribution);
    sum(contribution) is Q.  Mixed-community edges contribute only to
    degree_sum, penalizing fragmented assignments exactly as Q demands.

    Scale design: two joins of the doubled adjacency against the (tiny)
    label frame + one community-sized aggregate; 2m is a broadcast
    1-row frame, not a driver collect.
    """
    und = _doubled_neighbors(edges)
    lab = labels.toDF("vid", "label")
    two_m = F.broadcast(und.agg(F.count("*").alias("__2m")))
    tagged = (
        und.alias("u")
        .join(lab.alias("a"), F.col("u.src") == F.col("a.vid"))
        .join(lab.alias("b"), F.col("u.dst") == F.col("b.vid"))
        .select(
            F.col("a.label").alias("community"),
            (F.col("a.label") == F.col("b.label")).cast("long").alias("__internal"),
        )
    )
    return (
        tagged.groupBy("community")
        .agg(
            F.sum("__internal").alias("internal_half_edges"),
            F.count("*").alias("degree_sum"),
        )
        .crossJoin(two_m)
        .select(
            "community",
            "internal_half_edges",
            "degree_sum",
            F.round(
                F.col("internal_half_edges") / F.col("__2m")
                - (F.col("degree_sum") / F.col("__2m"))
                * (F.col("degree_sum") / F.col("__2m")),
                6,
            ).alias("contribution"),
        )
    )


def modularity_refine(
    edges: DataFrame, labels: DataFrame, passes: int = 1
) -> DataFrame:
    """Synchronous greedy modularity-improving passes over a community
    assignment — the local-move step of Louvain (Blondel et al. 2008),
    beyond-reference: every vertex simultaneously evaluates moving to
    each NEIGHBORING community and takes the move with the largest
    modularity gain if strictly positive (ties to the smallest target
    label); otherwise it stays.  The standard cleanup after LPA, whose
    plurality votes ignore modularity entirely.  With `passes` > 1 the
    pass repeats up to that many times, stopping early at a fixpoint
    (no vertex moved — detected during the checkpoint job, LPA-style).

    HONEST LIMIT (measured, round 8): synchronous simultaneous moves
    INTERFERE — each vertex's gain assumes everyone else stays put —
    so iterated passes are neither monotone in Q nor guaranteed to
    converge.  On clean structure they do (the two-triangle and
    triangle-from-singletons tests reach their fixpoints in <= 2
    passes); on the near-random sf0.01 bench graph, singleton-seeded
    passes 2-cycle at the PARTITION level (326 communities swapping
    members forever) and Q drifts slightly DOWN (-0.0004 -> -0.0017
    over 8 passes).  One pass from a sensible assignment (LPA) is the
    measured-safe use — Q strictly improved on every graph tried —
    and is what the communities_refined driver gate ships.  A
    Q-monotone parallel Louvain needs sequential or conflict-free
    (graph-colored) move scheduling — out of scope, documented here so
    nobody re-trips on the sync-oscillation rake.

    Like label_propagation, the synchronous simultaneous-move
    formulation is chosen for determinism and SQL-replayability: the
    pass is a pure function of (edges, labels), so results are stable
    across runs, partitionings and engines.  (Sequential Louvain's
    output depends on visit order — unusable as an oracle-gated spec.)

    Determinism holds down to the arithmetic: the gain is ranked on the
    ALL-INTEGER equivalent score

        score(v: a->b) = 2m*(k_v^b - k_v^{a}) + deg_v*(sig_a - deg_v - sig_b)
                       = dQ(v: a->b) * 2m^2

    (k_v^c = v's neighbor count in community c, sig_c = total degree of
    c, both over the doubled simple adjacency) — exact long arithmetic,
    no double rounding anywhere, so the argmax is bit-reproducible in
    any engine.  `labels` must cover every edge endpoint, like
    modularity().  Returns (vid, label).

    Scale design: one degree aggregate, one community-degree aggregate,
    one (vid, neighbor-community) count off the doubled adjacency, two
    broadcast-able dimension joins (sig is community-sized) and one
    min_by argmax — no iteration, no collect; the heavy frame is the
    doubled adjacency, touched twice.
    """
    if passes < 1:
        raise ValueError("passes must be >= 1")
    und = pathops.materialize(_doubled_neighbors(edges))
    lab = pathops.materialize(labels.toDF("vid", "label"))
    two_m = F.broadcast(und.agg(F.count("*").alias("__2m")))
    deg = und.groupBy(F.col("src").alias("vid")).agg(
        F.count("*").alias("deg")
    )
    if passes == 1:
        return _refine_pass(und, lab, deg, two_m).select("vid", "label")
    return pathops.fixpoint(
        lab, lambda lab: _refine_pass(und, lab, deg, two_m), max_rounds=passes,
        observe=("sum(CAST(label != __prev AS INT)) AS n",),
        done=lambda row: not row["n"],
    ).state


def _refine_pass(und, lab, deg, two_m):
    """One local-move pass (see modularity_refine).  Returns
    (vid, label, __prev) where __prev is the round-start label (for the
    caller's changed-count stop test)."""
    base = (
        lab.join(deg, "vid", "left")
        .select("vid", "label", F.coalesce("deg", F.lit(0)).alias("deg"))
    )
    sig = base.groupBy("label").agg(F.sum("deg").alias("sig"))
    kvc = (
        und.alias("u")
        .join(lab.alias("n"), F.col("u.dst") == F.col("n.vid"))
        .groupBy(F.col("u.src").alias("vid"), F.col("n.label").alias("cand"))
        .agg(F.count("*").alias("kvc"))
    )
    own = (
        base.alias("b")
        .join(
            kvc.alias("k"),
            (F.col("b.vid") == F.col("k.vid"))
            & (F.col("b.label") == F.col("k.cand")),
            "left",
        )
        .select(
            F.col("b.vid").alias("vid"),
            F.col("b.label").alias("label"),
            F.col("b.deg").alias("deg"),
            F.coalesce(F.col("k.kvc"), F.lit(0)).alias("kown"),
        )
    )
    scored = (
        kvc.alias("k")
        .join(own.alias("o"), F.col("k.vid") == F.col("o.vid"))
        .where(F.col("k.cand") != F.col("o.label"))
        .join(
            F.broadcast(sig.select(F.col("label").alias("__la"),
                                   F.col("sig").alias("sig_a"))),
            F.col("o.label") == F.col("__la"),
        )
        .join(
            F.broadcast(sig.select(F.col("label").alias("__lb"),
                                   F.col("sig").alias("sig_b"))),
            F.col("k.cand") == F.col("__lb"),
        )
        .crossJoin(two_m)
        .select(
            F.col("k.vid").alias("vid"),
            F.col("k.cand").alias("cand"),
            (
                F.col("__2m") * (F.col("k.kvc") - F.col("o.kown"))
                + F.col("o.deg")
                * (F.col("sig_a") - F.col("o.deg") - F.col("sig_b"))
            ).alias("score"),
        )
        .where(F.col("score") > 0)
    )
    pick = scored.groupBy("vid").agg(
        F.min_by(
            "cand", F.struct((-F.col("score")).alias("ns"), F.col("cand"))
        ).alias("__new")
    )
    return base.join(pick, "vid", "left").select(
        "vid",
        F.coalesce(F.col("__new"), F.col("label")).alias("label"),
        F.col("label").alias("__prev"),
    )


def contract_communities(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Community-graph contraction — the aggregation phase of Louvain
    (beyond-reference): collapse each community to one super-vertex and
    return the weighted community-level edge list

        (src, dst, weight)   src <= dst (canonical), weight = number of
        undirected simple edges between the two communities (for
        src = dst: the community's INTERNAL undirected edge count).

    Feeding this back through modularity_refine + contract iterates the
    full Louvain scheme; the contracted graph is also the right input
    for community-level layout/summarization ("which communities talk
    to each other, how much").  `labels` must cover every edge
    endpoint, like modularity().

    One label join per endpoint over the canonical half of the doubled
    simple adjacency + one (src,dst)-community aggregate — no
    iteration; the output is community-count sized.
    """
    half = _doubled_neighbors(edges).where(F.col("src") < F.col("dst"))
    lab = labels.toDF("vid", "label")
    return (
        half.alias("u")
        .join(lab.alias("a"), F.col("u.src") == F.col("a.vid"))
        .join(lab.alias("b"), F.col("u.dst") == F.col("b.vid"))
        .select(
            F.least(F.col("a.label"), F.col("b.label")).alias("src"),
            F.greatest(F.col("a.label"), F.col("b.label")).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").alias("weight"))
    )


def community_conductance(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community conductance over the undirected simple graph
    (beyond-reference):

        phi(c) = cut(c) / min(vol(c), 2m - vol(c))

    with cut(c) = edges with exactly one endpoint in c, vol(c) = total
    degree of c's members, 2m = doubled edge count — the standard
    "how leaky is this community" score that complements modularity
    (modularity rewards internal density, conductance penalizes
    boundary mass; a good cut is low-conductance).  Returns
    (community, cut_edges, volume, conductance); conductance is NULL
    for a community spanning the whole graph (min(vol, 2m-vol) = 0).
    `labels` must cover every edge endpoint, like modularity().

    One label join per endpoint of the doubled adjacency + one
    community-sized aggregate; 2m rides as a broadcast 1-row frame.
    """
    und = _doubled_neighbors(edges)
    lab = labels.toDF("vid", "label")
    two_m = F.broadcast(und.agg(F.count("*").alias("__2m")))
    tagged = (
        und.alias("u")
        .join(lab.alias("a"), F.col("u.src") == F.col("a.vid"))
        .join(lab.alias("b"), F.col("u.dst") == F.col("b.vid"))
        .select(
            F.col("a.label").alias("community"),
            (F.col("a.label") != F.col("b.label")).cast("long").alias("__cut"),
        )
    )
    return (
        tagged.groupBy("community")
        .agg(
            # each cut edge appears once per orientation; the community
            # owns the src-side copy, so the per-community cut count is
            # exact (not halved)
            F.sum("__cut").alias("cut_edges"),
            F.count("*").alias("volume"),
        )
        .crossJoin(two_m)
        .select(
            "community",
            "cut_edges",
            "volume",
            # try_divide: the whole-graph community has min(vol, 2m-vol)
            # = 0 — NULL there by contract (ANSI mode would throw)
            F.round(
                F.try_divide(
                    F.col("cut_edges"),
                    F.least(
                        F.col("volume"), F.col("__2m") - F.col("volume")
                    ),
                ),
                6,
            ).alias("conductance"),
        )
    )


def eigenvector_centrality(
    edges: DataFrame,
    vertices: DataFrame,
    max_iter: int = 10,
) -> DataFrame:
    """Eigenvector centrality (beyond-reference): power iteration
    x_{k+1} proportional to A^T x_k from the uniform vector, fixed
    `max_iter` rounds, L1-normalized ONCE at the end — the undamped
    in-edge member of the walk-counting family (pagerank = damped +
    teleport, katz = damped + additive, HITS = the bipartite two-vector
    form).  L1 normalization is a positive scalar per round, so
    deferring it to a single final pass returns the IDENTICAL vector
    (each per-round-normalized iterate has L1 exactly 1, and scaling
    commutes with the linear map) while removing the per-round
    broadcast-norm branch — the crossJoined 1-row aggregate that made
    each round 3 exchanges instead of 2 and that blocked round fusion
    (PERF.md round-8 fused-lineage/broadcast negative result).
    Measured: 3.6 -> ~2.4 s at sf0.1 for the 10-round gate.

    Magnitudes: the unnormalized iterate grows as ~(mean in-degree)^k;
    for max_iter > _DEFERRED_NORM_SAFE_ROUNDS an L1 rescale rides each
    checkpoint round so arbitrary max_iter cannot overflow double (the
    rescale is a positive scalar — result unchanged); the final
    normalize restores the unit scale.  A dying walk (total mass 0, e.g. power iteration into
    a sink) yields the zero vector, exactly as before.

    Returns (vid, eigenvector); vertices with no in-edges inside the
    vertex domain score 0.  Edges with an endpoint outside `vertices`
    are dropped up front (same induced-subgraph contract as hits).

    Scale design: one contribution join + one aggregate per round
    against the src-partitioned induced edge frame; nothing is
    collected.  Round 10: the per-round dense merge (left-joining the
    aggregate back onto the full vertex frame to re-materialize zeros)
    is gone — a vertex absent from the aggregate has score exactly 0
    and a zero score contributes nothing to the next round, so the
    aggregate itself IS the next (sparse) iterate.  Zeros are
    re-densified ONCE at the end via a left join with the vertex frame.
    That removes one full |V|-state join + exchange per round.
    """
    vertices = pathops.materialize(vertices.toDF("vid").distinct())
    induced = (
        edges.select("src", "dst")
        .join(vertices.withColumnRenamed("vid", "src"), "src", "left_semi")
        .join(vertices.withColumnRenamed("vid", "dst"), "dst", "left_semi")
    )
    edges_p = pathops.persist_partitioned(induced)  # cache-owned
    n = vertices.count()
    x = pathops.materialize(
        vertices.select("vid", F.lit(1.0 / float(n)).alias("ev"))
    )

    def power_round(x):
        return (
            x.selectExpr("vid AS src", "ev")
            .join(edges_p, "src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.expr("sum(ev) AS ev"))
        )

    # every other round, like LPA: with the norm branch gone the fused
    # round's exchange is reused across its two references (the r8
    # fused-lineage/broadcast regression no longer applies; 4.6 -> 3.0 s
    # warm at sf0.1)
    rescale = max_iter > _DEFERRED_NORM_SAFE_ROUNDS
    x = pathops.fixpoint(
        x, power_round, max_rounds=max_iter, every=2,
        on_checkpoint=(lambda x: _l1_rescale(x, "ev")) if rescale else None,
    ).state
    norm = F.broadcast(x.agg(F.coalesce(F.sum("ev"), F.lit(0.0)).alias("__n")))
    return (
        vertices.alias("v")
        .join(x.alias("s"), F.col("v.vid") == F.col("s.vid"), "left")
        .crossJoin(norm)
        .select(
            F.col("v.vid").alias("vid"),
            F.when(
                F.col("__n") > 0,
                F.coalesce(F.col("s.ev"), F.lit(0.0)) / F.col("__n"),
            )
            .otherwise(F.lit(0.0))
            .alias("eigenvector"),
        )
    )


def link_prediction(
    edges: DataFrame,
    max_center_degree: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """Link-prediction scores for every non-adjacent vertex pair sharing
    at least `min_common` neighbors (beyond-reference — the standard
    graph-ML feature/candidate-generation step):

        (u, v, common_neighbors, adamic_adar, jaccard)   with u < v,
        adamic_adar = sum over shared neighbors w of 1/ln(deg(w)),
        jaccard     = common / (deg(u) + deg(v) - common).

    Candidate pairs come from the wedge join (two half-edges sharing
    their center), which generates sum(deg(w)^2) rows — unbounded on
    power-law hubs.  `max_center_degree` is the standard mitigation:
    centers above the cap are skipped as wedge generators (a celebrity
    shared neighbor contributes only 1/ln(10^6) ~ 0.07 to Adamic-Adar
    and pure noise to candidate quality, so capping is also the
    better-scoring choice, not just the cheaper one).  Pairs already
    connected are anti-joined out.
    """
    if min_common < 1:
        raise ValueError("min_common must be >= 1")
    nbr = pathops.materialize(_doubled_neighbors(edges))
    deg = nbr.groupBy("src").agg(F.count("*").alias("deg"))
    centers = nbr.alias("n").join(deg.alias("d"), F.col("n.src") == F.col("d.src"))
    if max_center_degree is not None:
        centers = centers.where(F.col("d.deg") <= max_center_degree)
    half = centers.select(
        F.col("n.src").alias("w"), F.col("n.dst").alias("u"), F.col("d.deg").alias("wdeg")
    )
    pairs = (
        half.alias("a")
        .join(half.alias("b"), F.col("a.w") == F.col("b.w"))
        .where(F.col("a.u") < F.col("b.u"))
        .groupBy(F.col("a.u").alias("u"), F.col("b.u").alias("v"))
        .agg(
            F.count("*").alias("common_neighbors"),
            F.sum(1.0 / F.log(F.col("a.wdeg"))).alias("adamic_adar"),
        )
        .where(F.col("common_neighbors") >= min_common)
    )
    # drop already-adjacent pairs (u < v, so one orientation suffices on
    # the doubled frame)
    pairs = pairs.join(
        nbr.select(F.col("src").alias("u"), F.col("dst").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    du = deg.select(F.col("src").alias("u"), F.col("deg").alias("__du"))
    dv = deg.select(F.col("src").alias("v"), F.col("deg").alias("__dv"))
    return (
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common_neighbors",
            "adamic_adar",
            (
                F.col("common_neighbors").cast("double")
                / (F.col("__du") + F.col("__dv") - F.col("common_neighbors"))
            ).alias("jaccard"),
        )
    )


def neighbor_agg(
    edges: DataFrame,
    features: DataFrame,
    aggs: list[str] = ("mean",),
    direction: str = "out",
) -> DataFrame:
    """Neighborhood feature aggregation (beyond-reference): for every
    vertex, aggregate a numeric feature over its neighbors — the
    message-passing precompute of GNN pipelines ("SIGN"-style, and the
    classic graph feature-engineering step: mean neighbor account
    balance, max neighbor risk score, ...).

    `features` is (vid, value); `direction` 'out' aggregates over each
    vertex's out-neighbors' values, 'in' over in-neighbors, 'both' over
    the undirected neighbor set.  All three directions aggregate over
    the DISTINCT neighbor set with self-loops dropped (multi-edges do
    not double-count a neighbor's value — same convention for every
    direction).  `aggs` from {mean, sum, min, max, count}.  Returns
    (vid, nbr_<agg>...), one row per vertex with >= 1 neighbor.

    One equi-join (feature value onto the neighbor end) + one groupBy —
    both shuffle on vertex ids; at 100 TB this is the standard
    two-shuffle aggregation with map-side partial combine.
    """
    fns = {"mean": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
           "count": F.count}
    bad = [a for a in aggs if a not in fns]
    if bad:
        raise ValueError(f"unsupported aggs {bad}; pick from {sorted(fns)}")
    feats = features.toDF("vid", "value")
    base = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    if direction == "out":
        nbr = base.distinct()
    elif direction == "in":
        nbr = base.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        ).distinct()
    elif direction == "both":
        nbr = _doubled_neighbors(edges)
    else:
        raise ValueError("direction must be 'out', 'in' or 'both'")
    return (
        nbr.alias("e")
        .join(feats.alias("f"), F.col("e.dst") == F.col("f.vid"))
        .groupBy(F.col("e.src").alias("vid"))
        .agg(*[fns[a](F.col("f.value")).alias(f"nbr_{a}") for a in aggs])
    )


def ego_network(
    edges: DataFrame, seeds: DataFrame, radius: int
) -> DataFrame:
    """Ego-network extraction (beyond-reference): the edges of the
    subgraph induced by everything within `radius` directed hops of the
    seed set — the subgraph-sampling step before local analysis or
    visualization.  Returns the (src, dst) edge rows where BOTH
    endpoints are in the ball (seed vertices are in at distance 0).

    One batched multi-source BFS bounded at `radius` builds the ball,
    then two semi-joins restrict the edge table — frontier-scaled work,
    never a full-graph materialization beyond the single edge scan.
    """
    if radius < 0:
        raise ValueError("radius must be >= 0")
    ball = (
        pathops.bfs_distances(
            edges.select("src", "dst"), sources=seeds.toDF("vid"),
            max_hops=radius,
        )
        .select("dst")
        .distinct()
        .withColumnRenamed("dst", "vid")
    )
    ball = pathops.materialize(ball)
    return (
        edges.select("src", "dst")
        .join(ball.withColumnRenamed("vid", "src"), "src", "left_semi")
        .join(ball.withColumnRenamed("vid", "dst"), "dst", "left_semi")
        .select("src", "dst")
    )


def eccentricity(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """Out-eccentricity of each seed vertex: the maximum finite BFS
    distance to any reachable vertex (beyond-reference) — seeds sampled
    across the graph give the standard diameter/radius estimate
    (diameter >= max eccentricity over the sample, radius <= min).
    Returns (vid, eccentricity, reached); one batched multi-source BFS
    + one aggregate, like closeness_centrality.
    """
    dists = pathops.bfs_distances(edges.select("src", "dst"), sources=seeds.toDF("vid"))
    return dists.groupBy(F.col("src").alias("vid")).agg(
        F.max("dist").cast("long").alias("eccentricity"),
        F.count("*").alias("reached"),
    )


def shortest_path_counts(
    edges: DataFrame, seeds: DataFrame, max_hops: int | None = None
) -> DataFrame:
    """Shortest-path counting (sigma): for each seed s and reachable
    vertex v, the NUMBER of distinct shortest s->v paths — the forward
    pass of Brandes' betweenness and a centrality signal by itself
    (vertices reached by many geodesics are traffic concentrators).

    Returns (src, dst, dist, sigma).  Level-synchronous BFS where the
    frontier carries sigma: a vertex first reached at level L has
    sigma = sum of the sigma of its level-(L-1) predecessors — one
    frontier-to-adjacency join + one sum aggregate per level, the
    standard distributed formulation (sigma can grow combinatorially on
    diamond-rich graphs; it is exact path multiplicity, not a bound).

    Exactness: sigma is accumulated in decimal(38,0) (exact to 10^38 —
    a double accumulator would silently lose integer precision past
    2^53, exactly the regime diamond-rich growth reaches) and returned
    as long; a count beyond 2^63-1 fails the final cast loudly under
    ANSI mode rather than returning a wrong number.
    """
    # session-cached src-partitioned adjacency (_prep_edges): shared with
    # betweenness_centrality and every BFS kernel over the same edge plan,
    # so running the family back-to-back builds it once
    edges = pathops._prep_edges(edges.select("src", "dst"), None)
    frontier = pathops.materialize(
        seeds.toDF("vid").distinct().select(
            F.col("vid").alias("src"),
            F.col("vid").alias("dst"),
            F.lit(0).alias("dist"),
            F.lit(1).cast("decimal(38,0)").alias("sigma"),
        )
    )
    visited = frontier
    level = 0
    while True:
        if max_hops is not None and level >= max_hops:
            break
        level += 1
        nxt = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.dst") == F.col("e.src"))
            .groupBy(F.col("f.src").alias("src"), F.col("e.dst").alias("dst"))
            .agg(F.sum("f.sigma").alias("sigma"))
            .join(visited.select("src", "dst"), ["src", "dst"], "left_anti")
            .select("src", "dst", F.lit(level).alias("dist"), "sigma")
        )
        nxt, n_new = pathops.checkpoint_with_count(nxt)
        if not n_new:
            break
        visited = visited.unionByName(nxt)
        if level % 10 == 0:
            visited = pathops.materialize(visited)
        frontier = nxt
    return visited.select(
        "src", "dst", "dist", F.col("sigma").cast("long").alias("sigma")
    )


# Above this many distinct sources the default betweenness route switches
# to the source-sampled estimator (VERDICT r10 item 6): exact Brandes over
# s sources is O(s * |V|) state — quadratic when seeds = all vertices — and
# the sampled estimator's error shrinks as 1/sqrt(k), so k = 4096 gives
# ~1.6% relative standard error while capping state at k * |V|.
BETWEENNESS_EXACT_MAX_SOURCES = 4096


def betweenness_centrality(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int | None = None,
    max_state_rows: int | None = 100_000_000,
    sample_sources: int | str | None = "auto",
) -> DataFrame:
    """Betweenness centrality, Brandes' algorithm over a seed (source)
    set (beyond-reference): forward level-synchronous BFS accumulating
    geodesic counts (sigma), then backward dependency accumulation

        delta_s(v) = sum over successors w of sigma_sv/sigma_sw * (1 + delta_s(w))

    and betweenness(v) = sum over sources s != v of delta_s(v).  With
    seeds = all vertices this is exact directed betweenness (times 1;
    halve for the undirected convention) — but that is O(|seeds| * |V|)
    state, quadratic in |V|, and NOT the scale route: on large graphs
    use a SAMPLED seed set (the standard source-sampled estimator;
    error shrinks as 1/sqrt(|seeds|)).  `max_hops` bounds the traversal
    (k-bounded betweenness) — also what lets a SQL oracle replay it with
    a fixed unrolling.

    `max_state_rows` guards exactly that misuse: the forward pass
    accumulates one (source, vertex) state row per reached pair, the
    per-level checkpoint already counts them, and crossing the cap
    raises PGQCapacityError naming the sampling escape hatch instead of
    letting executors OOM mid-stage.  Pass None to disable (e.g. a
    cluster sized for exact betweenness).

    Returns (vid, betweenness) for every vertex reached by some seed.

    `sample_sources` (round 11, VERDICT r10 item 6): the DEFAULT route
    above BETWEENNESS_EXACT_MAX_SOURCES distinct seeds is the standard
    source-sampled Brandes estimator — a deterministic hash-stride
    subsample of k ~ sample_sources sources, each vertex's dependency
    sum rescaled by n_seeds/k.  The estimate is unbiased and its
    relative standard error shrinks as 1/sqrt(k) (~1.6% at k=4096);
    results above the threshold are therefore an ESTIMATE, not the
    exact sum.  Pass sample_sources=None to force the exact kernel at
    any seed count (the flag for clusters sized for quadratic state),
    or an int to set the target sample size.  At or below the
    threshold — including every declared gate query (<= 8 sources) —
    the route, the plan and the results are exactly as before.

    Scale design: per level one frontier-to-adjacency join in each
    direction (2 x depth jobs total); all state frames are keyed by
    (source, vertex) and checkpointed per level; sigma/delta ride the
    frames — nothing is collected.
    """
    # shared session-cached adjacency (see shortest_path_counts)
    edges = pathops._prep_edges(edges.select("src", "dst"), None)
    frontier, n_seeds = pathops.checkpoint_with_count(
        seeds.toDF("vid").distinct().select(
            F.col("vid").alias("src"),
            F.col("vid").alias("dst"),
            F.lit(1.0).alias("sigma"),
        )
    )
    if sample_sources == "auto":
        sample_sources = (
            BETWEENNESS_EXACT_MAX_SOURCES
            if n_seeds > BETWEENNESS_EXACT_MAX_SOURCES
            else None
        )
    scale = 1.0
    if sample_sources is not None and n_seeds > int(sample_sources):
        stride = -(-int(n_seeds) // int(sample_sources))  # ceil
        sampled, k = pathops.checkpoint_with_count(
            # deterministic hash stride: same sample every run/engine, no
            # rand() (guide §2.5: non-deterministic keys break retries)
            frontier.where(F.expr(f"pmod(xxhash64(src), {stride}) = 0"))
        )
        if k:  # hash-degenerate empty sample: keep the exact route
            frontier, scale = sampled, float(n_seeds) / float(k)
    levels = [frontier]
    visited = frontier.select("src", "dst")
    level = 0
    state_rows = 0
    while True:
        if max_hops is not None and level >= max_hops:
            break
        level += 1
        nxt = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.dst") == F.col("e.src"))
            .groupBy(F.col("f.src").alias("src"), F.col("e.dst").alias("dst"))
            .agg(F.sum("f.sigma").alias("sigma"))
            .join(visited, ["src", "dst"], "left_anti")
        )
        nxt, n_new = pathops.checkpoint_with_count(nxt)
        if not n_new:
            break
        state_rows += n_new
        if max_state_rows is not None and state_rows > max_state_rows:
            raise PGQCapacityError(
                f"betweenness_centrality exceeded max_state_rows="
                f"{max_state_rows} at level {level} ({state_rows} "
                "(source, vertex) state rows): the seed set is too large "
                "for this graph.  Use a SAMPLED seed set (source-sampled "
                "Brandes estimator), bound the traversal with max_hops, "
                "or pass max_state_rows=None on a cluster sized for it."
            )
        visited = visited.unionByName(nxt.select("src", "dst"))
        if level % 10 == 0:
            visited = pathops.materialize(visited)
        levels.append(nxt)
        frontier = nxt
    # backward accumulation, deepest level first.  Round 10: each level's
    # delta frame CARRIES that level's sigma (src, vid, sigma, delta) —
    # the delta frame at step L is exactly the level-L+1 pair set, so
    # joining it alone both filters to true successors and provides
    # sigma_w and delta_w; the separate successor-sigma join on the same
    # composite key is gone (two joins per level instead of three).  The
    # per-level left-join that re-materializes delta=0 for no-successor
    # pairs doubles as the sigma augmentation.
    delta = pathops.materialize(
        levels[-1].select(
            "src", F.col("dst").alias("vid"), "sigma", F.lit(0.0).alias("delta")
        )
    )
    deltas = [delta]
    for L in range(len(levels) - 2, -1, -1):
        cur = levels[L]
        acc = (
            cur.alias("v")
            .join(edges.alias("e"), F.col("v.dst") == F.col("e.src"))
            .join(
                delta.alias("d"),
                (F.col("d.src") == F.col("v.src"))
                & (F.col("d.vid") == F.col("e.dst")),
            )
            .groupBy(F.col("v.src").alias("src"), F.col("v.dst").alias("vid"))
            .agg(
                F.sum(
                    F.col("v.sigma") / F.col("d.sigma") * (1.0 + F.col("d.delta"))
                ).alias("acc")
            )
        )
        delta = pathops.materialize(
            cur.alias("v")
            .join(
                acc.alias("a"),
                (F.col("a.src") == F.col("v.src")) & (F.col("a.vid") == F.col("v.dst")),
                "left",
            )
            .select(
                F.col("v.src").alias("src"),
                F.col("v.dst").alias("vid"),
                F.col("v.sigma").alias("sigma"),
                F.coalesce(F.col("a.acc"), F.lit(0.0)).alias("delta"),
            )
        )
        deltas.append(delta)
    all_deltas = deltas[0]
    for d in deltas[1:]:
        all_deltas = all_deltas.unionByName(d)
    # estimator rescale only when sampling actually happened, so the exact
    # route's expression tree (and hash) is byte-identical to before
    bc = (
        F.sum("delta") * F.lit(scale) if scale != 1.0 else F.sum("delta")
    ).alias("betweenness")
    return (
        all_deltas.where(F.col("vid") != F.col("src"))
        .groupBy("vid")
        .agg(bc)
    )


def harmonic_centrality(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """Harmonic centrality of each seed: sum of 1/d(s, v) over reachable
    v != s (beyond-reference) — the disconnected-robust cousin of
    closeness (unreachable vertices contribute 0 instead of poisoning a
    mean).  Returns (vid, harmonic, reached); one batched multi-source
    BFS + one aggregate, like closeness_centrality.
    """
    dists = pathops.bfs_distances(edges.select("src", "dst"), sources=seeds.toDF("vid"))
    return dists.groupBy(F.col("src").alias("vid")).agg(
        F.coalesce(
            F.sum(F.when(F.col("dist") > 0, 1.0 / F.col("dist"))), F.lit(0.0)
        ).alias("harmonic"),
        F.count("*").alias("reached"),
    )


def k_truss(edges: DataFrame, k: int) -> DataFrame:
    """The k-truss: the maximal subgraph in which every (undirected,
    deduplicated) edge participates in at least k-2 triangles WITHIN the
    subgraph (beyond-reference).  Classic edge peeling to the unique
    fixpoint — the edge-level analog of k_core, and a stronger
    community-core filter (a (k)-truss is contained in the (k-1)-core).

    Returns the surviving canonical edges (src < dst).

    Scale design: per round, edge support is computed by crediting each
    triangle of the degree-ordered half-edge enumeration (O(m^1.5)
    wedge candidates — the same plan as triangle_counts, never the
    sum(deg^2) wedge join) to its three edges; peeling is a join +
    filter, and the survivor-count change is observed during the
    checkpoint job — rounds are bounded by the peel depth.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    need = k - 2
    cur = pathops.materialize(
        _doubled_neighbors(edges).where(F.col("src") < F.col("dst"))
    )
    n_cur = cur.count()
    while n_cur:
        nbr = cur.unionByName(
            cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        deg = nbr.groupBy("src").agg(F.count("*").alias("deg"))
        half = _oriented_half_edges(nbr, deg).persist()
        try:
            wedges = (
                half.alias("h1")
                .join(half.alias("h2"), F.col("h1.src") == F.col("h2.src"))
                .where(
                    (F.col("h1.ddst") < F.col("h2.ddst"))
                    | (
                        (F.col("h1.ddst") == F.col("h2.ddst"))
                        & (F.col("h1.dst") < F.col("h2.dst"))
                    )
                )
                .select(
                    F.col("h1.src").alias("a"),
                    F.col("h1.dst").alias("b"),
                    F.col("h2.dst").alias("c"),
                )
            )
            closed = wedges.alias("w").join(
                half.alias("h3"),
                (F.col("w.b") == F.col("h3.src")) & (F.col("w.c") == F.col("h3.dst")),
                "left_semi",
            )
            sup = (
                closed.select(
                    F.explode(
                        F.array(
                            F.struct(
                                F.least("a", "b").alias("src"),
                                F.greatest("a", "b").alias("dst"),
                            ),
                            F.struct(
                                F.least("a", "c").alias("src"),
                                F.greatest("a", "c").alias("dst"),
                            ),
                            F.struct(
                                F.least("b", "c").alias("src"),
                                F.greatest("b", "c").alias("dst"),
                            ),
                        )
                    ).alias("e")
                )
                .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
                .groupBy("src", "dst")
                .agg(F.count("*").alias("__sup"))
            )
            survivors = (
                cur.join(sup, ["src", "dst"])
                .where(F.col("__sup") >= need)
                .select("src", "dst")
                if need > 0
                else cur
            )
            if need == 0:
                return cur
            survivors, n_new = pathops.checkpoint_with_count(survivors)
            if need == 1:
                # k=3 converges in exactly ONE peel: an edge is removed
                # iff it closes no triangle, every triangle's edges all
                # have support >= 1 so no triangle loses an edge, and
                # removal creates no new triangles — survivor support is
                # unchanged and already >= 1.  Skipping the confirming
                # round halves the triangle-enumeration work (the whole
                # cost of this kernel).
                return survivors
            if n_new == n_cur:
                return survivors
            cur, n_cur = survivors, n_new
        finally:
            half.unpersist()
    return cur


def degree_powerlaw_alpha(edges: DataFrame, kmin: int = 2) -> DataFrame:
    """Power-law exponent of the degree distribution by the Clauset-
    Shalizi-Newman discrete MLE approximation over the tail deg >= kmin:

        alpha = 1 + n_tail / sum(ln(deg / (kmin - 0.5)))

    — the one-number heavy-tail diagnostic for "is this graph scale-free
    enough to need hub mitigations (salting, degree caps)".  Degrees are
    undirected over the simple graph.  Returns one row
    (kmin, n_tail, alpha).

    One degree aggregate + one scalar fold — no sort, no collect of the
    distribution.
    """
    if kmin < 1:
        raise ValueError("kmin must be >= 1")
    deg = _doubled_neighbors(edges).groupBy("src").agg(
        F.count("*").alias("deg")
    )
    tail = deg.where(F.col("deg") >= kmin)
    return tail.agg(
        F.lit(kmin).alias("kmin"),
        F.count(F.lit(1)).alias("n_tail"),
        F.round(
            F.lit(1.0)
            + F.count(F.lit(1))
            / F.sum(F.log(F.col("deg") / F.lit(kmin - 0.5))),
            6,
        ).alias("alpha"),
    )

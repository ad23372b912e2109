"""Iterative graph operators: connected components for dedup closure.

MinHash/Jaccard pair generation yields an *edge list* of near-duplicate
pairs; real corpus dedup needs the transitive closure — one surviving
representative per connected component (A≈B, B≈C ⇒ drop two of three
even if A and C never collided).

:func:`connected_components` is the one CC entry point.  Edge lists that
fit the driver close as union-find; larger ones run alternating
**large-star / small-star** rounds (Kiveris et al., *Connected
Components in MapReduce and Beyond*, SoCC'14) on the DataFrame API
(GraphX/GraphFrames aren't available to PySpark here).  The star rounds
rewrite the edge list itself toward one star per component and keep no
per-vertex label table; the edge set shrinks every round, so late
rounds only touch what is still unsettled.  Each round is
``localCheckpoint``-ed with its convergence fingerprint observed on the
same job, so round N never replays rounds 1..N-1, and a loop that hits
its round cap raises instead of returning unconverged labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..core.checkpoint import ckpt_eager, ckpt_lazy, materialize_observed


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    *,
    collect_threshold: int = 200_000,
    max_rounds: int = 30,
) -> DataFrame:
    """(vertex, component) — component = min vertex id reachable.

    ``edges`` is an undirected edge list given as (src, dst) columns of a
    common orderable type.  Vertices with no edges are absent (callers
    union isolated vertices back if needed — dedup survivors do).

    Adaptive strategy: near-dup edge lists are usually TINY relative to
    the corpus (pairs only exist where documents collide), so when the
    edge count is at most ``collect_threshold`` the closure runs as
    driver-side union-find — O(E α) in milliseconds, 2 Spark jobs total
    instead of one per star round.  Above the threshold (or with
    ``collect_threshold=0``) the large-star/small-star rounds
    (:func:`_star_components`) handle edge lists of any size; they
    raise ``RuntimeError`` if ``max_rounds`` pass without a fixpoint.
    The default threshold is sized for driver heap reality: collected
    ``Row`` tuples carry ~100x object overhead over the raw ids, so 200k
    edges ≈ tens of MB — not the hundreds of MB that 2M rows cost.
    """
    # ONE execution of the (possibly expensive) edge pipeline: an eager
    # checkpoint materializes it exactly once, with the branch-decision
    # count (when there is a branch) observed on the same job; the
    # (bounded) collect or the star rounds read the checkpointed blocks
    # instead of recomputing the pipeline.
    #
    # EXCEPT for trivially-recomputable edge frames (a narrow chain over
    # a file scan): there the eager checkpoint would materialize a
    # possibly HUGE edge list before the driver even decides, while the
    # take-probe touches a few partitions and the star loop's first
    # checkpoint reads the cheap scan once.  ``_cheap_edge_frame``
    # pre-gates on ``inputFiles()`` (derived/checkpointed pipelines list
    # no files, so the hot dedup paths never pay the plan probe).
    sel = edges.select(src, dst)
    if _cheap_edge_frame(sel):
        if collect_threshold > 0:
            head = sel.limit(collect_threshold + 1).collect()
            if len(head) <= collect_threshold:
                return _union_find_components(edges, sel, head)
        return _star_components(sel, max_rounds)
    if collect_threshold == 0:  # no branch to decide, so nothing to count
        return _star_components(ckpt_eager(sel), max_rounds)
    narrow, m = materialize_observed(sel, n=F.count(F.lit(1)))
    if int(m["n"] or 0) <= collect_threshold:
        return _union_find_components(edges, sel, narrow.collect())
    return _star_components(narrow, max_rounds)


def _cheap_edge_frame(sel: DataFrame) -> bool:
    """True when ``sel`` is a narrow chain directly over a file scan —
    cheap to recompute, so an up-front full materialization is the
    wrong trade.  Probes public API only: ``inputFiles`` (frames built
    on checkpoints/derived pipelines list none and return False without
    paying the plan probe), then the fan-out helper's explain-text
    narrow-chain test."""
    from .fanout import _WIDE_MARKERS, _plan_text

    try:
        if not sel.inputFiles():
            return False
        return not any(m in _plan_text(sel) for m in _WIDE_MARKERS)
    except Exception:  # probing must never break the query path
        return False


def _union_find_components(edges: DataFrame, sel: DataFrame, rows: list) -> DataFrame:
    """Driver-side union-find over a collected edge list (the
    small-graph branch of :func:`connected_components`)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = find(r[0]), find(r[1])
        if a != b:
            # union by MIN so the component label is the min vertex
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    verts = {v for r in rows for v in (r[0], r[1])}
    out = [(v, find(v)) for v in sorted(verts)]
    return edges.sparkSession.createDataFrame(
        out, schema=sel.schema
    ).toDF("vertex", "component")


def _star_components(edges: DataFrame, max_rounds: int) -> DataFrame:
    """Alternating **large-star / small-star** rounds over a two-column
    edge frame (the above-threshold branch of
    :func:`connected_components`).  ``edges`` is read twice — the
    canonicalization and the final vertex roll call — so it must be the
    caller's checkpoint or a cheap scan chain, never an expensive
    pipeline.

    * **large-star(u)**: connect every neighbor *larger* than u to the
      minimum of u's closed neighborhood — ``(v, m)`` for v ∈ N(u),
      v > u, with m = min(N(u) ∪ {u});
    * **small-star(u)**: connect u and its *smaller* neighbors to their
      collective minimum.

    Each half-round is one groupBy + one re-join on the same key (the
    exchange is reused) + a distinct; the edge set only ever shrinks
    toward the star form, and the expected round count is O(log² n)
    with O(log n) observed in practice.  Convergence is detected by an
    order-independent edge-set fingerprint (count + bit_xor of
    xxhash64(u, v) — XOR commutes and cannot overflow under ANSI mode)
    — one tiny aggregate per round instead of a two-sided anti-join.
    The fingerprint is a *stopping* heuristic only (a collision could at
    worst stop one round early); the fixpoint is property-tested
    against union-find.
    """
    narrow = edges.toDF("a", "b")
    # canonical strict edges: u > v, self-loops dropped, deduped once.
    # The convergence fingerprint rides each checkpoint's
    # materialization job — one pass per round where
    # checkpoint-then-aggregate was two.
    _fp_metrics = dict(
        c=F.count(F.lit(1)), h=F.expr("bit_xor(xxhash64(u, v))")
    )
    e, m = materialize_observed(
        narrow.where(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct(),
        **_fp_metrics,
    )
    prev_fp = (m["c"], m["h"])
    for _ in range(max_rounds):
        # ---- large-star: group over BOTH directions of each edge ----
        nbrs = e.select(F.col("u").alias("x"), F.col("v").alias("y")).union(
            e.select(F.col("v").alias("x"), F.col("u").alias("y"))
        )
        mins = nbrs.groupBy("x").agg(F.min("y").alias("ymin"))
        large = (
            nbrs.join(mins, "x")
            .where(F.col("y") > F.col("x"))
            # m = min(N(x) ∪ {x}) <= x < y, so (y, m) is canonical u>v
            .select(
                F.col("y").alias("u"),
                F.least(F.col("x"), F.col("ymin")).alias("v"),
            )
            .distinct()
        )
        # ---- small-star: canonical edges all group at their LARGE
        # endpoint, so N(u)∩{<=u} is exactly the v side of (u, v) ----
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        e, m = materialize_observed(
            large.join(smins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select("u", F.col("m").alias("v")))
            .distinct(),
            **_fp_metrics,
        )
        fp = (m["c"], m["h"])
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint within max_rounds={max_rounds}"
            " large-star/small-star rounds"
        )

    # fixpoint edges form stars (child, root); roots label themselves,
    # and the groupBy folds a root's one row per child into one
    labels = (
        e.select(F.col("u").alias("vertex"), F.col("v").alias("component"))
        .union(e.select(F.col("v").alias("vertex"), F.col("v").alias("component")))
        .groupBy("vertex")
        .agg(F.min("component").alias("component"))
    )
    verts = (
        narrow.select(F.col("a").alias("vertex"))
        .union(narrow.select(F.col("b").alias("vertex")))
        .distinct()
    )
    return verts.join(labels, "vertex", "left").select(
        "vertex", F.coalesce("component", F.col("vertex")).alias("component")
    )


def k_core(
    edges: DataFrame,
    src: str,
    dst: str,
    *,
    k: int,
    max_rounds: int = 50,
) -> DataFrame:
    """Vertices of the **k-core** — the maximal subgraph where every
    vertex keeps degree >= k — by iterative peeling: drop all vertices
    with degree < k, recompute degrees on the surviving subgraph,
    repeat to fixpoint.  The density detector for near-dup/co-purchase
    graphs: spam rings, template farms and link clusters survive high
    k; organic neighborhoods don't.

    Input is an undirected edge list (self-loops ignored, duplicates
    and reversed copies collapsed).  Returns ``(vertex, degree)`` for
    surviving vertices, degree measured INSIDE the core.

    Scale shape: per round ONE degree aggregate (map-side combined
    over the doubled edge list) and two anti-joins removing edges
    incident to peeled vertices — all shuffles keyed by vertex; no
    labels, no windows, no driver state beyond the peel count.  The
    edge list only shrinks.  Rounds are bounded by the peeling depth
    (typically a handful; worst case a path peels one layer per round).
    If all ``max_rounds`` rounds still peel vertices it raises
    ``RuntimeError`` rather than return a superset of the core.
    Every round's frontier is ``localCheckpoint``-ed so round N never
    replays rounds 1..N-1.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
        .transform(ckpt_eager)
    )

    def _degrees(g: DataFrame) -> DataFrame:
        both = g.select(F.col("u").alias("vertex")).union(
            g.select(F.col("v").alias("vertex"))
        )
        return both.groupBy("vertex").agg(F.count(F.lit(1)).alias("degree"))

    for _ in range(max_rounds):
        # the (small) peel frontier is materialized once per round and
        # feeds the emptiness check + both anti-joins without replaying
        # the degree aggregate; the emptiness count rides the
        # checkpoint job (materialize_observed) instead of a second action
        low, m = materialize_observed(
            _degrees(e).where(F.col("degree") < k).select("vertex"),
            n=F.count(F.lit(1)),
        )
        if int(m["n"] or 0) == 0:
            break
        e = (
            e.join(low, e.u == low.vertex, "left_anti")
            .join(low, F.col("v") == low.vertex, "left_anti")
            .transform(ckpt_eager)
        )
    else:
        raise RuntimeError(
            f"k_core: still peeling vertices after max_rounds={max_rounds} rounds"
        )
    return _degrees(e).where(F.col("degree") >= k)


def dedup_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    *,
    pair_a: str | None = None,
    pair_b: str | None = None,
    algorithm: str = "auto",
) -> DataFrame:
    """(id, component, is_survivor) for every row of ``df`` given a
    near-duplicate pair list: transitive closure via connected
    components; the minimum id in each component survives.  Isolated
    docs are their own (surviving) component.

    ``algorithm``: ``"auto"`` (:func:`connected_components` with its
    default union-find size gate) or ``"star"`` (``collect_threshold=0``:
    the large-star/small-star rounds whatever the edge count) —
    identical output."""
    pair_a = pair_a or f"{id_col}_a"
    pair_b = pair_b or f"{id_col}_b"
    if algorithm == "star":
        comps = connected_components(pairs, pair_a, pair_b, collect_threshold=0)
    elif algorithm == "auto":
        comps = connected_components(pairs, pair_a, pair_b)
    else:
        raise ValueError(f"unknown algorithm {algorithm!r}")
    out = (
        df.select(id_col)
        .join(comps, F.col(id_col) == F.col("vertex"), "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )
    return out.withColumn("is_survivor", F.col(id_col) == F.col("component"))


def duckdb_components_oracle(pairs_cte: str, id_col: str = "doc_id",
                             table: str = "documents") -> str:
    """DuckDB oracle for :func:`dedup_components`: transitive closure via
    a recursive CTE (reachability), component = min reachable id."""
    return f"""
    WITH RECURSIVE pairs AS ({pairs_cte}),
    undirected AS (
      SELECT {id_col}_a AS a, {id_col}_b AS b FROM pairs
      UNION SELECT {id_col}_b, {id_col}_a FROM pairs
    ),
    reach(v, r) AS (
      SELECT a, a FROM undirected
      UNION
      SELECT u.a, reach.r FROM undirected u JOIN reach ON reach.v = u.b
    ),
    comps AS (SELECT v, MIN(r) AS component FROM reach GROUP BY v)
    SELECT d.{id_col},
           COALESCE(c.component, d.{id_col}) AS component,
           d.{id_col} = COALESCE(c.component, d.{id_col}) AS is_survivor
    FROM {table} d LEFT JOIN comps c ON c.v = d.{id_col}
    """


def _pagerank_exact_local(
    edge_rows: list,
    iterations: int,
    damping_ppm: int,
) -> list[tuple]:
    """Driver-side twin of the distributed loop — the SAME integer
    floor-division arithmetic step for step (trans ppm, init/base
    ranks, per-edge contribution, damped sum), so the output is
    bit-identical to the cluster path; used below when the graph fits
    the small-graph gate."""
    outw: dict = {}
    for s, d, w in edge_rows:
        outw[s] = outw.get(s, 0) + w
    trans = [(s, d, (w * 1_000_000) // outw[s]) for s, d, w in edge_rows]
    nodes = sorted({s for s, _, _ in edge_rows}
                   | {d for _, d, _ in edge_rows})
    n = len(nodes)
    if n == 0:
        return []
    base = (1_000_000_000 * (1_000_000 - damping_ppm) // 1_000_000) // n
    pr = {v: 1_000_000_000 // n for v in nodes}
    for _ in range(iterations):
        contrib: dict = {}
        for s, d, tw in trans:
            contrib[d] = contrib.get(d, 0) + (pr[s] * tw) // 1_000_000
        pr = {
            v: base + (damping_ppm * contrib.get(v, 0)) // 1_000_000
            for v in nodes
        }
    return [(v, pr[v]) for v in nodes]


def pagerank_exact(
    edges: DataFrame,
    src: str,
    dst: str,
    weight: str | None = None,
    *,
    iterations: int = 5,
    damping_ppm: int = 850_000,
    pr_col: str = "pr_ppb",
    small_graph_edges: int = 100_000,
) -> DataFrame:
    """Weighted PageRank with INTEGER fixed-point arithmetic — every
    intermediate is an exact int64, so the result is bit-identical
    across engines and partitionings (a plain-SQL oracle can replay it
    iteration by iteration, unlike float PageRank whose sums are
    order-dependent).

    Fixed-point scheme (all ops floor-division on non-negatives, so
    Spark's ``div`` and DuckDB's ``//`` agree):

    * rank is parts-per-billion of total mass: ``init = 1e9 div N``;
    * transition weights are precomputed ppm:
      ``tw(u,v) = w(u,v) * 1e6 div outw(u)`` (int64-safe for edge
      weights up to ~9e12);
    * one step:
      ``pr'(v) = (150e6 div N) + 850000 * SUM(pr(u)*tw(u,v) div 1e6)
      div 1e6`` (for the default damping) — the per-edge product is
      <= 1e9 * 1e6 = 1e15, comfortably int64.

    Scale shape: per iteration one join of the rank frame (one row per
    node) with the edge list on ``src`` and one map-side-combined SUM
    by ``dst`` — the canonical distributed PageRank step; driver state
    is nothing.  The rounds run as one plan: lineage is cut by a lazy
    checkpoint (``ckpt_lazy``, local or reliable per the session's
    checkpoint mode) after every ``_CKPT_EVERY`` = 8 rounds, never after
    the last one, so the default 5 iterations checkpoint nothing in the
    loop.  Dangling-node mass
    is dropped (the standard simplification), and floor-division loses
    <1 ppb per edge per round — deterministic in both engines by
    construction.

    Output: ``(node, pr_col)`` over all distinct src/dst nodes.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    w = F.col(weight).cast("long") if weight else F.lit(1).cast("long")
    # NULL-src/dst/weight edges are DROPPED up front (documented
    # semantics): without the filter the distributed SUM silently
    # skipped a null weight while the local twin raised on it, so the
    # two paths disagreed on degenerate inputs
    e = edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst"), w.alias("_w")
    ).where(
        F.col("_src").isNotNull()
        & F.col("_dst").isNotNull()
        & F.col("_w").isNotNull()
    )
    # small-graph gate: an iterative loop of tiny joins is pure
    # scheduling overhead when the EDGE LIST fits on the driver
    # (domain graphs after eTLD+1 rollup often do).  The local twin
    # runs the identical integer arithmetic, so the output is
    # bit-identical to the distributed path (equality property-tested);
    # set small_graph_edges=0 to force the distributed loop.
    if small_graph_edges > 0:
        head = e.limit(small_graph_edges + 1).collect()
        if len(head) <= small_graph_edges:
            rows = _pagerank_exact_local(
                [(r["_src"], r["_dst"], r["_w"]) for r in head],
                iterations, damping_ppm,
            )
            from pyspark.sql import types as T

            schema = T.StructType([
                T.StructField("node", e.schema["_src"].dataType),
                T.StructField(pr_col, T.LongType()),
            ])
            return edges.sparkSession.createDataFrame(rows, schema)
    # ONE execution of the (possibly expensive) edge pipeline: the
    # transition table and the node table below are materialized in
    # SEPARATE checkpoint jobs, so without this the upstream (e.g. the
    # full HTML parse -> href resolution -> domain aggregate feeding
    # docs_domain_pagerank) ran once per consumer (measured: 2 full
    # parses; guide §1.2 don't-compute-twice).  The edge frame is the
    # POST-aggregate (src, dst, w) list — far smaller than the corpus
    # that produced it.
    e = e.transform(ckpt_eager)
    outw = e.groupBy("_src").agg(F.sum("_w").alias("_outw"))
    trans = (
        e.join(outw, "_src")
        .select(
            "_src",
            "_dst",
            (F.col("_w") * F.lit(1_000_000))
            .cast("long")
            .alias("_w6"),
            "_outw",
        )
        .select(
            "_src", "_dst", F.expr("_w6 div _outw").cast("long").alias("_tw")
        )
        .transform(ckpt_lazy)
    )
    # node table materialization + node count in one pass
    nodes, _m = materialize_observed(
        e.select(F.col("_src").alias("node"))
        .unionByName(e.select(F.col("_dst").alias("node")))
        .distinct(),
        n=F.count(F.lit(1)),
    )
    n_nodes = int(_m["n"] or 0)
    if n_nodes == 0:  # empty edge list -> empty ranking (both paths)
        from pyspark.sql import types as T

        return edges.sparkSession.createDataFrame(
            [],
            T.StructType([
                T.StructField("node", e.schema["_src"].dataType),
                T.StructField(pr_col, T.LongType()),
            ]),
        )
    base = (1_000_000_000 * (1_000_000 - damping_ppm) // 1_000_000) // n_nodes
    init = 1_000_000_000 // n_nodes
    ranks = nodes.select("node", F.lit(init).cast("long").alias("_pr"))
    # UNLIKE the convergence-checked loops above, PageRank runs a FIXED
    # iteration count — no per-round driver action is needed, so a
    # per-round checkpoint is pure overhead (measured: 5 extra
    # materialization jobs + 5 node-table block writes per query; the
    # whole loop runs as ONE job against the trans/nodes checkpoints,
    # and every inter-iteration shuffle is already persisted to local
    # disk by the shuffle machinery, which is what task retries replay).
    # A checkpoint every _CKPT_EVERY rounds still bounds plan depth /
    # planning time for callers that ask for many iterations.
    _CKPT_EVERY = 8
    for i in range(iterations):
        contrib = (
            ranks.join(trans, ranks["node"] == trans["_src"])
            .select(
                "_dst",
                F.expr("_pr * _tw div 1000000").cast("long").alias("_c"),
            )
            .groupBy("_dst")
            .agg(F.sum("_c").alias("_s"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["_dst"], "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"{damping_ppm} * coalesce(_s, 0) div 1000000"
                    )
                )
                .cast("long")
                .alias("_pr"),
            )
        )
        if (i + 1) % _CKPT_EVERY == 0 and (i + 1) < iterations:
            ranks = ranks.transform(ckpt_lazy)
    return ranks.select("node", F.col("_pr").alias(pr_col))


def triangle_stats(
    edges: DataFrame,
    src: str,
    dst: str,
) -> DataFrame:
    """Exact global triangle census of an undirected graph — the
    structural summary behind community/cohesion analysis (e.g. does a
    co-purchase or co-occurrence graph have real cluster structure, or
    is it a hairball?).

    Counting uses DEGREE-ORDERED ORIENTATION (the classic distributed
    -triangle trick, cf. Suri & Vassilvitskii WWW'11 / Cohen 2009):
    direct every edge from its lower-(degree, id) endpoint to the
    higher one, enumerate wedges only from each vertex's OUT-edges,
    and close them against the oriented edge list.  Every triangle is
    generated exactly once (at its minimum-order vertex), and the
    wedge fan-out per vertex is bounded by its OUT-degree, which the
    orientation caps at O(sqrt(E)) regardless of how skewed the raw
    degree distribution is — a celebrity node with degree 1e7
    generates ZERO wedges from its in-edges.  That bound is what makes
    the plan survive scale-free graphs at 100 TB; a naive wedge join
    on the raw adjacency explodes quadratically on the hottest key.

    Plan: canonicalize (one distinct), degree aggregate, two hash
    joins to attach order keys, one self-join on the wedge apex, one
    semi-join to close — every join keyed on a vertex id (uniform
    after orientation).  All arithmetic is int64 (wedge count
    ``sum(d*(d-1) div 2)``, clustering coefficient in ppm), so the
    result is bit-identical to a SQL oracle.

    Returns ONE row: ``(n_vertices, n_edges, n_wedges, n_triangles,
    clustering_ppm)`` where ``clustering_ppm = 3 * triangles * 1e6
    div wedges`` (global clustering coefficient; 0 when wedge-free).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_u"),
            F.greatest(F.col(src), F.col(dst)).alias("_v"),
        )
        .where(F.col("_u") != F.col("_v"))
        .dropna()
        .distinct()
        .transform(ckpt_lazy)
    )
    deg = (
        e.select(F.col("_u").alias("_x"))
        .unionByName(e.select(F.col("_v").alias("_x")))
        .groupBy("_x")
        .agg(F.count(F.lit(1)).alias("_d"))
        .transform(ckpt_lazy)
    )
    # orient each edge low->high in the (degree, id) total order; keep
    # the head's order key for the wedge ordering below
    du = deg.select(F.col("_x").alias("_u"), F.col("_d").alias("_du"))
    dv = deg.select(F.col("_x").alias("_v"), F.col("_d").alias("_dv"))
    keyed = e.join(du, "_u").join(dv, "_v")
    fwd = F.struct(F.col("_du").alias("d"), F.col("_u").alias("i")) < F.struct(
        F.col("_dv").alias("d"), F.col("_v").alias("i")
    )
    oriented = keyed.select(
        F.when(fwd, F.col("_u")).otherwise(F.col("_v")).alias("_s"),
        F.when(fwd, F.col("_v")).otherwise(F.col("_u")).alias("_t"),
        F.when(
            fwd, F.struct(F.col("_dv").alias("d"), F.col("_v").alias("i"))
        )
        .otherwise(F.struct(F.col("_du").alias("d"), F.col("_u").alias("i")))
        .alias("_tkey"),
    ).transform(ckpt_lazy)
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1._s") == F.col("w2._s"))
        & (F.col("w1._tkey") < F.col("w2._tkey")),
    ).select(F.col("w1._t").alias("_b"), F.col("w2._t").alias("_c"))
    tri = (
        wedges.join(
            oriented.select(F.col("_s").alias("_b"), F.col("_t").alias("_c")),
            ["_b", "_c"],
            "left_semi",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    totals = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    vstats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices"),
        F.sum(F.expr("_d * (_d - 1) div 2")).cast("long").alias("n_wedges"),
    )
    return (
        vstats.crossJoin(totals)
        .crossJoin(tri)
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr(
                "CASE WHEN n_wedges = 0 THEN 0L"
                " ELSE 3 * n_triangles * 1000000 div n_wedges END"
            ).alias("clustering_ppm"),
        )
    )

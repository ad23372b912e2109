"""Relational operator helpers: the reference's user-space query patterns
(SURVEY §2.4) as reusable DataFrame compositions, plus the as-of join the
reference lacks (§2.5).

Every helper is shuffle-aware:

* :func:`group_collect` — groupBy + sorted collect_list (the
  poisonous-animals pattern, ``examples/poisonous_animals.py:16-25``).
* :func:`date_span_expand` — per-row date-interval explosion
  (favourite-colours, ``examples/favourite_colours.py:63-87``).
* :func:`top_k_per_group_scalable` — deterministic top-k per group
  (global top-1 = the NOAA hottest/coldest pattern,
  ``examples/noaa_climatology.py:62-84``) as a partial + merge window,
  so no task sorts a whole group.
* :func:`asof_join` — scalable as-of join via union + window
  carry-forward: ONE shuffle on (keys, ts) instead of a range join's
  quadratic bucket blowup; the standard streaming-enrichment plan.
* :func:`sessionize` — gap-based session ids (lag + cumulative sum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ..core.checkpoint import ckpt_lazy


def group_collect(
    df: DataFrame,
    group_cols: list[str],
    collect_col: str,
    *,
    out_col: str | None = None,
    as_string: bool = True,
    sep: str = "|",
) -> DataFrame:
    """Sorted collect per group; string form keeps it oracle-comparable
    (DuckDB: ``string_agg(x, sep ORDER BY x)``)."""
    out_col = out_col or f"{collect_col}s"
    collected = F.array_sort(F.collect_list(collect_col))
    value = F.array_join(collected, sep) if as_string else collected
    return df.groupBy(*group_cols).agg(value.alias(out_col))


def date_span_expand(
    df: DataFrame, start_col: str, end_col: str, *, out_col: str = "day"
) -> DataFrame:
    """One row per day in [start, end] per input row.

    ``explode(sequence(...))`` is generated JVM-side; a 100 TB input with
    bounded spans fans out linearly with no shuffle.
    """
    return df.withColumn(
        out_col,
        F.explode(
            F.sequence(
                F.to_date(F.col(start_col)),
                F.to_date(F.col(end_col)),
                F.expr("interval 1 day"),
            )
        ),
    )


def top_k_per_group_scalable(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    *,
    descending: bool = True,
    tiebreak_cols: list[str] | None = None,
    rank_col: str = "rank",
) -> DataFrame:
    """Exact top-k per group for LOW-cardinality group keys (segments,
    languages, statuses), without sorting any whole group in one task.

    ``row_number() OVER (PARTITION BY group)`` ships every row of a
    group to one task — with ~5 groups that is 5 giant sorts at 100x
    scale.  For small k the partial+merge plan is exact and parallel:

    1. partial: rank within (group, input-partition id) — P*G window
       keys, each holding ~rows/P rows; keep k per key;
    2. merge: rank the <= k*P survivors per group — the per-group
       window now runs on a bounded, tiny frame.

    The tiebreak columns must make the ordering total, which also makes
    the result independent of the physical partitioning.
    """
    ordering = [F.desc(order_col) if descending else F.asc(order_col)]
    ordering += [F.asc(c) for c in (tiebreak_cols or [])]
    w1 = Window.partitionBy(*group_cols, "_pid").orderBy(*ordering)
    survivors = (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= k)
        .drop("_pid", "_r1")
    )
    # group_cols=[] = GLOBAL top-k: the merge window is single-partition
    # by nature, but only ever sees the <= k*P partial survivors
    w2 = Window.partitionBy(*(group_cols or [F.lit(1)])).orderBy(*ordering)
    return survivors.withColumn(rank_col, F.row_number().over(w2)).where(
        F.col(rank_col) <= k
    )


def grouped_rank_exact(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    *,
    out_rank: str = "rk",
    out_n: str = "n",
    bucket_expr=None,
    tie_bucket_expr=None,
) -> DataFrame:
    """Exact per-row rank (``value`` ASC, ``id`` ASC) and group size per
    group, WITHOUT sorting any whole group in one task.

    The naive ``row_number() OVER (PARTITION BY group ORDER BY value,
    id)`` is a scale-killer for low-cardinality groups (per-language
    rank = one task per language).  Decompose the rank instead:

        rank = (# group rows in smaller buckets)      -- histogram
             + (position by (value, id) in the bucket) -- in-bucket

    1. count rows per (group, bucket) — map-side-combined aggregate;
    2. exclusive prefix counts via a window over the HISTOGRAM (one row
       per distinct bucket — tiny) partitioned by group;
    3. join back on (group, bucket) and rank by (value, id) inside each
       (group, bucket) — that window's key cardinality is the data's
       bucket count, not the group count, so the work spreads over the
       cluster.  The join and the in-bucket window share the (group,
       bucket) shuffle.

    ``bucket_expr`` defaults to the value itself — exact histogram,
    right for integer/low-distinct values.  For CONTINUOUS values pass
    a monotone coarsening (e.g. ``F.floor(F.col(v))``) so the histogram
    stays small while in-bucket ranking handles the residual order.

    ``tie_bucket_expr`` (exact-value histograms only, i.e. with the
    default ``bucket_expr``): a monotone coarsening of the ID that
    splits a pathological TIE MASS — if a large share of a group sits
    on one exact value (every doc 200 tokens long), the in-bucket
    window is one task again; with a tie split the ranks inside a value
    come from a second prefix level over (group, value, id-bucket), so
    no task ever sees more than one id-bucket of one value.

    Group sizes broadcast back (one row per group).  Output = input
    columns + ``out_rank`` + ``out_n`` (both BIGINT).
    """
    if tie_bucket_expr is not None and bucket_expr is not None:
        raise ValueError(
            "tie_bucket_expr requires the exact-value histogram (bucket_expr "
            "coarsens values, so in-bucket order depends on the value and "
            "cannot be split by id)"
        )
    if bucket_expr is None:
        # exact-value histogram: one histogram row per DISTINCT value.
        # For floating-point columns that approaches one row per input
        # row — the histogram itself re-becomes corpus-sized and its
        # per-group window a single giant task, silently undoing the
        # whole decomposition.  Require an explicit coarsening.
        vt = df.schema[value_col].dataType.simpleString()
        if vt in ("double", "float"):
            raise ValueError(
                f"grouped_rank_exact: {value_col!r} is {vt} — the default "
                "exact-value histogram would hold ~one row per distinct "
                "value. Pass a monotone coarsening, e.g. "
                f"bucket_expr=F.floor(F.col({value_col!r}))."
            )
    bucket = bucket_expr if bucket_expr is not None else F.col(value_col)
    b = df.withColumn("_bkt", bucket)
    hist = b.groupBy(group_col, "_bkt").agg(F.count(F.lit(1)).alias("_c"))
    wh = Window.partitionBy(group_col).orderBy(F.asc("_bkt"))
    hist = hist.withColumn(
        "_before", (F.sum("_c").over(wh) - F.col("_c")).cast("long")
    )
    totals = hist.groupBy(group_col).agg(F.sum("_c").cast("long").alias(out_n))
    # null-safe joins: a NULL value (or group) must rank like the naive
    # window's ASC NULLS FIRST, not silently drop out of an equi-join
    h = hist.select(
        F.col(group_col).alias("_hg"), F.col("_bkt").alias("_hb"), "_before"
    )
    tot = totals.select(F.col(group_col).alias("_tg"), out_n)
    joined = (
        b.join(
            h,
            F.col(group_col).eqNullSafe(F.col("_hg"))
            & F.col("_bkt").eqNullSafe(F.col("_hb")),
        )
        .drop("_hg", "_hb")
        .join(F.broadcast(tot), F.col(group_col).eqNullSafe(F.col("_tg")))
        .drop("_tg")
    )
    if tie_bucket_expr is None:
        wb = Window.partitionBy(group_col, "_bkt").orderBy(
            F.asc(value_col), F.asc(id_col)
        )
        return joined.withColumn(
            out_rank, (F.col("_before") + F.row_number().over(wb)).cast("long")
        ).drop("_before", "_bkt")
    # second prefix level over (group, value, id-bucket): ties rank by
    # id only (bucket == value), so the id-bucket prefix is exact
    t = joined.withColumn("_tb", tie_bucket_expr)
    thist = t.groupBy(group_col, "_bkt", "_tb").agg(
        F.count(F.lit(1)).alias("_tc")
    )
    wt = Window.partitionBy(group_col, "_bkt").orderBy(F.asc("_tb"))
    thist = thist.withColumn(
        "_tbefore", (F.sum("_tc").over(wt) - F.col("_tc")).cast("long")
    )
    wtb = Window.partitionBy(group_col, "_bkt", "_tb").orderBy(F.asc(id_col))
    th = thist.select(
        F.col(group_col).alias("_tg2"),
        F.col("_bkt").alias("_tb2"),
        F.col("_tb").alias("_tt2"),
        "_tbefore",
    )
    return (
        t.join(
            th,
            F.col(group_col).eqNullSafe(F.col("_tg2"))
            & F.col("_bkt").eqNullSafe(F.col("_tb2"))
            & F.col("_tb").eqNullSafe(F.col("_tt2")),
        )
        .drop("_tg2", "_tb2", "_tt2")
        .withColumn(
            out_rank,
            (
                F.col("_before") + F.col("_tbefore") + F.row_number().over(wtb)
            ).cast("long"),
        )
        .drop("_before", "_tbefore", "_bkt", "_tb")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str,
    *,
    rank_col: str = "rank",
    k0: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of N rankers (Cormack et al.): fused
    score = Σᵢ 1/(k0 + rankᵢ), the standard hybrid-retrieval combiner
    (BM25 ⊕ dense ANN) — robust to incomparable score scales because
    only RANKS enter.  Contributions are exact integer ppm
    (``1000000 div (k0 + rank)``), so the fusion is value-exact
    cross-engine wherever the input rankings are.

    Each input needs (id_col, rank_col) with ranks already
    tie-broken.  Ids absent from a list contribute 0 from it (full
    outer join semantics).  Returns ``(id, n_lists, rrf_ppm, rank)``
    — top ``topk`` by (score desc, id asc).

    Scale shape: the inputs are top-k lists (tiny by construction);
    the fusion is an outer join + arithmetic on k·N rows and the final
    top-k is a global ``TakeOrderedAndProject`` over those rows.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    out = None
    for i, r in enumerate(rankings):
        contrib = r.select(
            F.col(id_col),
            F.expr(f"1000000 div ({k0} + {rank_col})").cast("long").alias(f"_c{i}"),
        )
        out = contrib if out is None else out.join(contrib, id_col, "full")
    cs = [f"_c{i}" for i in range(len(rankings))]
    score = " + ".join(f"coalesce({c}, 0L)" for c in cs)
    n_lists = " + ".join(f"cast({c} IS NOT NULL as int)" for c in cs)
    fused = out.select(
        id_col,
        F.expr(n_lists).cast("long").alias("n_lists"),
        F.expr(score).cast("long").alias("rrf_ppm"),
    )
    w = Window.orderBy(F.desc("rrf_ppm"), F.asc(id_col))
    return (
        fused.orderBy(F.desc("rrf_ppm"), F.asc(id_col))
        .limit(topk)
        .withColumn("rank", F.row_number().over(w))
    )


def with_ntile(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    *,
    n_tiles: int,
    out_col: str = "tile",
    bucket_expr=None,
) -> DataFrame:
    """Per-row ``NTILE(n) OVER (PARTITION BY group ORDER BY value, id)``
    without a per-group single-task window.

    NTILE is a pure function of (rank, group size): with n rows and t
    tiles, q = n div t and r = n mod t, the first r tiles take q+1 rows
    each —

        tile(rk) = (rk-1) div (q+1) + 1              if rk <= (q+1)*r
                   r + (rk - (q+1)*r - 1) div q + 1  otherwise

    so the exact rank from :func:`grouped_rank_exact` (histogram plan,
    no per-group sort) gives the exact tile.  Ascending order only;
    order on a descending key by ranking its negation upstream.
    """
    ranked = grouped_rank_exact(
        df, group_col, value_col, id_col,
        out_rank="_rk", out_n="_n", bucket_expr=bucket_expr,
    )
    q = (F.col("_n") / n_tiles).cast("long")
    r = F.col("_n") % n_tiles
    head = F.col("_rk") <= (q + 1) * r
    # greatest(q,1): when q=0 every row takes the head branch, but the
    # divisor must still be non-zero for the unevaluated leg under ANSI
    tile = F.when(
        head, ((F.col("_rk") - 1) / (q + 1)).cast("long") + 1
    ).otherwise(
        r
        + ((F.col("_rk") - (q + 1) * r - 1) / F.greatest(q, F.lit(1))).cast("long")
        + 1
    )
    return ranked.withColumn(out_col, tile).drop("_rk", "_n")


def ntile_summary(
    df: DataFrame,
    value_col: str,
    *,
    n_tiles: int = 10,
    descending: bool = True,
    tile_col: str = "tile",
) -> DataFrame:
    """Per-tile (count, sum, min, max of ``value``) for NTILE(n) over a
    total order on (value, id) — with NO per-row window at all.

    ``NTILE(n) OVER (ORDER BY ...)`` with no partition moves EVERY row
    to one task (the ``WindowExec: No Partition Defined`` wall).  But
    the per-tile aggregates don't depend on WHICH tied row lands on
    which side of a tile boundary — equal values are interchangeable —
    so they are computable from the value histogram alone:

    1. count rows per distinct value (map-side-combined aggregate);
    2. prefix counts over the histogram give each value's contiguous
       rank span [before+1, before+c];
    3. NTILE's tile d covers ranks [start(d), end(d)] where the first
       (n_rows % n) tiles take ceil(n_rows/n) rows: explode the tiles
       per histogram row, intersect spans, weight by overlap.

    The only ordered window runs over the histogram (one row per
    distinct value).  Output: (tile, n_rows, total, min_value,
    max_value) — bit-identical to aggregating the NTILE window.
    """
    hist = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("_c"))
    order = F.desc(value_col) if descending else F.asc(value_col)
    # partitionBy(lit(1)) = the same single histogram partition, minus
    # Spark's "No Partition Defined" warning — the frame is one row per
    # DISTINCT value, which is the point
    wh = Window.partitionBy(F.lit(1)).orderBy(order)
    hist = hist.withColumn(
        "_before", (F.sum("_c").over(wh) - F.col("_c")).cast("long")
    )
    tot = hist.agg(F.sum("_c").cast("long").alias("_nr"))
    t = F.col(tile_col)
    q = (F.col("_nr") / n_tiles).cast("long")
    r = F.col("_nr") % n_tiles
    start = (t - 1) * q + F.least(t - 1, r) + 1
    size = q + F.when(t <= r, 1).otherwise(0)
    exploded = (
        hist.crossJoin(F.broadcast(tot))
        .withColumn(
            tile_col, F.explode(F.sequence(F.lit(1), F.lit(n_tiles)))
        )
        .withColumn("_s", start)
        .withColumn("_e", start + size - 1)
        .withColumn(
            "_overlap",
            F.greatest(
                F.lit(0).cast("long"),
                F.least(F.col("_e"), F.col("_before") + F.col("_c"))
                - F.greatest(F.col("_s"), F.col("_before") + 1)
                + 1,
            ),
        )
        .where(F.col("_overlap") > 0)
    )
    return (
        exploded.groupBy(tile_col)
        .agg(
            F.sum("_overlap").cast("long").alias("n_rows"),
            F.sum(F.col("_overlap") * F.col(value_col)).cast("long").alias("total"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
        .orderBy(tile_col)
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    by: list[str] | None = None,
    right_value_cols: list[str] | None = None,
    suffix: str = "_right",
    strict: bool = False,
    direction: str = "backward",
    tolerance: int | float | None = None,
    matched_on_col: str | None = None,
) -> DataFrame:
    """As-of join: each left row gets the nearest right row at or before
    (``direction="backward"``: ``right.on <= left.on``) or at or after
    (``"forward"``: ``right.on >= left.on``) its own ``on`` value, per
    ``by`` keys; ``strict`` excludes equality.

    Implementation (scale path): tag and union both sides, ONE shuffle on
    (by, on, side), then ``last(value, ignoreNulls)`` over an unbounded-
    preceding window carries the latest right payload forward onto left
    rows.  Equivalent to DuckDB's native ``ASOF JOIN``; avoids the range-
    join blowup entirely.  Ties on ``on``: right rows sort before left
    rows (non-strict) so an equal timestamp matches.

    ``tolerance`` (pandas ``merge_asof`` semantics): a maximum match
    gap — matches farther than this from the left row null out exactly
    as if no right row existed.  For timestamp ``on`` columns it is in
    SECONDS (compared in exact integer microseconds); for numeric
    ``on`` columns it is in the column's own units.  Applied as a
    per-row predicate AFTER the carry-forward — the plan shape (one
    shuffle, one window) is unchanged.

    ``matched_on_col`` names an extra output column carrying the
    matched right row's ``on`` value (nulled beyond tolerance) —
    enrichment pipelines want the match timestamp for staleness
    accounting without duplicating ``on`` into the payload columns.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    by = by or []
    right_value_cols = right_value_cols or [
        c for c in right.columns if c != on and c not in by
    ]
    if matched_on_col is not None and matched_on_col in left.columns:
        raise ValueError(
            f"asof_join: matched_on_col {matched_on_col!r} collides with a "
            "left column — pick an unused name"
        )
    if "_asof_on" in right_value_cols:
        raise ValueError(
            "asof_join: a right payload column named '_asof_on' would make "
            "the internal match-timestamp struct field ambiguous — rename it"
        )
    l_tag, r_tag = (0, 1) if strict else (1, 0)  # sort order of ties
    payload = F.struct(
        F.col(on).alias("_asof_on"), *[F.col(c) for c in right_value_cols]
    )
    left_cols = left.columns
    l = left.withColumn("_side", F.lit(l_tag)).withColumn(
        "_payload", F.lit(None).cast(
            right.select(payload.alias("_p")).schema["_p"].dataType
        )
    )
    r = right.select(
        *[F.col(c) for c in by],
        F.col(on),
        F.lit(r_tag).alias("_side"),
        payload.alias("_payload"),
    )
    unioned = l.select(
        *[F.col(c) for c in left_cols], "_side", "_payload"
    ).unionByName(r, allowMissingColumns=True)

    # forward = backward over reversed time: descending scan carries the
    # NEXT right payload backwards; tie tags flip with the sort direction
    ts_order = F.col(on).asc() if direction == "backward" else F.col(on).desc()
    w = (
        Window.partitionBy(*[F.col(c) for c in by])
        .orderBy(ts_order, F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.withColumn("_match", F.last("_payload", ignorenulls=True).over(w))
    rows = carried.where(F.col("_side") == l_tag)
    ok = F.col("_match").isNotNull()
    if tolerance is not None:
        on_type = left.schema[on].dataType.simpleString()
        if on_type.startswith("timestamp"):
            gap = F.unix_micros(F.col(on)) - F.unix_micros(F.col("_match._asof_on"))
            tol = F.lit(int(tolerance * 1_000_000))
        else:
            gap = F.col(on) - F.col("_match._asof_on")
            tol = F.lit(tolerance)
        if direction == "forward":
            gap = -gap
        ok = ok & (gap <= tol)
    extra = (
        [F.when(ok, F.col("_match._asof_on")).alias(matched_on_col)]
        if matched_on_col else []
    )
    out = rows.select(
        *[F.col(c) for c in left_cols],
        *extra,
        *[
            F.when(ok, F.col(f"_match.{c}"))
            .alias(c + (suffix if c in left_cols else ""))
            for c in right_value_cols
        ],
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    *,
    by: list[str],
    left_ts: str,
    right_ts: str,
    within: int,
    left_prefix: str = "l_",
    right_prefix: str = "r_",
) -> DataFrame:
    """Interval join: pairs with ``|left_ts - right_ts| <= within`` per
    ``by`` keys (timestamps as integral values — epoch ms/s).

    Spark has no native range join; a raw inequality join degenerates to
    a per-key cross product.  Scale path: bucketize both sides by
    ``floor(ts / within)`` and equi-join each left bucket against right
    buckets {b-1, b, b+1} — any qualifying pair is within one bucket of
    its partner, so recall is exact; the final filter trims the corners.
    Shuffle is on (by, bucket): uniform, bounded fan-out of 3.
    """
    lb = left.withColumn("_b", F.floor(F.col(left_ts) / within))
    rb = right.withColumn("_rb", F.floor(F.col(right_ts) / within)).withColumn(
        "_b", F.explode(F.array(F.col("_rb") - 1, F.col("_rb"), F.col("_rb") + 1))
    )
    joined = lb.alias("l").join(
        rb.alias("r"),
        on=[F.col(f"l.{c}") == F.col(f"r.{c}") for c in by] + [F.col("l._b") == F.col("r._b")],
    )
    out_cols = (
        [F.col(f"l.{c}").alias(c) for c in by]
        + [
            F.col(f"l.{c}").alias(f"{left_prefix}{c}")
            for c in left.columns
            if c not in by
        ]
        + [
            F.col(f"r.{c}").alias(f"{right_prefix}{c}")
            for c in right.columns
            if c not in by
        ]
    )
    return joined.where(
        F.abs(F.col(f"l.{left_ts}") - F.col(f"r.{right_ts}")) <= within
    ).select(*out_cols)


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    *,
    sum_cols: list[str] | None = None,
    count: bool = True,
    buckets: int = 16,
    salt_col: str = "_salt",
    salt_source_cols: list[str] | None = None,
) -> DataFrame:
    """Two-stage salted aggregation for skewed group keys.

    For plain sums Spark's map-side partial aggregation already tames
    skew; salting earns its keep when the first stage is *not* partially
    aggregatable — e.g. the groupBy feeds collect/distinct-style state,
    or a downstream per-key join — or when a hot key's partials still
    concentrate on one reducer.  Stage 1 groups by (keys, salt) →
    uniform shuffle; stage 2 combines ``buckets`` partial rows per key.
    Sum/count are decomposable, so the result is identical to the
    unsalted aggregate.

    The salt is ``pmod(hash(salt_source_cols), buckets)`` — deterministic
    per row content, no RNG (workflow-safe, repeatable).  The OUTPUT is
    salt-independent (sum/count are decomposable), so the source columns
    only affect distribution.  ``salt_source_cols`` defaults to every
    column, which forces the scan to read them all — pass the columns
    the aggregate already consumes (plus one row-varying column if the
    consumed set is constant per key) so column pruning survives: a
    count over a 100-column table should not read 100 columns to salt.
    """
    sum_cols = sum_cols or []
    salt_src = salt_source_cols or df.columns
    salted = df.withColumn(
        salt_col, F.pmod(F.hash(*[F.col(c) for c in salt_src]), F.lit(buckets))
    )
    partial_aggs = [F.sum(c).alias(f"_p_{c}") for c in sum_cols]
    if count:
        partial_aggs.append(F.count(F.lit(1)).alias("_p_count"))
    partial = salted.groupBy(*keys, salt_col).agg(*partial_aggs)
    final_aggs = [F.sum(f"_p_{c}").alias(f"sum_{c}") for c in sum_cols]
    if count:
        final_aggs.append(F.sum("_p_count").alias("n_rows"))
    return partial.groupBy(*keys).agg(*final_aggs)


def sessionize(
    df: DataFrame,
    *,
    by: list[str],
    ts_col: str,
    gap_seconds: int,
    session_col: str = "session_id",
) -> DataFrame:
    """Gap-based sessions: a new session starts when the time since the
    previous event (per ``by``) exceeds ``gap_seconds``.  One shuffle on
    ``by``; cumulative sum of session starts numbers the sessions."""
    w = Window.partitionBy(*by).orderBy(F.col(ts_col).asc())
    gap = F.col(ts_col).cast("long") - F.lag(F.col(ts_col).cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return df.withColumn("_new_session", is_new).withColumn(
        session_col, F.sum("_new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).drop("_new_session")


def exact_group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75),
    bucket_width: float = 1.0,
) -> DataFrame:
    """EXACT type-1 quantiles (order statistics at rank ``ceil(n*q)``)
    per group, without sorting any group end-to-end.

    The naive formulation (row_number over the group) sorts every row of
    a group in one task — with few groups that is a handful of giant
    sorts.  This is the scalable histogram locate-then-sort plan:

    1. bucket values (``floor(v / bucket_width)``) and count per
       (group, bucket) — a map-side-combined aggregate, fully parallel;
    2. cumulative counts over the tiny histogram locate, for each target
       rank, the bucket containing it and the rank's offset within it;
    3. re-scan only the located buckets (a broadcast semi-filter that
       reaches the scan) and pick the offset-th smallest value inside
       each — a sort of ~one bucket's rows, not the group.

    Ties are safe at every step: equal values share a bucket and any
    stable in-bucket order yields the same VALUE at a given offset.
    Output: (group_col, q_<pct> for each quantile), e.g. ``q_25``.
    """
    base = df.select(group_col, F.col(value_col).cast("double").alias("_v"))
    b = base.withColumn("_bkt", F.floor(F.col("_v") / F.lit(bucket_width)).cast("long"))
    hist = b.groupBy(group_col, "_bkt").agg(F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy(group_col).orderBy("_bkt")
    hist = hist.withColumn("_cum", F.sum("_c").over(w))
    totals = hist.groupBy(group_col).agg(F.max("_cum").alias("_n"))

    target_structs = [
        F.struct(
            F.lit(q).alias("_q"),
            F.greatest(F.ceil(F.col("_n") * q).cast("long"), F.lit(1)).alias("_r"),
        )
        for q in quantiles
    ]
    targets = totals.select(
        group_col, F.explode(F.array(*target_structs)).alias("_t")
    ).select(group_col, F.col("_t._q").alias("_q"), F.col("_t._r").alias("_r"))

    located = (
        targets.join(hist, on=group_col)
        .where((F.col("_cum") >= F.col("_r")) & (F.col("_cum") - F.col("_c") < F.col("_r")))
        .select(
            group_col, "_q", "_bkt",
            (F.col("_r") - (F.col("_cum") - F.col("_c"))).alias("_k"),
        )
    )

    cand = b.join(F.broadcast(located), on=[group_col, "_bkt"])
    wv = Window.partitionBy(group_col, "_bkt", "_q").orderBy(F.asc("_v"))
    picked = cand.withColumn("_rv", F.row_number().over(wv)).where(
        F.col("_rv") == F.col("_k")
    )
    aggs = [
        F.max(F.when(F.col("_q") == q, F.col("_v"))).alias(f"q_{int(q * 100)}")
        for q in quantiles
    ]
    return picked.groupBy(group_col).agg(*aggs)


def gapfill_interpolate(
    df: DataFrame,
    *,
    ts_col: str,
    group_cols: list[str],
    value_col: str,
    step_seconds: int = 3600,
    max_grid_points: int = 10_000_000,
) -> DataFrame:
    """Regularize a per-group time series onto a fixed grid and fill the
    gaps by LINEAR INTERPOLATION between the nearest observed points
    (edges extend flat) — the resample/upsample step a monitoring or
    feature pipeline needs before window math assumes evenly-spaced
    points.

    Input: one row per (group, ts) with an observed ``value_col``
    (pre-aggregated).  Output: one row per (group, grid ts) with
    ``filled`` (double) and ``is_interpolated``.

    Exactness: the interpolation fraction uses integer epoch seconds
    cast to double; ``prev + (next - prev) * frac`` is a fixed IEEE
    expression — deterministic and bit-identical cross-engine even when
    the division is inexact.

    Scale shape: the grid explodes per GROUP (span/step rows — bounded
    per group, never a global spine); the carry-forward/backward passes
    are two windows over the same (group, ts) shuffle; no driver
    state.  GUARD: ``sequence()`` materializes each group's whole grid
    as ONE in-row array before the explode, so a group spanning years
    at second granularity would build a multi-GB row — any group whose
    grid exceeds ``max_grid_points`` fails the job loudly instead
    (chunk the spine, e.g. explode days then intra-day steps, when a
    legitimate grid is that large).
    """
    spans = df.groupBy(*group_cols).agg(
        F.min(ts_col).alias("_lo"), F.max(ts_col).alias("_hi")
    )
    npoints = (
        f"(unix_timestamp(_hi) - unix_timestamp(_lo)) div {step_seconds} + 1"
    )
    guarded_seq = (
        f"CASE WHEN {npoints} > {max_grid_points} THEN "
        f"cast(raise_error(concat('gapfill grid for one group needs ', "
        f"cast({npoints} as string), ' points (max_grid_points="
        f"{max_grid_points}); chunk the spine')) as array<timestamp>) "
        f"ELSE sequence(_lo, _hi, interval {step_seconds} seconds) END"
    )
    grid = spans.select(
        *group_cols,
        F.explode(F.expr(guarded_seq)).alias(ts_col),
    )
    joined = grid.join(df, on=[*group_cols, ts_col], how="left")
    w_prev = (
        Window.partitionBy(*group_cols)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy(*group_cols)
        .orderBy(ts_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v = F.col(value_col).cast("double")
    marked = (
        joined.withColumn("_pv", F.last(v, ignorenulls=True).over(w_prev))
        .withColumn(
            "_pt",
            F.last(F.when(v.isNotNull(), F.col(ts_col)), ignorenulls=True).over(
                w_prev
            ),
        )
        .withColumn("_nv", F.first(v, ignorenulls=True).over(w_next))
        .withColumn(
            "_nt",
            F.first(F.when(v.isNotNull(), F.col(ts_col)), ignorenulls=True).over(
                w_next
            ),
        )
    )
    frac = (
        "(cast(unix_timestamp({t}) - unix_timestamp(_pt) as double) / "
        "cast(unix_timestamp(_nt) - unix_timestamp(_pt) as double))"
    ).format(t=ts_col)
    filled = F.expr(
        f"CASE WHEN {value_col} IS NOT NULL THEN cast({value_col} as double) "
        f"WHEN _pv IS NOT NULL AND _nv IS NOT NULL "
        f"THEN _pv + (_nv - _pv) * {frac} "
        f"WHEN _pv IS NOT NULL THEN _pv ELSE _nv END"
    )
    return marked.select(
        *group_cols,
        ts_col,
        filled.alias("filled"),
        F.col(value_col).isNull().alias("is_interpolated"),
    )


def event_paths(
    df: DataFrame,
    *,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    out_col: str = "path",
    sep: str = ",",
) -> DataFrame:
    """Ordered-sequence extraction: per group, the ``value_col`` values
    concatenated in exact ``order_cols`` order (clickstream paths,
    per-session event sequences, per-document span chains).

    Determinism: the order key tuple must be total per group (include a
    unique id as the last key); the aggregation collects (order-keys,
    value) structs and sorts the ARRAY after collection — engine- and
    partition-order-independent, unlike a bare ``collect_list``.  One
    hash shuffle on the group key; per-group memory bounds the path
    length (callers cap their windows — a day, a session).
    """
    struct_cols = [F.col(c) for c in order_cols] + [F.col(value_col).alias("_pv")]
    gathered = df.groupBy(*group_cols).agg(
        F.collect_list(F.struct(*struct_cols)).alias("_seq")
    )
    return gathered.select(
        *group_cols,
        F.expr(f"concat_ws('{sep}', transform(array_sort(_seq), x -> x._pv))")
        .alias(out_col),
    )


def table_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Data-profiling summary in long format: one row per requested
    column with ``(col_name, n_rows, n_nulls, n_distinct, min_value,
    max_value)`` — the dataset health check a pipeline runs before and
    after a load (the reference exposes per-run counters;
    ``model.py:108`` ``add_stat`` — this is the columnar equivalent).

    min/max are cast to string for a uniform schema: pass integer,
    string, or date columns (float formatting is not cross-engine
    portable; profile floats via explicit quantile queries instead).

    Scale shape: ONE pass — a single aggregate row computing every
    column's stats with map-side combine (distincts via
    ``count_distinct``, a full shuffle of distinct values per column),
    exploded driver-side into the long format via a tiny stack.  No
    per-column scans.
    """
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = df.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack}) AS "
        "(col_name, n_rows, n_nulls, n_distinct, min_value, max_value)"
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    key: str,
    compare_cols: list[str],
) -> DataFrame:
    """Change-data report between two versions of a keyed table:
    one row per differing key with ``change_type`` ∈ {'added',
    'removed', 'changed'} — the audit/CDC surface a pipeline emits when
    rewriting a dimension without a transactional format's change feed.

    Null-safe comparison (``<=>``) so NULL→value and value→NULL count
    as changes, matching every CDC tool's semantics.  One full outer
    join on the key (single shuffle each side); unchanged keys drop out
    in the same stage, so the output is proportional to the churn, not
    the table.
    """
    o = old.select(key, *compare_cols).alias("o")
    n = new.select(key, *compare_cols).alias("n")
    joined = o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    change = (
        F.when(F.col(f"o.{key}").isNull(), F.lit("added"))
        .when(F.col(f"n.{key}").isNull(), F.lit("removed"))
        .when(~same, F.lit("changed"))  # else NULL = unchanged, dropped
    )
    return (
        joined.select(
            F.coalesce(F.col(f"o.{key}"), F.col(f"n.{key}")).alias(key),
            change.alias("change_type"),
        )
        .where(F.col("change_type").isNotNull())
    )


def skew_report(df: DataFrame, key_cols: list[str], *, top_k: int = 10) -> DataFrame:
    """Key-skew diagnosis: the numbers that decide whether a join/agg
    on these keys needs salting, AQE skew splits, or a broadcast —
    total rows, distinct keys, the heaviest key's share and the top-k
    keys' combined share (exact integer ppm).

    One map-side-combined count aggregate (the only shuffle carries one
    row per distinct key), then two tiny reductions over the count
    frame.  Run it on a sample or the full table; the output is one
    row."""
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_c"))
    counts = counts.transform(ckpt_lazy)  # reused 3× below
    top = counts.orderBy(F.desc("_c"), *[F.asc(c) for c in key_cols]).limit(top_k)
    total = counts.agg(
        F.sum("_c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("_c").alias("max_key_rows"),
    )
    topk_sum = top.agg(F.sum("_c").alias("topk_rows"))
    return total.crossJoin(topk_sum).select(
        "n_rows",
        "n_keys",
        "max_key_rows",
        F.expr("max_key_rows * 1000000 div n_rows").alias("top1_ppm"),
        F.expr("topk_rows * 1000000 div n_rows").alias(f"top{top_k}_ppm"),
    )


def incremental_agg_merge(
    prev: DataFrame,
    increment: DataFrame,
    *,
    keys: list[str],
    count_col: str = "n_rows",
    sum_cols: list[str] | None = None,
) -> DataFrame:
    """Materialized-aggregate maintenance: fold a new batch's partial
    aggregate into a previously persisted one WITHOUT rescanning
    history — ``merged = re-agg(prev ∪ partial(increment))`` is exact
    for distributive aggregates (counts, sums; min/max likewise —
    extend as needed).

    Both inputs carry ``keys + count_col + sum_cols``.  The shuffle is
    proportional to |distinct keys in prev| + |increment| — at 100 TB
    the history table never gets re-read, which is the entire point;
    the equality with a full recompute is pinned by the catalog oracle.
    """
    sum_cols = sum_cols or []
    cols = [*keys, count_col, *sum_cols]
    both = prev.select(*cols).unionByName(increment.select(*cols))
    aggs = [F.sum(count_col).alias(count_col)] + [
        F.sum(c).alias(c) for c in sum_cols
    ]
    return both.groupBy(*keys).agg(*aggs)


def heavy_hitters_exact(
    df: DataFrame,
    key_col: str,
    *,
    min_freq_ppm: int,
    state_factor: int = 2,
) -> DataFrame:
    """EXACT heavy hitters — every key whose frequency is at least
    ``min_freq_ppm`` of all (non-null) rows, with its exact count —
    without ever shuffling the full per-key count frame.

    The naive plan (``groupBy(key).count()`` then filter) shuffles one
    row per DISTINCT key: for token/n-gram streams over a 100 TB corpus
    that is the vocabulary itself, i.e. billions of rows moved to find
    a few hundred survivors.  This plan never materializes it:

    1. **Candidate generation** (no shuffle): each input partition folds
       its rows into a Misra-Gries summary with
       ``k = state_factor * ceil(1e6 / min_freq_ppm)`` counters via
       ``mapInPandas`` (Arrow-vectorized ``value_counts`` per batch,
       merged with the standard mergeable-summaries step: add, subtract
       the (k+1)-th largest, drop <= 0).  MG guarantees any key with
       partition count > n_p/(k+1) survives its partition's summary;
       if a key's GLOBAL count is >= n * min_freq_ppm/1e6 > n/(k+1)
       then (summing the contrapositive over disjoint partitions) it
       must exceed the bound in at least one partition — so the distinct
       candidate set (<= k per partition) is a SUPERSET of the true
       heavy hitters whenever ``state_factor >= 2``.
    2. **Exact verification, fused with the total** (one scan): the tiny
       candidate frame broadcasts back as a tag, and every row groups by
       ``candidate ? key : NULL`` — candidates get exact counts, all
       non-candidates collapse into ONE "other" bucket (a count, so its
       partials map-side-combine; no skew).  ``total`` is then the sum
       over that candidate-sized frame (single-partition window over
       <= 2e6/min_freq_ppm + 1 rows, the same bounded-histogram-frame
       pattern as :func:`grouped_rank_exact`), and membership is the
       exact integer test ``count * 1_000_000 >= min_freq_ppm * total``
       (decimal-widened, overflow-free).

    Exactly TWO scans of the input — the floor for exact verification —
    and the only shuffle carries candidate keys plus one bucket.  The
    OUTPUT is exact and deterministic: MG's candidate set depends on
    traversal order, but it is always a superset, and the final filter
    uses exact counts only.  Returns ``(key_col, n, freq_ppm)`` with
    ``freq_ppm = n * 1e6 div total`` (integer, engine-portable).

    The session excludes ``InferFiltersFromGenerate`` (same measured
    O(n^2) blowup as the dedup shingle joins: the rule re-derives an
    upstream explode's whole pipeline inside a pushed filter when the
    exploded column is joined on).
    """
    if min_freq_ppm < 1:
        raise ValueError("min_freq_ppm must be >= 1")
    k = state_factor * ((1_000_000 + min_freq_ppm - 1) // min_freq_ppm)

    from .dedup import _tune_session  # noqa: PLC0415 — avoid cycle at import

    _tune_session(df)

    import pandas as pd  # noqa: PLC0415 — executor-side dependency

    out_field = df.schema[key_col]

    def _mg_partition(pdf_iter):
        acc = None
        for pdf in pdf_iter:
            vc = pdf[key_col].dropna().value_counts()
            acc = vc if acc is None else acc.add(vc, fill_value=0)
            if len(acc) > k:
                # standard mergeable-MG step: subtract the (k+1)-th
                # largest from every counter, drop the non-positive —
                # total decrement mass <= n_p/(k+1), which the superset
                # guarantee in the docstring relies on
                cut = acc.nlargest(k + 1).iloc[-1]
                acc = acc - cut
                acc = acc[acc > 0]
        keys = [] if acc is None else list(acc.index)
        yield pd.DataFrame({key_col: pd.Series(keys, dtype="object")})

    from pyspark.sql.types import StructType

    nn = df.select(key_col).where(F.col(key_col).isNotNull())
    cands = (
        nn.mapInPandas(_mg_partition, StructType([out_field]))
        .distinct()
        .withColumn("_hh_cand", F.lit(True))
    )
    # one scan: candidates keep their key, everything else folds into
    # the NULL "other" bucket — counts for candidates are exact, and the
    # bucket frame (<= #candidates + 1 rows) carries the grand total
    bucketed = (
        nn.join(F.broadcast(cands), key_col, "left")
        .groupBy(
            F.when(F.col("_hh_cand"), F.col(key_col)).alias(key_col)
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w_all = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        bucketed.withColumn(
            "_hh_total", F.sum("n").over(w_all).cast("decimal(38,0)")
        )
        .where(
            F.col(key_col).isNotNull()
            & (
                F.col("n").cast("decimal(38,0)") * F.lit(1_000_000)
                >= F.lit(int(min_freq_ppm)) * F.col("_hh_total")
            )
        )
        .select(
            key_col,
            "n",
            (
                F.col("n").cast("decimal(38,0)")
                * F.lit(1_000_000)
                / F.col("_hh_total")
            )
            .cast("long")
            .alias("freq_ppm"),
        )
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    *,
    buckets: int = 8,
    hot_freq_ppm: int = 10_000,
    hot_keys: DataFrame | None = None,
    how: str = "inner",
    salt_source_cols: list[str] | None = None,
) -> DataFrame:
    """Skew-safe equi-join: hot fact keys are spread over ``buckets``
    reducers by salting, with the dim side's hot rows replicated once
    per salt — ONE scan of each input, no broadcast requirement on the
    dim, and no single reducer ever owns a hot key's full row set.

    AQE's skew-join handles oversized sort-merge PARTITIONS, but a
    single pathological KEY (the null user, the default account, the
    empty-string domain — at 100 TB routinely billions of rows) still
    lands on one task.  This is the classic salting rewrite, packaged:

    * hot keys come from :func:`heavy_hitters_exact` on the fact side
      (bounded two-pass Misra-Gries; at most ``1e6/hot_freq_ppm`` keys
      by construction) or from a caller-supplied one-column frame —
      either way they stay DISTRIBUTED, joined on as a broadcast tag,
      never collected to the driver;
    * tagged-hot fact rows get ``pmod(hash(salt_source_cols), buckets)``
      (deterministic — safe under task retry); everything else salt 0;
    * dim rows for hot keys explode into one replica per salt, cold
      rows keep the single salt-0 replica — replication factor is
      ``buckets`` x (#hot keys), i.e. a few hundred extra dim rows;
    * the join runs on ``(key, salt)`` and is EXACT: every (fact row,
      dim row) key match pairs at exactly one salt value, so duplicate
      semantics are preserved.

    Only ``inner`` and ``left`` are supported: a right/full outer join
    would emit one null-extended row PER UNMATCHED DIM REPLICA, which
    is wrong by construction — rejected loudly.
    SIDE EFFECT (round-13 doc, ADVICE r12): the returned frame embeds a
    materialized fan point (``core.checkpoint.materialize``) — under
    Spark 4.1 AQE merely BUILDING the DataFrame executes the upstream
    jobs (even with a lazy checkpoint), and the checkpoint boundary
    severs predicate/column pushdown for callers that filter the
    output.  Plan-only composition over this operator pays real
    compute; filter/project the INPUT, not the output, where possible.
    The checkpoint honors ``ayeaye.checkpoint.mode`` (local|reliable).
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r} "
            "(outer-on-dim joins would duplicate unmatched replicas)"
        )
    if buckets < 2:
        raise ValueError("buckets must be >= 2")
    if hot_keys is None:
        # materialize the <= 1e6/hot_freq_ppm hot keys ONCE: the tag
        # broadcast feeds BOTH join sides, and the two-pass Misra-Gries
        # detector (2 fact scans + an Arrow pass) otherwise re-runs per
        # side (plan: 5 fact scans / 2 MapInPandas; 3 / 1 after)
        hot_keys = heavy_hitters_exact(
            fact, key, min_freq_ppm=hot_freq_ppm
        ).select(key).transform(ckpt_lazy)
    tag = F.broadcast(hot_keys.select(key).withColumn("_hot", F.lit(True)))

    salt_cols = salt_source_cols or [
        c for c in fact.columns if c != key
    ]
    fact_s = (
        fact.join(tag, key, "left")
        .withColumn(
            "_salt",
            F.when(
                F.col("_hot"),
                F.pmod(F.hash(*[F.col(c) for c in salt_cols]), F.lit(buckets)),
            ).otherwise(F.lit(0)),
        )
        .drop("_hot")
    )
    dim_s = (
        dim.join(tag, key, "left")
        .withColumn(
            "_salt",
            F.explode(
                F.when(
                    F.col("_hot"),
                    F.sequence(F.lit(0), F.lit(buckets - 1)),
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        .drop("_hot")
    )
    return fact_s.join(dim_s, [key, "_salt"], how).drop("_salt")


def interval_concurrency(
    df: DataFrame,
    start_col: str,
    end_col: str,
    *,
    bucket: str = "hour",
) -> DataFrame:
    """Sweep-line concurrency: for every interval boundary, the number
    of intervals open at that instant — ``(ts, delta, concurrency)``
    with ``delta`` +1 at starts / -1 at ends.  At a ``delta = +1`` row
    the value answers "how many intervals are active the moment this
    one opens" (half-open ``[start, end)``: an interval whose end ties
    another's start has already closed, so ends sort before starts at
    equal timestamps, and a zero-length interval never counts itself).

    The classic formulation is one GLOBAL running sum over all
    boundaries — a single-task window that dies at scale.  This is the
    repo's hierarchical two-level prefix sum instead (same shape as
    ``grouped_rank_exact``):

    1. bucket boundaries into fixed calendar buckets (``date_trunc``,
       default hourly) and aggregate one ``SUM(delta)`` row per bucket
       — the only global window runs over THIS frame, whose size is the
       timeline in hours, never the row count;
    2. the exclusive bucket prefix (broadcast back — a timeline-sized
       frame) is each bucket's carry-in;
    3. the row-level running sum is a window partitioned BY BUCKET,
       ordered ``(ts, delta)`` — bounded by boundaries-per-hour, not by
       the corpus.

    Rows tied on ``(ts, delta)`` receive order-dependent concurrency
    values individually, but any aggregate that is tie-run-invariant
    (MAX, or values at run boundaries) is deterministic — the running
    sum over a run of equal deltas visits the same multiset of values
    regardless of intra-run order.
    SIDE EFFECT (round-13 doc, ADVICE r12): the returned frame embeds a
    materialized fan point (``core.checkpoint.materialize``) — under
    Spark 4.1 AQE merely BUILDING the DataFrame executes the upstream
    jobs (even with a lazy checkpoint), and the checkpoint boundary
    severs predicate/column pushdown for callers that filter the
    output.  Plan-only composition over this operator pays real
    compute; filter/project the INPUT, not the output, where possible.
    The checkpoint honors ``ayeaye.checkpoint.mode`` (local|reliable).
    """
    # materialize the (start, end) projection ONCE: the start/end union
    # legs each re-evaluate the upstream interval pipeline, and the
    # boundary frame then fans into the bucket aggregate AND the final
    # join — without this the input (e.g. a two-window sessionize) ran
    # up to 4x (plan: 4 identical source scans)
    ivals = df.select(start_col, end_col).transform(ckpt_lazy)
    b = ivals.select(
        F.col(start_col).alias("ts"), F.lit(1).alias("delta")
    ).unionAll(ivals.select(F.col(end_col).alias("ts"), F.lit(-1).alias("delta")))
    b = b.withColumn("_bkt", F.date_trunc(bucket, F.col("ts")))
    hourly = b.groupBy("_bkt").agg(F.sum("delta").alias("_bsum"))
    wb = Window.orderBy(F.asc("_bkt")).rowsBetween(Window.unboundedPreceding, 0)
    carry = hourly.withColumn(
        "_carry", (F.sum("_bsum").over(wb) - F.col("_bsum")).cast("long")
    ).select("_bkt", "_carry")
    wr = (
        Window.partitionBy("_bkt")
        .orderBy(F.asc("ts"), F.asc("delta"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        b.join(F.broadcast(carry), "_bkt")
        .withColumn(
            "concurrency", (F.sum("delta").over(wr) + F.col("_carry")).cast("long")
        )
        .select("ts", "delta", "concurrency")
    )


def correlation_matrix(
    df: DataFrame,
    cols: list[str],
    *,
    scale: int = 100,
) -> DataFrame:
    """EXACT Pearson correlation for every unordered column pair, in one
    aggregation pass — long format ``(col_x, col_y, corr)`` with
    ``col_x`` before ``col_y`` in ``cols`` order.

    Bit-deterministic across engines, the same recipe as the tf-idf
    cosine join: each input is scaled to an INTEGER
    (``round(x * scale)`` — ``scale`` must make the column values
    integral, e.g. 100 for 2-decimal money columns; correlation is
    scale-invariant so the factor cancels), every moment sum
    (n, Σx, Σx², Σxy) accumulates exactly (decimal(38,0) in Spark,
    HUGEINT in DuckDB — order-independent, no float-sum
    nondeterminism), and only the final
    ``(nΣxy − ΣxΣy) / sqrt((nΣx² − (Σx)²)(nΣy² − (Σy)²))`` runs in
    doubles, where IEEE-754 divide/multiply/sqrt are correctly rounded
    and therefore identical in Spark and DuckDB.

    Plan shape: ONE full-table scan feeding a single partial+final
    aggregate of ``2k + k(k−1)/2 + 1`` exact sums (k = len(cols)); the
    pair explosion happens on the 1-row aggregate result.  NULL
    handling: rows with a NULL in ANY of ``cols`` are excluded
    (listwise deletion) so every pair shares one n — pairwise deletion
    would need per-pair counts.
    """
    if len(cols) < 2:
        raise ValueError("correlation_matrix needs at least two columns")
    pred = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    clean = df.where(F.expr(pred)).select(
        *[
            F.expr(f"cast(round({c} * {scale}) as bigint)").alias(f"_x_{c}")
            for c in cols
        ]
    )
    big = {c: f"cast(_x_{c} as decimal(38,0))" for c in cols}
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("_n")]
    for c in cols:
        aggs.append(F.expr(f"sum({big[c]})").alias(f"_s_{c}"))
        aggs.append(F.expr(f"sum({big[c]} * _x_{c})").alias(f"_ss_{c}"))
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    for a, b in pairs:
        aggs.append(F.expr(f"sum({big[a]} * _x_{b})").alias(f"_sp_{a}_{b}"))
    moments = clean.agg(*aggs)

    def corr_expr(a: str, b: str) -> str:
        num = f"(_n * _sp_{a}_{b} - _s_{a} * _s_{b})"
        da = f"(_n * _ss_{a} - _s_{a} * _s_{a})"
        db = f"(_n * _ss_{b} - _s_{b} * _s_{b})"
        return (
            f"case when {da} = 0 or {db} = 0 then null else "
            f"cast({num} as double) / "
            f"sqrt(cast({da} as double) * cast({db} as double)) end"
        )

    rows = ", ".join(f"'{a}', '{b}', {corr_expr(a, b)}" for a, b in pairs)
    return moments.select(
        F.expr(f"stack({len(pairs)}, {rows}) as (col_x, col_y, corr)")
    )


def spearman_correlation(
    df: DataFrame,
    col_a: str,
    col_b: str,
    *,
    scale_a: int = 1,
    scale_b: int = 1,
) -> DataFrame:
    """EXACT Spearman rank correlation of two columns WITHOUT a
    row-level rank window — one-row output ``(col_x, col_y, rho)``.

    Ranks come from per-column value HISTOGRAMS: for value v with count
    ``cnt`` and ``cum`` rows below it, the tie-averaged rank is
    ``cum + (cnt+1)/2`` — kept integral as ``2*cum + cnt + 1`` (twice
    the rank; Pearson is scale-invariant so the factor cancels).  The
    only window runs over the DISTINCT-VALUE frame (post-aggregate, so
    the single-partition exchange carries a reduced frame — the same
    contract as the engine's other histogram-rank plans; intended for
    discretized/low-cardinality columns, the same caveat as
    :func:`grouped_rank_exact`).  Ranks join back via the value key
    (broadcast-sized by the same assumption) and the Pearson step is
    :func:`correlation_matrix`'s exact-decimal moment machinery —
    bit-deterministic in both engines.

    ``scale_a``/``scale_b`` integer-encode the inputs first
    (``round(x*scale)``), as in :func:`correlation_matrix`.  Rows with
    a NULL in either column are dropped listwise.
    """
    pred = f"{col_a} IS NOT NULL AND {col_b} IS NOT NULL"
    enc = df.where(F.expr(pred)).select(
        F.expr(f"cast(round({col_a} * {scale_a}) as bigint)").alias("_va"),
        F.expr(f"cast(round({col_b} * {scale_b}) as bigint)").alias("_vb"),
    ).transform(ckpt_lazy)

    def rank_map(col: str) -> DataFrame:
        hist = enc.groupBy(col).agg(F.count(F.lit(1)).alias("_cnt"))
        w = Window.orderBy(F.asc(col)).rowsBetween(
            Window.unboundedPreceding, -1
        )
        return hist.withColumn(
            "_cum", F.coalesce(F.sum("_cnt").over(w), F.lit(0))
        ).select(
            col,
            (F.lit(2) * F.col("_cum") + F.col("_cnt") + 1).alias(f"_r{col}"),
        )

    ranked = (
        enc.join(F.broadcast(rank_map("_va")), on="_va")
        .join(F.broadcast(rank_map("_vb")), on="_vb")
        .select(
            F.col("_r_va").cast("double").alias("_ra"),
            F.col("_r_vb").cast("double").alias("_rb"),
        )
    )
    out = correlation_matrix(ranked, ["_ra", "_rb"], scale=1)
    return out.select(
        F.lit(col_a).alias("col_x"), F.lit(col_b).alias("col_y"),
        F.col("corr").alias("rho"),
    )


def pareto_frontier_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    x_bucket_expr=None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """2-D Pareto frontier (skyline): rows not strictly dominated under
    MINIMIZE ``x_col`` / MAXIMIZE ``y_col`` — "earliest at this price or
    better", "cheapest at this quality or better".  Duplicates of a
    frontier point are all kept (neither strictly dominates the other),
    matching the ``NOT EXISTS`` SQL definition row-for-row.

    Decomposition (no corpus-sized window anywhere): row *i* is on the
    frontier iff

    * ``y_i  = max y among rows with x = x_i``  (nothing above it at
      its own x), and
    * ``y_i  > max y among rows with x < x_i``  (nothing above-or-equal
      strictly to its left).

    Both maxima come from ONE per-``x`` aggregate (corpus collapses to
    the distinct-``x`` frame) followed by an EXCLUSIVE running max over
    that frame — the histogram-prefix pattern shared with
    ``grouped_rank_exact``: the single-partition window sees one row
    per distinct ``x``, bounded by the attribute's cardinality (dates,
    buckets), never by the corpus.  The frontier-x frame then
    hash-joins back (it is at most distinct-``x`` sized; Spark/AQE
    broadcasts it when small).

    For continuous ``x`` pass ``x_bucket_expr`` (a monotone coarsening,
    e.g. ``F.floor(F.col(x) * 100)``): the frontier is then computed on
    the bucketized x — a coarser but scale-safe skyline; float ``x``
    without it raises (same guard as ``grouped_rank_exact``).  NULLs in
    either column never join the frontier (dominance is undefined).

    ``group_cols`` computes an INDEPENDENT frontier per group (per
    language, per source): the per-x aggregate keys on (group, x) and
    the running max partitions by group — the window stays bounded by
    the per-group distinct-``x`` cardinality and parallelizes across
    groups (no single-partition exchange at all in the grouped form).
    """
    gcols = list(group_cols or ())
    if x_bucket_expr is None:
        xt = df.schema[x_col].dataType.simpleString()
        if xt in ("double", "float"):
            raise ValueError(
                f"pareto_frontier_2d: {x_col!r} is {xt} — the per-x frame "
                "would approach corpus size. Pass x_bucket_expr, e.g. "
                f"x_bucket_expr=F.floor(F.col({x_col!r}))."
            )
    base = df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    for g in gcols:
        base = base.where(F.col(g).isNotNull())
    xb = x_bucket_expr if x_bucket_expr is not None else F.col(x_col)
    b = base.withColumn("_xb", xb)
    perx = b.groupBy(*gcols, "_xb").agg(F.max(y_col).alias("_ymax"))
    w = (
        Window.partitionBy(*gcols) if gcols else Window
    ).orderBy(F.asc("_xb")).rowsBetween(Window.unboundedPreceding, -1)
    pref = perx.withColumn("_yleft", F.max("_ymax").over(w))
    frontier_x = pref.where(
        F.col("_yleft").isNull() | (F.col("_ymax") > F.col("_yleft"))
    ).select(*gcols, "_xb", "_ymax")
    return (
        b.join(frontier_x, on=gcols + ["_xb"])
        .where(F.col(y_col) == F.col("_ymax"))
        .drop("_xb", "_ymax")
    )


def winsorize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    lower: float = 0.05,
    upper: float = 0.95,
    bucket_width: float = 1.0,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group winsorization: clip ``value_col`` to that group's
    exact type-1 [``lower``, ``upper``] quantiles — the robust-stats
    outlier treatment (heavy-tail damping before means/regressions;
    the curation analogue caps per-user/per-source influence).

    The quantiles come from :func:`exact_group_quantiles` (histogram
    locate-then-sort — no per-group full sort, no corpus window); the
    per-group bounds frame is one row per group and joins back by hash
    (broadcast under AQE when small).  Clipping itself is a pure
    projection.  Clipped values are always REAL data values (order
    statistics), so downstream exact-decimal aggregates stay exact.

    Output: input columns + ``out_col`` (default
    ``<value>_winsorized``) + ``_wlo``/``_whi`` bound columns (kept —
    callers reporting clip rates need them; drop if not).
    """
    out_col = out_col or f"{value_col}_winsorized"
    lo_name, hi_name = f"q_{int(lower * 100)}", f"q_{int(upper * 100)}"
    bounds = exact_group_quantiles(
        df, group_col, value_col,
        quantiles=(lower, upper), bucket_width=bucket_width,
    ).select(
        group_col,
        F.col(lo_name).alias("_wlo"),
        F.col(hi_name).alias("_whi"),
    )
    return df.join(bounds, on=group_col).withColumn(
        out_col,
        F.least(F.greatest(F.col(value_col), F.col("_wlo")), F.col("_whi")),
    )


def weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    *,
    bucket_width: float | None = None,
) -> DataFrame:
    """Exact lower weighted median per group: the smallest value ``v``
    whose cumulative weight reaches half the group total
    (``2 * cum(v) >= W``) — the robust center for weighted data
    (token-weighted document quality, duration-weighted latencies)
    where the unweighted median misleads.

    Scale shape — the same histogram-prefix pattern as
    ``exact_group_quantiles``: the corpus collapses to one row per
    (group, DISTINCT value) with summed weights (hash aggregate,
    map-side combined); the running weight sum is a window over that
    frame, partitioned by group and bounded by the per-group distinct-
    value cardinality — never a corpus-sized sort.  Integer weights ->
    exact integer arithmetic end to end (the ``2 * cum >= W`` form
    avoids halving).

    Weight semantics: NULL values/weights and ZERO weights are excluded
    (a zero-weight observation cannot move a weighted median); a
    NEGATIVE weight is rejected at runtime with ``raise_error`` — it is
    almost always corrupt input and silently dropping it would shift
    the median with no signal.  Groups whose weights are all NULL/zero
    yield no row.

    Float hazard + escape: a double/float ``value_col`` makes the
    exact-value histogram ~one row per input row — the per-group window
    re-becomes a single corpus-sized task (the hazard its sibling
    ``grouped_rank_exact`` guards).  Such columns must pass
    ``bucket_width``: values histogram at ``floor(v/width)`` resolution
    first, the crossing BUCKET is located on the small frame, and only
    that bucket's rows are re-scanned for the exact in-bucket crossing —
    still the EXACT weighted median, with the window bounded by bucket
    occupancy instead of distinct-value cardinality.

    Returns ``(group_col, weighted_median, total_weight)``.
    """
    vt = df.schema[value_col].dataType.simpleString()
    if vt in ("double", "float") and bucket_width is None:
        raise ValueError(
            f"weighted_median: {value_col!r} is {vt} — the exact-value "
            "histogram would hold ~one row per distinct value (a corpus-"
            "sized single-task window per group). Pass bucket_width to "
            "locate the crossing bucket first (result is still exact)."
        )
    # zero weights drop; negative weights fail LOUDLY (corrupt input)
    weight_ok = F.when(
        F.col(weight_col) < 0,
        F.expr(
            "raise_error(concat('weighted_median: negative weight in "
            f"{weight_col}: ', cast({weight_col} as string)))"
        ).cast("boolean"),
    ).otherwise(F.col(weight_col) > 0)
    base = df.where(
        F.col(value_col).isNotNull() & F.col(weight_col).isNotNull() & weight_ok
    )
    if bucket_width is None:
        hist = base.groupBy(group_col, value_col).agg(
            F.sum(weight_col).alias("_w")
        )
        w_run = Window.partitionBy(group_col).orderBy(
            F.asc(value_col)
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        w_all = Window.partitionBy(group_col).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        cum = hist.select(
            group_col, value_col,
            F.sum("_w").over(w_run).alias("_cum"),
            F.sum("_w").over(w_all).alias("_W"),
        )
        return (
            cum.where(F.expr("2 * _cum >= _W"))
            .groupBy(group_col)
            .agg(
                F.min(value_col).alias("weighted_median"),
                F.min("_W").alias("total_weight"),
            )
        )
    # ---- bucketed locate-then-rescan (exact; float-safe) ----
    b = base.select(
        group_col,
        F.col(value_col).alias("_v"),
        F.col(weight_col).alias("_wt"),
        F.floor(F.col(value_col) / F.lit(bucket_width)).cast("long").alias("_bkt"),
    )
    hist = b.groupBy(group_col, "_bkt").agg(F.sum("_wt").alias("_w"))
    w_run = Window.partitionBy(group_col).orderBy(F.asc("_bkt")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy(group_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        group_col, "_bkt",
        (F.sum("_w").over(w_run) - F.col("_w")).alias("_before"),
        F.sum("_w").over(w_run).alias("_cum"),
        F.sum("_w").over(w_all).alias("_W"),
    )
    # the crossing bucket: first bucket whose cumulative weight reaches
    # half the total — exactly one per nonempty group.  Fresh aliases
    # (_pre/_tot) break the shared-lineage attribute names that the
    # self-join would otherwise resolve ambiguously.
    located = cum.where(
        (F.expr("2 * _cum >= _W")) & (F.expr("2 * _before < _W"))
    ).select(
        group_col, "_bkt",
        F.col("_before").alias("_pre"), F.col("_W").alias("_tot"),
    )
    # re-scan ONLY that bucket's rows: in-bucket running sum picks the
    # exact crossing value (ties collapse first so equal values share
    # one cumulative position, matching the exact-value path)
    cand = b.join(F.broadcast(located), on=[group_col, "_bkt"])
    in_hist = cand.groupBy(group_col, "_v", "_pre", "_tot").agg(
        F.sum("_wt").alias("_w")
    )
    wv = Window.partitionBy(group_col).orderBy(F.asc("_v")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    picked = in_hist.select(
        group_col, "_v", "_tot",
        (F.col("_pre") + F.sum("_w").over(wv)).alias("_cum"),
    ).where(F.expr("2 * _cum >= _tot"))
    return picked.groupBy(group_col).agg(
        F.min("_v").alias("weighted_median"),
        F.min("_tot").alias("total_weight"),
    )

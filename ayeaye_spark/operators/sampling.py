"""Deterministic sampling / splitting / budgeting for training-data
pipelines.

The reference has no sampling operators (its user code iterates rows);
these are the corpus-curation primitives a large-scale pipeline needs,
built so the SAME selection is reproducible on any engine and any
cluster size:

* selection is keyed on a **deterministic integer hash bucket** of the
  row id — a linear congruential mix ``(id * 1103515245 + 12345) %
  1000`` — never on ``rand()`` or row position.  Pure 64-bit integer
  arithmetic: portable to the DuckDB oracle verbatim, stable across
  partitionings, and joinable (the same doc lands in the same split in
  every run and every table that shares the id).
* budgets use exact integer token counts and window cumsums — no float
  order dependence.

At 100 TB every operator here is a scan + (for budgeting) one global
sort of a narrow (id, score, tokens) projection; nothing shuffles the
text itself.

Reference parity: sampling is "new capability" per SURVEY §2.5 —
designed Spark-first, no reference counterpart to cite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ..core.checkpoint import ckpt_lazy, materialize_observed

#: LCG constants (glibc's) for the deterministic bucket in [0, 1000).
HASH_A = 1103515245
HASH_B = 12345
HASH_BUCKETS = 1000


def bucket_expr(id_col: str) -> str:
    """SQL text for the selection bucket — identical in Spark and DuckDB
    (64-bit integer multiply/add/modulo; ids up to ~8e9 stay < 2^63).

    The double-mod is a portable ``pmod``: both engines' ``%`` keeps the
    dividend's sign, so a bare mod would send every negative id to a
    negative bucket — below every split boundary and every sample rate,
    silently skewing selection.  Nonnegative ids hash identically either
    way (the oracle pairing is unchanged)."""
    mixed = f"({id_col} * {HASH_A} + {HASH_B})"
    return f"(({mixed} % {HASH_BUCKETS} + {HASH_BUCKETS}) % {HASH_BUCKETS})"


def with_bucket(df: DataFrame, id_col: str, out_col: str = "bucket") -> DataFrame:
    return df.withColumn(out_col, F.expr(bucket_expr(id_col)))


def deterministic_split(
    df: DataFrame,
    id_col: str,
    *,
    splits: list[tuple[str, int]] | None = None,
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split by bucket range.

    ``splits`` is [(name, permille), ...] summing to 1000 — default
    900/50/50 train/val/test.  Assignment depends only on the id, so it
    is stable across runs, engines, and repartitioning, and any table
    keyed by the same id inherits the same split via join.
    """
    splits = splits or [("train", 900), ("val", 50), ("test", 50)]
    total = sum(p for _, p in splits)
    if total != HASH_BUCKETS:
        raise ValueError(f"split permilles must sum to {HASH_BUCKETS}, got {total}")
    expr = "CASE"
    acc = 0
    for name, permille in splits[:-1]:
        acc += permille
        expr += f" WHEN {bucket_expr(id_col)} < {acc} THEN '{name}'"
    expr += f" ELSE '{splits[-1][0]}' END"
    return df.withColumn(out_col, F.expr(expr))


def rate_sample(
    df: DataFrame,
    id_col: str,
    *,
    rate_permille: int | None = None,
    rate_by: dict[str, dict[str, int]] | None = None,
    default_permille: int = 1000,
) -> DataFrame:
    """Keep a deterministic fraction of rows — globally, or per group.

    ``rate_permille`` keeps ~N/1000 of all rows.  ``rate_by`` maps a
    column name to {value: permille} for stratified downsampling (e.g.
    rebalance an English-dominant corpus: ``{"lang": {"en": 300}}`` with
    ``default_permille`` for the rest).  Selection is the id bucket, so
    subsamples at different rates are NESTED (rate 300 ⊂ rate 800):
    growing a sample keeps everything already selected.
    """
    if (rate_permille is None) == (rate_by is None):
        raise ValueError("exactly one of rate_permille / rate_by required")
    if rate_permille is not None:
        return df.where(F.expr(f"{bucket_expr(id_col)} < {rate_permille}"))
    (group_col, rates), = rate_by.items()
    case = "CASE " + " ".join(
        f"WHEN {group_col} = '{v}' THEN {p}" for v, p in sorted(rates.items())
    ) + f" ELSE {default_permille} END"
    return df.where(F.expr(f"{bucket_expr(id_col)} < {case}"))


#: bucket fan-in per hierarchy level of the offsets prefix sum
_OFFSET_FANIN = 65536


def _bucketed_cumsum(
    df: DataFrame,
    *,
    token_col: str,
    order_cols: list,
    bucket_expr_sql: str,
    out_col: str,
    prune_above: int | None = None,
    _depth: int = 1,
) -> DataFrame:
    """Distributed exact prefix sum: ``SUM(token_col) OVER (ORDER BY
    order_cols ROWS UNBOUNDED PRECEDING)`` without a single-partition
    window.

    A no-``partitionBy`` window moves EVERY row to one partition
    (WindowExec does not range-partition) — a hard wall at 100 TB.  This
    is the classic two-phase prefix sum instead:

    1. bucket each row with ``bucket_expr_sql`` — a deterministic column
       expression that is **monotone non-decreasing along the sort
       order** (so buckets are contiguous runs of the total order);
    2. per-bucket partial cumsums via ``Window.partitionBy(bucket)``
       — a parallel hash-shuffled window;
    3. per-bucket totals (map-side-combined aggregate → one tiny row per
       bucket) turned into bucket offsets by a window over the tiny
       totals frame only (single-partition, but over #buckets rows, not
       #rows);
    4. broadcast-join offsets back, ``cum = offset + partial``.

    The bucket expression must be derived from the data (not
    ``spark_partition_id`` after a range partitioner: two branches of
    the plan can materialize DIFFERENT range boundaries, silently
    misaligning offsets).

    ``prune_above``: when set, buckets whose offset already exceeds the
    value are dropped BEFORE the big window shuffle — a budget cut keeps
    only the head of the order, so at scale this prunes almost the whole
    corpus pre-shuffle.
    """
    bucket = F.expr(bucket_expr_sql)
    base = df.withColumn("_cb", bucket)

    totals = base.groupBy("_cb").agg(F.sum(token_col).alias("_bt"))
    integral_bucket = totals.schema["_cb"].dataType.typeName() in (
        "byte", "short", "integer", "long",
    )
    if _depth > 0 and integral_bucket:
        # hierarchical offsets: the per-bucket-totals frame can itself be
        # large (100 TB with 64k-row buckets → ~15M bucket rows); its
        # prefix sum is the SAME primitive one level up, with buckets of
        # buckets — the final single-partition window only ever sees
        # #buckets / 65536 rows.  Exclusive prefix = inclusive − own.
        # (Integral bucket types only — `div` needs them; non-integral
        # buckets fall to the single window, which their caller chose.)
        totals = totals.transform(ckpt_lazy)  # inner base AND inner totals
        inner = _bucketed_cumsum(
            totals.withColumnRenamed("_cb", "_ocb"),  # free "_cb" for the level below
            token_col="_bt",
            order_cols=[F.asc("_ocb")],
            bucket_expr_sql=f"_ocb div {_OFFSET_FANIN}",
            out_col="_ibt",
            _depth=_depth - 1,
        )
        offsets = inner.select(
            F.col("_ocb").alias("_cb"), (F.col("_ibt") - F.col("_bt")).alias("_boff")
        )
    else:
        w_off = Window.orderBy("_cb").rowsBetween(Window.unboundedPreceding, -1)
        offsets = totals.select(
            "_cb",
            F.coalesce(F.sum("_bt").over(w_off), F.lit(0).cast("long")).alias("_boff"),
        )
    if prune_above is not None:
        # whole buckets past the budget can never contribute a kept row
        offsets = offsets.where(F.col("_boff") <= prune_above)
    # no forced broadcast: the offsets frame is tiny at test scale (AQE
    # broadcasts it on its own) but ~#buckets rows at 100 TB — forcing a
    # driver collect+broadcast there would just relocate the bottleneck
    joined = base.join(offsets, "_cb")  # inner join = prune when filtered

    w_in = (
        Window.partitionBy("_cb")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        joined.withColumn(out_col, F.col("_boff") + F.sum(token_col).over(w_in))
        .drop("_cb", "_boff")
    )


def token_budget_filter(
    df: DataFrame,
    *,
    id_col: str,
    token_col: str,
    score_col: str,
    budget: int,
    score_bucket_sql: str | None = None,
) -> DataFrame:
    """Keep the best-scoring rows whose cumulative token count fits a
    budget: rows ordered by (score DESC, id ASC), running ``SUM(tokens)``
    ≤ ``budget``.

    The order-by is total (score ties broken by id) and every quantity
    is an integer, so the kept set is exact and engine-independent.  The
    cumsum is the two-phase distributed prefix sum of
    :func:`_bucketed_cumsum` (bucket = ``floor(-score)`` by default —
    monotone along score DESC; pass ``score_bucket_sql`` to re-quantize
    when scores have too many / too few distinct integer parts), with
    whole buckets past the budget pruned before the shuffle.
    """
    bucket_sql = score_bucket_sql or f"floor(-{score_col})"
    out = _bucketed_cumsum(
        df,
        token_col=token_col,
        order_cols=[F.desc(score_col), F.asc(id_col)],
        bucket_expr_sql=bucket_sql,
        out_col="_cum_tokens",
        prune_above=budget,
    )
    return out.where(F.col("_cum_tokens") <= budget).drop("_cum_tokens")


def pack_sequences(
    df: DataFrame,
    *,
    id_col: str,
    token_col: str,
    budget: int,
    id_bucket_width: int = 65536,
    keep_cum: bool = False,
) -> DataFrame:
    """Contiguous-fill sequence packing: rows ordered by id, each row
    joins the pack its running token count starts in — ``pack_id =
    (cumsum - tokens) div budget``.  ``keep_cum=True`` retains the
    running total column ``_cum`` (consumers deriving in-pack offsets
    read ``_cum - tokens``).

    The deterministic streaming formulation of training-sequence packing
    (docs → fixed-token training rows): exact integer math, distributed
    two-phase prefix sum over the narrow (id, tokens) projection
    (buckets of ``id_bucket_width`` consecutive ids — monotone along the
    id order), no driver loop.  Packs may overflow the budget by at most
    one document (standard greedy fill; oversized docs would be
    pre-split upstream).
    """
    out = _bucketed_cumsum(
        df,
        token_col=token_col,
        order_cols=[F.asc(id_col)],
        bucket_expr_sql=f"{id_col} div {id_bucket_width}",
        out_col="_cum",
    )
    # integer `div`, not `/`: float division of big longs loses exactness
    out = out.withColumn(
        "pack_id", F.expr(f"(_cum - {token_col}) div {budget}")
    )
    return out.drop("_cum") if not keep_cum else out


def seeded_shuffle(
    df: DataFrame,
    id_col: str,
    *,
    seed: str,
    key_col: str = "shuffle_key",
    pos_col: str = "shuffle_pos",
) -> DataFrame:
    """Deterministic global shuffle for training-data ordering: every
    row gets ``md5(seed || ':' || id)`` as its shuffle key and its exact
    1-based position in the key order.

    Changing the seed re-permutes the corpus (epoch reshuffles); the
    same seed reproduces the identical order on any engine, partitioning
    or cluster size — md5 of the decimal id string is bit-portable, and
    ties (128-bit collisions) break on the id.

    Position assignment is NOT a global ``row_number()`` window (that
    moves every row to one partition): the first 4 hex digits of the key
    are monotone along the key order, so they bucket the corpus into
    65536 contiguous runs and the two-phase distributed prefix sum
    (:func:`_bucketed_cumsum`, counting 1 per row) assigns exact global
    positions with only hash-shuffled windows.  At scale the physical
    write order comes free from a range-partitioned sort on the key.
    """
    key = F.md5(F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string")))
    keyed = df.withColumn(key_col, key).withColumn("_one", F.lit(1).cast("long"))
    out = _bucketed_cumsum(
        keyed,
        token_col="_one",
        order_cols=[F.asc(key_col), F.asc(id_col)],
        bucket_expr_sql=f"cast(conv(substring({key_col}, 1, 4), 16, 10) as int)",
        out_col=pos_col,
    )
    return out.drop("_one")


def _grouped_bucketed_cumsum(
    df: DataFrame,
    *,
    group_col: str,
    token_col: str,
    order_cols: list,
    bucket_expr_sql: str,
    out_col: str,
) -> DataFrame:
    """Per-group exact prefix sum — :func:`_bucketed_cumsum` with a
    partition key: ``SUM(token_col) OVER (PARTITION BY group ORDER BY
    order_cols)`` without putting a whole group in one partition.

    Buckets split each group into contiguous runs (``bucket_expr_sql``
    monotone along the order within a group); partials use a
    ``(group, bucket)``-hashed window, offsets come from a window over
    the tiny per-(group, bucket) totals frame partitioned by group —
    #groups × #buckets rows, never the corpus.
    """
    base = df.withColumn("_cb", F.expr(bucket_expr_sql))
    totals = base.groupBy(group_col, "_cb").agg(F.sum(token_col).alias("_bt"))
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("_cb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        group_col,
        "_cb",
        F.coalesce(F.sum("_bt").over(w_off), F.lit(0).cast("long")).alias("_boff"),
    )
    joined = base.join(offsets, [group_col, "_cb"])
    w_in = (
        Window.partitionBy(group_col, "_cb")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        joined.withColumn(out_col, F.col("_boff") + F.sum(token_col).over(w_in))
        .drop("_cb", "_boff")
    )


def domain_mix_budget(
    df: DataFrame,
    *,
    group_col: str,
    id_col: str,
    token_col: str,
    weights: dict[str, int],
    id_bucket_width: int = 65536,
) -> DataFrame:
    """Select a maximal training mix matching target domain weights
    exactly, with no upsampling.

    ``weights`` maps group value → integer weight (any scale).  The
    feasible mix total is ``B = min_s (T_s * W) // w_s`` (T_s = the
    group's token supply, W = Σ weights) — the largest total where every
    group can fill its share ``w_s * B // W`` from real data.  Each
    group then keeps documents in id order while its running token sum
    fits the share (greedy prefix, exact integer math → the kept set is
    engine- and partitioning-independent).

    One narrow aggregate (#groups rows, collected — groups are domains,
    small by contract), then the grouped two-phase prefix sum; the text
    itself never shuffles.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    # checkpoint the narrow (group, id, tokens) projection: the totals
    # collect below is an ACTION, and without the cut the later cumsum
    # plan would re-scan (and re-tokenize) the full corpus a second time
    scoped = df.where(F.col(group_col).isin(*weights.keys())).transform(ckpt_lazy)
    totals = {
        r[0]: r[1]
        for r in scoped.groupBy(group_col).agg(F.sum(token_col)).collect()
    }
    w_sum = sum(weights.values())
    # a weighted group with ZERO supply cannot constrain the mix: it
    # drops out of the min (matching the docs_domain_mix oracle, whose
    # MIN over the supply join never sees absent sources) instead of
    # zeroing the whole budget; its own share then selects nothing
    constraints = [
        (totals[g] * w_sum) // w
        for g, w in weights.items()
        if w > 0 and totals.get(g, 0)
    ]
    feasible = min(constraints) if constraints else 0
    budgets = {g: (w * feasible) // w_sum for g, w in weights.items()}
    cum = _grouped_bucketed_cumsum(
        scoped,
        group_col=group_col,
        token_col=token_col,
        order_cols=[F.asc(id_col)],
        bucket_expr_sql=f"{id_col} div {id_bucket_width}",
        out_col="_cum",
    )
    budget_case = "CASE " + " ".join(
        f"WHEN {group_col} = '{g}' THEN {b}" for g, b in sorted(budgets.items())
    ) + " ELSE 0 END"
    return cum.where(F.col("_cum") <= F.expr(budget_case)).drop("_cum")


def temperature_mixture(
    df: DataFrame,
    *,
    group_col: str,
    token_col: str,
    budget_tokens: int,
) -> DataFrame:
    """Temperature-τ=0.5 domain/language mixture plan — the standard
    multilingual-pretraining reweighting (mBERT/XLM-R style): sampling
    weight ∝ supply^τ, which UP-weights low-resource domains relative
    to proportional sampling while still favoring larger ones.  τ=1/2
    is the canonical setting AND the one with an exact integer form —
    weight = isqrt(tokens) — so the whole plan is engine-exact where a
    float ``pow(x, 0.7)`` never could be.

    isqrt is float ``sqrt`` + a two-sided correction (float sqrt of a
    large int64 can land one off a perfect-square boundary after
    floor; the correction re-anchors on exact integer multiplication,
    identically in both engines).

    Returns one row per group: token supply, exact integer weight,
    ``weight_ppm`` (mixture share), the group's share of
    ``budget_tokens``, and ``epochs_ppm`` = allocated/supply — the
    up-sampling factor a trainer must apply (>1e6 means the group
    repeats).

    Scale shape: ONE map-side-combined aggregate to #groups rows;
    everything after is arithmetic on that tiny frame (single-row
    total broadcast back).
    """
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    sup = df.groupBy(group_col).agg(
        F.sum(token_col).cast("long").alias("supply_tokens")
    )
    isqrt = (
        "CAST(floor(sqrt(supply_tokens)) AS BIGINT)"
    )
    corrected = (
        f"(({isqrt}) - CAST(({isqrt}) * ({isqrt}) > supply_tokens AS BIGINT)"
        f" + CAST((({isqrt}) + 1) * (({isqrt}) + 1) <= supply_tokens AS BIGINT))"
    )
    w = sup.withColumn("weight", F.expr(corrected))
    tot = w.agg(F.sum("weight").cast("long").alias("_tw"))
    # _tw = 0 (every group has zero tokens) must yield a degenerate
    # all-zero plan, not an ANSI divide-by-zero from `div`
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            group_col,
            "supply_tokens",
            "weight",
            F.expr(
                "CASE WHEN _tw = 0 THEN 0 "
                "ELSE weight * 1000000 div _tw END"
            ).alias("weight_ppm"),
            F.expr(
                f"CASE WHEN _tw = 0 THEN 0 ELSE "
                f"weight * CAST({budget_tokens} AS BIGINT) div _tw END"
            ).alias("allocated_tokens"),
            F.expr(
                f"CASE WHEN supply_tokens = 0 OR _tw = 0 THEN 0 ELSE "
                f"weight * CAST({budget_tokens} AS BIGINT) div _tw "
                f"* 1000000 div supply_tokens END"
            ).alias("epochs_ppm"),
        )
    )


def systematic_weighted_sample(
    df: DataFrame,
    *,
    id_col: str,
    weight_col: str,
    n: int,
    id_bucket_width: int = 65536,
) -> DataFrame:
    """Weight-proportional sampling WITHOUT floats: classic systematic
    (survey) sampling over cumulative integer weights.  With total
    weight W and stride s = W div n, the selection targets are
    t_k = s div 2 + k*s; a row whose cumulative-weight interval
    (cum - w, cum] contains at least one target is selected — rows are
    chosen with probability proportional to weight, exactly n (±1 from
    integer stride truncation) come out, and the whole decision is
    integer arithmetic: the same rows on any engine or partitioning
    (the A-ES / exponential-keys method needs float powers — not
    cross-engine-exact).

    Built on the two-phase distributed prefix sum over the id order; a
    selected row also reports ``n_hits`` (a row heavier than the stride
    is hit multiple times — duplicate it downstream for true PPS
    semantics or treat as one pick).
    """
    if n <= 0:
        raise ValueError("n must be positive")
    cum = _bucketed_cumsum(
        df,
        token_col=weight_col,
        order_cols=[F.asc(id_col)],
        bucket_expr_sql=f"{id_col} div {id_bucket_width}",
        out_col="_cum",
    )
    # reused by total + selection; the total-weight max rides the
    # checkpoint materialization job (observe) instead of a second read
    cum, m = materialize_observed(cum, _w=F.max("_cum"))
    total = m["_w"]
    stride = max(1, total // n)
    offset = stride // 2
    # hits in (cum-w, cum]: floor((cum-offset)/stride) - floor((cum-w-offset)/stride)
    hits = (
        f"(CASE WHEN _cum >= {offset} THEN (_cum - {offset}) div {stride} ELSE -1 END"
        f" - CASE WHEN _cum - {weight_col} >= {offset}"
        f"   THEN (_cum - {weight_col} - {offset}) div {stride} ELSE -1 END)"
    )
    return (
        cum.withColumn("n_hits", F.expr(hits).cast("long"))
        .where(F.col("n_hits") > 0)
        .drop("_cum")
    )


def retention_curve(
    df: DataFrame,
    score_col: str,
    weight_col: str,
    *,
    thresholds: list[int],
) -> DataFrame:
    """Threshold sweep for a quality filter: for each candidate cutoff
    ``t``, how many rows (documents) and how much ``weight_col``
    (tokens) survive ``score >= t`` — the calibration table a curation
    pipeline reads before committing to a filter threshold at corpus
    scale (choose t to hit a token budget, see the retained ppm).

    Scale shape: one pass aggregates per distinct SCORE BUCKET (the
    scores here are integer ppm, so the frame is <= 1e6 rows and in
    practice far smaller); the sweep is a reversed cumulative sum over
    that tiny frame joined to the threshold list — never a second scan
    of the corpus, never a corpus-sized window.

    Output: (threshold, n_rows, total_weight, row_ppm, weight_ppm),
    ppm relative to the full corpus.  Integer-exact.
    """
    from pyspark.sql import Window as W

    by_score = df.groupBy(F.col(score_col).alias("_s")).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(F.col(weight_col)).cast("long").alias("_w"),
    )
    # reversed cumulative: rows/weight at score >= s (tiny frame; the
    # single-partition window carries the aggregated buckets only)
    w = W.orderBy(F.desc("_s")).rowsBetween(W.unboundedPreceding, 0)
    cum = by_score.select(
        "_s",
        F.sum("_n").over(w).alias("_cn"),
        F.sum("_w").over(w).alias("_cw"),
    )
    # totals come from the already-aggregated bucket frame — computing
    # them on ``df`` would be a SECOND corpus scan (and, when the score
    # is a derived expression, a second evaluation of it)
    totals = by_score.agg(
        F.sum("_n").cast("long").alias("_tn"),
        F.sum("_w").cast("long").alias("_tw"),
    )
    th = df.sparkSession.createDataFrame(
        [(int(t),) for t in thresholds], "threshold long"
    )
    # threshold t keeps score >= t: the smallest bucket _s >= t carries
    # the cumulative; join picks it via min over qualifying buckets
    joined = (
        th.join(cum, F.col("_s") >= F.col("threshold"), "left")
        .groupBy("threshold")
        .agg(
            F.max_by("_cn", "_cn").alias("n_rows"),
            F.max_by("_cw", "_cn").alias("total_weight"),
        )
        .na.fill({"n_rows": 0, "total_weight": 0})
    )
    return (
        joined.crossJoin(F.broadcast(totals))
        .withColumn(
            "row_ppm",
            F.when(F.col("_tn") > 0,
                   F.expr("n_rows * 1000000 div _tn")).otherwise(0)
            .cast("long"),
        )
        .withColumn(
            "weight_ppm",
            F.when(F.col("_tw") > 0,
                   F.expr("total_weight * 1000000 div _tw")).otherwise(0)
            .cast("long"),
        )
        .select("threshold", "n_rows", "total_weight", "row_ppm", "weight_ppm")
    )


def tokenize_pack_shards(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    vocab_size: int = 32768,
    budget: int = 512,
    id_bucket_width: int = 65536,
    hash_mode: str | None = None,
) -> DataFrame:
    """The TERMINAL curation step: documents → packed training
    sequences of integer token ids — what actually feeds a trainer.
    Tokens map to ids via the hashing trick (``token_hash mod
    vocab_size`` — the fastText/CCNet vocabulary-free scheme; swap in
    a learned BPE vocab by joining a merge table upstream), every
    document ends with the reserved EOS id (``vocab_size``), and docs
    pack contiguously into ``budget``-token sequences via the
    deterministic distributed prefix sum of :func:`pack_sequences`.

    Output: ``(pack_id, n_docs, n_tokens, token_ids, doc_starts)`` —
    one row per training sequence, ``token_ids`` the concatenated id
    stream in document order and ``doc_starts`` each document's start
    offset within it (what a block-diagonal attention mask consumes).

    Scale shape: tokenization + id mapping run in the scan projection
    (whole-stage codegen, no Python); pack assignment is the two-phase
    bucketed cumsum (no global window); assembly is ONE groupBy on
    ``pack_id`` whose per-group payload is bounded by ``budget``
    tokens + at most one overflowing document — collect_list never
    sees more than ~one sequence of data.  ``hash_mode="fast"``
    upgrades the id hash to xxhash64 (`pmod` keeps ids non-negative);
    the portable default is value-oracle-checkable.
    """
    from ..functions import portable as P

    mode = hash_mode or P.PORTABLE
    text = f"coalesce({text_col}, '')"
    ids = P.transform(
        P.tokens(text, P.SPARK), "t",
        f"pmod({P.char_hash('t', P.SPARK, mode)}, {vocab_size})", P.SPARK,
    )
    per_doc = df.select(
        F.col(id_col),
        F.expr(
            f"concat({ids}, array(cast({vocab_size} as bigint)))"
        ).alias("_ids"),
    ).withColumn("_n", F.expr(P.size("_ids", P.SPARK)).cast("long"))
    packed = pack_sequences(
        per_doc, id_col=id_col, token_col="_n", budget=budget,
        id_bucket_width=id_bucket_width, keep_cum=True,
    ).withColumn("_start", F.expr("_cum - _n"))
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_n").cast("long").alias("n_tokens"),
            F.expr(
                f"flatten(transform(array_sort(collect_list("
                f"struct({id_col}, _ids))), s -> s._ids))"
            ).alias("token_ids"),
            F.min("_start").alias("_first"),
            F.expr(
                f"transform(array_sort(collect_list("
                f"struct({id_col}, _start))), s -> s._start)"
            ).alias("_starts"),
        )
        # per-doc start offsets inside the pack's concatenated stream
        # (block-diagonal attention masks need them): global start
        # minus the pack's first — _start is monotone in id, so the
        # id-sorted collect is already offset-sorted
        .select(
            "pack_id", "n_docs", "n_tokens", "token_ids",
            F.expr("transform(_starts, s -> s - _first)").alias("doc_starts"),
        )
        .orderBy("pack_id")
    )

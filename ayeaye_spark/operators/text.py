"""Text-analysis operators: language ID, quality scoring, token counting,
fingerprinting (north-star LLM-pipeline components, BASELINE.json).

Bit-identical to the DuckDB oracles.  ``with_*`` add one column each
from the ``functions.portable`` Catalyst expressions;
``profile_vectorized`` computes lang ID + quality + token count from ONE
tokenization per document in a single Arrow pass (chained ``with_*``
columns re-traverse the token array per stopword list and per metric —
HOFs don't codegen).  All scan-parallel with no shuffle: one pass over
the corpus at any scale.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves stringified hints here

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import portable as P
from ..core.checkpoint import ckpt_lazy, materialize_observed

SPARK = P.SPARK


def _with_tokens(df: DataFrame, text_col: str) -> DataFrame:
    if "_tokens" in df.columns:
        return df
    return df.withColumn("_tokens", F.expr(P.tokens(text_col, SPARK)))


def with_lang_id(df: DataFrame, text_col: str, out_col: str = "lang_pred") -> DataFrame:
    """Stopword-profile language ID over {en, de, fr, es} + 'und'."""
    had = "_tokens" in df.columns
    out = _with_tokens(df, text_col).withColumn(
        out_col, F.expr(P.lang_id_from_tokens("_tokens", SPARK))
    )
    return out if had else out.drop("_tokens")


def with_quality_score(df: DataFrame, text_col: str, out_col: str = "quality_ppm") -> DataFrame:
    """Heuristic quality as exact integer parts-per-million (0..1e6):
    alpha ratio + en-stopword ratio + length cap, integer arithmetic only
    (float rounding is not cross-engine portable)."""
    had = "_tokens" in df.columns
    out = _with_tokens(df, text_col).withColumn(
        out_col, F.expr(P.quality_score_ppm_from_tokens(text_col, "_tokens", SPARK))
    )
    return out if had else out.drop("_tokens")


def with_token_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish lexical token count."""
    had = "_tokens" in df.columns
    out = (
        _with_tokens(df, text_col)
        .withColumn("ws_tokens", F.expr(P.size("_tokens", SPARK)))
        .withColumn("lex_tokens", F.expr(P.size(P.regexp_tokens(text_col, SPARK), SPARK)))
    )
    return out if had else out.drop("_tokens")


def with_fingerprint(
    df: DataFrame, text_col: str, out_col: str = "fingerprint",
    *, hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """Fingerprint over normalized text.  ``hash_mode="fast"`` = xxhash64,
    the corpus-scale keyspace (see ``portable`` hashing section)."""
    return df.withColumn(out_col, F.expr(P.fingerprint(text_col, SPARK, hash_mode)))


def weighted_quality_by_group(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Weight-averaged quality per group — the GROUPED_AGG pandas-UDF
    modality (Series → scalar inside ``groupBy().agg``), completing the
    five Pandas-UDF shapes (scalar, mapInPandas, applyInPandas
    grouped-map, applyInPandasWithState, grouped-agg).

    Exactness contract: quality is integer ppm and weights are integers,
    so the numpy int64 sums are order-independent and the floor-divide
    matches any engine's integer division on positive operands — the
    result is oracle-comparable despite crossing the Python boundary.
    Rows where either operand is null are skipped (their weight does not
    enter the denominator).  Built-in twin for hot paths::

        SUM(q*w) div SUM(CASE WHEN q IS NOT NULL THEN w END)

    (same integer arithmetic and null semantics, fully JVM-side); the
    UDAF form is the registration surface for aggregations built-ins
    genuinely can't express.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _wmean_ppm(q: pd.Series, w: pd.Series) -> int:
        # SQL-aggregate null semantics: rows where either operand is
        # null are skipped.  Without the mask, a null becomes NaN and
        # to_numpy(int64) wraps it to INT64_MIN — silent garbage.
        ok = q.notna() & w.notna()
        qs = q[ok].to_numpy(np.int64)
        ws = w[ok].to_numpy(np.int64)
        den = int(ws.sum())
        # den == 0 (all-null group / zero total weight) returns NULL,
        # matching the built-in twin's SQL semantics: `SUM(q*w) div
        # SUM(CASE WHEN q IS NOT NULL THEN w END)` is int-div-by-NULL
        # => NULL, and an agreeing degenerate case keeps the UDAF
        # interchangeable with the hot-path twin
        return int((qs * ws).sum()) // den if den else None

    # Spark disallows mixing grouped-agg pandas UDFs with JVM aggregates
    # in one agg() (INVALID_PANDAS_UDF_PLACEMENT) — the count rides the
    # same UDF modality.
    @pandas_udf("long")
    def _n_docs(q: pd.Series) -> int:
        return len(q)

    prof = with_quality_score(df, text_col)
    return prof.groupBy(group_col).agg(
        _wmean_ppm(F.col("quality_ppm"), F.col(weight_col)).alias("wq_ppm"),
        _n_docs(F.col("quality_ppm")).alias("n_docs"),
    )


def profile_vectorized(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, lang_pred, quality_ppm, ws_tokens[, extra...]) in ONE Arrow
    pass — the vectorized twin of lang-ID + quality + token count
    (``functions.portable_py``, fuzz-tested bit parity).  Tokenizes each
    document once for all three outputs; the SQL chain re-traverses the
    token array per stopword list and per metric."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ..functions import portable_py as PY
    from .fanout import fan_out_small

    src = fan_out_small(df.select(id_col, text_col, *extra_cols))
    schema = StructType(
        [src.schema[id_col],
         StructField("lang_pred", StringType()),
         StructField("quality_ppm", LongType()),
         StructField("ws_tokens", LongType())]
        + [src.schema[c] for c in extra_cols]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            langs, quals, ntoks = [], [], []
            for t in pdf[text_col]:
                t = t or ""
                toks = PY.tokens(t)
                langs.append(PY.lang_id(toks))
                quals.append(PY.quality_score_ppm(t, toks))
                ntoks.append(len(toks))
            out = {id_col: pdf[id_col].tolist(), "lang_pred": langs,
                   "quality_ppm": quals, "ws_tokens": ntoks}
            for c in extra_cols:
                out[c] = pdf[c].tolist()
            yield pd.DataFrame(out)

    return src.mapInPandas(gen, schema)


def with_redaction(
    df: DataFrame,
    text_col: str,
    *,
    pattern: str = r"[0-9]",
    replacement: str = "",
    out_col: str = "redacted",
) -> DataFrame:
    """PII-style scrubbing: regex-redact a character class / pattern from
    the text (digits by default — emails/phones/IDs are the production
    patterns).  Pure `regexp_replace`: scan-parallel, no shuffle, and the
    removed-character count is exact integer arithmetic."""
    return df.withColumn(
        out_col, F.regexp_replace(F.col(text_col), pattern, replacement)
    ).withColumn(
        "chars_removed", F.length(text_col) - F.length(out_col)
    )


def source_quality_filter(
    df: DataFrame,
    text_col: str,
    source_col: str,
    *,
    min_mean_ppm: int,
) -> DataFrame:
    """Domain/source-level curation: keep documents whose SOURCE has a
    mean quality score ≥ ``min_mean_ppm`` — the domain-reputation cut a
    web-corpus pipeline applies before per-document filtering (a good
    page on a spam domain is still dropped; that is the point).

    Scale shape: one scoring pass feeds a per-source aggregate
    (map-side combinable; output is #sources rows — tiny), which is
    broadcast back onto a second scoring pass — the corpus itself is
    never shuffled.  Scoring runs twice by design: caching the scored
    corpus would pin ~the whole input in executor storage at 100 TB,
    while re-scoring is one cheap narrow pass.  Integer-ppm mean
    (``sum div count``) keeps the cut engine-exact.
    """
    scored = with_quality_score(df, text_col)
    stats = scored.groupBy(source_col).agg(
        F.expr("sum(quality_ppm) div count(1)").alias("source_mean_ppm"),
    )
    keep = stats.where(F.col("source_mean_ppm") >= min_mean_ppm)
    return scored.join(F.broadcast(keep), on=source_col)


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
) -> DataFrame:
    """Per-document top-``k`` characteristic terms by an integer-exact
    tf/df score (``tf * 1e6 div document_frequency`` — the rank shape of
    tf-idf without float logarithms, so both engines agree bitwise).

    Scale shape: explode tokens → (doc, term) counts (one hash shuffle,
    map-side combined), term document frequencies from that same frame
    (second tiny-keyed aggregate), hash join back on the term (the
    vocabulary is Zipf-bounded but NOT forced broadcast — at web scale
    it can be 1e8 rows), then a per-document window for the top-k.
    """
    from pyspark.sql import Window as W

    toks = df.select(
        F.col(id_col), F.explode(F.expr(P.tokens(text_col, SPARK))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("term_df"))
    scored = tf.join(dfreq, on="term").withColumn(
        "score_ppm", F.expr("tf * 1000000 div term_df")
    )
    w = W.partitionBy(id_col).orderBy(
        F.desc("score_ppm"), F.desc("tf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tf", "term_df", "score_ppm", "rank")
    )


def _bm25_contrib_expr(i: int) -> str:
    """Per-term BM25 contribution over the ``(_dl, _tf{i}, _df{i},
    _n_docs, _total_toks)`` frame — module-level so the overflow guards
    are testable with fabricated corpus stats.

    Two int64 overflow points, both guarded loudly:
     (a) the saturation numerator: ``44 * T * tf * 1e6 <= Long.MAX``
         requires ``T * tf <= ~2.096e11``
     (b) the idf * sat product: ``idf_ppm <= Long.MAX div sat_ppm``
         (sat computed per row — the guard uses the row's actual
         saturation, not the 2.2e6 worst case; Catalyst CSEs the
         repeated subexpression)
    """
    idf = f"(((2 * (_n_docs - _df{i}) + 1) * 1000000) div (2 * _df{i} + 1))"
    sat = (
        f"((44 * _total_toks * _tf{i} * 1000000)"
        f" div (20 * _total_toks * _tf{i} + 6 * _total_toks"
        f"      + 18 * _dl * _n_docs))"
    )
    return (
        f"CASE WHEN _tf{i} > 0 THEN "
        f"CASE WHEN _tf{i} > 209600000000 div greatest(_total_toks, 1) THEN "
        f"raise_error('bm25_topk: T * tf exceeds the int64 scoring "
        f"envelope (~2.1e11) — shard the corpus or widen to decimal') "
        f"WHEN {idf} > 9223372036854775807 div greatest({sat}, 1) THEN "
        f"raise_error('bm25_topk: idf * saturation exceeds int64 "
        f"(rare term in a huge corpus) — shard the corpus or widen "
        f"to decimal') "
        f"ELSE {idf} * {sat} END ELSE 0 END"
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    *,
    topk: int = 20,
) -> DataFrame:
    """BM25-family keyword retrieval: the top-``topk`` documents for a
    bag of query terms — the targeted-curation primitive (pull the
    best docs about X into a fine-tuning mix; score eval-contaminated
    topics before decontamination).

    The saturation term is textbook BM25 with ``k1 = 6/5`` and
    ``b = 3/4`` evaluated in EXACT RATIONAL arithmetic (multiply
    through by ``20*T``):

        sat_ppm = (44*T*tf*1e6) div (20*T*tf + 6*T + 18*dl*N)

    where ``dl`` is the document token count, ``N`` the corpus doc
    count and ``T`` the corpus token count (so ``avgdl = T/N`` never
    materializes as a float).  The idf is the LOG-FREE rational form
    ``((2*(N-df)+1) * 1e6) div (2*df+1)`` — the same rare-before-
    common ordering as the textbook ``ln``-idf, without the float
    logarithm whose last ulp differs between JVM ``Math.log`` and
    libm (the house rule: catalog scores must be bit-identical to the
    DuckDB oracle, see ``tfidf_top_terms``).  A term's contribution is
    ``idf_ppm * sat_ppm`` (integer, 1e-12 units) and the document
    score is the SUM — integer addition is associative, so no
    fixed-order-of-addition tricks are needed.

    Scale shape — there is NO corpus-wide shuffle anywhere: ONE scan
    tokenizes each document once (the per-term tf's are
    ``size(filter(tokens, ...))`` in the same projection; Spark's
    subexpression elimination computes the token array once per row)
    into a narrow ``(id, dl, tf_0..tf_{k-1})`` frame, lazily
    checkpointed so the three consumers below don't re-tokenize.  The
    per-term document frequencies and the corpus (N, T) totals are two
    SINGLE-ROW aggregates broadcast back; every document's score is
    then a pure per-row expression (integer addition is associative,
    so the fixed written order costs nothing), and the top-k is
    Spark's ``TakeOrderedAndProject`` (per-partition heap + driver
    merge of ``topk * n_partitions`` rows — never a global sort).

    Integer envelope — ENFORCED, not assumed, at BOTH overflow points:
    (a) the saturation numerator needs ``44 * T * tf * 1e6`` to fit a
    signed long, i.e. ``T * tf <= ~2.1e11``; (b) the final
    ``idf_ppm * sat_ppm`` product needs ``idf_ppm <= Long.MAX /
    sat_ppm`` — with a df=1 term the idf factor is ~0.67e6·N, so at
    N ≈ 6e6+ documents a maximally-saturated rare term can push the
    product past 2^63.  Each term's expression ``raise_error``s at
    whichever bound it hits (per-row, using the row's ACTUAL
    saturation value — no false alarms from the worst-case bound)
    instead of letting non-ANSI long multiplication wrap into silent
    wrong rankings.  Beyond the envelope, run per-shard or widen the
    arithmetic to DECIMAL(38,0) on both engines.

    Query terms must be simple lowercase tokens (they are spliced
    into filter lambdas; single quotes are escaped).

    Returns ``(id_col, n_terms_matched, bm25_score)``, ordered by
    score desc then id.
    """
    terms = list(query_terms)
    if not terms:
        raise ValueError(
            "bm25_topk: query_terms must be non-empty (an empty list "
            "would build empty score/match expressions)"
        )
    toks_sql = P.tokens(text_col, SPARK)

    def tf_expr(term: str) -> str:
        lit = term.replace("'", "''")
        return P.size(P.filter_(toks_sql, "t", f"t = '{lit}'", SPARK), SPARK)

    per_doc = df.select(
        F.col(id_col),
        F.expr(P.size(toks_sql, SPARK)).cast("long").alias("_dl"),
        *[
            F.expr(tf_expr(t)).cast("long").alias(f"_tf{i}")
            for i, t in enumerate(terms)
        ],
    ).transform(ckpt_lazy)

    stats = per_doc.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.sum("_dl").alias("_total_toks"),
    )
    dfreq = per_doc.agg(
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ]
    )

    score_parts = [_bm25_contrib_expr(i) for i in range(len(terms))]

    matched_expr = " + ".join(
        f"CAST(_tf{i} > 0 AS BIGINT)" for i in range(len(terms))
    )
    score_expr = " + ".join(score_parts)
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dfreq))
        .select(
            F.col(id_col),
            F.expr(matched_expr).alias("n_terms_matched"),
            F.expr(score_expr).cast("long").alias("bm25_score"),
        )
        .where(F.col("n_terms_matched") > 0)
        .orderBy(F.desc("bm25_score"), F.asc(id_col))
        .limit(topk)
    )


def with_gopher_flags(df: DataFrame, text_col: str) -> DataFrame:
    """Gopher-rule document profile (arXiv:2112.11446 App. A1.1): the
    repetition/format signals as exact integer ppm plus the composed
    pass/fail predicate.  Tokenizes ONCE (materialized ``_tokens``
    column); one scan, no shuffle, every expression JVM-side."""
    from .fanout import fan_out_small

    had = "_tokens" in df.columns
    out = (
        _with_tokens(fan_out_small(df), text_col)
        .withColumn("n_words", F.expr(P.size("_tokens", SPARK)).cast("bigint"))
        .withColumn(
            "mean_word_len_ppm", F.expr(P.mean_token_len_ppm("_tokens", SPARK))
        )
        .withColumn(
            "symbol_ppm", F.expr(P.symbol_token_ppm(text_col, "_tokens", SPARK))
        )
        .withColumn("bullet_ppm", F.expr(P.bullet_line_ppm(text_col, SPARK)))
        .withColumn("ellipsis_ppm", F.expr(P.ellipsis_line_ppm(text_col, SPARK)))
        .withColumn(
            "alpha_word_ppm", F.expr(P.alpha_token_ppm("_tokens", SPARK))
        )
        .withColumn(
            "stop_hits",
            F.expr(P.stopword_hits_from_tokens("_tokens", "en", SPARK)).cast("bigint"),
        )
        .withColumn(
            "gopher_pass", F.expr(P.gopher_pass(text_col, "_tokens", SPARK))
        )
    )
    return out if had else out.drop("_tokens")


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    chunk: int = 32,
    step: int = 24,
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap
    (``chunk`` tokens advancing by ``step`` — overlap = chunk - step):
    the context-window preparation step of a training pipeline, and the
    chunking behind retrieval indexing.

    Output: (id, chunk_idx, chunk_text, n_tokens); the final chunk is
    the short remainder.  Chunk count is exact integer arithmetic
    (``1 + (n - chunk + step - 1) div step`` past one chunk), so both
    engines emit identical rows.  Scale shape: scan → one tokenization
    → explode of the chunk-index sequence (fan-out ≈ n/step, data
    stays in place, no shuffle at all).
    """
    if not 0 < step <= chunk:
        raise ValueError(f"need 0 < step <= chunk, got step={step} chunk={chunk}")
    toks = _with_tokens(df.select(id_col, text_col), text_col)
    rem = chunk - step  # n - chunk + step - 1 == n - rem - 1... keep explicit
    nc = (
        f"CASE WHEN size(_tokens) <= {chunk} THEN 1 "
        f"ELSE 1 + (size(_tokens) - {chunk} + {step - 1}) div {step} END"
    )
    out = toks.select(
        id_col,
        F.expr(f"explode(sequence(0, ({nc}) - 1))").alias("chunk_idx"),
        "_tokens",
    )
    sl = f"slice(_tokens, 1 + chunk_idx * {step}, {chunk})"
    return out.select(
        id_col,
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.expr(f"concat_ws(' ', {sl})").alias("chunk_text"),
        F.expr(f"size({sl})").cast("bigint").alias("n_tokens"),
    )


def lang_token_totals_arrow(df: DataFrame, text_col: str) -> DataFrame:
    """Per-language doc/token totals via ``applyInArrow`` — the
    Arrow-NATIVE grouped modality Spark 4 adds beside the five Pandas
    ones: the UDF receives each group as a ``pyarrow.Table`` (no
    pandas conversion at all), computes with ``pyarrow.compute``, and
    returns a Table.  Exact integer math → oracle-comparable; the
    built-in-aggregate twin is the hot path, this pins the modality.

    Scale shape: tokens counted in the scan projection (JVM), so the
    Arrow worker only sees (lang, n_tokens) pairs — one shuffle on the
    group key, constant-width rows through the Python boundary.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    narrow = _with_tokens(df, text_col).select(
        "lang", F.expr(P.size("_tokens", SPARK)).cast("long").alias("_nt")
    )

    def agg(table: pa.Table) -> pa.Table:
        return pa.table(
            {
                "lang": [table.column("lang")[0].as_py()],
                "n_docs": [table.num_rows],
                "total_tokens": [pc.sum(table.column("_nt")).as_py() or 0],
            }
        )

    return narrow.groupBy("lang").applyInArrow(
        agg, schema="lang string, n_docs long, total_tokens long"
    )


def gopher_vectorized(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One-Arrow-pass twin of :func:`with_gopher_flags`
    (``functions.portable_py`` rule twins, bit-parity pinned by tests):
    each document is tokenized ONCE and every Gopher signal computed
    from that tokenization, where the SQL chain re-traverses the token
    array per rule.  Same output columns, same exact integers."""
    from pyspark.sql.types import (
        BooleanType, LongType, StructField, StructType,
    )

    from ..functions import portable_py as PY

    src = df.select(id_col, text_col)
    schema = StructType(
        [src.schema[id_col]]
        + [StructField(c, LongType()) for c in (
            "n_words", "mean_word_len_ppm", "symbol_ppm", "bullet_ppm",
            "ellipsis_ppm", "alpha_word_ppm", "stop_hits",
        )]
        + [StructField("gopher_pass", BooleanType())]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k: [] for k in (
                "n_words", "mean_word_len_ppm", "symbol_ppm", "bullet_ppm",
                "ellipsis_ppm", "alpha_word_ppm", "stop_hits", "gopher_pass",
            )}
            for t in pdf[text_col]:
                t = t or ""
                toks = PY.tokens(t)
                rows["n_words"].append(len(toks))
                rows["mean_word_len_ppm"].append(PY.mean_token_len_ppm(toks))
                rows["symbol_ppm"].append(PY.symbol_token_ppm(t, toks))
                rows["bullet_ppm"].append(PY.bullet_line_ppm(t))
                rows["ellipsis_ppm"].append(PY.ellipsis_line_ppm(t))
                rows["alpha_word_ppm"].append(PY.alpha_token_ppm(toks))
                rows["stop_hits"].append(PY.stopword_hits(toks, "en"))
                rows["gopher_pass"].append(PY.gopher_pass(t, toks))
            yield pd.DataFrame({id_col: pdf[id_col].tolist(), **rows})

    return src.mapInPandas(gen, schema)


def default_hashed_weights(spark, dim: int = 1024):
    """Deterministic pseudo-weight table (wid, w) for the hashed linear
    scorer: an integer affine mix centered on zero.  In production the
    table is trained offline (fastText-style) and loaded from parquet —
    same shape, same join."""
    return spark.range(dim).selectExpr(
        "id AS wid",
        "cast((id * 2654435761) % 1000003 - 500001 as bigint) AS w",
    )


def hashed_linear_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    dim: int = 1024,
    weights: DataFrame | None = None,
) -> DataFrame:
    """Model-based quality filtering, the CCNet/fastText architecture:
    a LINEAR classifier over hashed token features — feature id =
    ``token_hash mod dim``, document score = Σ weight[feature] (with
    multiplicity) normalized per token.

    This is the standard "quality classifier" stage of pretraining
    pipelines, expressed Spark-first: one tokenization+hash pass in the
    scan projection, explode to (doc, feature) pairs, BROADCAST-join
    the weight table (a trained model is ~dim rows — always broadcast),
    one map-side-combined per-doc aggregate.  Exact integer arithmetic
    (weights are integers, score in ppm-per-token), so the DuckDB
    oracle matches bit-for-bit.

    Output: (id, n_tokens, score_total, score_per_token_ppm, keep).
    """
    from ..functions import portable as P

    w = weights if weights is not None else default_hashed_weights(
        df.sparkSession, dim
    )
    th = P.hash_array(P.tokens(text_col, SPARK), SPARK)
    feats = df.select(
        id_col, F.explode(F.expr(f"transform({th}, h -> pmod(h, {dim}))")).alias("wid")
    )
    scored = (
        feats.join(F.broadcast(w), on="wid")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w").alias("score_total"),
        )
    )
    return scored.select(
        id_col,
        "n_tokens",
        "score_total",
        F.expr("score_total * 1000000 div n_tokens").alias("score_per_token_ppm"),
        (F.col("score_total") > 0).alias("keep"),
    )


def classifier_calibration(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    *,
    dim: int = 1024,
    weights: DataFrame | None = None,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability curve for the hashed linear quality classifier: bin
    documents into ``n_bins`` score quantiles and report the observed
    positive-label rate per bin — the calibration check you run before
    trusting a classifier threshold to curate a corpus (a well-
    calibrated scorer's positive rate rises monotonically with the
    bin; a flat curve means the score carries no signal at that
    operating range).

    Exactness: scores are :func:`hashed_linear_score`'s integer ppm;
    bins are exact NTILE over the total order (score, id) computed by
    the histogram-decomposed rank (``relational.with_ntile`` — no
    global single-task window; the only ordered pass runs over one row
    per DISTINCT score value); per-bin rates are integer ppm.  Fully
    value-oracle-able.

    Returns ``(bin, n_docs, n_positive, positive_ppm,
    mean_score_ppm)``, bins ascending by score.
    """
    from .relational import with_ntile

    scored = hashed_linear_score(df, id_col, text_col, dim=dim, weights=weights)
    labeled = scored.join(
        df.select(id_col, F.col(label_col).cast("long").alias("_lbl")), on=id_col
    ).withColumn("_g", F.lit(1))
    tiled = with_ntile(
        labeled, "_g", "score_per_token_ppm", id_col,
        n_tiles=n_bins, out_col="bin",
    )
    return (
        tiled.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_lbl").cast("long").alias("n_positive"),
            F.expr("sum(_lbl) * 1000000 div count(1)")
            .cast("long")
            .alias("positive_ppm"),
            F.expr("sum(score_per_token_ppm) div count(1)")
            .cast("long")
            .alias("mean_score_ppm"),
        )
        .orderBy("bin")
    )


def token_counts_map_arrow(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token counts via ``mapInArrow`` — the non-grouped
    Arrow-native modality (batches arrive as ``pyarrow.RecordBatch``,
    zero pandas conversion), completing the UDF-surface matrix beside
    scalar/iterator pandas UDFs, mapInPandas, applyInPandas(+WithState),
    applyInArrow, UDTFs, and SQL UDFs.  Counting uses the parity-pinned
    ``portable_py.tokens`` twin, so results equal the expression path
    exactly."""
    import pyarrow as pa

    from ..functions import portable_py as PY

    src = df.select(id_col, text_col)
    id_field = src.schema[id_col]

    def gen(batches):
        for batch in batches:
            ids = batch.column(0)
            counts = [
                len(PY.tokens(t.as_py() or "")) for t in batch.column(1)
            ]
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(counts, type=pa.int64())],
                names=[id_col, "ws_tokens"],
            )

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([id_field, StructField("ws_tokens", LongType())])
    return src.mapInArrow(gen, schema)


def with_repetition_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    dup_line_max_ppm: int = 300_000,
    top2_max_ppm: int = 200_000,
    top3_max_ppm: int = 180_000,
    hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """Gopher REPETITION signals (arXiv:2112.11446 App. A1.1) — the
    within-document repetition family ``with_gopher_flags`` doesn't
    cover: duplicate-line fraction (by line and by character) and the
    token coverage of the single most frequent word 2-/3-gram, all as
    exact integer ppm plus the composed ``rep_pass`` predicate
    (defaults are the paper's 0.30 / 0.20 / 0.18 thresholds).

    Scale shape: lines and n-gram hashes explode per document and
    aggregate back keyed by (doc, line) / (doc, gram) then doc — three
    hash shuffles whose key cardinality GROWS with the corpus (never a
    low-cardinality window), map-side combined; the per-doc frames
    re-join on ``id_col``.  Coverage of overlapping n-gram occurrences
    can exceed the token count, so coverage ppm is capped at 1e6 —
    mirrored in the oracle.  Empty docs yield 0 ppm everywhere.

    N-grams hash via the portable rolling hash (positional,
    ``P.token_hash_ngrams_all``) so the DuckDB oracle agrees bitwise;
    blank lines are EXCLUDED from the line stats (a markdown doc's
    empty separators are not meaningful duplicates).  Gram keys here are
    per-DOCUMENT (keyspace pressure is doc length, not corpus size), so
    the portable default holds far longer than the cross-corpus
    operators' — still, ``hash_mode="fast"`` (xxhash64) removes even
    the long-document tail (a 10⁵-gram doc expects ~2.5 colliding gram
    pairs in the ~30-bit space).
    SIDE EFFECT (round-13 doc, ADVICE r12): the returned frame embeds a
    materialized fan point (``core.checkpoint.materialize``) — under
    Spark 4.1 AQE merely BUILDING the DataFrame executes the upstream
    jobs (even with a lazy checkpoint), and the checkpoint boundary
    severs predicate/column pushdown for callers that filter the
    output.  Plan-only composition over this operator pays real
    compute; filter/project the INPUT, not the output, where possible.
    The checkpoint honors ``ayeaye.checkpoint.mode`` (local|reliable).
    """
    from .dedup import _tune_session  # noqa: PLC0415 — no cycle

    _tune_session(df)

    base = df.select(id_col, text_col)
    # ---- duplicate-line stats: (doc, line) counts -> per-doc sums
    lines = base.select(
        F.col(id_col),
        F.explode(F.expr(P.lines(text_col, SPARK))).alias("_line"),
    ).where(F.length("_line") > 0)
    per_line = lines.groupBy(id_col, "_line").agg(
        F.count(F.lit(1)).alias("_c"),
        F.length(F.first("_line")).alias("_len"),
    )
    line_stats = per_line.groupBy(id_col).agg(
        F.sum("_c").cast("long").alias("n_lines"),
        F.sum(F.col("_c") - 1).cast("long").alias("_dup_lines"),
        F.sum(F.col("_c") * F.col("_len")).cast("long").alias("_tot_chars"),
        F.sum((F.col("_c") - 1) * F.col("_len")).cast("long").alias("_dup_chars"),
    )
    # ---- top n-gram coverage: positional shingle hashes per doc
    toked = base.withColumn(
        "_th", F.expr(P.hash_array(P.tokens(text_col, SPARK), SPARK, hash_mode))
    ).withColumn("n_tokens", F.expr(P.size("_th", SPARK)).cast("long"))
    # materialize the tokenization ONCE: three consumers (the 2-gram
    # explode, the 3-gram explode, the n_tokens projection) otherwise
    # each re-run the interpreted tokenize+hash chain from its own scan
    # (plan showed the chain inlined 3x over 5 parquet scans)
    toked = toked.select(id_col, "_th", "n_tokens").transform(ckpt_lazy)

    def top_gram(n: int, out: str) -> DataFrame:
        grams = toked.select(
            F.col(id_col),
            F.explode(
                F.expr(P.token_hash_ngrams_all("_th", n, SPARK, hash_mode))
            ).alias("_g"),
        )
        per_gram = grams.groupBy(id_col, "_g").agg(
            F.count(F.lit(1)).alias("_c")
        )
        return per_gram.groupBy(id_col).agg(
            F.max("_c").cast("long").alias(out)
        )

    cover = (
        toked.select(id_col, "n_tokens")
        .join(top_gram(2, "_top2"), id_col, "left")
        .join(top_gram(3, "_top3"), id_col, "left")
    )
    ppm = lambda num, den: F.when(  # noqa: E731
        F.col(den) > 0,
        F.least(F.expr(f"{num} * 1000000 div {den}"), F.lit(1_000_000)),
    ).otherwise(F.lit(0)).cast("long")
    out = (
        base.select(id_col)
        .join(line_stats, id_col, "left")
        .join(cover, id_col, "left")
        .na.fill(
            {"n_lines": 0, "_dup_lines": 0, "_tot_chars": 0,
             "_dup_chars": 0, "n_tokens": 0, "_top2": 0, "_top3": 0}
        )
        .withColumn("dup_line_ppm", ppm("_dup_lines", "n_lines"))
        .withColumn("dup_line_char_ppm", ppm("_dup_chars", "_tot_chars"))
        .withColumn("top2_cover_ppm", ppm("_top2 * 2", "n_tokens"))
        .withColumn("top3_cover_ppm", ppm("_top3 * 3", "n_tokens"))
    )
    return out.withColumn(
        "rep_pass",
        (F.col("dup_line_ppm") <= dup_line_max_ppm)
        & (F.col("top2_cover_ppm") <= top2_max_ppm)
        & (F.col("top3_cover_ppm") <= top3_max_ppm),
    ).select(
        id_col, "n_lines", "dup_line_ppm", "dup_line_char_ppm",
        "n_tokens", "top2_cover_ppm", "top3_cover_ppm", "rep_pass",
    )


def dsir_importance_hashed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    *,
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR-shaped importance scoring (arXiv:2302.03169): hashed
    unigram features; each bucket's weight is its frequency (ppm) in
    the TARGET slice minus its frequency in the RAW corpus, and a
    document's importance is the sum of its tokens' bucket weights —
    the integer-exact monotone sibling of the paper's log-likelihood
    ratio (counts enter linearly instead of log-space, keeping both
    engines bitwise-identical; ranking by either orders domain-typical
    documents first).

    ``target_col`` is a boolean column marking the target-domain rows
    (e.g. a trusted-source or lang slice).  Scale shape: one token
    explode (shuffle keyed by hash bucket — exactly ``n_buckets``
    distinct keys, all map-side combined), the two corpus totals are
    single-row frames joined by broadcast, the 1024-row weight table
    broadcasts back onto the token stream, and per-doc sums shuffle by
    ``id_col``.  Nothing is corpus-sized on the driver.

    Output: (id_col, n_tokens, dsir_score) — score in ppm-weight units,
    positive = target-like.  Empty docs score 0.
    """
    from .dedup import _tune_session  # noqa: PLC0415 — no cycle

    _tune_session(df)

    toks = df.select(
        F.col(id_col),
        F.col(target_col).alias("_tgt"),
        F.explode(F.expr(P.tokens(text_col, SPARK))).alias("_tok"),
    ).withColumn(
        "_b", F.expr(f"({P.char_hash('_tok', SPARK)}) % {n_buckets}")
    )
    raw = toks.groupBy("_b").agg(F.count(F.lit(1)).alias("_rc"))
    tgt = toks.where(F.col("_tgt")).groupBy("_b").agg(
        F.count(F.lit(1)).alias("_tc")
    )
    n_raw = raw.agg(F.sum("_rc").alias("_nr"))
    n_tgt = tgt.agg(F.sum("_tc").alias("_nt"))
    weights = (
        raw.join(tgt, "_b", "left")
        .na.fill({"_tc": 0})
        .crossJoin(F.broadcast(n_raw))
        .crossJoin(F.broadcast(n_tgt))
        .withColumn(
            "_w",
            F.expr("_tc * 1000000 div _nt - _rc * 1000000 div _nr").cast(
                "long"
            ),
        )
        .select("_b", "_w")
    )
    scored = (
        toks.join(F.broadcast(weights), "_b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("_w").cast("long").alias("dsir_score"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .na.fill({"n_tokens": 0, "dsir_score": 0})
    )


def rare_token_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_df: int = 2,
) -> DataFrame:
    """Per-document RARE-TOKEN ratio — the LM-free rarity proxy a
    perplexity bucket would give: a token is rare when its document
    frequency (number of documents containing it) is <= ``max_df``,
    and a document's ``rare_ppm`` is the ppm of its token OCCURRENCES
    that are rare.  High values flag gibberish / OCR noise / boilerplate
    IDs; low values flag templated text.  Integer-exact.

    Scale shape: (doc, term) counts then term document-frequencies are
    two map-side-combined aggregates over the same exploded stream; the
    vocabulary join is a hash join (Zipf-bounded but NOT broadcast — at
    web scale the vocabulary can be 1e8 rows), and the final per-doc
    sums shuffle by ``id_col``.  Same plan family as
    :func:`tfidf_top_terms`.
    """
    from .dedup import _tune_session  # noqa: PLC0415 — no cycle

    _tune_session(df)

    toks = df.select(
        F.col(id_col),
        F.explode(F.expr(P.tokens(text_col, SPARK))).alias("_term"),
    )
    tf = toks.groupBy(id_col, "_term").agg(F.count(F.lit(1)).alias("_tf"))
    dfreq = tf.groupBy("_term").agg(F.count(F.lit(1)).alias("_df"))
    joined = tf.join(dfreq, "_term")
    per_doc = joined.groupBy(id_col).agg(
        F.sum("_tf").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("_df") <= max_df, F.col("_tf")).otherwise(0))
        .cast("long")
        .alias("_rare"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum(F.when(F.col("_df") <= max_df, 1).otherwise(0))
        .cast("long")
        .alias("n_rare_terms"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .na.fill({"n_tokens": 0, "_rare": 0, "n_terms": 0, "n_rare_terms": 0})
        .withColumn(
            "rare_ppm",
            F.when(
                F.col("n_tokens") > 0,
                F.expr("_rare * 1000000 div n_tokens"),
            ).otherwise(F.lit(0)).cast("long"),
        )
        .select(id_col, "n_tokens", "n_terms", "n_rare_terms", "rare_ppm")
    )


def shared_ngram_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 8,
    min_docs: int = 2,
    hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """Cross-document repeated-span exposure (the memorization-risk
    audit of Lee et al., arXiv:2107.06499, at n-gram resolution): for
    each document, the ppm of its word ``n``-gram OCCURRENCES that also
    appear in at least ``min_docs - 1`` OTHER documents.  High values
    flag boilerplate/licenses/templates a dedup pass missed — spans a
    model can memorize verbatim.

    Scale shape: one positional shingle explode (portable rolling-hash
    n-grams, no n-gram strings materialized); gram→distinct-doc counts
    are a two-level aggregate keyed by the gram hash (cardinality grows
    with the corpus — never a low-cardinality shuffle); the vocabulary
    joins back by hash (NOT broadcast), and per-doc ratios shuffle by
    ``id_col``.  Documents shorter than ``n`` tokens report 0 grams,
    0 ppm.

    Output: (id_col, n_grams, shared_grams, shared_ppm).
    SIDE EFFECT (round-13 doc, ADVICE r12): the returned frame embeds a
    materialized fan point (``core.checkpoint.materialize``) — under
    Spark 4.1 AQE merely BUILDING the DataFrame executes the upstream
    jobs (even with a lazy checkpoint), and the checkpoint boundary
    severs predicate/column pushdown for callers that filter the
    output.  Plan-only composition over this operator pays real
    compute; filter/project the INPUT, not the output, where possible.
    The checkpoint honors ``ayeaye.checkpoint.mode`` (local|reliable).
    """
    from .dedup import _tune_session  # noqa: PLC0415 — no cycle

    _tune_session(df)

    # materialize the token-hash array FIRST: token_hash_ngrams_all
    # inlines its input expression into every shingle window, so an
    # unprojected hash_array(tokens(...)) is re-evaluated per window —
    # measured 135s -> ~2s for the explode alone at sf0.1
    toked = df.select(
        F.col(id_col),
        F.expr(P.hash_array(P.tokens(text_col, SPARK), SPARK, hash_mode)).alias(
            "_th"
        ),
    )
    # materialize the tokenization ONCE: the exploded gram frame fans
    # out into gram->doc-count and per-doc branches whose exchanges
    # differ (grouping keys (id, gram) vs gram), so ReuseExchange cannot
    # dedupe them and the scan + tokenize ran per branch (plan showed
    # 2 identical parquet+Generate subtrees, 0 ReusedExchange)
    toked = toked.transform(ckpt_lazy)
    grams = toked.select(
        F.col(id_col),
        F.explode(
            F.expr(P.token_hash_ngrams_all("_th", n, SPARK, hash_mode))
        ).alias("_g"),
    )
    # distinct docs per gram: (gram, doc) dedupe then count — both
    # stages map-side combined, keyed by the gram hash
    gdocs = (
        grams.select(id_col, "_g")
        .distinct()
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_docs"))
    )
    per_doc = (
        grams.join(gdocs, "_g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("_docs") >= min_docs, 1).otherwise(0)
            ).cast("long").alias("shared_grams"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .na.fill({"n_grams": 0, "shared_grams": 0})
        .withColumn(
            "shared_ppm",
            F.when(
                F.col("n_grams") > 0,
                F.expr("shared_grams * 1000000 div n_grams"),
            ).otherwise(F.lit(0)).cast("long"),
        )
    )


def bigram_coherence(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """Corpus-LM coherence score: how *predictable* each document's
    token stream is under the corpus's own bigram language model — the
    log-free analogue of the CCNet/KenLM perplexity quality filter
    (low coherence = word salad / boilerplate soup / lorem noise;
    high = text whose transitions the corpus has seen).

    Per bigram occurrence ``(w1, w2)`` the transition probability in
    exact integer ppm is ``c(w1 w2) * 1e6 div c(w1 ·)`` where both
    counts come from the corpus's own bigram table (``c(w1 ·)`` counts
    bigram STARTS, so the ratio is a true conditional probability and
    the row's ppm is <= 1e6).  A document's ``coherence_ppm`` is the
    integer mean over its bigram occurrences — pure integer division,
    bit-identical in any engine (the float/ln-free house rule).

    Scale shape: ONE tokenization materializes the per-token rolling
    hashes (``P.hash_array``); positional bigram hashes are 2 integer
    ops per token on top (``P.token_hash_ngrams_all`` machinery, no
    n-gram strings).  The occurrence frame aggregates per (doc, h1,
    h12) FIRST (map-side combinable), then equi-joins the two count
    frames on their hash keys — inverted-index joins, no window, no
    single-partition stage, no Python.  Documents with < 2 tokens get
    ``n_bigrams = 0, coherence_ppm = 0`` (no transitions to judge).

    Envelope: the ``c(w1 w2) * 1e6`` intermediate requires every single
    bigram's corpus count to stay under ~9.2e12 (int64 / 1e6) — beyond
    that (a pathologically repeated bigram at extreme corpus scale),
    shard the corpus or widen to decimal.

    ``hash_mode="fast"`` keys tokens and bigrams by xxhash64 — the
    corpus-scale setting: the portable ~30-bit token/bigram keyspace
    conflates distinct words once the vocabulary approaches 10⁶,
    corrupting both count tables identically in Spark and the oracle
    (the collision is invisible to the value compare).

    Returns ``(id_col, n_bigrams, coherence_ppm)``.
    """
    th_expr = P.hash_array(P.tokens(text_col, SPARK), SPARK, hash_mode)
    if hash_mode == P.FAST:
        h12 = "xxhash64(element_at(_th, i), element_at(_th, i + 1))"
    else:
        h12 = (
            f"(element_at(_th, i) * 31 + element_at(_th, i + 1)) % {P.PRIME}"
        )
    base = df.select(F.col(id_col), F.expr(th_expr).alias("_th"))
    pairs = base.select(
        F.col(id_col),
        F.explode(F.expr(
            "case when size(_th) < 2 then "
            "cast(array() as array<struct<h1:bigint,h12:bigint>>) else "
            "transform(sequence(1, size(_th) - 1), i -> struct("
            f"element_at(_th, i) as h1, {h12} as h12)) end"
        )).alias("_b"),
    ).select(id_col, "_b.h1", "_b.h12")
    # collapse repeats within a document before any join; materialize —
    # three consumers (both count frames + the probe side) would each
    # re-tokenize the corpus otherwise
    occ = pairs.groupBy(id_col, "h1", "h12").agg(
        F.count(F.lit(1)).alias("_occ")
    ).transform(ckpt_lazy)
    c12 = occ.groupBy("h12").agg(F.sum("_occ").alias("_c12"))
    c1 = occ.groupBy("h1").agg(F.sum("_occ").alias("_c1"))
    per_doc = (
        occ.join(c12, "h12")
        .join(c1, "h1")
        .groupBy(id_col)
        .agg(
            F.sum("_occ").cast("long").alias("n_bigrams"),
            F.sum(
                F.expr("_occ * (_c12 * 1000000 div _c1)")
            ).alias("_ppm_total"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(
                F.expr("_ppm_total div n_bigrams"), F.lit(0)
            ).cast("long").alias("coherence_ppm"),
        )
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str,
    *,
    pcts: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Vocabulary coverage curve: the smallest number of distinct
    tokens (taken most-frequent-first) whose occurrences cover at
    least ``p``% of the corpus token stream — the tokenizer-budget /
    OOV-rate planning table ("how big a vocab covers 99% of tokens?").

    Scale shape — the frequency-histogram trick: the corpus collapses
    to token counts (vocab-sized, hash aggregate), the vocab collapses
    to COUNT CLASSES (one row per distinct frequency value — thousands,
    not millions), and the only ordered window runs over that class
    frame.  Tokens inside a class are interchangeable for coverage, so
    the crossing point is closed-form: with ``prev`` mass/tokens from
    the classes above, ``vocab_size = prev_toks +
    ceil((target - prev_mass) / c)`` — identical to ranking every
    token individually with (count DESC, token ASC) ties, which is
    what the per-token SQL oracle does.  Integer arithmetic only:
    ``target = ceil(T * p / 100)``.

    Returns one row per pct: ``(pct, vocab_size, covered_occurrences,
    total_occurrences)``.
    """
    from pyspark.sql import Window

    tok = df.select(
        F.explode(F.expr(P.tokens(text_col, SPARK))).alias("_t")
    )
    tc = tok.groupBy("_t").agg(F.count(F.lit(1)).alias("_c"))
    classes = tc.groupBy("_c").agg(F.count(F.lit(1)).alias("_n"))
    w = Window.orderBy(F.desc("_c")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # the grand total rides the SAME class-frame window pass as the
    # running sums (unbounded frame) — one consumer of the class frame,
    # so the corpus tokenizes exactly once with no checkpoint (a lineage
    # truncation here would also blind the SinglePartition plan guard)
    w_all = Window.orderBy(F.desc("_c")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = classes.select(
        "_c", "_n",
        F.sum(F.expr("_c * _n")).over(w).alias("_cum_mass"),
        F.sum("_n").over(w).alias("_cum_toks"),
        F.sum(F.expr("_c * _n")).over(w_all).alias("_T"),
    ).withColumn("_prev_mass", F.expr("_cum_mass - _c * _n")).withColumn(
        "_prev_toks", F.expr("_cum_toks - _n")
    )
    pdf = df.sparkSession.createDataFrame(
        [(int(p),) for p in pcts], "pct long"
    )
    # each pct lands in exactly ONE class: prev_mass < target <= cum_mass
    return (
        cum.crossJoin(F.broadcast(pdf))
        .withColumn("_target", F.expr("(_T * pct + 99) div 100"))
        .where(
            (F.col("_prev_mass") < F.col("_target"))
            & (F.col("_target") <= F.col("_cum_mass"))
        )
        .select(
            "pct",
            F.expr(
                "_prev_toks + ((_target - _prev_mass + _c - 1) div _c)"
            ).cast("long").alias("vocab_size"),
            F.expr(
                "_prev_mass + ((_target - _prev_mass + _c - 1) div _c) * _c"
            ).cast("long").alias("covered_occurrences"),
            F.col("_T").cast("long").alias("total_occurrences"),
        )
    )


def bpe_top_merges(
    df: DataFrame,
    text_col: str,
    *,
    n_merges: int = 8,
    min_pair_count: int = 2,
) -> DataFrame:
    """Byte-pair-encoding merge training (Sennrich et al. 2016,
    arXiv:1508.07909) — learn the first ``n_merges`` merge rules from
    the corpus, the tokenizer-training step of an LLM data pipeline.

    Scale design — the corpus collapses to the WORD-FREQUENCY frame
    first (one scan + hash aggregate; BPE statistics only depend on
    the vocab + counts, never the corpus again), and every iteration
    runs on that vocab-sized frame: adjacent-pair counts are a
    transform + explode + map-side-combined aggregate weighted by word
    frequency, the winning pair is a TakeOrdered(1) (count DESC, pair
    ASC — deterministic), and the merge applies per-row as a sequential
    ``aggregate`` fold (greedy left-to-right, non-overlapping — exactly
    the reference algorithm's behavior on runs like "aaaa" -> [aa,aa]).
    Driver state is the merge table only; the vocab frame is lazily
    checkpointed per iteration so plans don't nest ``n_merges`` deep.

    Iterative, so no SQL oracle — exactness is pinned against a pure
    python reference in pytest.  Returns ``(merge_rank, left, right,
    pair_count)``, one row per learned merge, in learning order.
    """
    from pyspark.sql.types import (
        LongType, IntegerType, StringType, StructField, StructType,
    )

    wf = (
        df.select(F.explode(F.expr(P.tokens(text_col, SPARK))).alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_f"))
        .withColumn("_syms", F.expr("split(_w, '')"))
        .select("_f", "_syms")
        .transform(ckpt_lazy)
    )

    def esc(s: str) -> str:
        return s.replace("\\", "\\\\").replace("'", "''")

    merges: list[tuple[int, str, str, int]] = []
    vocab = wf
    for rank in range(n_merges):
        top = (
            vocab.select(
                "_f",
                F.explode(F.expr(
                    "case when size(_syms) < 2 then "
                    "cast(array() as array<struct<l:string,r:string>>) else "
                    "transform(sequence(1, size(_syms) - 1), i -> struct("
                    "element_at(_syms, i) as l, element_at(_syms, i + 1) as r"
                    ")) end"
                )).alias("_p"),
            )
            .groupBy("_p.l", "_p.r")
            .agg(F.sum("_f").alias("_cnt"))
            .orderBy(F.desc("_cnt"), F.asc("l"), F.asc("r"))
            .first()
        )
        if top is None or top["_cnt"] < min_pair_count:
            break
        left, right, cnt = top["l"], top["r"], int(top["_cnt"])
        merges.append((rank, left, right, cnt))
        le, re_, me = esc(left), esc(right), esc(left + right)
        vocab = vocab.withColumn(
            "_syms",
            F.expr(
                "aggregate(_syms, cast(array() as array<string>), "
                "(acc, s) -> case when size(acc) > 0 "
                f"and element_at(acc, -1) = '{le}' and s = '{re_}' "
                f"then concat(slice(acc, 1, size(acc) - 1), array('{me}')) "
                "else concat(acc, array(s)) end)"
            ),
        ).transform(ckpt_lazy)

    return df.sparkSession.createDataFrame(
        merges,
        StructType([
            StructField("merge_rank", IntegerType(), False),
            StructField("left", StringType(), False),
            StructField("right", StringType(), False),
            StructField("pair_count", LongType(), False),
        ]),
    )


def top_collocations(
    df: DataFrame,
    text_col: str,
    *,
    k: int = 20,
    min_count: int = 5,
) -> DataFrame:
    """Top-k collocations (PMI-ranked adjacent word pairs) — the
    phrase-mining step before multi-word vocab entries / tokenizer
    merges: pairs that co-occur far more than their parts predict
    ("new york", "et al"), not merely frequent pairs ("of the").

    Score = the pointwise-mutual-information RATIO ``c(w1 w2) * T /
    (c(w1 ·) * c(· w2))`` where T is total bigram occurrences and the
    margins count bigram starts/ends — computed as exactly 3 IEEE
    double ops over exactly-representable integer counts, so both
    engines produce the bit-identical score (the log is monotone, so
    ranking by the ratio IS ranking by PMI — no cross-engine ``ln``).
    ``min_count`` floors the pair count (PMI's classic rare-pair
    pathology).  Ties: (score DESC, w1 ASC, w2 ASC).

    Scale shape: one tokenization -> positional word pairs -> ONE
    hash-aggregated bigram-count frame (materialized: the total, both
    margins, and the probe all consume it), two margin aggregates
    joined back on their keys, a broadcast 1-row total, and the top-k
    is TakeOrderedAndProject — no global sort, no window.

    Returns ``(w1, w2, pair_count, pmi_ratio)``.
    """
    return (
        _scored_bigrams(df, text_col, min_count)
        .orderBy(F.desc("pmi_ratio"), F.asc("w1"), F.asc("w2"))
        .limit(k)
        .select("w1", "w2", "pair_count", "pmi_ratio")
    )


def _scored_bigrams(df: DataFrame, text_col: str, min_count: int) -> DataFrame:
    """(w1, w2, pair_count, pmi_ratio) for every adjacent word pair at
    or above ``min_count`` — the shared core of :func:`top_collocations`
    and :func:`collocation_components`."""
    toks = P.tokens(text_col, SPARK)
    base = df.select(F.expr(toks).alias("_tk"))
    pairs = base.select(
        F.explode(F.expr(
            "case when size(_tk) < 2 then "
            "cast(array() as array<struct<w1:string,w2:string>>) else "
            "transform(sequence(1, size(_tk) - 1), i -> struct("
            "element_at(_tk, i) as w1, element_at(_tk, i + 1) as w2)) end"
        )).alias("_p")
    ).select("_p.w1", "_p.w2")
    bg = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("pair_count")
    ).transform(ckpt_lazy)
    total = bg.agg(F.sum("pair_count").alias("_T"))
    c1 = bg.groupBy("w1").agg(F.sum("pair_count").alias("_c1"))
    c2 = bg.groupBy("w2").agg(F.sum("pair_count").alias("_c2"))
    return (
        bg.where(F.col("pair_count") >= min_count)
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "pmi_ratio",
            F.expr(
                "(cast(pair_count as double) * cast(_T as double))"
                " / (cast(_c1 as double) * cast(_c2 as double))"
            ),
        )
    )


def collocation_components(
    df: DataFrame,
    text_col: str,
    *,
    min_count: int = 5,
    min_pmi: float = 2.0,
) -> DataFrame:
    """Phrase/concept clusters: connected components over the PMI
    collocation graph — words joined by an edge when their adjacent
    pair clears both the count floor and the PMI threshold.  The
    composition demo of the operator library: :func:`_scored_bigrams`
    (inverted-index bigram statistics) feeding
    ``graph.connected_components`` (size-gated union-find /
    large-star/small-star rounds).  Returns ``(word, component)`` for every
    word in the graph, component = lexicographic min reachable word.
    """
    from . import graph

    edges = _scored_bigrams(df, text_col, min_count).where(
        F.col("pmi_ratio") >= min_pmi
    ).select("w1", "w2")
    return (
        graph.connected_components(edges, "w1", "w2")
        .select(F.col("vertex").alias("word"), "component")
    )


def duplicate_sentence_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_docs: int = 2,
    hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """C4-style sentence-level duplication profile: per document, how
    many of its sentences also occur (normalized) in at least
    ``min_docs`` distinct documents — the signal behind sentence-level
    dedup (C4 deduplicated exact repeated spans of sentences; the
    boilerplate that survives document-level near-dup).

    A "sentence" is a maximal ``[.!?]``-free run, lowercased with
    whitespace collapsed (a lookbehind sentence splitter is not
    portable to RE2 engines; the normalized run is the dedup KEY, not
    a linguistic claim).  Sentences travel as hashes — shuffles carry
    bigints, never sentence text.  ``hash_mode="fast"`` keys sentences
    by xxhash64: MANDATORY at corpus scale — the portable ~30-bit space
    expects K²/2·10⁹ false-equal sentence pairs (≈5·10⁶ at K=10⁸
    distinct sentences; saturated at K≥10⁹), silently over-merging;
    xxhash64's envelope is K²/2⁶⁵ (≈0.03 at K=10⁹).

    Scale shape: one scan explodes (doc, sentence-hash) occurrences;
    the shared set is (hash, doc)-distinct -> count >= min_docs (both
    stages map-side combinable, keyed by the hash); one equi-join back
    and a per-doc aggregate.  Same inverted-index shape as the shared
    n-gram profile, at sentence granularity.

    Returns ``(id_col, n_sentences, shared_sentences, shared_ppm)``.
    """
    norm = P.regexp_replace_all("x", r"\s+", " ", SPARK)
    sent_arr = (
        f"filter(transform(split(lower(coalesce({text_col}, '')), '[.!?]+'), "
        f"x -> trim({norm})), s -> s <> '')"
    )
    occ = df.select(
        F.col(id_col),
        F.explode(F.expr(P.hash_array(sent_arr, SPARK, hash_mode))).alias("_sh"),
    ).transform(ckpt_lazy)  # two consumers: shared set + probe
    shared = (
        occ.select(id_col, "_sh").distinct()
        .groupBy("_sh")
        .agg(F.count(F.lit(1)).alias("_docs"))
        .where(F.col("_docs") >= min_docs)
        .select("_sh")
    )
    per_doc = (
        occ.join(shared.withColumn("_is_shared", F.lit(1)), "_sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sentences"),
            F.sum(F.coalesce("_is_shared", F.lit(0)))
            .cast("long").alias("shared_sentences"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_sentences", F.lit(0)).cast("long")
            .alias("n_sentences"),
            F.coalesce("shared_sentences", F.lit(0)).cast("long")
            .alias("shared_sentences"),
            F.coalesce(
                F.expr("shared_sentences * 1000000 div n_sentences"),
                F.lit(0),
            ).cast("long").alias("shared_ppm"),
        )
    )


def code_switch_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Code-switch / mixed-language detection: language-ID per SENTENCE
    (same split + normalization as the sentence-duplication profile,
    same stopword-argmax lang-ID as the document-level classifier),
    rolled up per document — multilingual curation routes or drops
    documents whose sentences disagree on language, which a document-
    level lang-ID alone cannot see.

    Deterministic dominant language: highest sentence count, ties
    broken alphabetically.  All counts exact integers → value-exact.

    Scale shape: one scan explodes sentences with their per-sentence
    lang (pure codegen expressions); ONE (doc, lang) count aggregate;
    the dominant pick is a window over the per-doc language frame
    (≤ #langs rows per doc — bounded, never corpus-wide).

    Returns ``(id, n_sentences, n_langs, dominant_lang, dominant_ppm,
    code_switched)``.
    """
    norm = P.regexp_replace_all("x", r"\s+", " ", SPARK)
    sent_arr = (
        f"filter(transform(split(lower(coalesce({text_col}, '')), '[.!?]+'), "
        f"x -> trim({norm})), s -> s <> '')"
    )
    from pyspark.sql import Window

    sent = df.select(
        F.col(id_col), F.explode(F.expr(sent_arr)).alias("_s")
    ).select(id_col, F.expr(P.lang_id("_s", SPARK)).alias("_lang"))
    per_lang = sent.groupBy(id_col, "_lang").agg(
        F.count(F.lit(1)).alias("_n")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_n"), F.asc("_lang"))
    ranked = per_lang.withColumn("_rk", F.row_number().over(w))
    totals = per_lang.groupBy(id_col).agg(
        F.sum("_n").cast("long").alias("n_sentences"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
    )
    dom = ranked.where(F.col("_rk") == 1).select(
        id_col,
        F.col("_lang").alias("dominant_lang"),
        F.col("_n").alias("_dn"),
    )
    return (
        totals.join(dom, id_col)
        .select(
            id_col,
            "n_sentences",
            "n_langs",
            "dominant_lang",
            F.expr("_dn * 1000000 div n_sentences").alias("dominant_ppm"),
            (F.col("n_langs") >= 2).alias("code_switched"),
        )
    )


def bpe_apply_piece_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list,
    *,
    memo_cap: int = 1_000_000,
) -> DataFrame:
    """Corpus-scale BPE APPLY: ``(id, n_tokens, n_pieces)`` under a
    FIXED merge list — one Arrow ``mapInPandas`` pass with a
    word-level memo (each DISTINCT word segments once per batch; the
    reference greedy left-to-right fold per merge, identical to
    ``P.bpe_piece_count``'s SQL fold, which remains the oracle twin
    and is property-tested equal to this python fold).

    Why Arrow and not the SQL expression on the hot path: the sound
    fold encoding compiles to ``n_merges`` nested string-accumulator
    ``aggregate`` HOFs — interpreted, string-churn-heavy, and measured
    pathologically slow/GC-unstable at corpus scale (a 280s outlier at
    sf0.1), while this kernel is a memoized linear pass.  Scan-parallel,
    zero shuffle.

    ``memo_cap`` bounds the per-task memo (a Zipf corpus hits steady
    state long before the default 1M entries; an adversarial all-
    distinct-words corpus would otherwise grow the dict for the
    lifetime of the Python worker).  On a full memo new words segment
    without being stored — output unchanged, only the hit rate drops.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(df.select(id_col).schema.fields)
        + [StructField("n_tokens", LongType(), False),
           StructField("n_pieces", LongType(), False)]
    )
    mrg = [tuple(m) for m in merges]

    def gen(batches):
        import pandas as pd

        from ..functions import portable_py as PY

        memo: dict = {}

        def pieces(w: str) -> int:
            got = memo.get(w)
            if got is not None:
                return got
            syms = list(w)
            for l, r in mrg:
                out = []
                for s in syms:
                    if out and out[-1] == l and s == r:
                        out[-1] = l + r
                    else:
                        out.append(s)
                syms = out
            n = len(syms)
            if len(memo) < memo_cap:  # drop-on-full: bounded memory
                memo[w] = n
            return n

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ntok, npc = [], []
            for t in pdf[text_col]:
                # PY.tokens is the fuzz-tested bit-parity twin of the
                # SQL tokenizer (python .split() differs on unicode
                # whitespace)
                toks = PY.tokens(t or "")
                ntok.append(len(toks))
                npc.append(sum(pieces(w) for w in toks))
            yield pd.DataFrame({
                id_col: pdf[id_col].tolist(),
                "n_tokens": ntok,
                "n_pieces": npc,
            })

    return df.select(id_col, text_col).mapInPandas(gen, out_schema)


def token_diversity(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """Per-document lexical diversity as the Gini–Simpson index in
    exact integer ppm: ``D = 1 - Σ_t (tf_t / T)²`` — the probability
    two randomly drawn token occurrences are DIFFERENT types.  The
    log-free stand-in for entropy (the house rule: no ``ln``, whose
    last ulp differs across engines): low D = repetitive/boilerplate
    text, high D = lexically rich — a quality signal orthogonal to the
    Gopher length/punct rules.

    Exact form: ``diversity_ppm = (T² - Σ tf²) * 1e6 div T²`` — pure
    int64.  Envelope: ``T² * 1e6`` must fit a signed long, so documents
    must have ≤ 3,000,000 tokens; enforced with ``raise_error`` (shard
    monster documents upstream, or chunk first).

    Scale shape: one tokenize+explode, a (doc, token-hash)-keyed count
    aggregate (map-side combined; key cardinality grows with the
    corpus — never a low-cardinality shuffle), then a per-doc rollup.
    Tokens travel as hashes (``hash_mode`` as elsewhere — per-doc keys,
    so portable holds to ~10⁵-token docs; see ``with_repetition_flags``).

    Returns ``(id_col, n_tokens, distinct_tokens, diversity_ppm)``;
    empty/NULL docs report 0 tokens and 0 ppm.
    """
    text = f"coalesce({text_col}, '')"
    occ = df.select(
        F.col(id_col),
        F.explode(
            F.expr(P.hash_array(P.tokens(text, SPARK), SPARK, hash_mode))
        ).alias("_h"),
    )
    per_tok = occ.groupBy(id_col, "_h").agg(F.count(F.lit(1)).alias("_c"))
    per_doc = per_tok.groupBy(id_col).agg(
        F.sum("_c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("distinct_tokens"),
        F.sum(F.expr("_c * _c")).cast("long").alias("_sq"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .na.fill({"n_tokens": 0, "distinct_tokens": 0, "_sq": 0})
        .select(
            F.col(id_col),
            "n_tokens",
            "distinct_tokens",
            F.expr(
                "CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT) "
                "WHEN n_tokens > 3000000 THEN "
                "raise_error('token_diversity: document exceeds the "
                "3e6-token int64 envelope (T^2 * 1e6) — chunk it first') "
                "ELSE (n_tokens * n_tokens - _sq) * 1000000 "
                "div (n_tokens * n_tokens) END"
            ).alias("diversity_ppm"),
        )
    )


def train_hashed_classifier(
    df: DataFrame,
    label_col: str,
    text_col: str,
    *,
    dim: int = 1024,
    iters: int = 10,
    lr: float = 1.0,
    l2: float = 1e-4,
    hash_mode: str = P.PORTABLE,
):
    """TRAIN the CCNet/fastText-style hashed linear quality classifier
    IN-ENGINE (the missing half of :func:`hashed_linear_score`, which
    consumes a trained weight table): logistic regression by full-batch
    gradient descent over hashed bag-of-tokens features
    (``feature id = token_hash mod dim``, tf normalized per document).

    Distributed shape — the canonical iterative pattern (same contract
    as k-means / PCA): per iteration ONE corpus scan computes each
    document's margin against the broadcast weight vector and emits
    per-feature gradient contributions, which aggregate BY FEATURE ID
    (a ``dim``-bounded shuffle — map-side combined, never doc-count
    rows) and collect to the driver (``dim`` floats of state, the same
    bounded-driver contract as centroids).  No Python in the scan: the
    margin is a SQL fold over the feature array against the broadcast
    weights.

    Labels: ``label_col`` must be 0/1 (or boolean).  Returns
    ``(weights_df, history)``: a ``(wid, w)`` DataFrame directly
    consumable by :func:`hashed_linear_score`-style broadcast joins
    (weights are floats here — the integer table of
    :func:`default_hashed_weights` is the ORACLE-exact variant), and a
    per-iteration ``[(iter, train_accuracy_ppm, loss_scaled), ...]``
    history (accuracy is an exact integer count ratio; loss is the
    float logistic loss for monitoring).

    Float caveat: gradients are float sums, so training is
    deterministic within one Spark build but NOT cross-engine
    value-oracle-able — correctness is pinned by pytest properties
    (separable corpus reaches 100% train accuracy; signal tokens get
    the right-signed weights).
    """
    import math

    spark = df.sparkSession
    text = f"coalesce({text_col}, '')"
    feats = df.select(
        F.when(F.col(label_col).cast("int") > 0, 1.0).otherwise(0.0)
        .alias("_y"),
        F.expr(
            P.transform(
                P.hash_array(P.tokens(text, SPARK), SPARK, hash_mode),
                "h", f"pmod(h, {dim})", SPARK,
            )
        ).alias("_f"),
    ).where(F.expr("size(_f) > 0"))
    # corpus count rides the feature checkpoint's materialization job
    # (one pass, not checkpoint + count)
    feats, m = materialize_observed(feats, n=F.count(F.lit(1)))
    n_docs = int(m["n"] or 0)
    if n_docs == 0:
        raise ValueError("train_hashed_classifier: no non-empty documents")
    from pyspark.sql import Observation

    w = [0.0] * dim
    history = []
    for it in range(1, iters + 1):
        w_lit = "array(" + ", ".join(f"{x!r}D" for x in w) + ")"
        # margin = sum_f w[f] / n_tokens  (mean-normalized bag of words)
        margin = (
            "aggregate(_f, 0.0D, (acc, f) -> "
            "acc + element_at(_w, cast(f + 1 as int))) / size(_f)"
        )
        # inject the weights as a literal array column: the fold reads
        # a per-row reference, Catalyst folds the constant
        scored = feats.withColumn("_w", F.expr(w_lit)).select(
            "_y", "_f",
            F.expr(f"1.0D / (1.0D + exp(-({margin})))").alias("_p"),
        )
        # gradient by feature id, with the monitoring aggregates
        # (exact-integer accuracy count + float loss) OBSERVED on the
        # pre-explode rows of the SAME job — one corpus scan per
        # iteration where gradient-then-stats was two (the margin fold
        # is also evaluated once, not twice)
        obs = Observation()
        grad = (
            scored.observe(
                obs,
                F.sum(
                    ((F.col("_p") >= 0.5) == (F.col("_y") >= 0.5)).cast("long")
                ).alias("_ok"),
                F.sum(
                    F.expr(
                        "-(_y * log(greatest(_p, 1e-12)) "
                        "+ (1.0D - _y) * log(greatest(1.0D - _p, 1e-12)))"
                    )
                ).alias("_loss"),
            )
            .select(
                (F.col("_p") - F.col("_y")).alias("_r"),
                F.expr("size(_f)").alias("_n"),
                F.explode("_f").alias("_fid"),
            )
            .groupBy("_fid")
            .agg(F.sum(F.expr("_r / _n")).alias("_g"))
            .collect()
        )
        g = [0.0] * dim
        for row in grad:
            g[row["_fid"]] = row["_g"]
        w = [
            wi - lr * (gi / n_docs + l2 * wi)
            for wi, gi in zip(w, g)
        ]
        stats = obs.get
        history.append(
            (it, int(stats["_ok"]) * 1_000_000 // n_docs,
             float(stats["_loss"]) / n_docs)
        )
        if math.isnan(history[-1][2]):
            raise ArithmeticError("train_hashed_classifier: loss diverged")
    weights_df = spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(w)], "wid int, w double"
    )
    return weights_df, history


def readability_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Flesch Reading Ease per document in EXACT milli-points — the
    classic readability quality feature (Flesch 1948; pretraining
    filters use it to catch both word-salad and legalese extremes):

        FRE = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)

    evaluated as ``206835 − (1015·words) div sentences −
    (84600·syllables) div words`` — pure int64, bit-identical in both
    engines (the float constants are exactly ×1000).

    Syllables use the standard vowel-run heuristic: one syllable per
    maximal ``[aeiouy]+`` run.  Word boundaries never split a vowel
    run, so counting runs over the whole lowercased text equals the
    per-word sum — ONE ``regexp_extract_all`` in the scan projection,
    no explode.  Sentences are maximal ``[.!?]``-free non-blank runs
    (the same splitter as :func:`duplicate_sentence_profile`); a
    sentence-terminator-free document counts as one sentence.

    Scale shape: one scan, three counting expressions in the same
    projection, zero shuffles beyond the output.  Returns
    ``(id_col, n_sentences, n_words, n_syllables, fre_milli)``;
    empty docs yield zeros (FRE 0 — not meaningful, filter on
    ``n_words > 0``).
    """
    text = f"coalesce({text_col}, '')"
    lowered = f"lower({text})"
    sent_arr = (
        f"filter(transform(split({lowered}, '[.!?]+'), x -> trim(x)), "
        f"s -> s <> '')"
    )
    words = P.size(P.tokens(text, SPARK), SPARK)
    syls = f"size(regexp_extract_all({lowered}, '[aeiouy]+', 0))"
    return df.select(
        F.col(id_col),
        F.expr(f"size({sent_arr})").cast("long").alias("n_sentences"),
        F.expr(words).cast("long").alias("n_words"),
        F.expr(syls).cast("long").alias("n_syllables"),
    ).withColumn(
        "fre_milli",
        F.expr(
            "CASE WHEN n_words = 0 OR n_sentences = 0 THEN CAST(0 AS BIGINT) "
            "ELSE 206835 - (1015 * n_words) div n_sentences "
            "- (84600 * n_syllables) div n_words END"
        ),
    )


def encoding_artifact_profile(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Corpus-hygiene scan for encoding damage — the filter that
    catches double-decoded UTF-8 (mojibake), lossy-transcode
    replacement characters, and binary/truncation control bytes before
    they reach a tokenizer: per document, the three artifact counts
    (``portable.encoding_artifact_counts``), their total as exact
    integer ppm of the character count, and a ``clean`` flag (zero
    artifacts).

    Single-pass scan projection (three regexp counts, all whole-stage
    codegen); no shuffle.  Value-exact in both engines — the catalog
    oracle replays the same portable expressions."""
    text = f"coalesce({text_col}, '')"
    moj, rep, ctl = P.encoding_artifact_counts(text, SPARK)
    return df.select(
        F.col(id_col),
        F.expr(moj).cast("long").alias("n_mojibake"),
        F.expr(rep).cast("long").alias("n_replacement"),
        F.expr(ctl).cast("long").alias("n_control"),
        F.length(F.expr(text)).cast("long").alias("n_chars"),
    ).withColumn(
        "artifact_ppm",
        F.expr(
            "CASE WHEN n_chars = 0 THEN CAST(0 AS BIGINT) ELSE "
            "(n_mojibake + n_replacement + n_control) * 1000000 "
            "div n_chars END"
        ),
    ).withColumn(
        "clean",
        (F.col("n_mojibake") + F.col("n_replacement")
         + F.col("n_control") == 0),
    )


def lang_fertility_stats(
    df: DataFrame, text_col: str, lang_col: str | None = None
) -> DataFrame:
    """Per-language tokenizer-planning statistics: document count,
    whitespace words, BPE-ish lexical tokens (``portable
    .regexp_tokens``: alnum runs + single punctuation — the pre-merge
    unit a byte-level tokenizer starts from), UTF-8 bytes, and the two
    exact integer-ppm ratios mixture planning consumes —
    ``fertility_ppm`` (lexical tokens per word; high = whitespace words
    fragment, e.g. CJK or agglutinative text) and
    ``bytes_per_token_ppm`` (UTF-8 cost per lexical token; the
    token-budget <-> storage conversion rate per language).

    Uses ``lang_col`` when the corpus already carries a label, else the
    portable n-gram ``lang_id``.  One scan + one language-keyed
    aggregate (map-side combined; #languages is tiny)."""
    text = f"coalesce({text_col}, '')"
    lang = F.col(lang_col) if lang_col else F.expr(P.lang_id(text, SPARK))
    per_doc = df.select(
        lang.alias("lang"),
        F.expr(P.size(P.tokens(text, SPARK), SPARK)).cast("long").alias("_w"),
        F.expr(P.size(P.regexp_tokens(text, SPARK), SPARK))
        .cast("long").alias("_t"),
        F.expr(P.byte_length(text, SPARK)).cast("long").alias("_b"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_w").cast("long").alias("n_words"),
            F.sum("_t").cast("long").alias("n_tokens"),
            F.sum("_b").cast("long").alias("n_bytes"),
        )
        .withColumn(
            "fertility_ppm",
            F.expr(
                "CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT) "
                "ELSE n_tokens * 1000000 div n_words END"
            ),
        )
        .withColumn(
            "bytes_per_token_ppm",
            F.expr(
                "CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT) "
                "ELSE n_bytes * 1000000 div n_tokens END"
            ),
        )
    )


def source_overlap_matrix(
    df: DataFrame,
    source_col: str,
    text_col: str,
    *,
    n: int = 5,
    max_sources_per_gram: int = 50,
    hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how
    many DISTINCT word ``n``-gram shingles the two sources share, plus
    each side's distinct-shingle vocabulary and the exact integer-ppm
    Jaccard — the audit that catches the same site scraped into two
    "independent" sources, mirrored content between crawl snapshots, or
    benchmark text leaking into a training source.

    Scale shape (inverted-index, never doc-all-pairs): one positional
    shingle explode per document (portable or 64-bit ``hash_mode``
    keys, no n-gram strings materialized) -> DISTINCT (source, gram) —
    a gram-keyed aggregate -> gram-keyed self-join emitting only
    ``source_a < source_b`` pairs.  Grams present in more than
    ``max_sources_per_gram`` sources are dropped BEFORE the self-join
    (ubiquitous boilerplate carries no pairing information but would
    fan out quadratically), so ``shared_grams`` — and with it
    ``jaccard_ppm``, whose denominator keeps the FULL vocabularies —
    is a deterministic lower bound once any gram hits the cap.

    Output: (source_a, source_b, shared_grams, grams_a, grams_b,
    jaccard_ppm) for pairs with >= 1 shared gram.
    SIDE EFFECT (round-13 doc, ADVICE r12): the returned frame embeds a
    materialized fan point (``core.checkpoint.materialize``) — under
    Spark 4.1 AQE merely BUILDING the DataFrame executes the upstream
    jobs (even with a lazy checkpoint), and the checkpoint boundary
    severs predicate/column pushdown for callers that filter the
    output.  Plan-only composition over this operator pays real
    compute; filter/project the INPUT, not the output, where possible.
    The checkpoint honors ``ayeaye.checkpoint.mode`` (local|reliable).
    """
    from .dedup import _tune_session  # noqa: PLC0415 — no cycle

    _tune_session(df)
    toked = df.select(
        F.col(source_col).alias("_src"),
        F.expr(P.hash_array(P.tokens(text_col, SPARK), SPARK, hash_mode))
        .alias("_th"),
    )
    grams = toked.select(
        "_src",
        F.explode(
            F.expr(P.token_hash_ngrams_all("_th", n, SPARK, hash_mode))
        ).alias("_g"),
    ).distinct()
    # materialize the distinct (source, gram) vocabulary ONCE: it fans
    # out into four consumers (per-source vocab, ubiquity cap, and both
    # aliases of the pair self-join) keyed three different ways, so the
    # scan + tokenize + explode + distinct otherwise re-runs per branch
    grams = grams.transform(ckpt_lazy)
    vocab = grams.groupBy("_src").agg(
        F.count(F.lit(1)).cast("long").alias("_vocab")
    )
    # ubiquity cap BEFORE the pair join: keep grams in <= cap sources
    keep = (
        grams.groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_ns"))
        .where(F.col("_ns").between(2, max_sources_per_gram))
        .select("_g")
    )
    capped = grams.join(keep, "_g")
    pairs = (
        capped.alias("a")
        .join(capped.alias("b"), "_g")
        .where(F.col("a._src") < F.col("b._src"))
        .groupBy(
            F.col("a._src").alias("source_a"),
            F.col("b._src").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_grams"))
    )
    va = vocab.select(F.col("_src").alias("source_a"),
                      F.col("_vocab").alias("grams_a"))
    vb = vocab.select(F.col("_src").alias("source_b"),
                      F.col("_vocab").alias("grams_b"))
    return (
        pairs.join(va, "source_a").join(vb, "source_b")
        .select(
            "source_a", "source_b", "shared_grams", "grams_a", "grams_b",
            F.expr(
                "shared_grams * 1000000 div "
                "(grams_a + grams_b - shared_grams)"
            ).alias("jaccard_ppm"),
        )
    )

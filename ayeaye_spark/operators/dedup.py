"""Deduplication operators for LLM-scale training-data pipelines.

Beyond the reference's surface (its dedup story is user-space Python —
SURVEY §2.4/§2.5), these are first-class engine operators designed for
~100 TB corpora:

* :func:`exact_dedup` — hash-groupBy on the raw column(s).
* :func:`fingerprint_dedup` — normalized rolling-hash fingerprint groups
  (whitespace/case-insensitive exact dedup).
* :func:`minhash_lsh_pairs` / :func:`minhash_dedup` — shingle → minhash
  signature → banded LSH bucket join → exact-Jaccard verification.
* :func:`simhash_groups` — 32-bit SimHash grouping.
* :func:`ngram_jaccard_pairs` — blocked all-pairs n-gram Jaccard.

All hashing comes from ``functions.portable`` so each operator has a
bit-identical DuckDB oracle.  Two interchangeable signature backends:
the Catalyst higher-order-function expressions, and Arrow-batched
pandas twins (``functions.portable_py``, fuzz-pinned to the same
values) that win whenever a stage's output is consumed once — HOFs are
interpreted, not codegen'd.  Self-join consumers keep the SQL chain
(Spark recomputes each alias, and two pandas runs lose to two fused
scans).  The only shuffles are the groupBys/joins on hash keys, which
partition uniformly by construction, so the plans survive a
1000-executor scale-up.
LSH parameters: ``k`` total hashes in ``bands`` bands of ``k/bands`` rows
— P(candidate) = 1-(1-s^r)^b, the standard S-curve.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import portable as P
from ..core.checkpoint import ckpt_eager, ckpt_lazy

SPARK = P.SPARK

#: ``InferFiltersFromGenerate`` synthesizes ``size(arr) > 0`` filters under
#: explode() and pushes them below the projection that materializes the
#: array — re-deriving the whole shingle pipeline inside the filter, where
#: per-window ``element_at(transform(...), i)`` recomputes the token-hash
#: array O(tokens²) per row (observed 4-8× slowdown).  The rule only prunes
#: empty arrays pre-generate; excluding it is strictly cheaper here.
_EXCLUDED_RULES = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"


def _tune_session(df: DataFrame) -> None:
    """Exclude ``InferFiltersFromGenerate`` for this session (see module
    note: the rule re-derives the whole shingle pipeline inside a pushed
    filter — measured 24s → 195s).

    LOUD SIDE-EFFECT NOTE: optimization happens at ACTION time, after
    the lazy DataFrame is returned, so the exclusion cannot be scoped to
    this call and it outlives it (idempotent: appended once).  Wrap the
    build-and-collect span in ``catalog.scoped_session_conf`` to restore
    the previous optimizer rules afterwards.
    """
    spark = df.sparkSession
    current = spark.conf.get("spark.sql.optimizer.excludedRules", None)
    if not current:
        spark.conf.set("spark.sql.optimizer.excludedRules", _EXCLUDED_RULES)
    elif _EXCLUDED_RULES not in current:
        spark.conf.set("spark.sql.optimizer.excludedRules", f"{current},{_EXCLUDED_RULES}")


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """One survivor (min id) per distinct value of *cols*.

    Implemented as min-by aggregation rather than ``dropDuplicates`` so
    the survivor is deterministic (dropDuplicates keeps an arbitrary row).
    """
    return (
        df.groupBy(*cols)
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .select(id_col, "dup_count", *cols)
    )


def with_fingerprint(
    df: DataFrame, text_col: str, out_col: str = "fingerprint",
    *, hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """Fingerprint of normalized text (portable.fingerprint).

    ``hash_mode="fast"`` swaps the oracle-portable ~30-bit rolling hash
    for xxhash64 — the PRODUCTION setting: expected false-merge pairs are
    K²/2⁶⁵ instead of K²/2·10⁹ for K distinct normalized texts (the
    portable space saturates near K ≈ 10⁶)."""
    return df.withColumn(out_col, F.expr(P.fingerprint(text_col, SPARK, hash_mode)))


def fingerprint_dedup(
    df: DataFrame, text_col: str, id_col: str, *, hash_mode: str = P.PORTABLE
) -> DataFrame:
    """Dedup groups keyed by normalized-text fingerprint.

    ``hash_mode="fast"`` (xxhash64) is the corpus-scale setting — see
    :func:`with_fingerprint` for the collision envelope."""
    return (
        with_fingerprint(df, text_col, hash_mode=hash_mode)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
    )


def with_shingle_hashes(
    df: DataFrame, text_col: str, n: int = 3, out_col: str = "shingle_hashes",
    *, hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """Distinct word-n-gram shingle hashes: tokens → per-token char hash →
    arithmetic n-window combination (``portable.token_hash_ngrams``).

    Each token is hashed exactly once and no shingle strings are ever
    materialized; stages are real columns so downstream signature/verify
    passes re-traverse arrays, not text.

    ``hash_mode="fast"`` keys shingles by xxhash64 (64-bit window mix)
    instead of the oracle-portable rolling hash mod 1e9+7 — required
    once distinct shingles approach 10⁶ (collision envelope: K²/2⁶⁵ vs
    K²/2·10⁹ expected false-equal shingle pairs).
    """
    from .fanout import fan_out_small

    df = fan_out_small(df)
    return (
        df.withColumn("_tokens", F.expr(P.tokens(text_col, SPARK)))
        .withColumn("_th", F.expr(P.hash_array("_tokens", SPARK, hash_mode)))
        .withColumn(out_col, F.expr(P.token_hash_ngrams("_th", n, SPARK, hash_mode)))
    )


def with_minhash_signature(
    df: DataFrame, text_col: str, n: int = 3, k: int = 16,
    out_col: str = "minhash", *, hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """``hash_mode="fast"`` = 64-bit shingle keys + per-permutation
    xxhash64 mixes (see ``portable.minhash_from_hashes``) — the
    production signature whose shingle space doesn't alias at 10⁹
    distinct shingles."""
    return with_shingle_hashes(df, text_col, n, hash_mode=hash_mode).withColumn(
        out_col,
        F.expr(P.minhash_from_hashes("shingle_hashes", k, SPARK, hash_mode)),
    )


def minhash_signatures_vectorized(
    df: DataFrame, id_col: str, text_col: str, *, n: int = 3, k: int = 16,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Stage-1 twin of :func:`with_minhash_signature` as one Arrow-batched
    pandas pass: (_id, minhash, _hashset[, extra...]).

    Runs the ``functions.portable_py`` chain (tokens → memoized char
    hash → window-combined shingle hashes → k-permutation minima) —
    bit-identical to the SQL expressions (fuzz-tested) at a fraction of
    the interpreted-HOF cost.  Distinct tokens are hashed once per batch
    (Zipf), everything else is numpy int64.  ``extra_cols`` ride through
    the same pass — no second scan/join to re-attach them.
    """
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    from ..functions import portable_py as PY
    from .fanout import fan_out_small

    src = fan_out_small(df.select(id_col, text_col, *extra_cols))
    schema = StructType(
        [StructField("_id", LongType()),
         StructField("minhash", ArrayType(LongType())),
         StructField("_hashset", ArrayType(LongType()))]
        + [src.schema[c] for c in extra_cols]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            cache: dict[str, int] = {}
            ids, sigs, sets = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                th = PY.token_hashes(PY.tokens(text or ""), cache)
                sh = PY.shingle_hashes(th, n)
                ids.append(doc_id)
                sigs.append(PY.minhash(sh, k).tolist())
                sets.append(sh.tolist())
            out = {"_id": ids, "minhash": sigs, "_hashset": sets}
            for c in extra_cols:
                out[c] = pdf[c].tolist()
            yield pd.DataFrame(out)

    return src.mapInPandas(gen, schema)


def shingle_hashsets_vectorized(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 2,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(_id, _hashset[, extra...]) in one Arrow pass — the vectorized
    twin of ``with_shingle_hashes + array_distinct`` (same values, fuzz-
    tested via ``functions.portable_py``)."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    from ..functions import portable_py as PY
    from .fanout import fan_out_small

    src = fan_out_small(df.select(id_col, text_col, *extra_cols))
    schema = StructType(
        # _id inherits the source dtype — hardcoding long broke string ids
        [StructField("_id", src.schema[id_col].dataType),
         StructField("_hashset", ArrayType(LongType()))]
        + [src.schema[c] for c in extra_cols]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            cache: dict[str, int] = {}
            out = {"_id": pdf[id_col].tolist(), "_hashset": [
                PY.shingle_hashes(PY.token_hashes(PY.tokens(t or ""), cache), n).tolist()
                for t in pdf[text_col]
            ]}
            for c in extra_cols:
                out[c] = pdf[c].tolist()
            yield pd.DataFrame(out)

    return src.mapInPandas(gen, schema)


def simhash_vectorized(
    df: DataFrame, id_col: str, text_col: str, *, fp_bits: int = 32
) -> DataFrame:
    """(id, simhash) via the Python twin — bit-identical to
    :func:`with_simhash` without the 32/60 interpreted bit-sum
    traversals.  ``fp_bits`` selects the compact (32) or wide (60)
    fingerprint."""
    from ..functions import portable_py as PY
    from .fanout import fan_out_small

    fp = {32: PY.simhash32, 60: PY.simhash60}[fp_bits]

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            cache: dict[str, int] = {}
            yield pd.DataFrame({
                id_col: pdf[id_col].tolist(),
                "simhash": [
                    fp(PY.token_hashes(PY.tokens(t or ""), cache))
                    for t in pdf[text_col]
                ],
            })

    return fan_out_small(df.select(id_col, text_col)).mapInPandas(
        gen, f"{id_col} long, simhash long"
    )


def two_signature_vectorized(
    df: DataFrame, id_col: str, text_col: str, *, n: int = 3, k: int = 16,
    fp_bits: int = 32,
) -> DataFrame:
    """(_id, minhash, _hashset, simhash) in ONE Arrow pass: the corpus
    is scanned and tokenized once, and the token-hash array feeds BOTH
    the MinHash shingle chain and the SimHash bit-sum — bit-identical to
    running :func:`minhash_signatures_vectorized` and
    :func:`simhash_vectorized` separately (same ``portable_py`` calls),
    at half the scans/tokenizations.  For consumers that need both
    signatures over the same corpus (method-agreement evaluation);
    checkpoint the result before fanning it out to the two pair
    pipelines, as the Arrow pass is opaque to exchange reuse."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    from ..functions import portable_py as PY
    from .fanout import fan_out_small

    fp = {32: PY.simhash32, 60: PY.simhash60}[fp_bits]
    src = fan_out_small(df.select(id_col, text_col))
    schema = StructType([
        StructField("_id", src.schema[id_col].dataType),
        StructField("minhash", ArrayType(LongType())),
        StructField("_hashset", ArrayType(LongType())),
        StructField("simhash", LongType()),
    ])

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            cache: dict[str, int] = {}
            ids, sigs, sets, sims = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                th = PY.token_hashes(PY.tokens(text or ""), cache)
                sh = PY.shingle_hashes(th, n)
                ids.append(doc_id)
                sigs.append(PY.minhash(sh, k).tolist())
                sets.append(sh.tolist())
                sims.append(fp(th))
            yield pd.DataFrame(
                {"_id": ids, "minhash": sigs, "_hashset": sets, "simhash": sims}
            )

    return src.mapInPandas(gen, schema)


def signature_profile_vectorized(
    df: DataFrame, id_col: str, text_col: str, *, n: int = 3, k: int = 16,
) -> DataFrame:
    """(_id, minhash, _hashset, lang_pred, quality_ppm) in ONE Arrow
    pass: the corpus is scanned and tokenized once, and the token list
    feeds BOTH the MinHash shingle chain and the lang-ID/quality
    profile — bit-identical to running
    :func:`minhash_signatures_vectorized` and
    ``text.profile_vectorized`` separately (same ``portable_py``
    calls), at half the scans/tokenizations.  For the dedup→profile
    pipelines (quality-aware survivor selection, clean-corpus) where
    both stages read the same documents; checkpoint the result before
    fanning it out, as the Arrow pass is opaque to exchange reuse."""
    from pyspark.sql.types import (
        ArrayType, LongType, StringType, StructField, StructType,
    )

    from ..functions import portable_py as PY
    from .fanout import fan_out_small

    src = fan_out_small(df.select(id_col, text_col))
    schema = StructType([
        StructField("_id", src.schema[id_col].dataType),
        StructField("minhash", ArrayType(LongType())),
        StructField("_hashset", ArrayType(LongType())),
        StructField("lang_pred", StringType()),
        StructField("quality_ppm", LongType()),
    ])

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            cache: dict[str, int] = {}
            ids, sigs, sets, langs, quals = [], [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                t = text or ""
                toks = PY.tokens(t)
                th = PY.token_hashes(toks, cache)
                sh = PY.shingle_hashes(th, n)
                ids.append(doc_id)
                sigs.append(PY.minhash(sh, k).tolist())
                sets.append(sh.tolist())
                langs.append(PY.lang_id(toks))
                quals.append(PY.quality_score_ppm(t, toks))
            yield pd.DataFrame({
                "_id": ids, "minhash": sigs, "_hashset": sets,
                "lang_pred": langs, "quality_ppm": quals,
            })

    return src.mapInPandas(gen, schema)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    strategy: str = "bucket",
    signature: str = "vectorized",
    max_bucket_size: int = 64,
    block_col: str | None = None,
    hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH + exact verification.

    ``hash_mode="fast"`` runs the whole chain on 64-bit keys (xxhash64
    shingles + per-permutation xxhash64 mixes; implies the SQL
    signature path) — the corpus-scale setting where the portable
    ~30-bit shingle space would alias distinct shingles and silently
    inflate both candidate recall and verified Jaccard.

    Plan shape (scale-reviewed):
      1. one scan computing shingle hashes + k-hash signature (no shuffle);
      2. explode to ``bands`` rows/doc, band key = the band's signature
         slice as a string → shuffle on band key (uniform: hash values);
      3. self-join per bucket with ``id_a < id_b`` → candidate pairs,
         deduped across bands;
      4. verify with exact Jaccard over the *shingle-hash sets* (numeric
         intersect — cheaper than string shingles) ≥ ``threshold``.

    Returns (id_a, id_b, jaccard).

    Candidate generation strategies (identical results, measured sf0.1):

    * ``"bucket"`` (default, 1.9s): groupBy band key, sorted collect of
      (id, hashset) members, pairs generated inside each bucket with an
      array comprehension — ONE pass over the signature pipeline, no
      self-join (a self-join recomputes the whole pipeline per side:
      6.1s).  Buckets larger than ``max_bucket_size`` are routed to the
      self-join path instead (real crawl corpora are exact-duplicate
      heavy: identical docs share identical signatures, so one band key
      can hold millions of members — a single ``collect_list`` row, and
      pair generation materializes ~size²/2 structs in ONE row before
      the explode; the cap bounds that to ~cap² small structs).  The
      size count is a window over the same band-key shuffle, so routing
      adds no extra exchange.
    * ``"selfjoin"``: classic exploded band equi-join for EVERY bucket;
      per-row memory flat regardless of bucket size.
    """
    candidates = lsh_candidate_pairs(
        df, id_col, text_col, n=n, k=k, bands=bands,
        strategy=strategy, signature=signature, max_bucket_size=max_bucket_size,
        block_col=block_col, hash_mode=hash_mode,
    )
    verified = candidates.withColumn(
        "jaccard", F.expr(P.jaccard("set_a", "set_b", SPARK))
    ).where(F.col("jaccard") >= threshold)
    return verified.select(
        F.col("id_a").alias(f"{id_col}_a"), F.col("id_b").alias(f"{id_col}_b"), "jaccard"
    )


def minhash_lsh_pairs_from_signatures(
    sig: DataFrame,
    id_col: str,
    *,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    strategy: str = "bucket",
    max_bucket_size: int = 64,
) -> DataFrame:
    """:func:`minhash_lsh_pairs` stages 2-4 (band → bucket → verify)
    over a PRECOMPUTED ``(_id, minhash, _hashset)`` frame — identical
    results when the frame came from
    :func:`minhash_signatures_vectorized` /
    :func:`two_signature_vectorized` with the same parameters."""
    _tune_session(sig)
    candidates = _banded_candidates_from_sig(
        sig.select("_id", "minhash", "_hashset"),
        k=k, bands=bands, strategy=strategy, max_bucket_size=max_bucket_size,
    )
    verified = candidates.withColumn(
        "jaccard", F.expr(P.jaccard("set_a", "set_b", SPARK))
    ).where(F.col("jaccard") >= threshold)
    return verified.select(
        F.col("id_a").alias(f"{id_col}_a"), F.col("id_b").alias(f"{id_col}_b"), "jaccard"
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    strategy: str = "bucket",
    signature: str = "vectorized",
    max_bucket_size: int = 64,
    block_col: str | None = None,
    hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """Stage 1-3 of :func:`minhash_lsh_pairs`: banded candidate pairs
    (id_a, id_b, set_a, set_b) WITHOUT the Jaccard verification — so
    specialized consumers (incremental dedup) can prune candidates
    before paying the exact-verify cost.

    ``block_col`` restricts pairing to equal values of a blocking column
    (e.g. language): the block value is folded into the band key, so
    cross-block collisions never shuffle together at all — the standard
    way to keep band buckets small and uniform on a multilingual corpus.
    SQL-equality semantics: rows with a NULL block value never pair
    (they are dropped before banding — ``concat_ws`` would otherwise
    silently omit the null and merge them into an unblocked bucket);
    the block value is length-prefixed in the key so values containing
    the separator cannot alias across blocks.
    """
    _tune_session(df)
    if signature == "vectorized" and hash_mode == P.PORTABLE:
        sig = minhash_signatures_vectorized(
            df, id_col, text_col, n=n, k=k,
            extra_cols=(block_col,) if block_col else (),
        )
        if block_col:
            sig = sig.withColumnRenamed(block_col, "_blk")
    else:
        sig = with_minhash_signature(
            df, text_col, n, k, hash_mode=hash_mode
        ).select(
            F.col(id_col).alias("_id"),
            F.col("minhash"),
            F.array_distinct("shingle_hashes").alias("_hashset"),
            *([F.col(block_col).alias("_blk")] if block_col else []),
        )
    return _banded_candidates_from_sig(
        sig, k=k, bands=bands, strategy=strategy,
        max_bucket_size=max_bucket_size, block_col=block_col,
    )


def _banded_candidates_from_sig(
    sig: DataFrame,
    *,
    k: int,
    bands: int,
    strategy: str = "bucket",
    max_bucket_size: int = 64,
    block_col: str | None = None,
) -> DataFrame:
    """Stages 2-3 of :func:`minhash_lsh_pairs` over a PRECOMPUTED
    signature frame ``(_id, minhash, _hashset[, _blk])`` — split out so
    consumers that already hold the signatures (e.g. the fused
    :func:`two_signature_vectorized` pass) skip the signature scan."""
    r = k // bands
    if block_col:
        # NULL block never pairs (matches the oracle's a.blk = b.blk);
        # length prefix makes "a-1" vs "a" unambiguous in the joined key
        sig = sig.where(F.col("_blk").isNotNull())
        blk_part = [F.concat_ws(":", F.length(F.col("_blk").cast("string")),
                                F.col("_blk").cast("string"))]
    else:
        blk_part = []
    band_cols = []
    for b in range(bands):
        parts = [F.lit(str(b))] + blk_part
        band_key = F.concat_ws(
            "-",
            *parts,
            *[F.element_at("minhash", b * r + j + 1).cast("string") for j in range(r)],
        )
        band_cols.append(F.struct(band_key.alias("key")))
    banded = sig.withColumn("_band", F.explode(F.array(*band_cols))).select(
        "_id", "_hashset", F.col("_band.key").alias("band_key")
    )

    if strategy == "bucket":
        # Materialize the narrow (id, hashset, band_key) frame ONCE:
        # the routing below fans out into three consumers (size count,
        # collect path, self-join sides), and Spark re-runs the whole
        # Arrow signature pipeline per branch otherwise (measured 3x
        # MapInPandas, no exchange reuse).  localCheckpoint trades
        # executor-local storage (the same bytes the shuffle would
        # spill anyway) for single-computation; it is the same tradeoff
        # graph.py makes for iterative passes.
        banded = banded.transform(ckpt_lazy)
        # oversized band keys: a partial-combined count (no sort) whose
        # survivor set is tiny on any sane corpus, so AQE turns the
        # routing joins below into broadcast anti/semi joins.
        over = (
            banded.groupBy("band_key")
            .agg(F.count(F.lit(1)).alias("_bsz"))
            .where(F.col("_bsz") > max_bucket_size)
            .select("band_key")
        )
        small = banded.join(over, "band_key", "left_anti")
        big = banded.join(over, "band_key", "left_semi")
        # sorted members → positional pairs are already (small_id, big_id)
        buckets = small.groupBy("band_key").agg(
            F.sort_array(F.collect_list(F.struct("_id", "_hashset"))).alias("members")
        )
        cand_small = (
            buckets.select(
                F.explode(
                    F.expr(
                        "flatten(transform(members, (x, i) -> "
                        "transform(slice(members, i + 2, size(members)), y -> "
                        "struct(x._id AS id_a, y._id AS id_b, "
                        "x._hashset AS set_a, y._hashset AS set_b))))"
                    )
                ).alias("p")
            )
            .select("p.*")
        )
        bl, br = big.alias("l"), big.alias("r")
        cand_big = (
            bl.join(br, on="band_key")
            .where(F.col("l._id") < F.col("r._id"))
            .select(
                F.col("l._id").alias("id_a"),
                F.col("r._id").alias("id_b"),
                F.col("l._hashset").alias("set_a"),
                F.col("r._hashset").alias("set_b"),
            )
        )
        candidates = cand_small.unionByName(cand_big).dropDuplicates(["id_a", "id_b"])
    else:
        left = banded.alias("l")
        right = banded.alias("r")
        candidates = (
            left.join(right, on="band_key")
            .where(F.col("l._id") < F.col("r._id"))
            .select(
                F.col("l._id").alias("id_a"),
                F.col("r._id").alias("id_b"),
                F.col("l._hashset").alias("set_a"),
                F.col("r._hashset").alias("set_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    return candidates


def minhash_dedup(
    df: DataFrame, id_col: str, text_col: str, **lsh_kwargs
) -> DataFrame:
    """Survivor set after removing LSH-confirmed near-duplicates.

    A doc is dropped when it near-matches any doc with a smaller id
    (single-link light: no transitive closure — at 100 TB the full
    connected-components pass is a separate iterative job).
    """
    pairs = minhash_lsh_pairs(df, id_col, text_col, **lsh_kwargs)
    dropped = pairs.select(F.col(f"{id_col}_b").alias(id_col)).distinct()
    return df.join(dropped, on=id_col, how="left_anti")


def with_simhash(
    df: DataFrame, text_col: str, out_col: str = "simhash", *,
    fp_bits: int = 32, hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """SimHash column (tokens hashed once).
    ``fp_bits``: 32 (compact) or 60 (wide — the corpus-scale banding
    fingerprint, see ``portable.simhash60_from_hashes``).
    ``hash_mode="fast"`` samples fingerprint bits from 64-bit xxhash64
    token hashes — at 10⁸+ token vocab the portable ~30-bit token space
    aliases distinct tokens onto identical bit contributions (and the
    60-bit portable fingerprint needs an affine remix for its top 30
    bits); fast mode gives 60 independent bits directly."""
    if fp_bits == 60:
        sim = P.simhash60_from_hashes("_tok_hashes", SPARK, hash_mode)
    else:
        sim = P.simhash32_from_hashes("_tok_hashes", SPARK)
    return (
        df.withColumn("_tokens", F.expr(P.tokens(text_col, SPARK)))
        .withColumn("_tok_hashes", F.expr(P.hash_array("_tokens", SPARK, hash_mode)))
        .withColumn(out_col, F.expr(sim))
        .drop("_tokens", "_tok_hashes")
    )


def simhash_groups(
    df: DataFrame, id_col: str, text_col: str, *, signature: str = "vectorized"
) -> DataFrame:
    """Docs sharing an identical 32-bit SimHash (hard near-dup groups)."""
    if signature == "vectorized":
        hashed = simhash_vectorized(df, id_col, text_col)
    else:
        hashed = with_simhash(df, text_col)
    return (
        hashed.groupBy("simhash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("member_count"))
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    bands: int = 4,
    signature: str = "vectorized",
    fp_bits: int = 32,
    hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ ``max_hamming``
    via the PIGEONHOLE banding trick (the Google near-dup search): split
    the fingerprint into ``bands`` chunks — two hashes within
    ``max_hamming`` (< bands) bit flips MUST agree on at least one whole
    chunk, so candidates are exactly the pairs sharing a (chunk index,
    chunk value) key.  One shuffle on the chunk keys, then an
    exact ``bit_count(xor)`` verify — never an all-pairs scan, and the
    guarantee is lossless (recall 1.0), unlike probabilistic LSH.

    Requires ``max_hamming < bands`` (the pigeonhole premise); chunk
    width is ``fp_bits / bands`` bits, and WIDTH IS THE SCALE KNOB:
    random-collision bucket occupancy is ``n / 2^width``, so 4 bands of
    the 60-bit fingerprint (15-bit chunks, 32768 keys/band) stay
    workable where the 32-bit one's 8-bit chunks (256 keys/band) go
    quadratic on large corpora — prefer ``fp_bits=60`` beyond toy
    scale.  SCALE NOTE: chunk keys are NOT hash-uniform — similar
    corpora concentrate popular chunk values, so a hot key
    quadratically inflates its bucket's candidate pairs (the failure
    mode :func:`minhash_lsh_pairs` caps with ``max_bucket_size``).  On
    exact-duplicate-heavy corpora run :func:`exact_dedup` first or
    prefer the capped MinHash path; the chunk join here is the textbook
    formulation.
    """
    if signature == "vectorized" and hash_mode == P.PORTABLE:
        sig = simhash_vectorized(df, id_col, text_col, fp_bits=fp_bits)
    else:
        sig = with_simhash(
            df, text_col, fp_bits=fp_bits, hash_mode=hash_mode
        ).select(F.col(id_col), F.col("simhash"))
    return hamming_near_pairs(
        sig, id_col, "simhash",
        fp_bits=fp_bits, max_hamming=max_hamming, bands=bands,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 2,
    threshold: float = 0.3,
    block_col: str | None = None,
    max_shingle_df: int | str | None = None,
    signature: str = "vectorized",
    method: str = "index",
    hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """Set-similarity join via inverted index (no cross join).

    ``hash_mode="fast"`` keys the inverted index by xxhash64 shingles
    (production corpus-scale setting — see :func:`with_shingle_hashes`);
    it implies the SQL signature path (the Arrow twin mirrors the
    portable hash only).

    The exploded (id, size, hash) frame is materialized ONCE
    (``localCheckpoint``) before the self-join: both join aliases read
    the checkpoint instead of re-running the shingle pipeline per side.
    That flips the round-1 tradeoff — the Arrow-vectorized shingle stage
    now wins (measured at sf0.1: sql-no-ckpt 2.3s → vectorized+ckpt
    1.1s steady-state); ``signature="sql"`` keeps the pure-codegen chain
    available.

    Pairs above a positive Jaccard threshold must share ≥1 shingle, so:
    explode each doc's distinct shingle-hash set, equi-join on the hash
    (plus ``block_col`` when given), count shared hashes per pair —
    that count IS the intersection size — then
    ``jaccard = inter / (|a| + |b| - inter)``.

    Plan shape at scale: one scan + one shuffle on (shingle hash[, block])
    + one pair-keyed aggregation; replaces the O(n²/blocks) cross join
    (42s → ~2s at sf0.1 locally).  Skew caveat: a shingle present in a
    large fraction of the corpus becomes a hot join key.  Pass
    ``max_shingle_df`` to drop shingles whose document frequency exceeds
    it from CANDIDATE GENERATION only — the standard production knob
    (``"auto"`` = 1% of the corpus, floor 100 — the scale default).
    It is an explicit recall tradeoff (pairs sharing *only* ultra-common
    shingles are missed); verification still uses the FULL hash sets, so
    every returned jaccard value is exact.

    ``method="prefix"`` switches candidate generation to the LOSSLESS
    prefix filter (AllPairs / PPJoin family): only each set's
    ``|s| - ceil(t*|s|) + 1`` rarest elements are indexed, plus length
    and positional filters — see :func:`_jaccard_join_prepped`.  Same
    output, far fewer candidate pairs; the scale default for high
    thresholds.
    """
    if threshold <= 0:
        raise ValueError("inverted-index jaccard join requires threshold > 0")
    _tune_session(df)
    if signature == "vectorized" and hash_mode == P.PORTABLE:
        prepped = shingle_hashsets_vectorized(
            df, id_col, text_col, n=n, extra_cols=(block_col,) if block_col else ()
        )
        if block_col:
            prepped = prepped.withColumnRenamed(block_col, "_block")
    else:
        prepped = with_shingle_hashes(df, text_col, n, hash_mode=hash_mode).select(
            F.col(id_col).alias("_id"),
            F.array_distinct("shingle_hashes").alias("_hashset"),
            *([F.col(block_col).alias("_block")] if block_col else []),
        )
    return _jaccard_join_prepped(
        prepped, id_col, threshold=threshold,
        has_block=bool(block_col), max_item_df=max_shingle_df,
        n_rows=lambda: df.select(id_col).count(), method=method,
    )


def set_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    set_col: str,
    *,
    threshold: float = 0.3,
    block_col: str | None = None,
    max_item_df: int | str | None = None,
    method: str = "index",
) -> DataFrame:
    """Exact set-similarity self-join over a PRECOMPUTED set column
    (any orderable element type) — the inverted-index core of
    :func:`ngram_jaccard_pairs` exposed for non-text sets: video
    frame-hash sequences, tag sets, feature-id baskets.  Same plan
    shape, same ``max_item_df`` hot-element pruning knob (``"auto"`` =
    1% of rows, floor 100), same exact-verify guarantee.
    ``method="prefix"`` = lossless prefix-filter candidates (see
    :func:`ngram_jaccard_pairs`)."""
    if threshold <= 0:
        raise ValueError("inverted-index jaccard join requires threshold > 0")
    _tune_session(df)
    prepped = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(F.col(set_col)).alias("_hashset"),
        *([F.col(block_col).alias("_block")] if block_col else []),
    )
    return _jaccard_join_prepped(
        prepped, id_col, threshold=threshold,
        has_block=bool(block_col), max_item_df=max_item_df,
        n_rows=lambda: df.count(), method=method,
    )


def ngram_jaccard_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    method: str = "index",
    max_item_df: int | str | None = None,
    hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """Two-table (R-S) n-gram Jaccard similarity join — cross-corpus
    near-dup: benchmark-vs-train contamination at a JACCARD threshold
    (:func:`contamination_pairs` is the shared-count variant), new-batch
    vs published-corpus checks, cross-source syndication detection.
    Returns ``({left_id}_a, {right_id}_b, jaccard)`` for cross-table
    pairs only; same ``method="prefix"`` / ``max_item_df`` knobs and
    scale shape as :func:`ngram_jaccard_pairs` (one shared inverted
    index over the union; the side tag replaces the ``id < id``
    self-join condition, so id collisions between tables are fine)."""
    if threshold <= 0:
        raise ValueError("inverted-index jaccard join requires threshold > 0")
    _tune_session(left)

    def prep(frame: DataFrame, idc: str) -> DataFrame:
        if hash_mode == P.PORTABLE:
            return shingle_hashsets_vectorized(frame, idc, text_col, n=n)
        return with_shingle_hashes(  # fast: 64-bit SQL chain
            frame, text_col, n, hash_mode=hash_mode
        ).select(
            F.col(idc).alias("_id"),
            F.array_distinct("shingle_hashes").alias("_hashset"),
        )

    pl = prep(left, left_id).withColumn("_side", F.lit(0))
    pr = prep(right, right_id).withColumn("_side", F.lit(1))
    return _jaccard_join_prepped(
        pl.unionByName(pr), left_id, threshold=threshold,
        has_block=False, max_item_df=max_item_df,
        n_rows=lambda: left.count() + right.count(), method=method,
        cross_side=True, out_cols=(f"{left_id}_a", f"{right_id}_b"),
    )


def weighted_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 1,
    threshold: float = 0.3,
    block_col: str | None = None,
    max_item_df: int | None = None,
    hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """EXACT weighted (multiset) Jaccard self-join:
    ``sum_t min(tf_a, tf_b) / sum_t max(tf_a, tf_b)`` over term
    frequencies — the similarity that separates "same vocabulary, very
    different emphasis" pairs the set-Jaccard join scores identically.
    ``n=1`` weights tokens; ``n>1`` weights positional n-gram windows
    (multiplicity KEPT, unlike :func:`ngram_jaccard_pairs`' distinct
    sets).

    Identity that keeps it one join: ``sum max = W_a + W_b - sum min``
    where ``W = total term count``, and ``sum min`` only needs SHARED
    terms — so the inverted-index equi-join on the term hash computes
    ``sum(least(w_a, w_b))`` per pair and the totals join back.  Any
    pair above a positive threshold shares ≥1 term: candidate
    generation is lossless.

    Skew: unigram tf makes corpus-stopword hashes hot join keys (every
    doc shares "the"); either use ``n>=2`` (window multiplicities are
    sparse) or pass ``max_item_df`` — candidates then come from terms in
    ≤ that many docs, and sum-min is re-verified EXACTLY over all terms
    of the surviving pairs (two id-keyed joins, linear in candidate
    volume), so returned values never change — recall over pairs sharing
    only ultra-hot terms is the documented trade, as in
    :func:`ngram_jaccard_pairs`.
    """
    if threshold <= 0:
        raise ValueError("inverted-index weighted jaccard requires threshold > 0")
    _tune_session(df)
    text = f"coalesce({text_col}, '')"
    base = df.select(
        F.col(id_col).alias("_id"),
        F.expr(P.hash_array(P.tokens(text, SPARK), SPARK, hash_mode)).alias("_th"),
        *([F.col(block_col).alias("_block")] if block_col else []),
    )
    # _th materialized as a column first: the n-gram expression reads it
    # n times per window and would otherwise inline (= recompute) the
    # whole token-hash pipeline per read
    base = base.withColumn(
        "_arr",
        F.col("_th") if n == 1
        else F.expr(P.token_hash_ngrams_all("_th", n, SPARK, hash_mode)),
    )
    blk = ["_block"] if block_col else []
    weights = (
        base.select("_id", *blk, F.explode("_arr").alias("_h"))
        .groupBy("_id", "_h", *blk)
        .agg(F.count(F.lit(1)).alias("_w"))
        .transform(ckpt_lazy)
    )
    totals = weights.groupBy("_id").agg(F.sum("_w").alias("_W"))
    join_keys = ["_h"] + blk

    if max_item_df is not None:
        freq = weights.groupBy(*join_keys).agg(F.count(F.lit(1)).alias("_df"))
        rare = weights.join(
            freq.where(F.col("_df") <= max_item_df).select(*join_keys), on=join_keys
        )
        l, r = rare.alias("l"), rare.alias("r")
        candidates = (
            l.join(r, on=join_keys)
            .where(F.col("l._id") < F.col("r._id"))
            .select(F.col("l._id").alias("_ida"), F.col("r._id").alias("_idb"))
            .dropDuplicates(["_ida", "_idb"])
        )
        # exact sum-min re-verify over ALL terms of surviving pairs
        wa = weights.select(F.col("_id").alias("_ida"), "_h", F.col("_w").alias("_wa"))
        wb = weights.select(F.col("_id").alias("_idb"), "_h", F.col("_w").alias("_wb"))
        inter = (
            candidates.join(wa, on="_ida")
            .join(wb, on=["_idb", "_h"])
            .groupBy("_ida", "_idb")
            .agg(F.sum(F.least("_wa", "_wb")).alias("_min"))
        )
    else:
        l, r = weights.alias("l"), weights.alias("r")
        inter = (
            l.join(r, on=join_keys)
            .where(F.col("l._id") < F.col("r._id"))
            .groupBy(F.col("l._id").alias("_ida"), F.col("r._id").alias("_idb"))
            .agg(F.sum(F.least("l._w", "r._w")).alias("_min"))
        )
    return (
        inter.join(totals.select(F.col("_id").alias("_ida"), F.col("_W").alias("_Wa")),
                   on="_ida")
        .join(totals.select(F.col("_id").alias("_idb"), F.col("_W").alias("_Wb")),
              on="_idb")
        .withColumn(
            "weighted_jaccard",
            F.col("_min").cast("double")
            / (F.col("_Wa") + F.col("_Wb") - F.col("_min")),
        )
        .where(F.col("weighted_jaccard") >= threshold)
        .select(
            F.col("_ida").alias(f"{id_col}_a"),
            F.col("_idb").alias(f"{id_col}_b"),
            "weighted_jaccard",
        )
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 1,
    threshold: float = 0.5,
    block_col: str | None = None,
    max_item_df: int | None = None,
    hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """EXACT tf-idf cosine self-join over token (``n=1``) or positional
    n-gram term frequencies — the classic IR similarity, as an
    inverted-index equi-join: only SHARED terms contribute to the dot
    product, so ``sum(w_a * w_b)`` per pair comes from one join on the
    term hash and the per-doc squared norms join back.

    Weighting: ``w = (tf * 1e6) div df`` — raw-frequency idf (``tf·N/df``
    up to the constant N, which cancels in cosine), scaled to integers.
    Deliberately log-free: IEEE-754 guarantees correctly-rounded
    ``sqrt``/``/``/``*`` but NOT ``ln`` — libm log differs in the last
    ulp across engines, which would break the value-exact DuckDB oracle.
    All sums run in exact decimal (order-independent, no float-sum
    nondeterminism); the only floating ops are the final correctly-
    rounded divide/multiply/sqrt, identical in both engines.

    ``max_item_df``: candidates from rare terms only, then the dot
    product is re-computed EXACTLY over all terms of surviving pairs
    (two id-keyed joins) — values never change, only recall over pairs
    sharing nothing but ultra-hot terms (the skew knob, as in
    :func:`weighted_jaccard_pairs`).
    """
    if threshold <= 0:
        raise ValueError("inverted-index cosine join requires threshold > 0")
    _tune_session(df)
    text = f"coalesce({text_col}, '')"
    base = df.select(
        F.col(id_col).alias("_id"),
        F.expr(P.hash_array(P.tokens(text, SPARK), SPARK, hash_mode)).alias("_th"),
        *([F.col(block_col).alias("_block")] if block_col else []),
    ).withColumn(
        "_arr",
        F.col("_th") if n == 1
        else F.expr(P.token_hash_ngrams_all("_th", n, SPARK, hash_mode)),
    )
    blk = ["_block"] if block_col else []
    tf = (
        base.select("_id", *blk, F.explode("_arr").alias("_h"))
        .groupBy("_id", "_h", *blk)
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    join_keys = ["_h"] + blk
    dfreq = tf.groupBy(*join_keys).agg(F.count(F.lit(1)).alias("_df"))
    weights = (
        tf.join(dfreq, on=join_keys)
        .withColumn("_w", F.expr("_tf * 1000000L div _df"))
        .select("_id", *blk, "_h", "_w", "_df")
        .transform(ckpt_lazy)
    )
    prod = "cast(l_w as decimal(19,0)) * cast(r_w as decimal(19,0))"
    norms = weights.groupBy("_id").agg(
        F.expr(
            "sum(cast(_w as decimal(19,0)) * cast(_w as decimal(19,0)))"
        ).alias("_n2")
    )

    if max_item_df is not None:
        rare = weights.where(F.col("_df") <= max_item_df)
        l, r = rare.alias("l"), rare.alias("r")
        candidates = (
            l.join(r, on=join_keys)
            .where(F.col("l._id") < F.col("r._id"))
            .select(F.col("l._id").alias("_ida"), F.col("r._id").alias("_idb"))
            .dropDuplicates(["_ida", "_idb"])
        )
        wa = weights.select(F.col("_id").alias("_ida"), "_h", F.col("_w").alias("l_w"))
        wb = weights.select(F.col("_id").alias("_idb"), "_h", F.col("_w").alias("r_w"))
        dot = (
            candidates.join(wa, on="_ida")
            .join(wb, on=["_idb", "_h"])
            .groupBy("_ida", "_idb")
            .agg(F.expr(f"sum({prod})").alias("_dot"))
        )
    else:
        l, r = weights.alias("l"), weights.alias("r")
        dot = (
            l.join(r, on=join_keys)
            .where(F.col("l._id") < F.col("r._id"))
            .select(
                F.col("l._id").alias("_ida"), F.col("r._id").alias("_idb"),
                F.col("l._w").alias("l_w"), F.col("r._w").alias("r_w"),
            )
            .groupBy("_ida", "_idb")
            .agg(F.expr(f"sum({prod})").alias("_dot"))
        )
    return (
        dot.join(norms.select(F.col("_id").alias("_ida"), F.col("_n2").alias("_na2")),
                 on="_ida")
        .join(norms.select(F.col("_id").alias("_idb"), F.col("_n2").alias("_nb2")),
              on="_idb")
        .withColumn(
            "cosine",
            F.expr(
                "cast(_dot as double) / "
                "sqrt(cast(_na2 as double) * cast(_nb2 as double))"
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select(
            F.col("_ida").alias(f"{id_col}_a"),
            F.col("_idb").alias(f"{id_col}_b"),
            "cosine",
        )
    )


def _jaccard_verify_pairs(
    candidates: DataFrame,
    sets: DataFrame,
    id_col: str,
    threshold: float,
    *,
    sets_b: DataFrame | None = None,
    out_cols: tuple[str, str] | None = None,
) -> DataFrame:
    """Exact-verify a ``(_ida, _idb)`` candidate frame against the full
    ``(_id, _hashset)`` sets: two hash joins back to the set store, one
    portable-expression jaccard, threshold filter.  Shared by every
    candidate-generation strategy so the returned jaccard is always
    exact regardless of how lossy/lossless the candidate step was.
    ``sets_b`` (two-table joins) looks the b-side up in a different set
    store; ``out_cols`` overrides the ``{id_col}_a/_b`` output names."""
    fa, fb = out_cols or (f"{id_col}_a", f"{id_col}_b")
    paired = (
        candidates.join(sets.withColumnRenamed("_id", "_ida")
                        .withColumnRenamed("_hashset", "_set_a"), on="_ida")
        .join((sets_b if sets_b is not None else sets)
              .withColumnRenamed("_id", "_idb")
              .withColumnRenamed("_hashset", "_set_b"), on="_idb")
    )
    return (
        paired.withColumn("jaccard", F.expr(P.jaccard("_set_a", "_set_b", SPARK)))
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col("_ida").alias(fa),
            F.col("_idb").alias(fb),
            "jaccard",
        )
    )


def _jaccard_prefix_candidates(
    exploded: DataFrame,
    join_keys: list[str],
    threshold: float,
    has_block: bool,
    cross_side: bool = False,
) -> DataFrame:
    """LOSSLESS prefix-filter candidate generation (AllPairs / PPJoin
    family — Bayardo et al. WWW'07, Xiao et al. WWW'08; public
    algorithms).  Three stacked filters, none of which can drop a true
    pair:

    * **prefix filter** — ``J(A,B) >= t`` forces ``|A∩B| >= ceil(t*|A|)``
      (since ``|A∪B| >= |A|``), so under ANY total order on elements the
      first ``|A| - ceil(t*|A|) + 1`` elements of A must contain a shared
      element; only that prefix is indexed.  We order by ascending
      document frequency (ties by element value), which puts the RAREST
      elements in prefixes — the smallest postings lists, so the equi-join
      fan-out collapses and hot common elements never become join keys
      for large sets.
    * **length filter** — ``J >= t`` forces ``min(|A|,|B|) >=
      t * max(|A|,|B|)``; applied as a join-time predicate.
    * **positional filter** — for the pair's FIRST shared element (the
      canonically smallest, which both prefixes must contain), no shared
      element precedes it in either set, so ``|A∩B| <= 1 +
      min(|A|-pa, |B|-pb)``; require that bound to reach
      ``ceil(t/(1+t) * (|A|+|B|))`` (the equivalent-overlap form of the
      threshold).  Taken per pair via a lexicographic ``min`` over the
      matched (freq, element, positions) structs.

    Candidates are then exact-verified against the full sets, so output
    equals the plain inverted-index path row-for-row.  At scale this is
    the high-threshold default: index size shrinks by ~t fraction and
    candidate pairs by orders of magnitude, at the price of one extra
    shuffle (the per-set sort/slice aggregation).

    All three bounds are computed in EXACT INTEGER arithmetic over
    ``ppm = round(threshold * 1e6)`` (same convention as
    :func:`containment_pairs`): the naive double form
    ``ceil(t/(1+t)*(sa+sb))`` rounds ABOVE the true integer for
    thresholds like 0.4 (``ceil(0.4/1.4*7) = 3`` vs true 2), which
    over-requires overlap and silently drops boundary-exact true
    pairs — losslessness would then depend on the threshold's binary
    representation.  Integer cross-multiplication has no such edge.
    """
    ppm = int(round(threshold * 1_000_000))
    M = 1_000_000
    freq = exploded.groupBy(*join_keys).agg(F.count(F.lit(1)).alias("_df"))
    ranked = exploded.join(freq, on=join_keys)
    # per-set canonical sort + prefix slice; posexplode position is the
    # element's 0-based rank in the FULL sorted set (prefix = its head)
    group_cols = (
        ["_id", "_size"]
        + (["_block"] if has_block else [])
        + (["_side"] if cross_side else [])
    )
    # prefix keeps |A| - ceil(t*|A|) + 1 elements; integer-exact ceil
    prefix_len = F.expr(
        f"_size - ((CAST({ppm} AS BIGINT) * _size + {M - 1}) DIV {M}) + 1"
    )
    prefixes = (
        ranked.groupBy(*group_cols)
        .agg(F.array_sort(F.collect_list(F.struct("_df", "_h"))).alias("_sorted"))
        .select(
            *group_cols,
            F.posexplode(F.slice("_sorted", 1, prefix_len.cast("int"))).alias(
                "_pos", "_e"
            ),
        )
        .select(
            *group_cols, "_pos",
            F.col("_e._df").alias("_df"), F.col("_e._h").alias("_h"),
        )
        # both self-join aliases read this — materialize the freq join +
        # sort-aggregate once instead of once per side
        .transform(ckpt_lazy)
    )
    l, r = prefixes.alias("l"), prefixes.alias("r")
    jk = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in join_keys]
    pair_cond = (
        (F.col("l._side") < F.col("r._side")) if cross_side
        else (F.col("l._id") < F.col("r._id"))
    )
    matched = (
        l.join(r, jk)
        .where(
            pair_cond
            # length filter: min size >= t * max size, as an integer
            # cross-multiplication (sizes are ints, so >= ceil(t*max)
            # iff size*1e6 >= ppm*max — no double rounding)
            & (F.col("l._size").cast("long") * M >= F.lit(ppm).cast("long") * F.col("r._size"))
            & (F.col("r._size").cast("long") * M >= F.lit(ppm).cast("long") * F.col("l._size"))
        )
        .select(
            F.col("l._id").alias("_ida"), F.col("r._id").alias("_idb"),
            F.col("l._size").alias("_sa"), F.col("r._size").alias("_sb"),
            F.struct(
                F.col("l._df").alias("_df"), F.col("l._h").alias("_h"),
                F.col("l._pos").alias("_pa"), F.col("r._pos").alias("_pb"),
            ).alias("_m"),
        )
    )
    # first shared element per pair = lexicographic min over (df, h, ...)
    first = matched.groupBy("_ida", "_idb").agg(
        F.first("_sa").alias("_sa"), F.first("_sb").alias("_sb"),
        F.min("_m").alias("_m"),
    )
    # positional filter: ubound >= ceil(ppm*(sa+sb) / (1e6+ppm)),
    # cross-multiplied so the bound is integer-exact (ubound is an int:
    # u >= ceil(x) iff u*(1e6+ppm) >= ppm*(sa+sb))
    ubound = F.lit(1) + F.least(
        F.col("_sa") - (F.col("_m._pa") + 1), F.col("_sb") - (F.col("_m._pb") + 1)
    )
    return first.where(
        ubound.cast("long") * (M + ppm)
        >= F.lit(ppm).cast("long") * (F.col("_sa") + F.col("_sb"))
    ).select("_ida", "_idb")


def _jaccard_join_prepped(
    prepped: DataFrame,
    id_col: str,
    *,
    threshold: float,
    has_block: bool,
    max_item_df: int | str | None,
    n_rows,
    method: str = "index",
    cross_side: bool = False,
    out_cols: tuple[str, str] | None = None,
) -> DataFrame:
    """Shared inverted-index Jaccard join over a ``(_id, _hashset
    [, _block])`` frame (see :func:`ngram_jaccard_pairs` for the full
    plan-shape and pruning discussion).  ``n_rows`` is a thunk so the
    corpus count is only paid when ``max_item_df="auto"``.

    ``cross_side=True`` (two-table R-S join): ``prepped`` carries a
    ``_side`` column (0 = left, 1 = right); pairs are generated ACROSS
    sides only (``l._side < r._side`` replaces the self-join's
    ``l._id < r._id``) and the exact verify looks each side up in its
    own set store, so id collisions between the tables are harmless."""
    if method not in ("index", "prefix"):
        raise ValueError(f"method must be 'index' or 'prefix'; got {method!r}")
    # one set-build pass serves both self-join aliases AND the
    # exact-verify set lookups in the max_item_df path (pre-explode
    # form: smallest stored footprint)
    prepped = prepped.withColumn("_size", F.size("_hashset")).transform(ckpt_lazy)
    side = ["_side"] if cross_side else []
    exploded = prepped.select(
        "_id", "_size", *(["_block"] if has_block else []), *side,
        F.explode("_hashset").alias("_h"),
    )
    join_keys = ["_h"] + (["_block"] if has_block else [])
    pair_cond = (
        (F.col("l._side") < F.col("r._side")) if cross_side
        else (F.col("l._id") < F.col("r._id"))
    )
    if cross_side:
        sets_a = prepped.where(F.col("_side") == 0).select("_id", "_hashset")
        sets_b = prepped.where(F.col("_side") == 1).select("_id", "_hashset")
    else:
        sets_a = prepped.select("_id", "_hashset")
        sets_b = None

    if method == "prefix":
        if max_item_df is not None:
            raise ValueError(
                "method='prefix' is lossless and incompatible with the lossy "
                "max_item_df knob — pass one or the other"
            )
        candidates = _jaccard_prefix_candidates(
            exploded, join_keys, threshold, has_block,
            cross_side=cross_side,
        )
        return _jaccard_verify_pairs(
            candidates, sets_a, id_col, threshold,
            sets_b=sets_b, out_cols=out_cols,
        )

    max_shingle_df = max_item_df
    if isinstance(max_shingle_df, str):
        if max_shingle_df != "auto":
            # fail at call time — an unrecognized string would otherwise
            # reach the numeric DF comparison (ANSI: mid-job cast crash;
            # non-ANSI: NULL predicate → silently zero pairs)
            raise ValueError(
                f"max_item_df must be an int, None, or 'auto'; got {max_shingle_df!r}"
            )
        # scale default: prune elements present in >1% of rows (floor
        # 100 so small corpora are never pruned).  One count() — the
        # price of not asking the caller to know their corpus size.
        max_shingle_df = max(100, n_rows() // 100)
    if max_shingle_df is not None:
        # candidates from RARE shingles only; exact jaccard re-computed
        # from the FULL hash sets afterwards (join-count intersections
        # would undercount once shingles are dropped)
        freq = exploded.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
        keep = freq.where(F.col("_df") <= max_shingle_df).select("_h")
        rare = exploded.join(keep, on="_h")
        l, r = rare.alias("l"), rare.alias("r")
        candidates = (
            l.join(r, on=join_keys)
            .where(pair_cond)
            .select(F.col("l._id").alias("_ida"), F.col("r._id").alias("_idb"))
            .dropDuplicates(["_ida", "_idb"])
        )
        return _jaccard_verify_pairs(
            candidates, sets_a, id_col, threshold,
            sets_b=sets_b, out_cols=out_cols,
        )

    fa, fb = out_cols or (f"{id_col}_a", f"{id_col}_b")
    l, r = exploded.alias("l"), exploded.alias("r")
    inter = (
        l.join(r, on=join_keys)
        .where(pair_cond)
        .groupBy(F.col("l._id").alias("_ida"), F.col("r._id").alias("_idb"))
        .agg(
            F.count(F.lit(1)).alias("_inter"),
            F.first("l._size").alias("_sa"),
            F.first("r._size").alias("_sb"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("_inter").cast("double")
            / (F.col("_sa") + F.col("_sb") - F.col("_inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col("_ida").alias(fa),
            F.col("_idb").alias(fb),
            "jaccard",
        )
    )


def contamination_pairs(
    eval_df: DataFrame,
    train_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    min_shared: int = 2,
    hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """Benchmark decontamination: (eval_id, train_id, shared_ngrams) for
    every eval document sharing ≥ ``min_shared`` distinct word-n-gram
    shingle hashes with a training document.

    Inverted-index join, same scale shape as :func:`ngram_jaccard_pairs`:
    explode each side's DISTINCT shingle hashes, equi-join on the hash
    (shuffle on hash — uniform keys), count matches per doc pair =
    exact distinct-overlap size.  The eval side is small in practice
    (benchmarks), so its exploded form broadcasts and the train corpus
    streams through one scan.
    """
    def prep(frame: DataFrame, out: str) -> DataFrame:
        if hash_mode == P.PORTABLE:
            prepped = shingle_hashsets_vectorized(frame, id_col, text_col, n=n)
        else:  # fast: 64-bit keys via the SQL chain (production keyspace)
            prepped = with_shingle_hashes(
                frame, text_col, n, hash_mode=hash_mode
            ).select(
                F.col(id_col).alias("_id"),
                F.array_distinct("shingle_hashes").alias("_hashset"),
            )
        return prepped.select(
            F.col("_id").alias(out), F.explode("_hashset").alias("_h")
        )

    ev = prep(eval_df, "eval_id")
    tr = prep(train_df, "train_id")
    return (
        tr.join(F.broadcast(ev), on="_h")
        .groupBy("eval_id", "train_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
        .where(F.col("shared_ngrams") >= min_shared)
    )


def boilerplate_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    min_df: int = 2,
) -> DataFrame:
    """(id, n_shingles, shared_shingles, boilerplate_ppm): per document,
    the fraction (integer ppm) of its distinct token-n-gram shingles
    that also occur in at least ``min_df`` documents overall — the cheap
    cross-document boilerplate signal (headers, footers, navigation
    chrome) corpus curation filters on before near-dup passes.

    Scale shape: one Arrow shingling pass materialized once
    (``localCheckpoint`` — the frame feeds both the document-frequency
    aggregate and the per-doc rollup), explode → hash-keyed df count
    (uniform keys), join back, per-doc aggregate.  No self-join, no
    quadratic stage.
    """
    prepped = shingle_hashsets_vectorized(df, id_col, text_col, n=n)
    prepped = prepped.transform(ckpt_lazy)
    exploded = prepped.select("_id", F.explode("_hashset").alias("_h"))
    dfreq = exploded.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
    per_doc = (
        exploded.join(dfreq, on="_h")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("_df") >= min_df, 1).otherwise(0)).alias("shared_shingles"),
        )
    )
    return per_doc.select(
        F.col("_id").alias(id_col),
        "n_shingles",
        "shared_shingles",
        F.expr("CASE WHEN n_shingles = 0 THEN 0 "
               "ELSE shared_shingles * 1000000 div n_shingles END").alias("boilerplate_ppm"),
    )


def minhash_dedup_incremental(
    existing: DataFrame,
    increment: DataFrame,
    id_col: str,
    text_col: str,
    **lsh_kwargs,
) -> DataFrame:
    """Incremental corpus dedup: survivors of ``increment`` after
    removing docs that near-duplicate the ``existing`` corpus OR an
    earlier (smaller-id) increment doc.  The existing corpus is never
    modified — the standard shape for folding a new crawl batch into a
    deduplicated 100 TB corpus without re-deduping the whole thing.

    Ids must be unique across both frames (they key the pair roles).
    Drop rule per near-dup pair (a < b): new-vs-existing drops the new
    doc whichever side it is on; new-vs-new drops the larger id.

    Cost shape: banding covers the union (collisions between a new doc
    and ANY doc must surface), but existing-vs-existing candidate pairs
    are pruned BEFORE the exact-Jaccard verification — the per-pair
    set-intersection cost, the dominant term on an already-deduplicated
    corpus, is only paid for pairs with a new side.
    """
    threshold = lsh_kwargs.pop("threshold", 0.5)
    block_col = lsh_kwargs.get("block_col")
    keep_cols = [id_col, text_col] + ([block_col] if block_col else [])
    ex = existing.select(*keep_cols)
    inc = increment.select(*keep_cols)
    tagged = ex.withColumn("_is_new", F.lit(False)).unionByName(
        inc.withColumn("_is_new", F.lit(True))
    )
    candidates = lsh_candidate_pairs(tagged, id_col, text_col, **lsh_kwargs)
    tags = tagged.select(F.col(id_col).alias("_tid"), "_is_new")
    labeled = (
        candidates.join(
            tags.select(F.col("_tid").alias("id_a"), F.col("_is_new").alias("_a_new")),
            on="id_a",
        )
        .join(
            tags.select(F.col("_tid").alias("id_b"), F.col("_is_new").alias("_b_new")),
            on="id_b",
        )
        .where(F.col("_a_new") | F.col("_b_new"))  # prune old-old pre-verify
    )
    verified = labeled.withColumn(
        "jaccard", F.expr(P.jaccard("set_a", "set_b", SPARK))
    ).where(F.col("jaccard") >= threshold)
    dropped = (
        verified.select(
            F.when(F.col("_a_new") & ~F.col("_b_new"), F.col("id_a"))
            .when(F.col("_b_new") & ~F.col("_a_new"), F.col("id_b"))
            .otherwise(F.col("id_b"))  # new-new: drop the larger id
            .alias(id_col)
        )
        .distinct()
    )
    return increment.join(dropped, on=id_col, how="left_anti")


def positional_shingles_vectorized(
    df: DataFrame, id_col: str, text_col: str, *, n: int
) -> DataFrame:
    """(_id, _ntok, _grams) in one Arrow pass: ``_grams[i]`` (0-based) is
    the hash of the n-token window starting at token ``i`` — order kept,
    duplicates kept (the positional twin of
    :func:`shingle_hashsets_vectorized`; values match
    ``portable.token_hash_ngrams_all``)."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    from ..functions import portable_py as PY

    src = df.select(id_col, text_col)
    schema = StructType([
        StructField("_id", LongType()),
        StructField("_ntok", LongType()),
        StructField("_grams", ArrayType(LongType())),
    ])

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            cache: dict[str, int] = {}
            ids, ntoks, grams = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                th = PY.token_hashes(PY.tokens(text or ""), cache)
                ids.append(doc_id)
                ntoks.append(len(th))
                grams.append(PY.shingle_hashes_positional(th, n).tolist())
            yield pd.DataFrame({"_id": ids, "_ntok": ntoks, "_grams": grams})

    return src.mapInPandas(gen, schema)


def repeated_span_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    min_docs: int = 2,
    hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """Exact-substring duplication profile: per document, how much of it
    is covered by n-token spans that ALSO appear in ≥ ``min_docs``
    documents (cross-document repeats — the signal behind
    suffix-array-style exact substring dedup: near-verbatim syndication,
    shared boilerplate passages, template paragraphs that survive
    document-level near-dup passes).

    Returns ``(id, total_tokens, n_spans, dup_tokens, dup_ppm)`` for
    documents with at least one such span: ``n_spans`` counts MAXIMAL
    duplicated runs (overlapping/adjacent windows merged), ``dup_tokens``
    the exact union length of all duplicated windows (interval-union
    math over window start positions: first window contributes ``n``,
    each next ``min(gap, n)``), ``dup_ppm`` the integer-ppm coverage.

    Scale shape: one Arrow shingling pass materialized once
    (``localCheckpoint`` — it feeds the document-frequency aggregate AND
    the hit join), explode → hash-keyed duplicate-shingle aggregate
    (uniform keys; hot boilerplate shingles are exactly the skew AQE's
    skew-join split handles), semi-join back, per-document window for
    the interval union (partitioned by doc — parallel).  No self-join,
    no quadratic stage; the candidate volume is #duplicated-window
    occurrences, not #pairs.
    """
    from pyspark.sql import Window as W

    _tune_session(df)
    if hash_mode == P.PORTABLE:
        grams = positional_shingles_vectorized(df, id_col, text_col, n=n)
    else:
        # fast (xxhash64) shingle keys: pure-codegen SQL twin of the
        # Arrow pass — the production keyspace at corpus scale (see
        # :func:`with_shingle_hashes` for the collision envelope)
        text = f"coalesce({text_col}, '')"
        grams = (
            df.select(
                F.col(id_col).alias("_id"),
                F.expr(P.hash_array(P.tokens(text, SPARK), SPARK, hash_mode))
                .alias("_th"),
            )
            .withColumn("_ntok", F.expr(P.size("_th", SPARK)).cast("long"))
            .withColumn(
                "_grams", F.expr(P.token_hash_ngrams_all("_th", n, SPARK, hash_mode))
            )
            .select("_id", "_ntok", "_grams")
        )
    grams = grams.transform(ckpt_lazy)
    pos = grams.select(
        "_id", "_ntok", F.posexplode("_grams").alias("_pos0", "_sh")
    ).select("_id", "_ntok", (F.col("_pos0") + 1).alias("_pos"), "_sh")
    dup = (
        pos.groupBy("_sh")
        .agg(F.count_distinct("_id").alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("_sh")
    )
    hits = pos.join(dup, on="_sh", how="leftsemi")
    w = W.partitionBy("_id").orderBy("_pos")
    gapped = hits.withColumn("_prev", F.lag("_pos").over(w))
    agg = gapped.groupBy("_id", "_ntok").agg(
        F.sum(
            F.when(F.col("_prev").isNull() | (F.col("_pos") - F.col("_prev") > n), 1)
            .otherwise(0)
        ).alias("n_spans"),
        F.sum(
            F.when(F.col("_prev").isNull(), F.lit(n)).otherwise(
                F.least(F.col("_pos") - F.col("_prev"), F.lit(n))
            )
        ).alias("dup_tokens"),
    )
    return agg.select(
        F.col("_id").alias(id_col),
        F.col("_ntok").alias("total_tokens"),
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("dup_tokens").cast("long").alias("dup_tokens"),
        F.expr("CASE WHEN _ntok = 0 THEN 0L ELSE dup_tokens * 1000000 div _ntok END")
        .alias("dup_ppm"),
    )


def remove_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    min_docs: int = 2,
    hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """Exact-substring deduplication SURGERY: rewrite every document by
    removing n-token windows that also occur in ≥ ``min_docs`` documents,
    keeping ONE canonical occurrence corpus-wide (the (doc, position)-
    lexicographic first) — the distributed counterpart of suffix-array
    exact substring dedup for training corpora (boilerplate passages,
    syndicated paragraphs, license headers that survive document-level
    near-dup passes).  :func:`repeated_span_profile` measures the
    duplication; this operator CUTS it.

    Returns one row per input document:
    ``(id, total_tokens, removed_tokens, removed_ppm, clean_text)``.
    ``clean_text`` is the kept-token stream re-joined with single spaces
    (the portable whitespace tokenizer is lossy by design — production
    callers slicing original bytes would carry char offsets through the
    same plan).  A token is removed iff it is covered by at least one
    non-canonical duplicated window; overlapping removable windows merge
    into intervals before the per-token test.

    Scale shape: one token/shingle projection (codegen SQL — no Python),
    checkpointed once for the positional explode AND the final rewrite;
    window-hash-keyed duplicate + canonical-occurrence aggregates (both
    partial/merge-able; hot boilerplate hashes are per-key LINEAR —
    occurrence lists, never pairs); per-doc interval merge via one
    sorted-array fold; the rewrite itself is a per-row higher-order
    filter — no corpus-wide window, no self-join, no quadratic stage.
    """
    from .fanout import fan_out_small

    _tune_session(df)
    df = fan_out_small(df)
    text = f"coalesce({text_col}, '')"
    base = (
        df.select(
            F.col(id_col).alias("_id"),
            F.expr(P.tokens(text, SPARK)).alias("_toks"),
        )
        .withColumn("_th", F.expr(P.hash_array("_toks", SPARK, hash_mode)))
        .withColumn(
            "_grams", F.expr(P.token_hash_ngrams_all("_th", n, SPARK, hash_mode))
        )
        .select("_id", "_toks", "_grams")
        .transform(ckpt_lazy)
    )
    pos = base.select("_id", F.posexplode("_grams").alias("_p0", "_sh")).select(
        "_id", (F.col("_p0") + 1).alias("_pos"), "_sh"
    )
    # ONE window-hash aggregate carries both signals — the duplicate
    # gate (distinct-doc count) AND the canonical occurrence (the
    # (doc, pos)-lexicographic min over ALL of the hash's occurrences,
    # identical to computing it over the qualifying subset) — so the
    # plan pays one _sh shuffle + one join instead of two of each
    spans = (
        pos.groupBy("_sh")
        .agg(
            F.count_distinct("_id").alias("_nd"),
            F.min(
                F.struct(F.col("_id").alias("i"), F.col("_pos").alias("p"))
            ).alias("_c"),
        )
        .where(F.col("_nd") >= min_docs)
        .select("_sh", "_c")
    )
    removable = (
        pos.join(spans, on="_sh")
        .where(~((F.col("_id") == F.col("_c.i")) & (F.col("_pos") == F.col("_c.p"))))
        .select("_id", "_pos")
    )
    # merge sorted window starts into disjoint [s, e] token intervals —
    # the per-token coverage test below is then O(intervals), not
    # O(removable windows)
    ivs = (
        removable.groupBy("_id")
        .agg(F.array_sort(F.collect_list("_pos")).alias("_starts"))
        .withColumn(
            "_ivs",
            F.expr(
                f"""
        aggregate(_starts,
          cast(array() as array<struct<s:int,e:int>>),
          (acc, s) -> case
            when size(acc) = 0 or s > element_at(acc, -1).e + 1
              then array_append(acc, named_struct('s', s, 'e', s + {n - 1}))
            else concat(slice(acc, 1, size(acc) - 1),
                        array(named_struct('s', element_at(acc, -1).s,
                                           'e', greatest(element_at(acc, -1).e,
                                                         s + {n - 1}))))
          end)
        """
            ),
        )
        .select("_id", "_ivs")
    )
    joined = base.join(ivs, on="_id", how="left").withColumn(
        "_kept",
        F.expr(
            "case when _ivs is null then _toks else "
            "filter(_toks, (t, i) -> "
            "not exists(_ivs, iv -> i + 1 >= iv.s and i + 1 <= iv.e)) end"
        ),
    )
    return joined.select(
        F.col("_id").alias(id_col),
        F.size("_toks").cast("long").alias("total_tokens"),
        (F.size("_toks") - F.size("_kept")).cast("long").alias("removed_tokens"),
        F.expr(
            "case when size(_toks) = 0 then 0L else "
            "cast(size(_toks) - size(_kept) as bigint) * 1000000 div size(_toks) end"
        ).alias("removed_ppm"),
        F.array_join("_kept", " ").alias("clean_text"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    min_containment_ppm: int = 800_000,
    signature: str = "vectorized",
    max_shingle_df: int | None = None,
    method: str = "index",
    hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """ASYMMETRIC set-containment join: ordered pairs where either
    direction's containment ``|Sa ∩ Sb| / |Sa|`` (integer ppm over
    distinct n-gram shingle hashes) clears the threshold — the
    subset-duplication detector Jaccard misses: a short document quoted
    verbatim inside a much longer one has containment ≈ 1 but Jaccard
    ≈ \\|small\\|/\\|large\\| ≈ 0, so symmetric near-dup passes never pair
    them.

    Scale shape mirrors :func:`ngram_jaccard_pairs`' inverted index:
    one Arrow shingle pass (checkpointed — both self-join aliases read
    it), equi-join on the shingle hash, pair-keyed count = exact
    intersection, integer-ppm division.  Any qualifying pair shares
    ≥ ``min_containment_ppm`` of the SMALLER side's shingles, so it
    certainly shares ≥1 shingle — candidate generation is lossless.
    The hot-shingle skew caveat is the same as the Jaccard join's, and
    so is the knob: ``max_shingle_df`` drops corpus-frequent shingles
    from CANDIDATE GENERATION only (a hot shingle mints candidate
    pairs quadratically in its document frequency); containment is
    then re-verified EXACTLY from the full hash sets, so returned
    values never change — only recall over pairs whose every shared
    shingle is ultra-common is traded, the standard production cut.

    ``method="prefix"`` = LOSSLESS prefix-filter candidates, the
    containment analogue of :func:`_jaccard_prefix_candidates`.  The
    qualifying condition ``max(i/sa, i/sb) >= t`` forces
    ``i >= ceil(t * min(sa, sb))``, so under the global
    document-frequency order the SMALLER set's
    ``m - ceil(t*m) + 1``-prefix must contain a shared element; each
    pair is probed exactly once from its (size, id)-lexicographic
    smaller side against the other side's FULL postings, with the
    first-shared-element positional bound ``i <= 1 + (m - pa)`` pruning
    candidates before the exact ``array_intersect`` verify.  Cuts the
    probe-side index by the threshold fraction and keeps hot shingles
    out of the smaller-side prefixes (rarest-first order), without the
    ``max_shingle_df`` recall trade.
    """
    if method not in ("index", "prefix"):
        raise ValueError(f"method must be 'index' or 'prefix'; got {method!r}")
    if method == "prefix" and max_shingle_df is not None:
        raise ValueError(
            "method='prefix' is lossless and incompatible with the lossy "
            "max_shingle_df knob — pass one or the other"
        )
    _tune_session(df)
    if signature == "vectorized" and hash_mode == P.PORTABLE:
        prepped = shingle_hashsets_vectorized(df, id_col, text_col, n=n)
    else:
        # fast (xxhash64) mode goes through the SQL chain — the Arrow
        # twin mirrors the portable hash only (collision envelope in
        # :func:`with_shingle_hashes`)
        prepped = with_shingle_hashes(df, text_col, n, hash_mode=hash_mode).select(
            F.col(id_col).alias("_id"),
            F.array_distinct("shingle_hashes").alias("_hashset"),
        )
    prepped = prepped.withColumn("_size", F.size("_hashset")).transform(ckpt_lazy)
    exploded = prepped.select("_id", "_size", F.explode("_hashset").alias("_h"))
    if method == "prefix":
        ppm = int(min_containment_ppm)
        # i >= ceil(ppm * m / 1e6)  (integer-exact form of i*1e6 div m >= ppm)
        prefix_len = F.expr(
            f"CAST(_size - ((CAST({ppm} AS BIGINT) * _size + 999999) DIV 1000000)"
            " + 1 AS INT)"
        )
        freq = exploded.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
        prefixes = (
            exploded.join(freq, on="_h")
            .groupBy("_id", "_size")
            .agg(F.array_sort(F.collect_list(F.struct("_df", "_h"))).alias("_sorted"))
            .select(
                "_id", "_size",
                F.posexplode(F.slice("_sorted", 1, prefix_len)).alias("_pos", "_e"),
            )
            .select(
                "_id", "_size", "_pos",
                F.col("_e._df").alias("_df"), F.col("_e._h").alias("_h"),
            )
        )
        p, e = prefixes.alias("p"), exploded.alias("e")
        matched = (
            p.join(e, F.col("p._h") == F.col("e._h"))
            .where(
                (F.col("p._size") < F.col("e._size"))
                | ((F.col("p._size") == F.col("e._size"))
                   & (F.col("p._id") < F.col("e._id")))
            )
            .select(
                F.col("p._id").alias("_pid"), F.col("e._id").alias("_eid"),
                F.col("p._size").alias("_m"),
                F.struct(
                    F.col("p._df").alias("_df"), F.col("p._h").alias("_h"),
                    F.col("p._pos").alias("_pa"),
                ).alias("_mt"),
            )
        )
        first = matched.groupBy("_pid", "_eid").agg(
            F.first("_m").alias("_m"), F.min("_mt").alias("_mt")
        )
        need_m = F.expr(
            f"(CAST({ppm} AS BIGINT) * _m + 999999) DIV 1000000"
        )
        candidates = (
            first.where(F.lit(1) + F.col("_m") - (F.col("_mt._pa") + 1) >= need_m)
            .select(
                F.least("_pid", "_eid").alias("_ida"),
                F.greatest("_pid", "_eid").alias("_idb"),
            )
            .dropDuplicates(["_ida", "_idb"])
        )
        sets = prepped.select("_id", "_hashset", "_size")
        paired = (
            candidates.join(
                sets.select(F.col("_id").alias("_ida"),
                            F.col("_hashset").alias("_set_a"),
                            F.col("_size").alias("_sza")), on="_ida")
            .join(
                sets.select(F.col("_id").alias("_idb"),
                            F.col("_hashset").alias("_set_b"),
                            F.col("_size").alias("_szb")), on="_idb")
        )
        inter = paired.withColumn(
            "_i", F.size(F.array_intersect("_set_a", "_set_b"))
        ).select("_ida", "_idb", "_sza", "_szb", "_i")
    elif max_shingle_df is not None:
        # candidates from RARE shingles only; exact intersections
        # recomputed from the FULL hash sets below (join counts would
        # undercount once shingles are dropped)
        freq = exploded.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
        keep = freq.where(F.col("_df") <= max_shingle_df).select("_h")
        rare = exploded.join(keep, on="_h")
        l, r = rare.alias("l"), rare.alias("r")
        candidates = (
            l.join(r, on="_h")
            .where(F.col("l._id") < F.col("r._id"))
            .select(F.col("l._id").alias("_ida"), F.col("r._id").alias("_idb"))
            .dropDuplicates(["_ida", "_idb"])
        )
        sets = prepped.select("_id", "_hashset", "_size")
        paired = (
            candidates.join(
                sets.select(F.col("_id").alias("_ida"),
                            F.col("_hashset").alias("_set_a"),
                            F.col("_size").alias("_sza")), on="_ida")
            .join(
                sets.select(F.col("_id").alias("_idb"),
                            F.col("_hashset").alias("_set_b"),
                            F.col("_size").alias("_szb")), on="_idb")
        )
        inter = paired.withColumn(
            "_i", F.size(F.array_intersect("_set_a", "_set_b"))
        ).select("_ida", "_idb", "_sza", "_szb", "_i")
    else:
        a, b = exploded.alias("a"), exploded.alias("b")
        inter = (
            a.join(b, on="_h")
            .where(F.col("a._id") < F.col("b._id"))
            .groupBy(
                F.col("a._id").alias("_ida"), F.col("b._id").alias("_idb"),
                F.col("a._size").alias("_sza"), F.col("b._size").alias("_szb"),
            )
            .agg(F.count(F.lit(1)).alias("_i"))
        )
    return (
        inter.withColumn("a_in_b_ppm", F.expr("_i * 1000000 div _sza"))
        .withColumn("b_in_a_ppm", F.expr("_i * 1000000 div _szb"))
        .where(
            F.greatest("a_in_b_ppm", "b_in_a_ppm") >= F.lit(min_containment_ppm)
        )
        .select(
            F.col("_ida").alias(f"{id_col}_a"),
            F.col("_idb").alias(f"{id_col}_b"),
            "a_in_b_ppm", "b_in_a_ppm",
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_dist: int = 1,
) -> DataFrame:
    """All pairs of rows whose ``text_col`` values are within edit
    (Levenshtein) distance ``max_dist`` — currently distance 1, via the
    SymSpell deletion-neighborhood join (Garbe's symmetric-delete
    trick): two strings at distance <= 1 ALWAYS share a member of each
    other's {self} ∪ {one-char-deletions} set, so

    1. each row explodes into its ``len+1`` deletion variants (pure
       JVM string expressions, no shuffle);
    2. candidate pairs come from the variant equi-join — an inverted
       index on variant keys, same shape as the n-gram Jaccard join:
       pair fan-out is bounded by variant-bucket occupancy, never
       |corpus|^2;
    3. the exact ``levenshtein() <= max_dist`` check verifies (the
       neighborhood is a SUPERSET: e.g. two equal-length strings
       differing by two substitutions can share a variant).

    Output: (id_a, id_b, dist) with ``id_a < id_b``, exact and
    deterministic.  Distance > 1 would need deletion-depth-k
    neighborhoods (variant count ~ len^k) — rejected loudly for now.
    """
    if max_dist != 1:
        raise ValueError(
            "edit_distance_pairs supports max_dist=1 (deletion-"
            f"neighborhood depth 1); got {max_dist}"
        )
    _tune_session(df)
    t = text_col
    variants = (
        f"array_distinct(concat(array({t}), "
        f"case when length({t}) < 1 then cast(array() as array<string>) "
        f"else transform(sequence(1, length({t})), "
        f"i -> concat(substring({t}, 1, i - 1), "
        f"substring({t}, i + 1, length({t})))) end))"
    )
    v = df.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_txt"),
        F.explode(F.expr(variants)).alias("_var"),
    )
    a, b = v.alias("a"), v.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a._var") == F.col("b._var"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._txt").alias("_ta"),
            F.col("b._txt").alias("_tb"),
        )
        .distinct()
    )
    return (
        pairs.withColumn(
            "dist", F.levenshtein("_ta", "_tb").cast("long")
        )
        .where(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def hamming_near_pairs(
    sig: DataFrame,
    id_col: str,
    hash_col: str,
    *,
    fp_bits: int = 64,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Generic pigeonhole-banded Hamming join over a PRECOMPUTED
    fingerprint frame ``(id_col, hash_col)`` — the signature-agnostic
    core of :func:`simhash_near_pairs`, reused by image perceptual
    hashing (``multimodal.image_near_dup_pairs``) and any other fixed-
    width binary fingerprint.  Output: ``(<id>_a, <id>_b, hamming)``
    with ``hamming <= max_hamming``, each unordered pair once
    (``a < b``), recall 1.0 by the pigeonhole guarantee.

    ``fp_bits=64`` uses the FULL signed long: band extraction uses the
    LOGICAL right shift (``shiftrightunsigned``) so negative hashes
    don't sign-extend into high bands.  Same scale shape and hot-band
    caveats as :func:`simhash_near_pairs` (band width = occupancy knob).

    FINGERPRINT-MULTIPLICITY COLLAPSE (round-7): the banded self-join
    runs over the DISTINCT fingerprints, not the rows — on self-similar
    corpora many documents share a fingerprint, and every band
    collision between two hot fingerprints used to fan out
    ``mult_a * mult_b`` id-pair candidates through the shuffle+distinct
    (measured sf0.1 documents: 14M id-pair candidates vs 5.3M hash-pair
    candidates — and the verify now runs once per hash PAIR, not once
    per id pair).  Identical-fingerprint pairs (hamming 0) come from a
    per-fingerprint equi-join that is exactly output-sized; qualifying
    cross-fingerprint hash pairs expand back through two output-sized
    id joins.  Semantics are unchanged — recall 1.0, each unordered id
    pair exactly once."""
    if max_hamming >= bands:
        raise ValueError("pigeonhole banding needs max_hamming < bands")
    if fp_bits % bands:
        raise ValueError("bands must divide fp_bits")
    width = fp_bits // bands
    mask = (1 << width) - 1
    # EAGER: three independent downstream stages (hash-pair banding,
    # same-fingerprint pairs, cross expansion) read this frame — with a
    # lazy checkpoint Spark's scheduler can run them concurrently and
    # each races to compute the (often Python-signature) pipeline
    # before the block lands in the cache, tripling the expensive
    # stage.  One eager job pins it exactly once.
    s = sig.select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_h")
    ).transform(ckpt_eager)
    hashes = s.select("_h").distinct().transform(ckpt_lazy)
    chunks = hashes.select(
        "_h",
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("c"),
                F.shiftrightunsigned("_h", c * width)
                .bitwiseAND(F.lit(mask)).alias("v"),
            )
            for c in range(bands)
        ])).alias("chunk"),
    ).select("_h", "chunk.c", "chunk.v")
    a, b = chunks.alias("a"), chunks.alias("b")
    hpairs = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.v") == F.col("b.v"))
               & (F.col("a._h") < F.col("b._h")))
        .select(F.col("a._h").alias("_ha"), F.col("b._h").alias("_hb"))
        .distinct()  # a close hash pair can collide in several bands
        .withColumn("hamming", F.bit_count(F.expr("_ha ^ _hb")).cast("int"))
        .where(F.col("hamming") <= max_hamming)
    )
    sa, sb = s.alias("sa"), s.alias("sb")
    same = (
        sa.join(sb, (F.col("sa._h") == F.col("sb._h"))
                & (F.col("sa._id") < F.col("sb._id")))
        .select(
            F.col("sa._id").alias(f"{id_col}_a"),
            F.col("sb._id").alias(f"{id_col}_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    cross = (
        hpairs.join(sa, F.col("sa._h") == F.col("_ha"))
        .join(sb, F.col("sb._h") == F.col("_hb"))
        .select(
            F.least(F.col("sa._id"), F.col("sb._id")).alias(f"{id_col}_a"),
            F.greatest(F.col("sa._id"), F.col("sb._id")).alias(f"{id_col}_b"),
            "hamming",
        )
    )
    return same.unionByName(cross)


def qgram_edit_distance_pairs(
    df: DataFrame,
    str_col: str,
    *,
    max_distance: int = 2,
    q: int = 2,
) -> DataFrame:
    """All DISTINCT-string pairs within Levenshtein distance
    ``max_distance`` — fuzzy vocabulary matching (catalog/entity-name
    normalization, near-miss label reconciliation), LOSSLESS.
    Complements :func:`edit_distance_pairs` (SymSpell deletion
    neighborhoods, id-level pairs, depth 1 only): for ``k = 1`` prefer
    SymSpell's smaller index; this is the general-``k`` path.

    Plan (the q-gram count-filter family, Gravano et al. VLDB'01):

    * distinct strings only — multiplicity never changes the pair set,
      and real vocabularies are tiny next to their corpora;
    * **length filter**: ``|len(a) - len(b)| <= k`` always;
    * **count filter** (strings long enough for it): one edit destroys
      at most ``q`` positional q-grams, so distance <= k forces
      ``shared q-grams (with multiplicity) >= maxlen - q + 1 - k*q``.
      Shared counts come from an inverted q-gram index: per-string
      gram tf's, equi-join on the gram, ``SUM(LEAST(tf_a, tf_b))``
      per pair — the same multiset-intersection shape as
      :func:`weighted_jaccard_pairs`, shuffle keyed by gram;
    * **short stratum**: strings with ``len < (k+1)*q`` can sit within
      distance k while sharing ZERO q-grams ("ab" vs "cd"), so the
      count filter is inapplicable — they pair through a length-banded
      join instead (band = exact length, each band joined to bands
      within k).  Lossless because of the length filter; scale
      contract: the short stratum is a closed, small set in any real
      vocabulary (single characters to ~2*q-gram words).
    * exact ``levenshtein() <= k`` verify on every candidate — the
      DP distance is identically defined in Spark and DuckDB, and it
      is an INTEGER, so the oracle matches exactly.

    Returns ``(<col>_a, <col>_b, distance)``, each unordered pair once
    (``a < b`` lexicographically).
    """
    k, fa, fb = int(max_distance), f"{str_col}_a", f"{str_col}_b"
    if k < 0 or q < 1:
        raise ValueError("max_distance must be >= 0 and q >= 1")
    names = (
        df.select(F.col(str_col).alias("_s"))
        .where(F.col("_s").isNotNull())
        .distinct()
        .withColumn("_len", F.length("_s"))
        .transform(ckpt_lazy)
    )
    short_floor = (k + 1) * q  # below this, the count bound is <= 0

    # --- long stratum: inverted q-gram index + count filter ----------
    longs = names.where(F.col("_len") >= short_floor)
    grams = longs.select(
        "_s", "_len",
        F.explode(
            F.expr(f"transform(sequence(1, _len - {q} + 1),"
                   f" i -> substring(_s, i, {q}))")
        ).alias("_g"),
    ).groupBy("_s", "_len", "_g").agg(F.count(F.lit(1)).alias("_tf"))
    ga, gb = grams.alias("ga"), grams.alias("gb")
    shared = (
        ga.join(gb, (F.col("ga._g") == F.col("gb._g"))
                & (F.col("ga._s") < F.col("gb._s"))
                # length filter INSIDE the gram join: prunes before the
                # pair aggregate
                & (F.abs(F.col("ga._len") - F.col("gb._len")) <= k))
        .groupBy(
            F.col("ga._s").alias("_a"), F.col("gb._s").alias("_b"),
            F.col("ga._len").alias("_la"), F.col("gb._len").alias("_lb"),
        )
        .agg(F.sum(F.least(F.col("ga._tf"), F.col("gb._tf"))).alias("_shared"))
        .where(
            F.col("_shared")
            >= F.greatest(F.col("_la"), F.col("_lb")) - q + 1 - k * q
        )
        .select("_a", "_b")
    )

    # --- short stratum: a short string can sit within distance k of
    # ANY string at most k longer while sharing zero q-grams, so every
    # (short, anything-within-k-length) pair is a candidate.  The
    # short side broadcasts (closed small set — see docstring); the
    # scan side is pre-pruned by the length filter.  least/greatest
    # canonicalizes so short-vs-long pairs survive regardless of
    # lexicographic order; distinct dedupes the short-short doubles.
    shorts = names.where(F.col("_len") < short_floor)
    sa = shorts.select(F.col("_s").alias("_x"), F.col("_len").alias("_lx"))
    nb = names.select(F.col("_s").alias("_y"), F.col("_len").alias("_ly"))
    short_pairs = (
        nb.join(
            F.broadcast(sa),
            (F.col("_x") != F.col("_y"))
            & (F.abs(F.col("_lx") - F.col("_ly")) <= k),
        )
        .select(
            F.least("_x", "_y").alias("_a"),
            F.greatest("_x", "_y").alias("_b"),
        )
    )

    candidates = shared.unionByName(short_pairs).distinct()
    return (
        candidates.withColumn("distance", F.levenshtein("_a", "_b"))
        .where(F.col("distance") <= k)
        .select(
            F.col("_a").alias(fa), F.col("_b").alias(fb), "distance"
        )
    )


def crosscorpus_novelty(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    hash_mode: str = P.PORTABLE,
) -> DataFrame:
    """Per-document NOVELTY of a new batch against a reference corpus:
    the ppm of each new document's distinct word ``n``-gram shingles
    that appear NOWHERE in the reference — the acquisition-time
    question ("how much of this crawl is actually new text?") that
    pair-level cross-corpus joins (:func:`ngram_jaccard_join`) answer
    only indirectly.  Novelty 0 = fully covered by the existing corpus
    (skip it); 1e6 = entirely unseen.

    Scale shape: both corpora shingle once (distinct hashes — set
    semantics); the reference side collapses to its DISTINCT shingle
    vocabulary (map-side combined — the vocabulary, not the corpus);
    the probe is one hash-keyed LEFT join (inverted index; hot
    boilerplate shingles are per-key linear), then a per-doc rollup.
    No pairs are ever materialized — candidate volume is shingle
    OCCURRENCES, not document pairs.  ``hash_mode="fast"`` for corpus
    scale, as everywhere (see :func:`with_shingle_hashes`).

    Returns ``(id_col, n_shingles, novel_shingles, novelty_ppm)``;
    documents shorter than ``n`` tokens report 0 shingles, 0 ppm.
    """
    _tune_session(new_df)
    probe = with_shingle_hashes(
        new_df, text_col, n, hash_mode=hash_mode
    ).select(F.col(id_col), F.explode("shingle_hashes").alias("_h"))
    vocab = (
        with_shingle_hashes(ref_df, text_col, n, hash_mode=hash_mode)
        .select(F.explode("shingle_hashes").alias("_h"))
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    per_doc = (
        probe.join(vocab, "_h", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0))
            .cast("long").alias("novel_shingles"),
        )
    )
    return (
        new_df.select(id_col)
        .join(per_doc, id_col, "left")
        .na.fill({"n_shingles": 0, "novel_shingles": 0})
        .withColumn(
            "novelty_ppm",
            F.when(
                F.col("n_shingles") > 0,
                F.expr("novel_shingles * 1000000 div n_shingles"),
            ).otherwise(F.lit(0)).cast("long"),
        )
    )

"""Similarity search over embedding columns (``array<float>``).

North-star operators (BASELINE.json): nearest-neighbor search and
near-duplicate detection over an embedding column.

* :func:`cosine_topk` / :func:`cosine_topk_vectorized` — brute-force
  exact top-k: broadcast the (small) query set, one scan over the
  corpus, per-query top-k.  At 100 TB this is the correct *exact* plan:
  embarrassingly parallel scan, shuffle only of (n_queries ×
  corpus_partitions × k) candidate rows.
* :func:`assign_cells_vectorized` + :func:`ivf_topk_from_cells` —
  IVF-style bucketed ANN: corpus vectors are assigned to their nearest
  centroid once (scan + broadcast of centroids), queries probe only
  their own cell → the scan shrinks by ~|cells|.
* :func:`with_lsh_bucket_vectorized` — sign-of-dot-product LSH bucket
  with deterministic pseudo-hyperplanes; :func:`hyperplane_signature`
  is the same signature as a portable SQL expression (the oracle side).
* :func:`embedding_near_dup_pairs` — near-duplicate vector pairs
  (cosine ≥ threshold), size-gated between the exact all-pairs scan and
  banded LSH: the embedding-space dedup path.

Every dot product accumulates left to right from +0.0, the DuckDB
oracle's fold order, so cosines are bit-identical to the oracle.  Row
pairs that a join has already formed are scored by a SQL expression
(``_cos``: a ``zip_with`` + ``aggregate`` fold, or an unrolled sum when
the dimension is known); scans against a broadcast matrix run in numpy
over Arrow batches (``_seq_dot_matrix``).  ``cosine_topk`` is the one
operator with both backends: its catalog callers move to the vectorized
twin only per measured A/B.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import portable as P
from ..core.checkpoint import ckpt_lazy, materialize_observed

SPARK = P.SPARK


def _as_double(col: str) -> str:
    return P.cast_double_array(col, SPARK)


def _cos(a: str, b: str, dim: int | None) -> str:
    """Cosine expression: unrolled codegen form when the dimension is
    known (HOF folds are interpreted — ~10x slower), fold otherwise."""
    if dim is not None:
        return P.cosine_unrolled(a, b, dim, SPARK)
    return P.cosine(_as_double(a), _as_double(b), SPARK)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank).

    Self-matches (same id) are excluded.  ``queries`` is broadcast — the
    corpus scan is the only large-data pass.  Pass ``dim`` when known to
    get the unrolled codegen'd dot product.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.expr(_cos("_qvec", "_cvec", dim)))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_topk_from_cells(
    corpus_cells: DataFrame,
    query_cells: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """IVF top-k (1-probe) over pre-assigned cells: each query scores
    only the corpus vectors of its own cell.  Cells come from
    :func:`assign_cells_vectorized`; when queries come from the corpus
    itself, one assignment pass serves both sides.  Approximate by
    construction; the oracle replays the identical cell assignment."""
    c = corpus_cells.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec"), "centroid_id"
    )
    q = query_cells.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec"), "centroid_id"
    )
    scored = (
        c.join(F.broadcast(q), on="centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.expr(_cos("_qvec", "_cvec", dim)))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "centroid_id", "neighbor_id", "cosine", "rank")
    )


def hyperplane_signature(vec_col: str, n_planes: int, dim: int) -> str:
    """Deterministic random-hyperplane LSH signature as a Spark/DuckDB-
    portable integer: bit p = 1 iff dot(vec, plane_p) > 0.

    Plane components come from a fixed arithmetic formula
    ``((p*31 + i*17) % 7) - 3`` — integer weights in [-3, 3], identical in
    both dialects, no randomness at runtime (Date/random are banned in
    driver workflows and non-portable anyway).
    """

    def plane_dot(p: int, d: str) -> str:
        dbl = P.cast_double_array(vec_col, d)
        idx = P.int_sequence(1, str(dim), d)
        prods = P.transform(
            idx, "i", f"{P.element(dbl, 'i', d)} * ((({p} * 31 + i * 17) % 7) - 3)", d
        )
        return P.reduce_double(prods, "0", "acc + c", d)

    def build(d: str) -> str:
        bits = [
            f"(case when ({plane_dot(p, d)}) > 0 then {1 << p} else 0 end)"
            for p in range(n_planes)
        ]
        return "(" + " + ".join(bits) + ")"

    return build


def embedding_near_dup_pairs_banded(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bands: int = 6,
    planes_per_band: int = 12,
    max_bucket_size: int | None = 100_000,
    seed: int = 9,
    cosine_dim: int | None = None,
) -> DataFrame:
    """Banded random-hyperplane LSH near-dup pairs — the CORPUS-SCALE
    approximate path (high recall by band amplification, bounded
    candidate volume by bucket granularity).

    A single 6-plane signature has 2^6 = 64 buckets TOTAL, so pair
    volume within a bucket is quadratic in n/64: unusable at a billion
    vectors.  Banding fixes both axes at once:

    * each of ``bands`` bands hashes the vector with its OWN
      ``planes_per_band`` hyperplanes → 2^planes_per_band buckets per
      band (4096 at the default) — occupancy n/4096, not n/64;
    * a pair is a candidate if it collides in ANY band: at cosine 0.95
      (plane-agreement ~0.9) recall is 1-(1-0.9^12)^6 ≈ 0.86 vs 0.53
      for a single 6-plane signature.  Raise ``planes_per_band``
      (narrower buckets, lower per-band recall) and ``bands`` (recall
      back up) together for larger corpora.

    Planes come from a seeded numpy generator (deterministic across
    runs and machines) applied in one Arrow pass; signs-of-dots need no
    cross-engine fold exactness because the candidate set is
    approximate by contract — every surviving pair is verified with the
    exact portable cosine, so precision is 1.0 and only recall is
    approximate.  ``max_bucket_size`` drops degenerate mega-buckets
    (near-constant vectors) — the same cap contract as the MinHash
    banding in ``operators/dedup.py``.
    """
    def sigs(batches):
        import numpy as np
        import pandas as pd

        pl = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = _matrix(pdf[vec_col])
            if pl is None or pl.shape[1] != mat.shape[1]:
                # same seed + same dim => the same plane matrix on every
                # executor and every run (PCG64 is fully specified)
                pl = np.random.default_rng(seed).standard_normal(
                    (bands * planes_per_band, mat.shape[1])
                )
            bits = (mat @ pl.T) > 0  # (n, bands*ppb)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            out = {"_id": np.repeat(ids, bands), "_band": np.tile(
                np.arange(bands, dtype=np.int64), len(ids))}
            weights = (1 << np.arange(planes_per_band)).astype(np.int64)
            sig = bits.reshape(len(ids), bands, planes_per_band) @ weights
            out["_sig"] = sig.reshape(-1)
            yield pd.DataFrame(out)

    keyed = df.select(id_col, vec_col).mapInPandas(
        sigs, "_id long, _band long, _sig long"
    )
    if max_bucket_size is not None:
        sizes = keyed.groupBy("_band", "_sig").agg(F.count(F.lit(1)).alias("_bs"))
        keyed = keyed.join(
            sizes.where(F.col("_bs") <= max_bucket_size).select("_band", "_sig"),
            ["_band", "_sig"],
        )
    cand = (
        keyed.alias("l")
        .join(keyed.alias("r"), on=["_band", "_sig"])
        .where(F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias(f"{id_col}_a"),
            F.col("r._id").alias(f"{id_col}_b"),
        )
        .distinct()  # a pair colliding in several bands emits once
    )
    vecs = df.select(F.col(id_col).alias("_vid"), F.col(vec_col).alias("_v"))
    return (
        cand.join(vecs.withColumnRenamed("_vid", f"{id_col}_a")
                  .withColumnRenamed("_v", "_va"), on=f"{id_col}_a")
        .join(vecs.withColumnRenamed("_vid", f"{id_col}_b")
              .withColumnRenamed("_v", "_vb"), on=f"{id_col}_b")
        .withColumn("cosine", F.expr(_cos("_va", "_vb", cosine_dim)))
        .where(F.col("cosine") >= threshold)
        .select(f"{id_col}_a", f"{id_col}_b", "cosine")
    )


# --------------------------------------------------------------------------
# Vectorized (Arrow + numpy) scale path
# --------------------------------------------------------------------------
# The fold-based dot product (``_cos``) is JVM-side but interpreted (Spark's
# higher-order functions don't codegen).  For the brute-force scan the
# winning design at scale is: broadcast the small side as a dense float64
# matrix, stream the corpus through ``mapInPandas`` in Arrow batches, and
# do the arithmetic in numpy.  Accumulating over the dimension axis
# SEQUENTIALLY (one fused add per component) reproduces the exact IEEE
# operation order of ``portable.dot``'s left fold, so the cosines are
# BIT-IDENTICAL to the HOF/DuckDB values — no rescoring pass needed.


def _seq_dot_matrix(a, b):
    """(n,d) x (m,d) -> (n,m) dot products in ``portable.dot``'s exact
    fold order: acc starts at +0.0 and adds one component product at a
    time, left to right.  (A BLAS ``a @ b.T`` uses blocked/pairwise
    summation — different rounding, so threshold-boundary pairs could
    flip vs the oracle.)

    Computed in column blocks sized so the accumulator stays
    cache-resident, with preallocated temporaries: the d sequential
    passes over a full (n, m) accumulator were pure memory traffic
    (measured 1.4s for 2000x2000x64 vs ~0.2s blocked).  Per-element
    rounding is identical — blocking changes WHICH outputs are computed
    together, never the order of adds within one output."""
    import numpy as np

    n, d = a.shape
    m = b.shape[0]
    out = np.empty((n, m))
    # block so n * bs doubles ~ 4 MB (L2/L3-resident accumulator)
    bs = max(64, min(m, (4 << 20) // max(8 * n, 1)))
    bt = np.ascontiguousarray(b.T)  # (d, m): rows are per-dim slices
    for lo in range(0, m, bs):
        hi = min(lo + bs, m)
        acc = np.zeros((n, hi - lo))
        tmp = np.empty_like(acc)
        for i in range(d):
            np.multiply(a[:, i : i + 1], bt[i, lo:hi][None, :], out=tmp)
            acc += tmp
        out[:, lo:hi] = acc
    return out


def _seq_sqnorm(a):
    """(n,d) -> (n,) squared norms in the same sequential fold order."""
    import numpy as np

    acc = np.zeros(a.shape[0])
    for i in range(a.shape[1]):
        acc += a[:, i] * a[:, i]
    return acc


def _matrix(pdf_col):
    """Arrow hands array<float> columns over as object arrays of
    float32 ndarrays; widen to a dense float64 matrix (exact)."""
    import numpy as np

    return np.array([np.asarray(v, dtype=np.float64) for v in pdf_col], dtype=np.float64)


def cosine_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k, vectorized: (query_id, neighbor_id, cosine, rank).

    Same contract and bit-identical results as :func:`cosine_topk`, but
    the corpus scan runs as numpy matrix arithmetic over Arrow batches:
    the query set (small by contract) is collected once and shipped to
    executors inside the ``mapInPandas`` closure; each batch emits its
    local top-k per query (ties kept), and one narrow shuffle of
    ~(batches x queries x k) candidate rows picks the global top-k.
    This is the plan that survives 100 TB: one embarrassingly parallel
    pass, no crossJoin row explosion, Python cost amortized per batch.
    """
    import numpy as np

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = _matrix([r[1] for r in q_rows])
    q_norm = np.sqrt(_seq_sqnorm(q_mat))

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_mat = _matrix(pdf[vec_col])
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            cos = _seq_dot_matrix(c_mat, q_mat) / (
                np.sqrt(_seq_sqnorm(c_mat))[:, None] * q_norm[None, :]
            )
            out_q, out_n, out_c = [], [], []
            for j in range(len(q_ids)):
                col = cos[:, j]
                keep = c_ids != q_ids[j]  # no self-matches
                col, ids = col[keep], c_ids[keep]
                if len(ids) > k:
                    kth = np.partition(col, len(col) - k)[len(col) - k]
                    sel = col >= kth  # keep boundary ties; exact top-k below
                    col, ids = col[sel], ids[sel]
                order = np.lexsort((ids, -col))[:k] if len(ids) > k else np.lexsort((ids, -col))
                out_q.append(np.full(len(order), q_ids[j]))
                out_n.append(ids[order])
                out_c.append(col[order])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "cosine": np.concatenate(out_c),
                    }
                )

    partial = corpus.select(id_col, vec_col).mapInPandas(
        gen, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def embedding_near_dup_pairs_vectorized(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """All-pairs exact near-dup scan, vectorized.

    Cosines are bit-identical to the DuckDB oracle's left-to-right fold:
    the corpus matrix is collected once and broadcast; each Arrow batch
    scores (batch x corpus) in numpy and keeps ``id_a < id_b`` pairs
    at/above threshold.  All-pairs is inherently the SMALL-corpus exact
    path (the broadcast matrix must fit an executor — ~5 GB at 10M x 64);
    :func:`embedding_near_dup_pairs` gates it on the row count.
    """
    import numpy as np

    spark = df.sparkSession
    rows = df.select(id_col, vec_col).collect()
    all_ids = np.array([r[0] for r in rows], dtype=np.int64)
    all_mat = _matrix([r[1] for r in rows])
    all_norm = np.sqrt(_seq_sqnorm(all_mat))
    bc = spark.sparkContext.broadcast((all_ids, all_mat, all_norm))

    def gen(batches):
        import pandas as pd

        b_ids, b_mat, b_norm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            l_mat = _matrix(pdf[vec_col])
            l_ids = pdf[id_col].to_numpy(dtype=np.int64)
            cos = _seq_dot_matrix(l_mat, b_mat) / (
                np.sqrt(_seq_sqnorm(l_mat))[:, None] * b_norm[None, :]
            )
            li, ri = np.nonzero((cos >= threshold) & (l_ids[:, None] < b_ids[None, :]))
            if len(li):
                yield pd.DataFrame(
                    {
                        f"{id_col}_a": l_ids[li],
                        f"{id_col}_b": b_ids[ri],
                        "cosine": cos[li, ri],
                    }
                )

    return df.select(id_col, vec_col).mapInPandas(
        gen, f"{id_col}_a long, {id_col}_b long, cosine double"
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_exact_rows: int = 100_000,
) -> DataFrame:
    """Vector pairs with cosine >= ``threshold`` (embedding-space
    near-dups): ``({id_col}_a, {id_col}_b, cosine)`` with ``a < b``.

    Size-gated on one ``count()`` of the id projection: at or below
    ``max_exact_rows`` the exact all-pairs scan
    (:func:`embedding_near_dup_pairs_vectorized`, which collects and
    broadcasts the corpus matrix — the oracle twin); above it banded LSH
    at its defaults (:func:`embedding_near_dup_pairs_banded`: no driver
    collect, high recall, every emitted pair exact-verified; call it
    directly to tune).  Both paths carry ids as ``long``, so a
    non-integral ``id_col`` raises ``TypeError`` up front.
    """
    import math

    from pyspark.sql.types import IntegralType

    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, IntegralType):
        raise TypeError(
            f"embedding_near_dup_pairs: id column {id_col!r} must be an "
            f"integral type, got {id_type.simpleString()}"
        )
    n = df.select(id_col).count()
    if n <= max_exact_rows:
        # size the Arrow fan-out to the data: the exact path is bounded
        # at max_exact_rows, and a handful of numpy batches beats 32
        # Python workers each paying startup + broadcast for a few
        # thousand rows (measured 2.3s -> sub-second at 2k vectors)
        parts = max(1, min(32, math.ceil(n / 8000)))
        return embedding_near_dup_pairs_vectorized(
            df.coalesce(parts), id_col=id_col, vec_col=vec_col,
            threshold=threshold,
        )
    return embedding_near_dup_pairs_banded(
        df, id_col=id_col, vec_col=vec_col, threshold=threshold
    )


def assign_cells_vectorized(
    corpus: DataFrame,
    centroids,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF assignment: each vector → its nearest centroid by cosine,
    appended as ``centroid_id``; the cosines replay ``portable.dot``'s
    sequential fold.  ``centroids`` is a DataFrame (collected — small by
    contract) or an already-driver-side ``[(id, [floats]), ...]`` list
    (the k-means loop holds one; passing it straight through skips a
    createDataFrame+collect round-trip per iteration).  Ties pick the
    smallest centroid id, matching the oracle's ``ORDER BY cosine DESC,
    centroid_id ASC``."""
    import numpy as np

    if isinstance(centroids, list):
        cent_rows = sorted(centroids, key=lambda r: r[0])
    else:
        cent_rows = sorted(
            centroids.select(id_col, vec_col).collect(), key=lambda r: r[0]
        )
    cent_ids = np.array([r[0] for r in cent_rows], dtype=np.int64)
    cent_mat = _matrix([r[1] for r in cent_rows])
    cent_norm = np.sqrt(_seq_sqnorm(cent_mat))

    from pyspark.sql.types import LongType, StructField, StructType

    # copy the fields — StructType.add would MUTATE the DataFrame's
    # cached schema object in place
    schema = StructType(
        corpus.select(id_col, vec_col).schema.fields
        + [StructField("centroid_id", LongType())]
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v_mat = _matrix(pdf[vec_col])
            cos = _seq_dot_matrix(v_mat, cent_mat) / (
                np.sqrt(_seq_sqnorm(v_mat))[:, None] * cent_norm[None, :]
            )
            # argmax returns the FIRST max — centroid matrix is sorted by
            # id ascending, so ties resolve to the smallest id
            pdf = pdf.copy()
            pdf["centroid_id"] = cent_ids[np.argmax(cos, axis=1)]
            yield pdf

    return corpus.select(id_col, vec_col).mapInPandas(gen, schema)


def kmeans_embeddings(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 5,
    return_state: bool = False,
):
    """Deterministic distributed spherical k-means (Lloyd's iterations)
    over an embedding column — the corpus-clustering step of curation
    pipelines (topic balancing, per-cluster sampling, semantic shard
    assignment).  Iterative state is tiny (k x d centroids on the
    driver); the corpus is only ever SCANNED:

    * **init**: the k smallest-id vectors (no RNG — repeatable runs);
    * **assign**: vectorized cosine argmax against the shipped
      centroids (:func:`assign_cells_vectorized`; smallest-centroid-id
      tie break);
    * **update**: per-cluster component means via ``posexplode`` →
      one map-side-combined (cluster, position) aggregate of k*d output
      rows — sums in EXACT DECIMAL so the new centroids are independent
      of partitioning and row order (a float-sum mean would make whole
      runs non-reproducible); an emptied cluster keeps its previous
      centroid.

    Per iteration: one corpus scan + one k*d-row aggregate — the
    canonical Spark Lloyd's shape (state never grows with the corpus).
    Returns the final (id, cluster) assignment — or, with
    ``return_state=True``, the ``(assignment, centroids)`` pair
    (centroids as the ``[(cluster, [floats]), ...]`` driver list) for
    consumers like :func:`kmeans_quality`.  Iterative and
    float-mean-based, so it is a rows-only catalog entry (no SQL oracle
    can replay the loop); determinism is pinned in pytest instead.
    """
    if k <= 0 or iters <= 0:
        raise ValueError("k and iters must be positive")
    base = df.select(id_col, vec_col)
    seed_rows = base.orderBy(F.asc(id_col)).limit(k).collect()
    centroids = [(i, list(r[vec_col])) for i, r in enumerate(seed_rows)]

    assigned = None
    for _ in range(iters):
        # driver-side centroid list straight into the assignment
        # closure — no createDataFrame+collect round-trip per iteration
        assigned = assign_cells_vectorized(base, centroids, id_col=id_col,
                                           vec_col=vec_col)
        means = (
            assigned.select("centroid_id", F.posexplode(vec_col))
            .groupBy("centroid_id", "pos")
            .agg(
                (
                    F.sum(F.col("col").cast("decimal(38,20)"))
                    / F.count(F.lit(1))
                )
                .cast("double")
                .alias("m")
            )
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in means:
            by_cluster.setdefault(r["centroid_id"], {})[r["pos"]] = r["m"]
        centroids = [
            (
                c,
                [by_cluster[c][p] for p in sorted(by_cluster[c])]
                if c in by_cluster
                else old,  # emptied cluster keeps its centroid
            )
            for c, old in centroids
        ]
    # Re-assign once from the FINAL centroids: the in-loop assignment
    # precedes the centroid update, so returning it would pair a
    # penultimate-centroid assignment with final centroids (and
    # kmeans_quality, which derives membership from the final
    # centroids, would disagree with it).  Lazy plan swap — the loop's
    # actions already ran; this adds no extra job.
    assigned = assign_cells_vectorized(base, centroids, id_col=id_col,
                                       vec_col=vec_col)
    out = assigned.select(id_col, F.col("centroid_id").alias("cluster"))
    return (out, centroids) if return_state else out


def kmeans_quality(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 5,
) -> DataFrame:
    """Clustering-quality telemetry for :func:`kmeans_embeddings` —
    the report you read before trusting cluster-balanced sampling or
    semantic shard assignment: per cluster, cohesion (mean cosine of
    members to their own centroid), the most-confusable other centroid
    and its similarity (separation), and the cohesion-minus-separation
    margin (a silhouette-style signal: positive = members sit closer
    to their own centroid than the nearest rival centroid sits).

    Scale shape: the k-means run itself (one scan + k×d aggregate per
    iteration), then ONE Arrow corpus pass that emits (cluster,
    own-cosine) per row — the assignment argmax already computes every
    member-centroid cosine, so no join and no second scoring pass —
    into a per-cluster rollup; the k×k centroid separation matrix is
    pure driver-side numpy on the k vectors already in hand (same
    sequential-fold helpers as the assignment, so the numbers agree).
    Float cosines over an iterative loop → rows-only; geometry is
    pinned in pytest on separated synthetic clusters.

    Returns ``(cluster, n_members, mean_cos_own, nearest_other,
    nearest_other_cos, margin)`` ordered by cluster.
    """
    import numpy as np

    _, centroids = kmeans_embeddings(
        df, id_col=id_col, vec_col=vec_col, k=k, iters=iters,
        return_state=True,
    )
    spark = df.sparkSession
    cent_ids = np.array([c for c, _ in centroids], dtype=np.int64)
    cent_mat = _matrix([v for _, v in centroids])
    cent_norm = np.sqrt(_seq_sqnorm(cent_mat))

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            v_mat = _matrix(pdf[vec_col])
            cos = _seq_dot_matrix(v_mat, cent_mat) / (
                np.sqrt(_seq_sqnorm(v_mat))[:, None] * cent_norm[None, :]
            )
            best = np.argmax(cos, axis=1)  # first max == smallest id
            yield pd.DataFrame(
                {
                    "cluster": cent_ids[best],
                    "_cos": cos[np.arange(len(best)), best],
                }
            )

    per_rows = (
        df.select(vec_col)
        .mapInPandas(gen, "cluster long, _cos double")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.avg("_cos").alias("mean_cos_own"),
        )
        .collect()  # k rows by contract — the per-cluster rollup
    )
    # k×k separation on the driver: same fold helpers as the scan.
    # The final report is composed HERE rather than with a broadcast
    # join: joining a k-row frame to a k-row frame costs a full
    # plan/codegen/broadcast cycle (~4 s measured) to do what one
    # dict lookup does — the rollup is already driver-sized.
    cc = _seq_dot_matrix(cent_mat, cent_mat) / (
        cent_norm[:, None] * cent_norm[None, :]
    )
    np.fill_diagonal(cc, -np.inf)
    nearest = np.argmax(cc, axis=1)
    sep = {
        int(cent_ids[i]): (int(cent_ids[nearest[i]]), float(cc[i, nearest[i]]))
        for i in range(len(cent_ids))
    }
    report = [
        (
            r["cluster"],
            r["n_members"],
            r["mean_cos_own"],
            sep[r["cluster"]][0],
            sep[r["cluster"]][1],
            r["mean_cos_own"] - sep[r["cluster"]][1],
        )
        for r in sorted(per_rows, key=lambda r: r["cluster"])
    ]
    return spark.createDataFrame(
        report,
        "cluster long, n_members long, mean_cos_own double, "
        "nearest_other long, nearest_other_cos double, margin double",
    )


def with_lsh_bucket_vectorized(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    out_col: str = "bucket",
    n_planes: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Vectorized :func:`hyperplane_signature` — same pseudo-hyperplane
    weights ``((p*31 + i*17) % 7) - 3`` folded in the same order, so the
    sign pattern (and bucket id) is bit-identical to the SQL expression,
    without its O(dim^2) interpreted ``element_at(transform(...))`` cost."""
    import numpy as np

    w = np.array(
        [[((p * 31 + i * 17) % 7) - 3 for i in range(1, dim + 1)] for p in range(n_planes)],
        dtype=np.float64,
    )
    powers = (1 << np.arange(n_planes)).astype(np.int64)

    from pyspark.sql.types import LongType, StructField, StructType

    cols = list(df.columns)
    # copy — StructType.add mutates the cached schema in place
    schema = StructType(df.schema.fields + [StructField(out_col, LongType())])

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v_mat = _matrix(pdf[vec_col])
            dots = _seq_dot_matrix(v_mat, w)
            pdf = pdf.copy()
            pdf[out_col] = ((dots > 0).astype(np.int64) * powers[None, :]).sum(axis=1)
            yield pdf

    return df.select(*cols).mapInPandas(gen, schema)


def cosine_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float,
    dim: int | None = None,
) -> DataFrame:
    """Radius search: every (query_id, neighbor_id, cosine) pair with
    ``cosine >= threshold`` — the fixed-similarity complement of
    :func:`cosine_topk` (retrieval wants "the k best"; dedup sweeps and
    recall evaluation want "everything this similar").

    Scale shape is identical to :func:`cosine_topk`: the query set is
    broadcast as the small side, the corpus streams through ONE scan
    with the codegen'd dot product, and — unlike top-k — there is no
    per-query window at all, so the only shuffle-free filter emits
    matches directly.  Output size is data-dependent (bounded by
    #queries × #corpus, realized far smaller at any useful threshold).
    Self-matches are excluded.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec"))
    return (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.expr(_cos("_qvec", "_cvec", dim)))
        .where(F.col("cosine") >= threshold)
        .select("query_id", "neighbor_id", "cosine")
    )


def _block_dot(a: str, b: str, block: int, sub: int) -> str:
    """Sequential-fold dot product of one PQ sub-block (1-based slice),
    double-cast first — bit-identical across engines like `_cos`."""
    from ..functions import portable as P

    start = block * sub + 1
    sa = P.array_slice(P.cast_double_array(a, P.SPARK), start, sub, P.SPARK)
    sb = P.array_slice(P.cast_double_array(b, P.SPARK), start, sub, P.SPARK)
    return P.dot(sa, sb, P.SPARK)


def pq_encode(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Product-quantization encoding: (id[, extra...], block, code) —
    each vector's ``m`` sub-blocks mapped to the per-block
    argmax-inner-product codebook entry (ties → smaller centroid id,
    deterministic).  ``extra_cols`` ride through the same pass (IVF-PQ
    threads the cell id this way — no second scan or join to re-attach
    it).

    THE memory lever for billion-vector search: a 64-dim float32 vector
    is 256 bytes; its ``m=4`` codes are 4 small ints — the search stage
    below touches ONLY codes, never the original vectors.  Codebook
    training (k-means) is a separate offline job at scale; any
    deterministic centroid set works for the encode/search contract,
    and the acceptance queries use a fixed id-prefix probe set so the
    whole pipeline is engine-exact.

    Scale shape: centroids (m × ks rows — tiny) broadcast; the corpus
    streams through ONE scan emitting m code rows per vector; the
    per-(vector, block) argmax is a window over ks rows.
    """
    sub = dim // m
    cents = centroids.select(
        F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cvec")
    )
    paired = corpus.select(id_col, vec_col, *extra_cols).crossJoin(
        F.broadcast(cents)
    )
    for b in range(m):
        paired = paired.withColumn(
            f"_d{b}", F.expr(_block_dot(vec_col, "_cvec", b, sub))
        )
    stacked = paired.select(
        id_col, *extra_cols, "_cid",
        F.expr(
            "stack(%d, %s) as (_b, _d)"
            % (m, ", ".join(f"{b}, _d{b}" for b in range(m)))
        ),
    )
    w = Window.partitionBy(id_col, "_b").orderBy(F.desc("_d"), F.asc("_cid"))
    return (
        stacked.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            F.col(id_col), *extra_cols,
            F.col("_b").alias("block"), F.col("_cid").alias("code"),
        )
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance PQ top-k (ADC): approximate inner-product
    search over PQ codes — (query_id, neighbor_id, approx_ip, rank).

    The query side computes one ks × m lookup table of exact sub-block
    inner products against the codebook (queries × centroids — tiny,
    broadcast); each corpus vector's approximate score is the sum of
    the m table entries its codes select.  The corpus' original
    vectors are NEVER read at search time — only the m-int code rows —
    which is the entire point at billion-vector scale.

    Exactness contract: sub-block dots use the sequential fold (bit-
    identical cross-engine); the m partials are summed in EXPLICIT
    fixed order (``((p0+p1)+p2)+p3``) because a float SUM() aggregate
    is order-nondeterministic across engines; ties rank by neighbor id.
    """
    sub = dim // m
    codes = pq_encode(
        corpus, centroids, id_col=id_col, vec_col=vec_col, m=m, dim=dim
    )
    cents = centroids.select(
        F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cvec")
    )
    qpaired = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    ).crossJoin(F.broadcast(cents))
    for b in range(m):
        qpaired = qpaired.withColumn(
            f"_p{b}", F.expr(_block_dot("_qvec", "_cvec", b, sub))
        )
    qtable = qpaired.select(
        "query_id", "_cid",
        F.expr(
            "stack(%d, %s) as (_b, _pdot)"
            % (m, ", ".join(f"{b}, _p{b}" for b in range(m)))
        ),
    )
    joined = codes.join(
        F.broadcast(qtable),
        (codes["block"] == qtable["_b"]) & (codes["code"] == qtable["_cid"]),
    ).where(F.col(id_col) != F.col("query_id"))
    partials = joined.groupBy(F.col(id_col).alias("neighbor_id"), "query_id").agg(
        *[
            F.sum(F.when(F.col("block") == b, F.col("_pdot"))).alias(f"_p{b}")
            for b in range(m)
        ]
    )
    fixed_sum = "_p0"
    for b in range(1, m):
        fixed_sum = f"({fixed_sum} + _p{b})"
    scored = partials.withColumn("approx_ip", F.expr(fixed_sum))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_ip"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_ip", "rank")
    )


def ivfpq_encode(
    corpus: DataFrame,
    *,
    coarse: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ index build: (id, _cell, block, code) — cell assignment by
    max inner product, then PQ codes of the RESIDUAL (vector − cell
    centroid), all in ONE corpus scan (the cell id rides through the
    encode pass — no checkpoint of the residual corpus, no re-attach
    join).  Persist this frame clustered by ``_cell`` and the search
    half (:func:`ivfpq_search`) never touches the original vectors."""
    from ..functions import portable as P

    cast = lambda c: P.cast_double_array(c, P.SPARK)  # noqa: E731
    cc = coarse.select(F.col(id_col).alias("_cell"), F.col(vec_col).alias("_ccvec"))
    asn = (
        corpus.select(id_col, vec_col)
        .crossJoin(F.broadcast(cc))
        .withColumn("_ipc", F.expr(P.dot(cast(vec_col), cast("_ccvec"), P.SPARK)))
    )
    w_cell = Window.partitionBy(id_col).orderBy(F.desc("_ipc"), F.asc("_cell"))
    assigned = (
        asn.withColumn("_rn", F.row_number().over(w_cell))
        .where(F.col("_rn") == 1)
        .select(
            id_col, "_cell",
            F.expr(P.array_sub(cast(vec_col), cast("_ccvec"), P.SPARK)).alias("_rvec"),
        )
    )
    return pq_encode(
        assigned.select(id_col, F.col("_rvec").alias(vec_col), "_cell"),
        codebook, id_col=id_col, vec_col=vec_col, m=m, dim=dim,
        extra_cols=("_cell",),
    )


def ivfpq_search(
    codes: DataFrame,
    queries: DataFrame,
    *,
    coarse: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
    nprobe: int = 2,
    k: int = 5,
) -> DataFrame:
    """IVF-PQ search over a prebuilt/persisted code table (the output
    of :func:`ivfpq_encode`) — probes ``nprobe`` cells, ADC over their
    code rows only.  Same exactness contract as :func:`pq_topk`."""
    from ..functions import portable as P

    sub = dim // m
    cast = lambda c: P.cast_double_array(c, P.SPARK)  # noqa: E731
    cc = coarse.select(F.col(id_col).alias("_cell"), F.col(vec_col).alias("_ccvec"))
    # --- search: probe nprobe cells, ADC over their codes ---
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec"))
    probes = (
        q.crossJoin(F.broadcast(cc))
        .withColumn("_base", F.expr(P.dot(cast("_qvec"), cast("_ccvec"), P.SPARK)))
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("_base"), F.asc("_cell"))
    probed = (
        probes.withColumn("_rn", F.row_number().over(w_probe))
        .where(F.col("_rn") <= nprobe)
        .select(
            "query_id", "_cell", "_base",
            F.expr(P.array_sub(cast("_qvec"), cast("_ccvec"), P.SPARK)).alias("_qres"),
        )
    )
    cb = codebook.select(F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cbvec"))
    qtab = probed.crossJoin(F.broadcast(cb))
    for b in range(m):
        qtab = qtab.withColumn(f"_p{b}", F.expr(_block_dot("_qres", "_cbvec", b, sub)))
    qtable = qtab.select(
        "query_id", "_cell", "_base", "_cid",
        F.expr(
            "stack(%d, %s) as (_b, _pdot)"
            % (m, ", ".join(f"{b}, _p{b}" for b in range(m)))
        ),
    )
    joined = codes.join(
        F.broadcast(qtable),
        (codes["_cell"] == qtable["_cell"])
        & (codes["block"] == qtable["_b"])
        & (codes["code"] == qtable["_cid"]),
    ).where(F.col(id_col) != F.col("query_id"))
    partials = joined.groupBy(F.col(id_col).alias("neighbor_id"), "query_id").agg(
        F.min("_base").alias("_b0"),  # identical across the m rows
        *[
            F.sum(F.when(F.col("block") == b, F.col("_pdot"))).alias(f"_p{b}")
            for b in range(m)
        ],
    )
    fixed = "_b0"
    for b in range(m):
        fixed = f"({fixed} + _p{b})"
    scored = partials.withColumn("approx_ip", F.expr(fixed))
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("approx_ip"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_ip", "rank")
    )

def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    coarse: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
    nprobe: int = 2,
    k: int = 5,
) -> DataFrame:
    """IVF-PQ — the composed billion-vector search architecture (FAISS's
    workhorse): a coarse inverted file routes each query to its
    ``nprobe`` best cells, and within a cell vectors are represented by
    PQ codes of their RESIDUAL (vector − cell centroid), scored by
    asymmetric distance:

        IP(q, x) ≈ IP(q, c_cell) + Σ_b table[cell][b][code_b(x)]

    One call = :func:`ivfpq_encode` (index build, one corpus scan) +
    :func:`ivfpq_search` (ADC over the probed cells' code rows only) —
    split so a pipeline can PERSIST the code table clustered by cell
    and serve queries without ever re-reading the corpus vectors
    (``examples/ann_index.py``).

    Exactness contract as :func:`pq_topk`: sequential-fold dots,
    residuals via exact IEEE ``zip_with`` subtraction, every
    cross-engine float addition in explicit fixed order, ties on ids.
    """
    codes = ivfpq_encode(
        corpus, coarse=coarse, codebook=codebook,
        id_col=id_col, vec_col=vec_col, m=m, dim=dim,
    )
    return ivfpq_search(
        codes, queries, coarse=coarse, codebook=codebook,
        id_col=id_col, vec_col=vec_col, m=m, dim=dim, nprobe=nprobe, k=k,
    )


# --------------------------------------------------------------------------
# Semantic (cluster-bucketed) deduplication — SemDeDup-style
# --------------------------------------------------------------------------
# Abbas et al., "SemDeDup: Data-efficient learning at web-scale through
# semantic deduplication" (arXiv:2303.09540): cluster the embedding
# space, then search for near-duplicate pairs ONLY within a cluster —
# the pair candidate set shrinks from |corpus|² to Σ|cell|², which is
# what makes embedding-level dedup feasible on a billion-document
# corpus.  Same bucket-join shape as MinHash-LSH dedup, with the IVF
# cell as the bucket.


def semantic_dedup_pairs(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    dim: int | None = None,
) -> DataFrame:
    """Within-cluster near-duplicate pairs: (id_a, id_b, centroid_id,
    cosine) for every same-cell pair with ``cosine >= threshold``,
    ``id_a < id_b``.

    Scale shape: ONE vectorized assignment scan (centroids broadcast),
    then a hash-shuffled self-join keyed on the cell id — no all-pairs
    anywhere.  Approximate by construction (cross-cell near-dups are
    unseen — the SemDeDup trade); the oracle replays the identical
    assignment, so results hash-match exactly.
    """
    # both self-join aliases read the assignment: the Arrow pass is
    # opaque to Catalyst (no exchange reuse), so without materialization
    # each side re-runs the assignment scan
    cells = assign_cells_vectorized(
        corpus, centroids, id_col=id_col, vec_col=vec_col
    ).transform(ckpt_lazy)
    l = cells.select(
        F.col(id_col).alias("_ida"), F.col(vec_col).alias("_va"), "centroid_id"
    )
    r = cells.select(
        F.col(id_col).alias("_idb"), F.col(vec_col).alias("_vb"), "centroid_id"
    )
    return (
        l.join(r, on="centroid_id")
        .where(F.col("_ida") < F.col("_idb"))
        .withColumn("cosine", F.expr(_cos("_va", "_vb", dim)))
        .where(F.col("cosine") >= threshold)
        .select(
            F.col("_ida").alias(f"{id_col}_a"),
            F.col("_idb").alias(f"{id_col}_b"),
            "centroid_id",
            "cosine",
        )
    )


def semantic_dedup_survivors(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup keep-set: drop every vector that has a same-cell
    neighbor with a SMALLER id at ``cosine >= threshold`` (min-id
    survivor — the same deterministic rule as the MinHash survivor
    pass).  One anti-join against the distinct dropped-id set."""
    pairs = semantic_dedup_pairs(
        corpus, centroids, id_col=id_col, vec_col=vec_col,
        threshold=threshold, dim=dim,
    )
    dropped = pairs.select(F.col(f"{id_col}_b").alias(id_col)).distinct()
    return corpus.join(dropped, on=id_col, how="left_anti")


def random_projection(
    df: DataFrame,
    vec_col: str,
    *,
    in_dim: int,
    out_dim: int,
    seed: str = "rp",
    out_col: str = "rvec",
) -> DataFrame:
    """Signed random projection (Achlioptas ±1): project ``vec_col``
    onto ``out_dim`` dimensions with a DETERMINISTIC md5-derived sign
    matrix (``portable.rp_sign_matrix``) inlined as a literal — no RNG
    state, nothing shipped to executors, and both engines replay the
    same projection bit-for-bit (fold-order accumulation, same as
    ``portable.dot``).

    The Johnson-Lindenstrauss workhorse for 100 TB embedding pipelines:
    distances survive within (1±eps) while downstream cosine/LSH work
    drops by in_dim/out_dim; the projection is pure per-row JVM-side
    expression work — no shuffle, no Python.
    """
    from ..functions import portable as P

    return df.withColumn(
        out_col,
        F.expr(P.random_project(vec_col, in_dim, out_dim, seed, P.SPARK)),
    )


def kcenter_coreset(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
) -> DataFrame:
    """Deterministic greedy k-center (farthest-point / Gonzalez 1985)
    coreset selection over an embedding column — the max-coverage data-
    pruning step: pick k rows such that every corpus row is close to
    some pick (2-approximation of the optimal k-center cover).  Used to
    seed diverse fine-tuning subsets and dedup-aware eval panels where
    k-means centroids (synthetic points) won't do — picks are REAL rows.

    Determinism (no RNG): seed = smallest id; each round picks the row
    with the SMALLEST max-cosine to the chosen set (= farthest in
    cosine distance), ties to the smallest id, via one
    ``min(struct(maxcos, id, vec))`` aggregate — the argmin rides the
    aggregate, no window, and the picked vector comes back in the same
    struct so no second scan.  Zero-norm rows score cosine 1.0 (never
    picked while any non-degenerate row remains).  Already-chosen ids
    are excluded from each round's scan, so picks are always distinct;
    if the corpus runs out before k picks (k > corpus size) the result
    simply has fewer than k rows.

    Scale shape: the corpus is checkpointed ONCE and then scanned k-1
    times (one Arrow max-cos pass + one tiny aggregate per round);
    driver state is the k picked vectors only — the canonical iterative
    shape shared with :func:`kmeans_embeddings`.  Iterative, so it is a
    rows-only catalog entry; exactness is pinned against a numpy
    reference implementation in pytest.

    Returns ``(id, center_rank)`` — rank 0 is the seed.
    """
    import numpy as np

    if k <= 0:
        raise ValueError("k must be positive")
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    # the min-id seed rides the base checkpoint's materialization job
    # (Dataset.observe — struct min compares the unique id first, so it
    # returns exactly the smallest-id row) instead of a separate
    # sort-limit action over the blocks (guide §1.2)
    base, m = materialize_observed(
        df.select(id_col, vec_col),
        s=F.min(F.struct(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))),
    )
    seed = m["s"]
    if seed is None:
        raise ValueError("kcenter_coreset: empty input")
    chosen = [(seed["i"], [float(x) for x in seed["v"]])]

    id_field = base.select(id_col).schema.fields[0]
    vec_field = base.select(vec_col).schema.fields[0]
    schema = StructType([id_field, vec_field,
                         StructField("_maxcos", DoubleType())])

    for _ in range(k - 1):
        # already-chosen rows never re-enter the argmin — duplicate
        # picks (possible once every remaining max-cos hits 1.0) can't
        # happen, and a k larger than the corpus just stops early
        remaining = base.where(
            ~F.col(id_col).isin([i for i, _v in chosen])
        )
        cmat = _matrix([v for _, v in chosen])
        cnorm = np.sqrt(_seq_sqnorm(cmat))

        def gen(batches, cmat=cmat, cnorm=cnorm):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                v = _matrix(pdf[vec_col])
                vn = np.sqrt(_seq_sqnorm(v))
                safe = np.where(vn == 0.0, 1.0, vn)
                cos = _seq_dot_matrix(v, cmat) / (safe[:, None] * cnorm[None, :])
                mc = cos.max(axis=1)
                mc[vn == 0.0] = 1.0  # zero vectors: never picked
                out = pdf.copy()
                out["_maxcos"] = mc
                yield out

        scored = remaining.mapInPandas(gen, schema)
        pick = scored.agg(
            F.min(F.struct(
                F.col("_maxcos").alias("c"),
                F.col(id_col).alias("i"),
                F.col(vec_col).alias("v"),
            )).alias("m")
        ).collect()[0]["m"]
        if pick is None:  # corpus exhausted: k > number of rows
            break
        chosen.append((pick["i"], [float(x) for x in pick["v"]]))

    spark = df.sparkSession
    # output schema derives from the CAPTURED id field — string/int/...
    # ids all round-trip (round-6 advice: the hardcoded `long` crashed
    # createDataFrame for non-long ids)
    return spark.createDataFrame(
        [(i, rank) for rank, (i, _v) in enumerate(chosen)],
        StructType([id_field, StructField("center_rank", IntegerType(), False)]),
    )


def pca_embeddings(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    out_col: str = "pc",
) -> DataFrame:
    """Deterministic distributed PCA projection of an embedding column
    — the dimensionality-reduction step before clustering / dedup /
    visualization at corpus scale (and the exact counterpart of
    :func:`random_project` when the 'right' subspace matters).

    Scale + determinism design (the whole point):

    * the covariance inputs are ONE corpus scan: each row explodes a
      FLAT array of its upper-triangular second-moment products
      (i <= j, d*(d+1)/2 positions — ``posexplode`` of a plain decimal
      array; building a struct per product was measured 14x slower)
      plus component sums; both aggregate map-side into
      d*(d+1)/2 + d rows.  Sums are EXACT DECIMAL(38,18/20) over
      deterministic per-row double products, so the moment matrix —
      and therefore the eigenbasis and every projection — is
      bit-identical across partitionings and row orders (a float sum
      would make each run's components wobble in the last ulps).
      Envelope: each product is cast to DECIMAL(38,18), so it must
      satisfy ``|x_i * x_j| < 1e20`` (i.e. coordinate magnitudes up to
      ~1e10) and the n-row sum must stay under 1e20 — beyond that the
      non-ANSI decimal sum returns NULL, which this function now
      detects and raises on instead of crashing downstream;
    * every row must have exactly d coordinates (d probed from the
      first row): a short vector would silently contribute NULL
      products that vanish from the sums and skew the covariance, so
      a width-guard raises instead;
    * driver state is the d x d moment matrix only (d = embedding
      width); ``numpy.linalg.eigh`` on the driver picks the top-k
      components, each sign-canonicalized (largest-|coordinate|
      positive) so the basis is unique;
    * the projection ships W (d x k) + mean back through one Arrow
      ``mapInPandas`` pass — per-row work, no shuffle.

    Iterative-free but eigendecomposition is not SQL — catalog entries
    are rows-only; numpy parity and partitioning-invariance are pinned
    in pytest.  Returns ``(id_col, out_col array<double>)``.
    """
    import numpy as np

    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("pca_embeddings: empty input")
    d = len(first[vec_col])
    if not (0 < k <= d):
        raise ValueError(f"k must be in [1, {d}]")
    base = df.select(id_col, vec_col).transform(ckpt_lazy)

    # Materialize the double-cast ONCE per row: inlining the cast into
    # the product lambda re-casts the whole array per element access
    # (measured ~3x slower).  Width guard: a row shorter/longer than d
    # would silently drop NULL products from the sums.
    casted = base.select(
        F.expr(
            f"CASE WHEN size(CAST({vec_col} AS ARRAY<DOUBLE>)) <> {d} "
            f"THEN raise_error(concat('pca_embeddings: row has ', "
            f"CAST(size({vec_col}) AS STRING), ' coordinates, expected {d}')) "
            f"ELSE CAST({vec_col} AS ARRAY<DOUBLE>) END"
        ).alias("v")
    )
    # Tiny inputs arrive as one file split; fan the flat-product explode
    # out across the cluster.  At scale the input already has many
    # partitions and this branch never fires (no shuffle added).
    par = base.sparkSession.sparkContext.defaultParallelism
    if casted.rdd.getNumPartitions() < par:
        casted = casted.repartition(par)
    moments = casted.select(
        F.posexplode(F.expr(
            f"flatten(transform(sequence(0, {d - 1}), i -> "
            f"transform(sequence(i, {d - 1}), j -> "
            f"CAST(element_at(v, i + 1) * element_at(v, j + 1) "
            f"AS DECIMAL(38,18)))))"
        )).alias("pos", "xx")
    ).groupBy("pos").agg(F.sum("xx").alias("s")).collect()
    # flat position -> (i, j) in upper-triangle row-major order
    _ij = [(i, j) for i in range(d) for j in range(i, d)]
    comp = casted.select(
        F.posexplode("v").alias("pos", "x")
    ).groupBy("pos").agg(
        F.sum(F.col("x").cast("decimal(38,20)")).alias("s"),
        F.count(F.lit(1)).alias("c"),
    ).collect()
    n = int(comp[0]["c"])
    if n < 2:
        raise ValueError("pca_embeddings: need at least 2 rows")
    for r in moments + comp:
        if r["s"] is None:
            raise ValueError(
                "pca_embeddings: a DECIMAL(38,18) moment sum overflowed to "
                "NULL — coordinate magnitudes/corpus size exceed the "
                "documented |x_i*x_j| and sum < 1e20 envelope"
            )
    s1 = np.zeros(d)
    for r in comp:
        s1[r["pos"]] = float(r["s"])
    s2 = np.zeros((d, d))
    for r in moments:
        i, j = _ij[r["pos"]]
        s2[i, j] = s2[j, i] = float(r["s"])
    mean = s1 / n
    cov = (s2 - np.outer(s1, s1) / n) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    w = evecs[:, order]  # (d, k)
    # unique basis: flip each component so its largest-|coord| is +
    for m in range(w.shape[1]):
        j = int(np.abs(w[:, m]).argmax())
        if w[j, m] < 0:
            w[:, m] = -w[:, m]
    w64, mu64 = w.astype(np.float64), mean.astype(np.float64)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = _matrix(pdf[vec_col]).astype(np.float64)
            pc = (x - mu64[None, :]) @ w64
            yield pd.DataFrame({
                id_col: pdf[id_col].tolist(),
                out_col: [row.tolist() for row in pc],
            })

    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    out_schema = StructType(
        list(base.select(id_col).schema.fields)
        + [StructField(out_col, ArrayType(DoubleType()))]
    )
    return base.mapInPandas(gen, out_schema)


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    rerank: int = 4,
) -> DataFrame:
    """Scalar-quantized (SQ8) ANN with exact rerank: per-dimension
    corpus min/max bounds quantize every vector to 8-bit codes, an
    integer code dot-product ranks candidates cheaply, and only the
    top ``k * rerank`` candidates per query pay the exact double
    cosine — the memory/bandwidth play of a production vector index
    (int8 codes are 8x smaller than float64 and the integer dot is
    SIMD-friendly), re-expressed relationally.

    Determinism/oracle story: bounds are MIN/MAX (exact,
    order-independent); quantization is per-value IEEE arithmetic +
    floor (``P.sq8_codes`` — no accumulation); the candidate rank is
    an exact integer dot with id tie-break, so both engines select the
    IDENTICAL candidate set; the final cosine is the sequential-fold
    double expression shared with :func:`cosine_topk`.

    Scale shape: pass 1 = one corpus scan into a 1-row bounds frame
    (d min + d max aggregates, map-side combined) broadcast everywhere;
    pass 2 = per-row quantization (no shuffle); candidate scoring =
    broadcast of the (small, quantized) query set against the corpus
    scan; per-query top-(k*rerank) via window over candidate rows only.
    No corpus-sized shuffle anywhere.

    Returns ``(query_id, neighbor_id, approx_dot, cosine, rank)``.
    """
    first = corpus.select(vec_col).first()
    if first is None:
        raise ValueError("sq8_topk: empty corpus")
    d = len(first[vec_col])

    def _prep(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.expr(_as_double(vec_col)).alias("_v"),
        )

    c = _prep(corpus, "neighbor_id")
    bounds = c.agg(
        *[F.min(F.expr(f"element_at(_v, {i + 1})")).alias(f"_mn{i}")
          for i in range(d)],
        *[F.max(F.expr(f"element_at(_v, {i + 1})")).alias(f"_mx{i}")
          for i in range(d)],
    ).select(
        F.array(*[F.col(f"_mn{i}") for i in range(d)]).alias("_mn"),
        F.array(*[F.col(f"_mx{i}") for i in range(d)]).alias("_mx"),
    )
    code = P.sq8_codes("_v", "_mn", "_mx", SPARK)
    cq = (
        c.crossJoin(F.broadcast(bounds))
        .withColumn("_code", F.expr(code))
        .drop("_mn", "_mx")
    )
    qq = (
        _prep(queries, "query_id")
        .crossJoin(F.broadcast(bounds))
        .withColumn("_qcode", F.expr(code))
        .select("query_id", F.col("_v").alias("_qv"), "_qcode")
    )
    cand = (
        cq.crossJoin(F.broadcast(qq))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "approx_dot", F.expr(P.int_dot("_qcode", "_code", SPARK))
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.desc("approx_dot"), F.asc("neighbor_id")
    )
    shortlist = cand.withColumn("_arank", F.row_number().over(wa)).where(
        F.col("_arank") <= k * rerank
    )
    we = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        shortlist.withColumn("cosine", F.expr(P.cosine("_qv", "_v", SPARK)))
        .withColumn("rank", F.row_number().over(we))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_dot", "cosine", "rank")
    )


def truncated_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    use_dims: int = 16,
    rerank: int = 0,
) -> DataFrame:
    """Matryoshka-style prefix-dimension ANN: rank by cosine over only
    the FIRST ``use_dims`` coordinates (MRL-trained embeddings carry
    most of their signal in the prefix), optionally reranking the top
    ``k * rerank`` shortlist with the exact full-dimension cosine —
    the dimensionality analogue of :func:`sq8_topk`'s precision play.

    Why it matters at 100 TB: scoring cost and (more importantly)
    scan bandwidth scale linearly with dimensions — a 16-of-64 prefix
    is a 4x cheaper candidate pass with zero index build, and the
    shortlist rerank restores exactness for the survivors.  The recall
    telemetry that sizes ``use_dims`` is ``ann_matryoshka_recall``.

    Determinism/oracle story: the truncated cosine is the shared
    sequential-fold expression over a 1-based prefix slice of the
    double-cast arrays (``P.array_slice`` + ``P.cosine`` — identical
    IEEE ops in identical order in both engines); shortlist and final
    ranks carry full id tie-breaks.

    Scale shape: queries broadcast; the corpus scan is the only
    large-data pass; top-k windows run over candidate rows only.

    Returns ``(query_id, neighbor_id, trunc_cosine[, cosine], rank)``
    (``cosine`` present only when reranking).
    """
    if use_dims <= 0:
        raise ValueError("use_dims must be positive")
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.expr(_as_double(vec_col)).alias("_cvec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.expr(_as_double(vec_col)).alias("_qvec")
    )
    tc = P.cosine(
        P.array_slice("_qvec", 1, use_dims, SPARK),
        P.array_slice("_cvec", 1, use_dims, SPARK),
        SPARK,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("trunc_cosine", F.expr(tc))
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.desc("trunc_cosine"), F.asc("neighbor_id")
    )
    if not rerank:
        return (
            scored.withColumn("rank", F.row_number().over(wt))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "trunc_cosine", "rank")
        )
    shortlist = scored.withColumn("_tr", F.row_number().over(wt)).where(
        F.col("_tr") <= k * rerank
    )
    we = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        shortlist.withColumn("cosine", F.expr(P.cosine("_qvec", "_cvec", SPARK)))
        .withColumn("rank", F.row_number().over(we))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "trunc_cosine", "cosine", "rank")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for
    each query vector, the top-k most-similar corpus vectors with a
    DIFFERENT label — the negatives that actually teach the model
    (easy negatives are far away; these sit right at the boundary).

    Same scale shape as :func:`cosine_topk`: broadcast the (small)
    query set against one corpus scan, filter cross-label pairs, and
    the per-query top-k is rank-limit pushed (WindowGroupLimit) so the
    shuffle carries only candidate survivors, never the corpus.

    Returns ``(query_id, query_label, neighbor_id, neighbor_label,
    cosine, rank)``.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("_cvec"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("_qvec"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("neighbor_label") != F.col("query_label"))
        )
        .withColumn("cosine", F.expr(_cos("_qvec", "_cvec", None)))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "query_label", "neighbor_id",
                "neighbor_label", "cosine", "rank")
    )


def norm_profile(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    degenerate_below_ppm: int = 500_000,
    unit_tol_ppm: int = 10_000,
) -> DataFrame:
    """Embedding data-quality profile: the sanity scan you run BEFORE
    pointing ANN / k-means / semantic dedup at a new embedding column —
    degenerate (near-zero) vectors poison cosine math (0/0), and a
    mixed-norm corpus means someone forgot to L2-normalize upstream.

    Norms use the portable sequential-fold dot (``portable.dot`` — same
    accumulation order both engines, bit-identical doubles) and are
    scaled to integer ppm via one correctly-rounded multiply + floor, so
    the SUM (for the mean) is exact integer arithmetic — no float-sum
    order dependence anywhere.

    Output (one row): ``n_vecs, min_norm_ppm, max_norm_ppm,
    mean_norm_ppm, n_degenerate`` (norm below ``degenerate_below_ppm``),
    ``n_unit`` (within ``unit_tol_ppm`` of 1.0).

    Scale shape: one scan, per-row fold (whole-stage codegen), one
    global partial/final aggregate — no shuffle wider than a single
    summary row.  NULL / empty vectors count as degenerate (norm 0).
    """
    norm_ppm = (
        f"CAST(floor(sqrt({P.dot(vec_col, vec_col, P.SPARK)}) * 1000000)"
        f" AS BIGINT)"
    )
    base = corpus.select(
        F.coalesce(F.expr(norm_ppm), F.lit(0)).alias("_np")
    )
    return base.agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.min("_np").alias("min_norm_ppm"),
        F.max("_np").alias("max_norm_ppm"),
        F.expr("sum(_np) div count(1)").alias("mean_norm_ppm"),
        F.sum((F.col("_np") < degenerate_below_ppm).cast("long"))
        .alias("n_degenerate"),
        F.sum(
            (F.abs(F.col("_np") - 1_000_000) <= unit_tol_ppm).cast("long")
        ).alias("n_unit"),
    )


def mmr_topk(
    corpus: DataFrame,
    query_vec: list,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    pool: int = 100,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein 1998): greedily pick ``k`` results maximizing
    ``lam * sim(q, d) - (1 - lam) * max_{s in selected} sim(d, s)`` —
    the retrieval-for-curation primitive that plain cosine top-k lacks
    (a near-dup-heavy corpus returns k copies of the same passage;
    MMR returns k DIFFERENT relevant passages — what you want when
    pulling exemplars into a fine-tuning mix or a RAG context).

    Scale shape — the standard two-phase plan: (1) ONE corpus scan
    scores every vector against the broadcast query and keeps the
    top-``pool`` by relevance via ``TakeOrderedAndProject`` (per-
    partition heap + driver merge, never a global sort); (2) the greedy
    MMR selection is inherently sequential (each pick changes the next
    step's objective), so it runs driver-side over the BOUNDED pool —
    one pool×pool Gram matrix on ``pool`` rows, microseconds.  ``pool`` is
    the documented driver-size contract (default 100 rows × dim
    doubles), the same bounded-collect pattern as the k-means centroid
    state.  Ties break by ascending id (deterministic).

    The redundancy penalty is clamped at 0 (``max(0, max_sim)``):
    cosine can go negative, and an unclamped penalty would turn
    anti-correlation into a BONUS that outranks genuinely relevant
    results — an anti-relevant vector must compete on ``lam * rel``
    alone, not win by being maximally unlike everything selected.

    Returns ``(rank, vec_id, relevance, mmr_score)`` — ``relevance``
    is cosine-to-query; ``mmr_score`` the objective value at selection
    time (rank 1's equals ``lam * relevance``).
    """
    import numpy as np

    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"mmr_topk: lam must be in [0, 1]; got {lam}")
    spark = corpus.sparkSession
    qlit = "array(" + ", ".join(f"cast({float(x)} as double)" for x in query_vec) + ")"
    pool_rows = (
        corpus.select(
            F.col(id_col),
            F.col(vec_col).alias("_vec"),
            F.expr(P.cosine(qlit, vec_col, P.SPARK)).alias("_rel"),
        )
        .where(F.col("_rel").isNotNull())
        .orderBy(F.desc("_rel"), F.asc(id_col))
        .limit(int(pool))
        .collect()
    )
    ids = [r[id_col] for r in pool_rows]
    rel = np.array([r["_rel"] for r in pool_rows], dtype=np.float64)
    if len(ids) == 0:
        return spark.createDataFrame(
            [], f"rank int, {id_col} long, relevance double, mmr_score double"
        )
    mat = np.array([r["_vec"] for r in pool_rows], dtype=np.float64)
    picked_rows = _mmr_greedy(ids, rel, mat, k=int(k), lam=float(lam))
    return spark.createDataFrame(
        picked_rows, f"rank int, {id_col} long, relevance double, mmr_score double"
    )


def _mmr_greedy(ids, rel, mat, *, k: int, lam: float):
    """The pure greedy MMR core over a bounded pool (driver-side math of
    :func:`mmr_topk`, module-level so its invariants are property-
    testable without a SparkSession).  ``ids`` parallel to ``rel``
    (cosine to query) and ``mat`` (row vectors).  Returns
    ``[(rank, id, relevance, mmr_score), ...]``.

    A row whose squared norm is below the smallest normal double (every
    component under ~1e-154) counts as a zero vector: its square sum has
    lost its precision, so dividing by its root would give a "unit"
    vector whose cosines can exceed 1.  Left unscaled, its similarities
    are ~0 and it carries no diversity penalty."""
    import numpy as np

    sq = (mat * mat).sum(axis=1)
    norms = np.sqrt(sq)
    norms[sq < np.finfo(np.float64).tiny] = 1.0
    unit = mat / norms[:, None]
    # the pool's Gram matrix, once: a matrix-vector product per pick
    # (unit @ unit[best]) takes another BLAS path and can differ from
    # it in the last bit, which breaks exact ties between candidates
    gram = unit @ unit.T
    selected: list[int] = []
    picked_rows = []
    max_sim = np.full(len(ids), -np.inf)
    for rank in range(1, min(k, len(ids)) + 1):
        if selected:
            score = lam * rel - (1.0 - lam) * np.maximum(max_sim, 0.0)
        else:
            score = lam * rel
        score[selected] = -np.inf
        # deterministic: best score, then smallest id
        best = min(
            range(len(ids)),
            key=lambda i: (-score[i], ids[i]),
        )
        picked_rows.append(
            (rank, ids[best], float(rel[best]), float(score[best]))
        )
        selected.append(best)
        max_sim = np.maximum(max_sim, gram[:, best])
    return picked_rows

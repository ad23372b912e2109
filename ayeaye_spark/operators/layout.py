"""Data-layout operators: Z-order (Morton) clustering for
multi-dimensional file skipping.

Min/max footer pruning (``maintenance.build_file_index`` /
``pruned_read``) is only as good as the data LAYOUT: files written in
one column's sort order have tight envelopes on that column and
full-range envelopes on every other.  A 100 TB fact table queried by
*several* dimensions (customer AND date, user AND hour) wants a layout
where every file is tight on all of them at once — the space-filling
-curve trick used by lakehouse ``OPTIMIZE ZORDER`` implementations.

Everything here is deterministic integer bit math (shift/AND/OR), runs
entirely inside whole-stage codegen, and has an exact SQL twin
(:func:`zvalue_sql`) so catalog queries over z-values hash-match the
DuckDB oracle bit-for-bit.

Scale notes (the whole point):

* :func:`zvalue` is a pure column expression — no UDF, no shuffle.
* :func:`zorder_frame` is ONE range-repartition shuffle on the z-value
  (the same shuffle a plain ``sortBy`` rewrite pays) + a local sort;
  the Parquet connector writes it as ``parquet://...;zorder_by=``;
  cluster cost is identical to linear clustering, read-side pruning is
  strictly more capable.
* File-skipping math (:func:`files_for_box`) runs on the tiny footer
  index, never the data.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "zvalue",
    "zvalue_sql",
    "zorder_frame",
    "files_for_box",
]


def _check_dims(n_cols: int, bits: int) -> None:
    if n_cols < 2:
        raise ValueError("zvalue needs >= 2 columns (1-D z-order is a sort)")
    if bits < 1 or n_cols * bits > 63:
        raise ValueError(
            f"bits={bits} x {n_cols} dims must fit a signed 64-bit long "
            "(n_cols * bits <= 63)"
        )


def zvalue(cols: list[Column | str], *, bits: int = 10) -> Column:
    """Morton z-value: interleave the low ``bits`` bits of each column.

    Inputs must already be NON-NEGATIVE integers below ``2**bits``
    (callers bucket/normalize first — see :func:`zorder_frame`); values
    outside that range are masked (``& (2**bits - 1)``) so the
    expression is total.  Bit i of dimension d lands at output bit
    ``i * n_dims + d``: nearby (x, y, ...) tuples get nearby z-values,
    which is what makes range-partitioning by z cluster ALL dimensions
    at once.

    Pure shift/AND/OR on longs — whole-stage codegen, no UDF.
    """
    _check_dims(len(cols), bits)
    n = len(cols)
    mask = (1 << bits) - 1
    masked = [
        (F.col(c) if isinstance(c, str) else c).cast("long").bitwiseAND(
            F.lit(mask)
        )
        for c in cols
    ]
    terms = [
        F.shiftleft(
            F.shiftright(col, i).bitwiseAND(F.lit(1)), i * n + d
        )
        for d, col in enumerate(masked)
        for i in range(bits)
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def zvalue_sql(cols: list[str], *, bits: int = 10) -> str:
    """The EXACT SQL twin of :func:`zvalue` (same masking, same bit
    placement) — valid in both DuckDB and Spark SQL, so a catalog query
    computing z-values hash-matches its oracle bit-for-bit.  Delegates
    to ``functions.portable.zorder_key``, the single source of the
    Morton bit math."""
    from ..functions.portable import zorder_key

    return zorder_key(cols, bits)


def zorder_frame(
    df: DataFrame,
    cols: list[str],
    *,
    bits: int = 10,
    target_files: int = 16,
) -> DataFrame:
    """Recluster ``df`` along the z-order curve of ``cols`` so a
    columnar write's footer min/max envelopes are tight on EVERY listed
    column, not just the first of a lexicographic sort.

    Each column is normalized to ``[0, 2**bits)`` by an affine bucket
    map from its observed min/max (one tiny 2-row aggregate; driver
    state is ``len(cols)`` pairs of bounds — bounded at any scale), the
    z-value is computed JVM-side, and the data takes ONE
    ``repartitionByRange`` shuffle on z + a ``sortWithinPartitions``.
    That is the exact cost of a linear ``sortBy(cols[0])`` rewrite —
    z-order buys multi-dimensional skipping for the same shuffle.

    Numeric/date/timestamp columns are supported (dates cluster by
    epoch day, timestamps by epoch second).
    """
    zin = []
    for c in cols:
        t = df.schema[c].dataType.simpleString()
        if t == "date":
            zin.append(F.datediff(F.col(c), F.lit("1970-01-01")))
        elif t.startswith("timestamp"):
            zin.append(F.unix_timestamp(F.col(c)))
        else:
            zin.append(F.col(c).cast("double"))

    bounds = df.agg(
        *[F.min(e).cast("double").alias(f"_lo{i}") for i, e in enumerate(zin)],
        *[F.max(e).cast("double").alias(f"_hi{i}") for i, e in enumerate(zin)],
    ).first()

    cells = 1 << bits
    norm = []
    for i, e in enumerate(zin):
        lo = bounds[f"_lo{i}"] or 0.0
        hi = bounds[f"_hi{i}"] or 0.0
        width = max((hi - lo) / cells, 1e-300)  # degenerate: single bucket
        bucket = F.least(
            F.floor((e.cast("double") - F.lit(lo)) / F.lit(width)),
            F.lit(cells - 1),
        ).cast("long")
        norm.append(bucket)

    z = zvalue(norm, bits=bits)
    return (
        df.withColumn("_z", z)
        .repartitionByRange(target_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def files_for_box(index: DataFrame, box: dict[str, tuple]) -> list[str]:
    """Data files whose footer envelopes intersect EVERY range in
    ``box`` (a conjunction of ``col -> (lo, hi)``) — the manifest-level
    multi-dimensional skip that a z-ordered layout makes effective.

    ``index`` comes from ``maintenance.build_file_index``; files with
    missing stats on any box column are conservatively KEPT.  Runs on
    the footer index (one row per file), never the data.
    """
    keep = index
    for c, (lo, hi) in box.items():
        keep = keep.where(
            F.col(f"{c}_min").isNull()
            | ((F.col(f"{c}_max") >= lo) & (F.col(f"{c}_min") <= hi))
        )
    return [r["file"] for r in keep.select("file").collect()]

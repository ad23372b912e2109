"""Validation building blocks for model pre/post checks.

The reference validates with user Python inside ``pre_build_check`` /
``post_build_check`` (e.g. the single-year precondition and conservation
check in ``examples/favourite_colours.py:41-110``).  Spark-first, these
become DataFrame assertions that cost at most one aggregate job.  A
count or aggregate of what ``build()`` wrote costs none: it comes back
from ``DatasetHandle.write(df, **metrics)``, observed on the write job.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class CheckFailed(AssertionError):
    pass


def assert_columns(df: DataFrame, required: list[str] | None = None,
                   expected: list[str] | None = None) -> None:
    """Schema contract: required ⊆ columns / expected == columns
    (the CSV header contracts, ``csv_connector.py:132-151``, lifted to
    any DataFrame)."""
    if required is not None:
        missing = [c for c in required if c not in df.columns]
        if missing:
            raise CheckFailed(f"missing required columns: {missing}")
    if expected is not None and list(expected) != df.columns:
        raise CheckFailed(f"expected columns {expected} != actual {df.columns}")


def assert_single_value(df: DataFrame, col: str) -> Any:
    """Exactly one distinct value in ``col`` (the single-year precondition,
    ``favourite_colours.py:41-61``); returns it."""
    values = [r[0] for r in df.select(col).distinct().limit(2).collect()]
    if len(values) != 1:
        raise CheckFailed(f"expected exactly one distinct {col}, saw {values}")
    return values[0]


def assert_conserved(
    in_df: DataFrame, out_df: DataFrame, in_expr: str, out_expr: str, tol: float = 1e-6
) -> None:
    """Conservation check: an input aggregate equals an output aggregate
    (``favourite_colours.py:89-110``: total days in == total days out)."""
    a = in_df.agg(F.expr(in_expr).alias("v")).collect()[0]["v"]
    b = out_df.agg(F.expr(out_expr).alias("v")).collect()[0]["v"]
    if a is None or b is None or abs(float(a) - float(b)) > tol:
        raise CheckFailed(f"conservation violated: {in_expr}={a} vs {out_expr}={b}")


def expectation_report(df: DataFrame, rules: dict[str, str]) -> DataFrame:
    """Declarative data-quality expectations in ONE pass: ``rules`` maps
    a rule name to a boolean SQL predicate that each ROW must satisfy;
    the report has one row per rule with its violation count (0 = the
    expectation holds).

    The row-level counts compute as conditional sums inside a single
    aggregate (map-side combined — one scan however many rules), then a
    tiny ``stack`` to long format.  Uniqueness and other set-level
    expectations are separate queries by nature (they aggregate before
    judging): a query whose rows are the violations.
    """
    from pyspark.sql import functions as F

    aggs = [
        F.sum(F.when(F.expr(pred), 0).otherwise(1)).alias(f"_r{i}")
        for i, pred in enumerate(rules.values())
    ]
    one = df.agg(*aggs)
    stack = ", ".join(
        f"'{name}', _r{i}" for i, name in enumerate(rules)
    )
    return one.selectExpr(
        f"stack({len(rules)}, {stack}) AS (rule, n_violations)"
    )

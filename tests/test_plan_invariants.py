"""Catalog-wide physical-plan invariants.

Every batch query in the catalog must satisfy, at ANY scale:

1. **No CartesianProduct.**  A cross join where neither side broadcasts
   is quadratic row movement; every intentional small-side cross join in
   this engine plans as BroadcastNestedLoopJoin (tiny side broadcast —
   probe sets, one-row totals, anchor frames), which Spark only selects
   when one side IS a broadcast.
2. **Single-partition exchanges carry reduced frames only.**  An
   ``Exchange SinglePartition`` is allowed exclusively on top of a
   subtree that REDUCES before it reads a source: a ``HashAggregate`` /
   ``SortAggregate`` / ``ObjectHashAggregate`` or a ``Limit`` must
   appear below the exchange BEFORE any file/table scan.  ``Sort`` and
   ``Window`` deliberately do NOT count — a reintroduced full-row
   global window plans exactly as ``Window <- Sort <- Exchange
   SinglePartition <- scan`` (or with another partitioned window
   below), and sort/window tokens would whitelist it while it funnels
   the whole table through one task.  This is the invariant that keeps
   the two-phase prefix sums and histogram ranks 100 TB-safe.

These are the repo-wide versions of the per-query assertions in
``test_scale_plans.py`` — a new catalog entry cannot silently introduce
either shape.

A source-level surface guard rides along: every public top-level
function in ``ayeaye_spark/operators/`` must be referenced somewhere in
the repo outside its own ``def``, so an uncalled twin cannot linger.
"""

import ast
import pathlib
import re

import pytest

from ayeaye_spark.catalog import QUERIES

SF = "/root/testdata/sf0.001"

# streaming drains execute through a different (incremental) planner
_BATCH_QUERIES = sorted(n for n in QUERIES if "stream" not in n)

# operators that shrink a row stream to a bounded frame
_REDUCERS = re.compile(
    r"HashAggregate|SortAggregate|ObjectHashAggregate|Limit"
    r"|TakeOrderedAndProject"
)
# raw-source leaves: anything that (re)reads unbounded rows
_SOURCES = re.compile(
    r"FileScan|InMemoryTableScan|Scan ExistingRDD|Scan parquet"
    r"|BatchScan|Scan jdbc"
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def single_partition_violations(plan: str) -> list[str]:
    """Segments below an ``Exchange SinglePartition`` whose first source
    scan comes BEFORE any reducing operator — i.e. full row streams
    funneled into one task.  Text order approximates tree order: the
    exchange's child subtree prints immediately after the exchange
    line, so a reducer protecting the exchange appears before the first
    scan token and an unprotected scan appears first."""
    bad = []
    for seg in plan.split("Exchange SinglePartition")[1:]:
        src = _SOURCES.search(seg)
        if src is None:
            continue  # no raw source below: bounded by construction
        red = _REDUCERS.search(seg)
        if red is None or red.start() > src.start():
            bad.append(seg[:500])
    return bad


@pytest.mark.parametrize("name", _BATCH_QUERIES)
def test_no_cartesian_and_no_full_row_single_partition(name, spark):
    plan = _plan(QUERIES[name](spark, SF))
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    bad = single_partition_violations(plan)
    assert not bad, (
        f"{name}: SinglePartition exchange over a full row stream:\n"
        + "\n---\n".join(bad)
    )


def test_negative_fixture_naive_global_window_is_caught(spark):
    """A deliberately-naive global NTILE over raw events MUST trip the
    invariant — this is the regression class the check exists for (and
    the shape the old Sort/Window allowlist could whitelist when a
    partitioned window sat between the exchange and the scan)."""
    from pyspark.sql import Window
    import pyspark.sql.functions as F

    ev = spark.read.parquet(f"{SF}/events.parquet")
    naive = ev.withColumn(
        "dec", F.ntile(10).over(Window.orderBy("value"))
    )
    assert single_partition_violations(_plan(naive))

    # the masked variant: a partitioned window BELOW the global one
    # puts Window/Sort tokens right after the exchange in the printout
    per_user = ev.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy("value")
        ),
    )
    masked = per_user.withColumn(
        "dec", F.ntile(10).over(Window.orderBy("value"))
    )
    assert single_partition_violations(_plan(masked))


_REPO = pathlib.Path(__file__).resolve().parent.parent
_OPERATORS = _REPO / "ayeaye_spark" / "operators"


def _referenced_names(node) -> set[str]:
    """Names ``node`` uses as a ``Name``, an ``Attribute`` or an import."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def test_every_public_operator_is_referenced():
    """An operator nothing calls is a twin that should have been
    deleted.  Walks the AST of every ``.py`` file in the repo; a
    function's references inside its own ``def`` do not count."""
    defined, used = {}, set()
    for path in sorted(_REPO.rglob("*.py")):
        rel = path.relative_to(_REPO)
        if any(part.startswith(".") for part in rel.parts):
            continue
        tree = ast.parse(path.read_text(), str(rel))
        in_operators = path.parent == _OPERATORS
        for top in tree.body:
            names = _referenced_names(top)
            if in_operators and isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names.discard(top.name)
                if not top.name.startswith("_"):
                    defined[top.name] = str(rel)
            used |= names
    unused = sorted(f"{path}::{name}" for name, path in defined.items() if name not in used)
    assert not unused, f"public operators referenced nowhere: {unused}"

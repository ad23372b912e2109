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
function and class in ``ayeaye_spark/`` must be referenced somewhere in
the repo outside ``tests/`` and outside its own ``def``, so an uncalled
or test-only twin cannot linger.  The few defs kept for users with no
caller in the repo are listed, each with its reason, in
``TEST_ONLY_SURFACE``.
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

# Public defs that nothing outside tests/ calls, kept on purpose as entry
# points for users: hook plug-ins, media stages, streaming operators,
# lifecycle checks.  "path::name" -> why it stays.  An entry that gains a
# caller or goes away must leave this list.
TEST_ONLY_SURFACE = {
    "ayeaye_spark/catalog.py::scoped_session_conf":
        "user-facing: keeps the caller's session confs across catalog calls",
    "ayeaye_spark/core/manifest.py::manifest_build_context":
        "user-facing CLI pattern: python model.py manifest.json",
    "ayeaye_spark/core/model.py::ModelRunner":
        "reference-parity API: the parallel model runner pattern",
    "ayeaye_spark/operators/maintenance.py::build_file_index":
        "user-facing footer index behind pruned_read and files_for_box",
    "ayeaye_spark/operators/maintenance.py::pruned_read":
        "user-facing manifest-pruned read of a clustered table",
    "ayeaye_spark/operators/maintenance.py::compact_parquet":
        "user-facing table maintenance: writes files, so no query calls it",
    "ayeaye_spark/operators/multimodal.py::split_gif_frames":
        "splitter= plug-in: animated GIF frames for video_frame_signatures",
    "ayeaye_spark/operators/multimodal.py::sample_decode":
        "decoder= plug-in for decode_images: float stats over the real decoders",
    "ayeaye_spark/operators/multimodal.py::real_image_features":
        "featurizer= plug-in for extract_features (named in media_pipeline)",
    "ayeaye_spark/operators/multimodal.py::audio_fingerprint64":
        "hasher= plug-in: audio near-dup through image_near_dup_pairs",
    "ayeaye_spark/operators/multimodal.py::extract_audio_tags":
        "user-facing media stage: ID3 tags per file",
    "ayeaye_spark/operators/multimodal.py::extract_exif":
        "user-facing media stage: EXIF and GPS fields per image",
    "ayeaye_spark/operators/multimodal.py::extract_keyframes":
        "user-facing media stage: keyframe bytes that pipe into resize_images",
    "ayeaye_spark/operators/multimodal.py::video_near_dup_pairs":
        "user-facing near-dup entry for clips (frame-hash set Jaccard)",
    "ayeaye_spark/plans/checks.py::assert_columns":
        "user-facing pre/post_build_check helper",
    "ayeaye_spark/plans/checks.py::assert_single_value":
        "user-facing pre/post_build_check helper",
    "ayeaye_spark/plans/checks.py::assert_conserved":
        "user-facing pre/post_build_check helper",
    "ayeaye_spark/sources/listing.py::expand_pattern":
        "reference-parity API: per-file engine_urls for MultiConnector",
    "ayeaye_spark/sources/webdataset.py::members_to_samples":
        "user-facing WebDataset pivot: wds:// member rows to one row per sample",
    "ayeaye_spark/streaming/events.py::use_rocksdb_state":
        "user-facing streaming conf: the RocksDB state store",
    "ayeaye_spark/streaming/events.py::stateful_running_totals":
        "user-facing streaming operator (applyInPandasWithState)",
    "ayeaye_spark/streaming/events.py::interval_event_join":
        "user-facing streaming operator (watermarked interval join)",
    "ayeaye_spark/streaming/events.py::enrich_with_static":
        "user-facing streaming operator (stream-static join)",
    "ayeaye_spark/streaming/sinks.py::idempotent_parquet_sink":
        "user-facing exactly-once foreachBatch sink",
    "ayeaye_spark/streaming/sinks.py::read_all_batches":
        "user-facing reader of idempotent_parquet_sink output",
}


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


def _is_catalog_query(node) -> bool:
    """``@query(...)`` registers the def in ``QUERIES``: that is its use."""
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name)
        and d.func.id == "query"
        for d in node.decorator_list
    )


def unreferenced_public_defs(repo: pathlib.Path) -> list[str]:
    """``path::name`` of every public top-level function or class under
    ``repo/ayeaye_spark`` that no ``.py`` file outside ``repo/tests``
    references.  A def's references inside its own body do not count."""
    pkg = repo / "ayeaye_spark"
    defined, used = [], set()
    for path in sorted(repo.rglob("*.py")):
        rel = path.relative_to(repo)
        if rel.parts[0] == "tests" or any(p.startswith(".") for p in rel.parts):
            continue
        tree = ast.parse(path.read_text(), str(rel))
        in_pkg = pkg in path.parents
        for top in tree.body:
            names = _referenced_names(top)
            if in_pkg and isinstance(
                top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                names.discard(top.name)
                if not top.name.startswith("_") and not _is_catalog_query(top):
                    defined.append((rel.as_posix(), top.name))
            used |= names
    return sorted(f"{rel}::{name}" for rel, name in defined if name not in used)


def test_every_public_operator_is_referenced():
    """A public def nothing but a test calls is a twin that should have
    been deleted, or a user entry point that must say so in
    ``TEST_ONLY_SURFACE``."""
    unused = unreferenced_public_defs(_REPO)
    unlisted = [u for u in unused if u not in TEST_ONLY_SURFACE]
    assert not unlisted, f"public defs only tests reference: {unlisted}"
    stale = sorted(set(TEST_ONLY_SURFACE) - set(unused))
    assert not stale, f"TEST_ONLY_SURFACE entries now used or gone: {stale}"
    assert all(r.strip() for r in TEST_ONLY_SURFACE.values())


def test_surface_scan_flags_a_def_only_tests_reference(tmp_path):
    """The scan must not count ``tests/`` as a referrer, and must count a
    ``@query`` registration as a use."""
    pkg = tmp_path / "ayeaye_spark"
    (tmp_path / "tests").mkdir()
    pkg.mkdir()
    (pkg / "ops.py").write_text(
        "def used():\n    pass\n\n\n"
        "def only_tested():\n    return only_tested\n\n\n"
        "@query('q1', oracle='SELECT 1')\n"
        "def q1(spark, sf_dir):\n    pass\n"
    )
    (tmp_path / "app.py").write_text("from ayeaye_spark.ops import used\n")
    (tmp_path / "tests" / "test_ops.py").write_text(
        "from ayeaye_spark.ops import only_tested, used\n\n\n"
        "def test_it():\n    only_tested()\n    used()\n"
    )
    assert unreferenced_public_defs(tmp_path) == ["ayeaye_spark/ops.py::only_tested"]

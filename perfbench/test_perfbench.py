"""The benchmark's own tests: ``python -m pytest perfbench -q`` from the
repository root."""

from __future__ import annotations

import json
import os
import pickle

import pytest

from perfbench import run, trace

HERE = os.path.dirname(os.path.abspath(__file__))


def _declared(section: str) -> dict[str, str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def test_end_to_end_metrics_match_benchmark_json():
    assert run.E2E_UNITS == _declared("end_to_end")


def test_per_layer_metrics_match_benchmark_json():
    assert run.LAYER_UNITS == _declared("per_layer")


def test_layer_metrics_prints_every_declared_metric_with_its_unit():
    class NoWrites:
        pass

    samples = [{"spark.jobs": 7, "spark.tasks": 9}, {"spark.jobs": 7, "spark.tasks": 10}]
    out = run.layer_metrics(samples, 1.0, 2.0, 1.25, NoWrites())
    assert {k: v["unit"] for k, v in out.items()} == _declared("per_layer")
    assert out["spark.jobs"]["value"] == 7
    assert out["trace_overhead"]["value"] == 1.25


def test_steady_pass_is_the_sum_of_per_part_medians_of_the_quieter_half():
    parts = [{"a": 1.0, "b": 5.0}, {"a": 3.0, "b": 1.0}, {"a": 2.0, "b": 2.0}]
    quiet = [{"a": 0.0, "b": 0.0}] * 3
    assert run.steady_pass_s(parts, quiet) == pytest.approx(4.0)
    # each part keeps the 2 of its 3 runs with the least host steal
    steal = [{"a": 0.03, "b": 0.20}, {"a": 0.30, "b": 0.00}, {"a": 0.04, "b": 0.10}]
    assert run.steady_pass_s(parts, steal) == pytest.approx(1.5 + 1.5)
    # steal under QUIET_STEAL counts as none: every run of a stays in
    low = [{"a": 0.001, "b": 0.0}, {"a": 0.015, "b": 0.0}, {"a": 0.0, "b": 0.0}]
    assert run.steady_pass_s(parts, low) == pytest.approx(4.0)
    # a part that failed in one pass has the median of its other passes
    assert run.steady_pass_s([{"a": 1.0}, {"a": 3.0, "b": 2.0}],
                             [{"a": 0.0}, {"a": 0.0, "b": 0.0}]) == pytest.approx(4.0)


def test_module_function_pickles_as_the_module_attribute():
    from ayeaye_spark.operators import text

    name = next(n for n, f in vars(text).items()
                if callable(f) and getattr(f, "__module__", "") == text.__name__
                and not n.startswith("_") and not isinstance(f, type))
    original = getattr(text, name)
    wrapped = trace._ModuleFunction(original, lambda *a, **k: None, lambda token: None)
    setattr(text, name, wrapped)
    try:
        payload = pickle.dumps(wrapped)
    finally:
        setattr(text, name, original)
    assert pickle.loads(payload) is original


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    # Python workers unpickle the task counter from perfbench.trace, as in
    # a benchmark run (run._setup_env)
    root = os.path.dirname(HERE)
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([root] + [p for p in paths if p])
    session = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench_tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield session
    session.stop()


def _attributes():
    import importlib

    from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin
    from pyspark.sql.pandas.map_ops import PandasMapOpsMixin

    from ayeaye_spark.core import checkpoint
    from ayeaye_spark.core.collection import ModelCollection
    from ayeaye_spark.core.dataset import DatasetHandle
    from ayeaye_spark.core.model import Model

    owners = [checkpoint, PandasMapOpsMixin, PandasGroupedOpsMixin, Model, DatasetHandle,
              ModelCollection]
    owners += [importlib.import_module(f"ayeaye_spark.operators.{m}")
               for m in trace.OPERATOR_MODULES]
    return {(repr(o), k): v for o in owners for k, v in vars(o).items()}


def test_restore_after_a_failed_install_puts_back_what_was_patched(spark, monkeypatch):
    before = _attributes()
    tracer = trace.Tracer(spark)

    def broken(go):
        raise RuntimeError("wrapper failed")

    # Model.go is patched after the checkpoint, operator and pandas wrappers
    monkeypatch.setattr(tracer, "_model_go", broken)
    tracer.start_pass("perfbench-broken")
    try:
        with pytest.raises(RuntimeError):
            tracer.install()
    finally:
        tracer.restore()
    after = _attributes()
    assert after.keys() == before.keys()
    assert all(after[k] is v for k, v in before.items())


def test_traced_pass_counts_and_restores_every_attribute(spark):
    from ayeaye_spark.core.checkpoint import ckpt_eager

    before = _attributes()
    tracer = trace.Tracer(spark)
    tracer.start_pass("perfbench-test")
    try:
        tracer.install()
        assert _attributes() != before
        df = spark.range(8, numPartitions=2)
        df.mapInPandas(lambda it: it, "id long").collect()
        keyed = df.withColumn("k", df.id % 2)
        keyed.groupBy("k").applyInPandas(lambda pdf: pdf[["k"]], "k long").collect()
        ckpt_eager(df).count()
    finally:
        tracer.restore()
    after = _attributes()
    assert after.keys() == before.keys()
    assert all(after[k] is v for k, v in before.items())

    counts = tracer.finish_pass(1.0, 2)
    # 2 mapInPandas tasks; applyInPandas runs only in tasks that hold a group
    assert 3 <= counts["spark.arrow_tasks"] <= 4
    assert counts["core.checkpoint.calls"] == 1
    assert counts["core.checkpoint.eager_calls"] == 1
    assert counts["spark.jobs"] >= 3
    assert counts["spark.unattributed_jobs"] == 0

"""Model lifecycle, PartitionedModel, ModelCollection tests (mirrors the
reference's framework-behaviour layer, SURVEY §5)."""

import pytest

from pyspark.sql import functions as F

from ayeaye_spark import (
    AccessMode,
    Connect,
    Model,
    ModelCollection,
    ModelGraphError,
    PartitionedModel,
    SubTaskFailed,
)
from ayeaye_spark.core.model import PartitionOption, TaskPartition
from ayeaye_spark.plans import checks


@pytest.fixture()
def animals_csv(tmp_path):
    p = tmp_path / "animals.csv"
    p.write_text(
        "name,where\nfrog,bog\ntoad,bog\nsnake,desert\n"
    )
    return p


def make_grouper(animals_csv, tmp_path, spark_session):
    out_dir = tmp_path / "grouped.parquet"

    class GroupAnimals(Model):
        animals = Connect(engine_url=f"csv://{animals_csv}")
        grouped = Connect(engine_url=f"parquet://{out_dir}", access=AccessMode.WRITE)

        def build(self):
            df = self.animals.df.groupBy("where").agg(
                F.array_join(F.array_sort(F.collect_list("name")), "|").alias("names")
            )
            self.grouped.write(df)
            self.add_stat("groups", df.count())

        def post_build_check(self):
            from ayeaye_spark.sources.registry import connector_for

            out = connector_for(self.grouped.engine_url).read(self.spark)
            return out.count() == 2

    return GroupAnimals, out_dir


class TestModelLifecycle:
    def test_go_runs_all_stages(self, spark, animals_csv, tmp_path):
        GroupAnimals, out_dir = make_grouper(animals_csv, tmp_path, spark)
        m = GroupAnimals()
        m.log_to_stdout = False
        assert m.go(spark) is True
        assert m.stats["groups"] == 2
        assert m.stats["build_seconds"] > 0
        back = {r["where"]: r["names"] for r in spark.read.parquet(str(out_dir)).collect()}
        assert back == {"bog": "frog|toad", "desert": "snake"}

    def test_rows_written_per_dataset(self, spark, animals_csv, tmp_path):
        class Split(Model):
            animals = Connect(engine_url=f"csv://{animals_csv}")
            bog = Connect(engine_url=f"parquet://{tmp_path}/bog.parquet", access=AccessMode.WRITE)
            rest = Connect(
                engine_url=f"parquet://{tmp_path}/rest.parquet", access=AccessMode.WRITE,
                sort_by="name",
            )

            def build(self):
                df = self.animals.df
                self.bog.write(df.where("where = 'bog'"))
                self.rest.write(df.where("where != 'bog'"))

        m = Split()
        m.log_to_stdout = False
        assert m.go(spark) is True
        back = {
            name: spark.read.parquet(str(tmp_path / f"{name}.parquet")).count()
            for name in ("bog", "rest")
        }
        assert m.stats["rows_written"] == back == {"bog": 2, "rest": 1}

    def test_pre_check_failure_aborts(self, spark, animals_csv, tmp_path):
        GroupAnimals, _ = make_grouper(animals_csv, tmp_path, spark)

        class Failing(GroupAnimals):
            def pre_build_check(self):
                return False

            def build(self):  # must never run
                raise AssertionError("build ran despite failed pre-check")

        m = Failing()
        m.log_to_stdout = False
        assert m.go(spark) is False

    def test_connects_reflection(self, spark, animals_csv, tmp_path):
        GroupAnimals, _ = make_grouper(animals_csv, tmp_path, spark)
        names = set(GroupAnimals.connects())
        assert names == {"animals", "grouped"}
        assert GroupAnimals.connects()["animals"].access == AccessMode.READ

    def test_lock_doc(self, spark, animals_csv, tmp_path, resolver):
        resolver.add(env="test")
        GroupAnimals, _ = make_grouper(animals_csv, tmp_path, spark)
        doc = GroupAnimals().lock()
        assert doc["model_class"] == "GroupAnimals"
        assert doc["resolver_context"]["mapper"]["env"] == "test"
        assert set(doc["datasets"]) == {"animals", "grouped"}

    def test_dataset_iteration_compat(self, spark, animals_csv, tmp_path):
        GroupAnimals, _ = make_grouper(animals_csv, tmp_path, spark)
        m = GroupAnimals().set_spark(spark)
        names = sorted(row["name"] for row in m.animals)
        assert names == ["frog", "snake", "toad"]


class TestPartitionedModel:
    def _model(self, spark, results):
        class Sharded(PartitionedModel):
            def build(self):
                pass

            def partition_plea(self):
                return PartitionOption(minimum=1, maximum=4, optimal=2)

            def partition_slice(self, n):
                return [("work", {"shard": i}) for i in range(4)]

            def work(self, shard):
                return shard * 10

            def partition_subtask_complete(self, subtask_method_name, subtask_kwargs,
                                           subtask_return_value):
                results.append((subtask_kwargs["shard"], subtask_return_value))

        m = Sharded()
        m.log_to_stdout = False
        return m

    def test_thread_distribution(self, spark):
        results = []
        m = self._model(spark, results)
        assert m.go(spark)
        assert sorted(results) == [(0, 0), (1, 10), (2, 20), (3, 30)]

    def test_subtask_failure_raises(self, spark):
        class Exploding(PartitionedModel):
            def build(self):
                pass

            def partition_slice(self, n):
                return [TaskPartition(method_name="boom")]

            def boom(self):
                raise ValueError("bad shard")

        m = Exploding()
        m.log_to_stdout = False
        with pytest.raises(SubTaskFailed) as err:
            m.go(spark)
        assert err.value.task_failed.exception_class_name == "ValueError"
        assert "bad shard" in err.value.task_failed.traceback

    def test_rdd_distribution(self, spark, resolver):
        resolver.add(prefix="p")
        collected = []

        class RddSharded(PartitionedModel):
            distribution = "rdd"

            def build(self):
                pass

            def partition_slice(self, n):
                return [("work", {"x": i}) for i in range(3)]

            def work(self, x):
                # executors see the re-applied resolver context
                from ayeaye_spark.core.resolver import connector_resolver

                return f"{connector_resolver.resolve('{prefix}')}{x}"

            def partition_subtask_complete(self, m, k, v):
                collected.append(v)

        m = RddSharded()
        m.log_to_stdout = False
        assert m.go(spark)
        assert sorted(collected) == ["p0", "p1", "p2"]


class TestModelCollection:
    def _three_models(self, tmp_path):
        a, b, c = (tmp_path / n for n in ("a.parquet", "b.parquet", "c.parquet"))
        src = tmp_path / "src.csv"
        src.write_text("x\n1\n2\n")

        class One(Model):
            source = Connect(engine_url=f"csv://{src}")
            out_a = Connect(engine_url=f"parquet://{a}", access=AccessMode.WRITE)

            def build(self):
                self.out_a.write(self.source.df)

        class Two(Model):
            in_a = Connect(engine_url=f"parquet://{a}")
            out_b = Connect(engine_url=f"parquet://{b}", access=AccessMode.WRITE)

            def build(self):
                self.out_b.write(self.in_a.df)

        class Three(Model):
            in_a = Connect(engine_url=f"parquet://{a}")
            out_c = Connect(engine_url=f"parquet://{c}", access=AccessMode.WRITE)

            def build(self):
                self.out_c.write(self.in_a.df)

        return One, Two, Three

    def test_run_order_layers(self, tmp_path):
        One, Two, Three = self._three_models(tmp_path)
        layers = ModelCollection({One, Two, Three}).run_order()
        assert layers[0] == {One}
        assert layers[1] == {Two, Three}

    def test_cycle_detection(self, tmp_path):
        class A(Model):
            i = Connect(engine_url="parquet:///x")
            o = Connect(engine_url="parquet:///y", access=AccessMode.WRITE)

            def build(self): ...

        class B(Model):
            i = Connect(engine_url="parquet:///y")
            o = Connect(engine_url="parquet:///x", access=AccessMode.WRITE)

            def build(self): ...

        with pytest.raises(ModelGraphError):
            ModelCollection({A, B}).run_order()

    def test_provenance_edges(self, tmp_path):
        One, Two, Three = self._three_models(tmp_path)
        edges = ModelCollection({One, Two, Three}).dataset_provenance()
        linked = {(e.model_a.__name__ if e.model_a else None,
                   e.model_b.__name__ if e.model_b else None) for e in edges}
        assert ("One", "Two") in linked
        assert ("One", "Three") in linked
        assert (None, "One") in linked  # leaf source

    def test_mermaid(self, tmp_path):
        One, Two, Three = self._three_models(tmp_path)
        mc = ModelCollection({One, Two, Three})
        assert "graph TD" in mc.mermaid_run_order()
        assert "One" in mc.mermaid_data_provenance()

    def test_run_executes_in_order(self, spark, tmp_path):
        One, Two, Three = self._three_models(tmp_path)
        for model in (One, Two, Three):
            model.log_to_stdout = False
        executed = ModelCollection({One, Two, Three}).run(spark)
        assert len(executed) == 3
        assert spark.read.parquet(str(tmp_path / "c.parquet")).count() == 2


class TestChecks:
    def test_assert_columns(self, spark):
        df = spark.createDataFrame([(1, "a")], ["id", "name"])
        checks.assert_columns(df, required=["id"])
        with pytest.raises(checks.CheckFailed):
            checks.assert_columns(df, expected=["name", "id"])

    def test_assert_single_value_and_conserved(self, spark):
        df = spark.createDataFrame([(2020, 5.0), (2020, 7.0)], ["year", "v"])
        assert checks.assert_single_value(df, "year") == 2020
        checks.assert_conserved(df, df, "sum(v)", "sum(v)")
        with pytest.raises(checks.CheckFailed):
            checks.assert_single_value(
                spark.createDataFrame([(1,), (2,)], ["year"]), "year"
            )

    def test_observed_metrics(self, spark, tmp_path):
        df = spark.createDataFrame([(1,), (2,), (3,)], ["x"])
        target = Connect(
            engine_url=f"parquet://{tmp_path}/x.parquet", access=AccessMode.WRITE, sort_by="x"
        ).handle(spark)
        assert target.write(df, total=F.sum("x")) == {"rows": 3, "total": 6}


class TestModelRunner:
    def test_runs_models_concurrently(self, spark, tmp_path):
        from ayeaye_spark.core.model import ModelRunner

        src = tmp_path / "in.csv"
        src.write_text("x\n1\n2\n3\n")
        outs = {}

        def make(name):
            out = tmp_path / f"{name}.parquet"
            outs[name] = out

            class M(Model):
                source = Connect(engine_url=f"csv://{src}")
                sink = Connect(engine_url=f"parquet://{out}", access=AccessMode.WRITE)

                def build(self):
                    self.sink.write(self.source.df)

            M.__name__ = name
            M.log_to_stdout = False
            return M

        runner = ModelRunner([make("MA"), make("MB")])
        runner.log_to_stdout = False
        assert runner.go(spark)
        for out in outs.values():
            assert spark.read.parquet(str(out)).count() == 3

    def test_failure_propagates(self, spark):
        from ayeaye_spark.core.model import ModelRunner

        class Bad(Model):
            def build(self):
                raise RuntimeError("inner model exploded")

        Bad.log_to_stdout = False
        runner = ModelRunner([Bad])
        runner.log_to_stdout = False
        with pytest.raises(SubTaskFailed):
            runner.go(spark)


class TestLockingRoundTrip:
    def test_apply_locking_hook(self, spark, tmp_path, resolver):
        resolver.add(env="prod")

        class Lockable(Model):
            data = Connect(engine_url="csv://{env}/x.csv")
            captured = None

            def fetch_locking(self):
                return {"my_payload": {"cursor": 42}}

            def apply_locking(self, lock_doc):
                self.captured = lock_doc["my_payload"]

            def build(self): ...

        doc = Lockable().lock()
        assert doc["my_payload"] == {"cursor": 42}
        assert doc["datasets"]["data"]["engine_url"] == "csv://prod/x.csv"
        import json as _json

        restored = _json.loads(Lockable().lock_json())
        m2 = Lockable()
        m2.apply_locking(restored)
        assert m2.captured == {"cursor": 42}


class TestStandaloneConnect:
    def test_handle_outside_model(self, spark, tmp_path):
        p = tmp_path / "solo.csv"
        p.write_text("x,y\n1,a\n2,b\n")
        handle = Connect(engine_url=f"csv://{p}").handle(spark)
        assert handle.df.count() == 2
        assert handle.engine_url.endswith("solo.csv")
        assert [r["y"] for r in handle] == ["a", "b"]  # row-iteration compat


class TestReadWriteRunOrder:
    def test_rw_output_orders_consumer_without_blocking_producer(self):
        from ayeaye_spark import AccessMode, Connect, Model, ModelCollection

        class Producer(Model):
            src = Connect(engine_url="parquet:///tmp/rw_src")
            out = Connect(engine_url="parquet:///tmp/rw_mid", access=AccessMode.READWRITE)

            def build(self):  # pragma: no cover - order test only
                pass

        class Consumer(Model):
            mid = Connect(engine_url="parquet:///tmp/rw_mid")
            final = Connect(engine_url="parquet:///tmp/rw_out", access=AccessMode.WRITE)

            def build(self):  # pragma: no cover - order test only
                pass

        layers = ModelCollection([Consumer, Producer]).run_order()
        # the READWRITE dataset must still order producer before consumer
        assert layers == [{Producer}, {Consumer}]

    def test_rw_self_loop_alone_is_runnable(self):
        from ayeaye_spark import AccessMode, Connect, Model, ModelCollection

        class SelfRW(Model):
            state = Connect(engine_url="parquet:///tmp/rw_state", access=AccessMode.READWRITE)

            def build(self):  # pragma: no cover - order test only
                pass

        assert ModelCollection([SelfRW]).run_order() == [{SelfRW}]


class TestReadWriteRunOrderCrossProducer:
    def test_rw_reader_waits_for_other_writer(self):
        from ayeaye_spark import AccessMode, Connect, Model, ModelCollection

        class Writer(Model):
            src = Connect(engine_url="parquet:///tmp/xp_src")
            x = Connect(engine_url="parquet:///tmp/xp_x", access=AccessMode.WRITE)

            def build(self):  # pragma: no cover
                pass

        class RwReader(Model):
            # read-then-append on ANOTHER model's output: must run after it
            x = Connect(engine_url="parquet:///tmp/xp_x", access=AccessMode.READWRITE)

            def build(self):  # pragma: no cover
                pass

        assert ModelCollection([RwReader, Writer]).run_order() == [{Writer}, {RwReader}]

    def test_two_rw_appenders_stay_an_error(self):
        import pytest as _pytest

        from ayeaye_spark import AccessMode, Connect, Model, ModelCollection
        from ayeaye_spark.core.collection import ModelGraphError

        class AppendA(Model):
            x = Connect(engine_url="parquet:///tmp/xp_y", access=AccessMode.READWRITE)

            def build(self):  # pragma: no cover
                pass

        class AppendB(Model):
            x = Connect(engine_url="parquet:///tmp/xp_y", access=AccessMode.READWRITE)

            def build(self):  # pragma: no cover
                pass

        with _pytest.raises(ModelGraphError):
            ModelCollection([AppendA, AppendB]).run_order()


class TestReferenceTopLevelParity:
    """Everything the reference exports at package top level
    (lib/ayeaye/__init__.py:1-8) must import from ayeaye_spark the same
    way, so reference users' imports port without edits."""

    def test_reference_exports_importable(self):
        import ayeaye_spark as a

        for name in [
            "AbstractManifestMapper", "EngineFromManifest", "connector_resolver",
            "Connect", "AccessMode", "LockingMode", "Model", "PartitionedModel",
            "ModelCollection", "Pinnate",
        ]:
            assert hasattr(a, name), f"missing top-level export: {name}"

    def test_lock_context_mode_omits_datasets(self):
        from ayeaye_spark import Connect, LockingMode, Model, connector_resolver

        class M(Model):
            src = Connect(engine_url="fake://rows")

        with connector_resolver.context():
            full = M().lock()
            ctx_only = M().lock(LockingMode.CONTEXT)
        assert "datasets" in full and "src" in full["datasets"]
        assert "datasets" not in ctx_only
        assert ctx_only["resolver_context"] == full["resolver_context"]

    def test_lock_rejects_invalid_mode_but_accepts_string(self):
        import pytest

        from ayeaye_spark import Connect, LockingMode, Model, connector_resolver

        class M(Model):
            src = Connect(engine_url="fake://rows")

        with connector_resolver.context():
            by_string = M().lock("context")
            assert "datasets" not in by_string
            assert M().lock("all_datasets")["datasets"]
            with pytest.raises(ValueError):
                M().lock("all_the_datasets")


class TestLockReferenceKeyword:
    def test_lock_accepts_reference_keyword(self):
        """Reference signature is lock(self, locking_level=...)
        (reference model.py:242) — ported keyword calls must work."""
        from ayeaye_spark import Connect, LockingMode, Model, connector_resolver

        class M(Model):
            src = Connect(engine_url="fake://rows")

        with connector_resolver.context():
            ctx = M().lock(locking_level=LockingMode.CONTEXT)
            full = M().lock(locking_level=LockingMode.ALL_DATASETS)
        assert "datasets" not in ctx
        assert "src" in full["datasets"]

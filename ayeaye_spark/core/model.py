"""Model lifecycle + partitioned execution, Spark-first.

* ``Model`` re-expresses AyeAye's ``lib/ayeaye/model.py:30-280``:
  ``go() = pre_build_check → build → post_build_check`` with stage timing,
  logging, progress/ETA, dataset closing between stages, and
  locking/lineage capture.
* ``PartitionedModel`` re-expresses ``model.py:283-613`` +
  ``runtime/multiprocess.py``: the subtask protocol survives
  (``partition_plea`` / ``partition_slice`` / ``partition_subtask_complete``
  / ``partition_complete``), but execution maps to Spark:

  - ``distribution="threads"`` (default): subtasks are submitted
    concurrently from driver threads — each subtask composes DataFrame
    ops, so Spark's scheduler (FAIR pools) interleaves the actual cluster
    work.  This replaces the reference's LocalProcessPool: the *data* is
    what's distributed, the task list is just concurrent job submission.
  - ``distribution="rdd"``: for pure-Python subtasks (no SparkSession
    use), ship the task list through ``sc.parallelize(...).map`` with the
    captured resolver context re-applied on executors — the faithful
    equivalent of the reference's worker-context re-injection
    (``multiprocess.py:197-204``).
"""

from __future__ import annotations

import json
import time
import traceback
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Callable

from pyspark.sql import SparkSession

from .dataset import Connect, DatasetHandle
from .resolver import connector_resolver


class LockingMode(Enum):
    """What :meth:`Model.lock` captures (``model.py:17-26``): just the
    resolver context, or additionally every dataset's resolved
    engine_url (the repeatability superset)."""

    CONTEXT = "context"
    ALL_DATASETS = "all_datasets"


class SubTaskFailed(RuntimeError):
    """A partition subtask raised; carries the structured failure record
    (cf. ``lib/ayeaye/exception.py:25-48``)."""

    def __init__(self, task_failed: "TaskFailed"):
        self.task_failed = task_failed
        super().__init__(
            f"subtask {task_failed.method_name}({task_failed.method_kwargs}) failed: "
            f"{task_failed.exception_class_name}"
        )


@dataclass
class TaskPartition:
    """One subtask spec (``runtime/task_message.py:36-42``)."""

    method_name: str
    method_kwargs: dict[str, Any] = field(default_factory=dict)
    partition_initialise_kwargs: dict[str, Any] = field(default_factory=dict)
    model_class: type | None = None


@dataclass
class TaskComplete:
    method_name: str
    method_kwargs: dict[str, Any]
    return_value: Any


@dataclass
class TaskFailed:
    method_name: str
    method_kwargs: dict[str, Any]
    exception_class_name: str
    traceback: str


@dataclass
class PartitionOption:
    """Worker-count negotiation envelope (``model.py:420-429``)."""

    minimum: int = 1
    maximum: int = 128
    optimal: int = 16


class LoggingMixin:
    """``log()`` + throttled ``log_progress`` with ETA (``model.py:169-216``)."""

    log_to_stdout = True
    external_logger: Callable[[str], None] | None = None
    progress_log_interval = 20.0  # seconds, model.py:46

    def __init__(self) -> None:
        self._progress_started: float | None = None
        self._progress_last_log: float | None = None

    def set_logger(self, logger: Any) -> None:
        """Attach an external logger: a callable taking the line, or a
        file-like object with ``write`` (e.g. ``StringIO`` in tests)."""
        if hasattr(logger, "write"):
            self.external_logger = lambda line: logger.write(line + "\n")
        else:
            self.external_logger = logger

    def log(self, msg: str, level: str = "INFO") -> None:
        line = f"{time.strftime('%H:%M:%S')} {level} {msg}"
        if self.external_logger is not None:
            self.external_logger(line)
        if self.log_to_stdout:
            print(line)

    def log_progress(self, position_pc: float, msg: str | None = None) -> None:
        now = time.monotonic()
        if self._progress_started is None:
            self._progress_started = now
        if (
            self._progress_last_log is not None
            and now - self._progress_last_log < self.progress_log_interval
        ):
            return
        self._progress_last_log = now
        eta = ""
        if 0 < position_pc < 1:
            elapsed = now - self._progress_started
            remaining = elapsed / position_pc * (1 - position_pc)
            eta = f" eta {remaining:.0f}s"
        self.log(f"PROGRESS {position_pc * 100:.1f}%{eta}{' ' + msg if msg else ''}")


class Model(LoggingMixin):
    """Batch ETL model: declare datasets with :class:`Connect`, implement
    ``build()`` as DataFrame transformations, optionally implement the
    pre/post checks as DataFrame assertions."""

    def __init__(self) -> None:
        super().__init__()
        self.stats: dict[str, Any] = {}
        self._spark: SparkSession | None = None

    # -- spark session -----------------------------------------------
    def spark_session(self) -> SparkSession:
        if self._spark is None:
            from .session import get_spark

            self._spark = get_spark(type(self).__name__)
        return self._spark

    def set_spark(self, spark: SparkSession) -> "Model":
        self._spark = spark
        return self

    @property
    def spark(self) -> SparkSession:
        return self.spark_session()

    # -- lifecycle (model.py:55-92) -----------------------------------
    def go(self, spark: SparkSession | None = None) -> bool:
        if spark is not None:
            self.set_spark(spark)
        t0 = time.monotonic()
        if not self.pre_build_check():
            self.log("Pre-build check failed", "ERROR")
            self.close_datasets()
            return False
        self.close_datasets()

        self._build()
        # the row counts the writes observed: no Spark job of its own
        self.stats["rows_written"] = {
            name: handle.rows_written
            for name, handle in self.__dict__.get("_dataset_handles", {}).items()
            if handle.rows_written is not None
        }
        self.close_datasets()

        if not self.post_build_check():
            self.log("Post-build check failed", "ERROR")
            self.close_datasets()
            return False
        self.close_datasets()
        self.stats["build_seconds"] = time.monotonic() - t0
        self.log(f"Build completed in {self.stats['build_seconds']:.2f}s stats={self.stats}")
        return True

    def _build(self) -> None:
        self.build()

    def pre_build_check(self) -> bool:
        return True

    def build(self) -> None:
        raise NotImplementedError("models must implement build()")

    def post_build_check(self) -> bool:
        return True

    # -- dataset reflection (model.py:130-167) -------------------------
    @classmethod
    def connects(cls) -> dict[str, Connect]:
        found: dict[str, Connect] = {}
        for klass in reversed(cls.__mro__):
            for name, attr in vars(klass).items():
                if isinstance(attr, Connect):
                    found[name] = attr
        return found

    def datasets(self) -> dict[str, DatasetHandle]:
        return {name: getattr(self, name) for name in type(self).connects()}

    def close_datasets(self) -> None:
        for handle in self.__dict__.get("_dataset_handles", {}).values():
            handle.close()

    # -- stats / counters (model.py:49-53, 88-90) ----------------------
    def add_stat(self, name: str, value: Any) -> None:
        self.stats[name] = value

    def increment_stat(self, name: str, by: int = 1) -> None:
        self.stats[name] = self.stats.get(name, 0) + by

    # -- locking / repeatability (model.py:218-280) --------------------
    def lock(self, locking_level: LockingMode = LockingMode.ALL_DATASETS) -> dict[str, Any]:
        """JSON-able doc capturing resolver context (without secrets)
        and — under ``ALL_DATASETS`` — every dataset's resolved
        engine_url; ``CONTEXT`` captures the resolver context alone.
        The keyword matches the reference signature
        (``model.py:242`` ``lock(self, locking_level=CONTEXT)``) so
        ported ``lock(locking_level=...)`` calls work unchanged.
        DELIBERATE DIVERGENCE: the default here is ``ALL_DATASETS``
        (the repeatability superset) rather than the reference's
        ``CONTEXT`` — a bare ``lock()`` should capture enough to
        re-run the model, not just the resolver context.
        Accepts the enum or its string value; anything else raises
        rather than silently dropping the datasets section."""
        locking_level = LockingMode(locking_level)
        doc = {
            "model_class": type(self).__name__,
            "resolver_context": connector_resolver.capture_context(),
        }
        if locking_level is LockingMode.ALL_DATASETS:
            doc["datasets"] = {}
            for name, connect in type(self).connects().items():
                url = connect.engine_url
                if callable(url):
                    url = f"callable:{getattr(url, '__name__', repr(url))}"
                elif isinstance(url, (list, tuple)):
                    url = [connector_resolver.resolve_without_secrets(u) for u in url]
                elif isinstance(url, str):
                    url = connector_resolver.resolve_without_secrets(url)
                doc["datasets"][name] = {"engine_url": url, "access": connect.access.name}
        doc.update(self.fetch_locking() or {})
        return doc

    def fetch_locking(self) -> dict[str, Any] | None:
        """Hook: models add their own lock payload (model.py:252-262)."""
        return None

    def apply_locking(self, lock_doc: dict[str, Any]) -> None:
        """Hook: models re-apply a captured lock (model.py:264-272)."""

    def lock_json(self, **json_kwargs: Any) -> str:
        return json.dumps(self.lock(), default=str, **json_kwargs)


class PartitionedModel(Model):
    """Model whose build fans out into subtasks (``model.py:283-613``)."""

    #: "threads" (concurrent Spark job submission) or "rdd" (pure-Python
    #: subtasks shipped to executors)
    distribution = "threads"

    def __init__(self) -> None:
        super().__init__()
        self.runtime = RuntimeKnowledge()

    # -- protocol hooks ------------------------------------------------
    def partition_plea(self) -> PartitionOption:
        return PartitionOption()

    def partition_slice(self, partition_count: int) -> list[TaskPartition | tuple]:
        raise NotImplementedError("PartitionedModel needs partition_slice()")

    def partition_initialise(self, **kwargs: Any) -> None:
        pass

    def partition_subtask_complete(
        self, subtask_method_name: str, subtask_kwargs: dict, subtask_return_value: Any
    ) -> None:
        pass

    def partition_subtask_failed(self, task_fail_message: TaskFailed) -> None:
        raise SubTaskFailed(task_fail_message)

    def partition_complete(self) -> None:
        pass

    # -- execution ------------------------------------------------------
    def _negotiated_workers(self) -> int:
        plea = self.partition_plea()
        workers = min(plea.optimal, self.runtime.max_concurrent_tasks)
        workers = max(plea.minimum, min(workers, plea.maximum))
        return max(1, workers)

    @staticmethod
    def _normalize(tasks: list[TaskPartition | tuple]) -> list[TaskPartition]:
        out = []
        for t in tasks:
            if isinstance(t, TaskPartition):
                out.append(t)
            else:
                method, kwargs = t
                out.append(TaskPartition(method_name=method, method_kwargs=dict(kwargs)))
        return out

    def _build(self) -> None:
        self.build()
        workers = self._negotiated_workers()
        tasks = self._normalize(list(self.partition_slice(workers)))
        if not tasks:
            self.partition_complete()
            return
        if self.distribution == "rdd":
            self._run_tasks_rdd(tasks, workers)
        else:
            self._run_tasks_threads(tasks, workers)
        self.partition_complete()

    def _run_subtask_inline(self, task: TaskPartition) -> TaskComplete | TaskFailed:
        model_cls = task.model_class or type(self)
        instance = model_cls()
        if self._spark is not None:
            instance.set_spark(self._spark)
        try:
            instance.partition_initialise(**task.partition_initialise_kwargs)
            result = getattr(instance, task.method_name)(**task.method_kwargs)
            return TaskComplete(task.method_name, task.method_kwargs, result)
        except Exception as e:
            return TaskFailed(
                task.method_name, task.method_kwargs, type(e).__name__, traceback.format_exc()
            )

    def _run_tasks_threads(self, tasks: list[TaskPartition], workers: int) -> None:
        if workers == 1 or len(tasks) == 1:
            results = [self._run_subtask_inline(t) for t in tasks]
        else:
            with ThreadPoolExecutor(max_workers=workers) as pool:
                futures = {pool.submit(self._run_subtask_inline, t): t for t in tasks}
                results = [f.result() for f in as_completed(futures)]
        for r in results:
            if isinstance(r, TaskFailed):
                self.partition_subtask_failed(r)
            else:
                self.partition_subtask_complete(r.method_name, r.method_kwargs, r.return_value)

    def _run_tasks_rdd(self, tasks: list[TaskPartition], workers: int) -> None:
        """Ship pure-Python subtasks to executors with the resolver context
        re-applied per task (the reference's worker context re-injection,
        ``multiprocess.py:197-204``)."""
        sc = self.spark.sparkContext
        captured = connector_resolver.capture_context()
        model_cls = type(self)
        payload = [
            (t.method_name, t.method_kwargs, t.partition_initialise_kwargs) for t in tasks
        ]

        def run_remote(spec):
            method_name, method_kwargs, init_kwargs = spec
            from ayeaye_spark.core.resolver import connector_resolver as worker_resolver

            worker_resolver.brutal_reset()
            worker_resolver.apply_context(captured)
            instance = model_cls.__new__(model_cls)
            Model.__init__(instance)
            try:
                instance.partition_initialise(**init_kwargs)
                result = getattr(instance, method_name)(**method_kwargs)
                return ("ok", method_name, method_kwargs, result, None, None)
            except Exception as e:
                return ("fail", method_name, method_kwargs, None, type(e).__name__,
                        traceback.format_exc())

        results = sc.parallelize(payload, min(workers, len(payload))).map(run_remote).collect()
        for status, method_name, method_kwargs, value, exc_name, tb in results:
            if status == "fail":
                self.partition_subtask_failed(TaskFailed(method_name, method_kwargs, exc_name, tb))
            else:
                self.partition_subtask_complete(method_name, method_kwargs, value)


class ModelRunner(PartitionedModel):
    """A PartitionedModel whose subtasks are other models' ``go()`` runs
    (the reference's ``common_pattern/parallel_model_runner.py:4-71``).

    Declare ``models = [ModelA, ModelB, ...]`` (or pass to __init__);
    each runs as a concurrent subtask sharing this runner's SparkSession —
    Spark's scheduler interleaves their jobs.
    """

    models: list[type] = []

    def __init__(self, models: list[type] | None = None):
        super().__init__()
        if models is not None:
            self.models = list(models)

    def build(self) -> None:
        pass

    def partition_slice(self, partition_count: int) -> list[TaskPartition]:
        return [
            TaskPartition(method_name="run_model", method_kwargs={"model_class": cls})
            for cls in self.models
        ]

    def run_model(self, model_class: type) -> bool:
        instance = model_class()
        if self._spark is not None:
            instance.set_spark(self._spark)
        instance.log_to_stdout = self.log_to_stdout
        ok = instance.go()
        if not ok:
            raise RuntimeError(f"{model_class.__name__} failed")
        return ok


class RuntimeKnowledge:
    """Worker sizing knowledge (``runtime/knowledge.py:12-55``): Spark's
    parallelism replaces process counting; ``cpu_task_ratio`` survives as
    the concurrent-job multiplier."""

    cpu_task_ratio = 2

    def __init__(self) -> None:
        self.worker_id: int | None = None
        self.total_workers: int | None = None

    @property
    def max_concurrent_tasks(self) -> int:
        import os

        return (os.cpu_count() or 4) * self.cpu_task_ratio

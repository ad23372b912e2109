"""Layer tracing from outside the program.

:class:`Tracer` wraps the public entry points of each layer for the
duration of a traced pass and restores every wrapped attribute
afterwards; the program's own code is not modified.  Engine counts come
from the Spark status store, read per job group after the pass.

Layers and what is wrapped:

* ``core.checkpoint``: ``materialize`` (``ckpt_eager``/``ckpt_lazy`` call
  it through the module global, so one wrapper sees every call site);
* ``operators.*``: every public function of each operator module, counted
  only when it is the outermost operator call on its thread;
* ``core.model``: ``Model.go``, which also times the instance's
  ``pre_build_check``/``build``/``post_build_check`` and sets a job group
  in the model's own thread (pool threads do not inherit the caller's);
* ``sources``: ``DatasetHandle.df`` (first touch) and ``DatasetHandle.write``;
* ``core.collection``: ``ModelCollection.run_order``;
* Python-eval tasks: ``DataFrame.mapInPandas``, ``DataFrame.mapInArrow``
  and ``GroupedData.applyInPandas`` get a user function that adds 1 to an
  accumulator once per executed task.
"""

from __future__ import annotations

import functools
import inspect
import os
import statistics
import threading
import time
from collections import defaultdict

OPERATOR_MODULES = ("graph", "similarity", "dedup", "text", "sampling", "relational")

# task attempt ids already counted by this Python worker process
_SEEN_TASKS: set[int] = set()


def _mark_task(acc) -> None:
    """Runs inside a Python worker: count the current task once."""
    from pyspark import TaskContext

    tid = TaskContext.get().taskAttemptId()
    if tid not in _SEEN_TASKS:
        _SEEN_TASKS.add(tid)
        acc.add(1)


def _count_iter(func, acc):
    def counted(batches):
        _mark_task(acc)
        yield from func(batches)

    return counted


def _count_grouped(func, acc):
    if len(inspect.signature(func).parameters) == 2:
        def counted_keyed(key, pdf):
            _mark_task(acc)
            return func(key, pdf)

        return counted_keyed

    def counted(pdf):
        _mark_task(acc)
        return func(pdf)

    return counted


class _ModuleFunction:
    """Stand-in for a module-level function.  Pickles as a reference to
    the module attribute, so a closure shipped to a Python worker that
    names it gets the worker's own, unwrapped function."""

    def __init__(self, fn, before, after):
        functools.update_wrapper(self, fn)
        self._fn, self._before, self._after = fn, before, after

    def __call__(self, *args, **kwargs):
        token = self._before(*args, **kwargs)
        try:
            return self._fn(*args, **kwargs)
        finally:
            self._after(token)

    def __reduce__(self):
        return self.__qualname__


def path_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def local_path(engine_url: str) -> str:
    """``parquet:///x/y.parquet;opt=1`` -> ``/x/y.parquet``."""
    return engine_url.split("://", 1)[-1].split(";", 1)[0]


class Tracer:
    """Per-pass layer counters.  ``install()`` before a traced pass,
    ``restore()`` after it (always, in a ``finally``)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.arrow_tasks = self.sc.accumulator(0)
        self._saved: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self.reset()

    # -- per-pass state -------------------------------------------------
    def reset(self) -> None:
        self.values: dict[str, float] = defaultdict(float)
        self.groups: list[str] = []
        self.go_seconds: dict[type, float] = {}
        self.layers: list[set[type]] = []
        self._arrow_base = self.arrow_tasks.value

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.values[key] += value

    def start_pass(self, group: str) -> None:
        self.reset()
        self.pass_group = group
        self.groups.append(group)
        self.sc.setJobGroup(group, group)
        self._unattributed_base = len(self.sc.statusTracker().getJobIdsForGroup(None))

    # -- patching -------------------------------------------------------
    def _patch(self, owner, name: str, replacement) -> None:
        self._saved.append((owner, name, vars(owner)[name]))
        setattr(owner, name, replacement)

    def restore(self) -> None:
        """Put back every attribute patched so far, also after an
        ``install()`` that failed partway."""
        while self._saved:
            owner, name, original = self._saved.pop()
            setattr(owner, name, original)

    def install(self) -> None:
        import importlib

        from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin
        from pyspark.sql.pandas.map_ops import PandasMapOpsMixin

        from ayeaye_spark.core import checkpoint
        from ayeaye_spark.core.collection import ModelCollection
        from ayeaye_spark.core.dataset import DatasetHandle
        from ayeaye_spark.core.model import Model

        self._patch(checkpoint, "materialize", self._checkpoint(checkpoint.materialize))
        for short in OPERATOR_MODULES:
            mod = importlib.import_module(f"ayeaye_spark.operators.{short}")
            for name, fn in list(vars(mod).items()):
                if (inspect.isfunction(fn) and fn.__module__ == mod.__name__
                        and not name.startswith("_")):
                    self._patch(mod, name, self._operator(fn, f"operators.{short}"))
        # the implementations behind DataFrame.mapInPandas/mapInArrow (the
        # classic DataFrame calls the mixin's explicitly) and
        # GroupedData.applyInPandas (inherited from the mixin)
        for owner, name, counter in (
            (PandasMapOpsMixin, "mapInPandas", _count_iter),
            (PandasMapOpsMixin, "mapInArrow", _count_iter),
            (PandasGroupedOpsMixin, "applyInPandas", _count_grouped),
        ):
            self._patch(owner, name, self._python_eval(getattr(owner, name), counter))
        self._patch(Model, "go", self._model_go(Model.go))
        self._patch(DatasetHandle, "df", self._handle_df(DatasetHandle.__dict__["df"]))
        self._patch(DatasetHandle, "write", self._handle_write(DatasetHandle.write))
        self._patch(ModelCollection, "run_order", self._run_order(ModelCollection.run_order))

    # -- wrappers -------------------------------------------------------
    def _timed(self, fn, key: str):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.monotonic()
            try:
                return fn(*args, **kwargs)
            finally:
                self.add(key, time.monotonic() - t0)

        return timed

    def _checkpoint(self, fn):
        eager_default = inspect.signature(fn).parameters["eager"].default

        def before(*args, **kwargs):
            if kwargs.get("eager", eager_default):
                self.add("core.checkpoint.eager_calls", 1)
            return time.monotonic()

        def after(t0):
            self.add("core.checkpoint.calls", 1)
            self.add("core.checkpoint.s", time.monotonic() - t0)

        return _ModuleFunction(fn, before, after)

    def _operator(self, fn, key: str):
        local = self._local

        def before(*args, **kwargs):
            depth = getattr(local, "depth", 0)
            local.depth = depth + 1
            return (depth, time.monotonic())

        def after(token):
            depth, t0 = token
            local.depth = depth
            if depth == 0:
                self.add(f"{key}.calls", 1)
                self.add(f"{key}.s", time.monotonic() - t0)

        return _ModuleFunction(fn, before, after)

    def _python_eval(self, method, counter):
        acc = self.arrow_tasks

        @functools.wraps(method)
        def patched(target, func, *args, **kwargs):
            return method(target, counter(func, acc), *args, **kwargs)

        return patched

    def _model_go(self, go):
        tracer = self

        @functools.wraps(go)
        def traced_go(model, *args, **kwargs):
            sc = tracer.sc
            name = type(model).__name__
            group = f"{tracer.pass_group}/{name}"
            with tracer._lock:
                tracer.groups.append(group)
            previous = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, name)
            hooks = ("pre_build_check", "build", "post_build_check")
            for hook in hooks:
                setattr(model, hook, tracer._timed(getattr(model, hook), f"core.model.{hook}_s"))
            t0 = time.monotonic()
            try:
                return go(model, *args, **kwargs)
            finally:
                with tracer._lock:
                    tracer.go_seconds[type(model)] = time.monotonic() - t0
                for hook in hooks:
                    delattr(model, hook)
                sc.setLocalProperty("spark.jobGroup.id", previous)

        return traced_go

    def _handle_df(self, prop):
        tracer = self

        def df(handle):
            if handle._df is not None:
                return prop.fget(handle)
            t0 = time.monotonic()
            try:
                return prop.fget(handle)
            finally:
                tracer.add("sources.read_calls", 1)
                tracer.add("sources.read_s", time.monotonic() - t0)

        return property(df, doc=prop.__doc__)

    def _handle_write(self, write):
        tracer = self

        @functools.wraps(write)
        def traced_write(handle, *args, **kwargs):
            t0 = time.monotonic()
            try:
                return write(handle, *args, **kwargs)
            finally:
                tracer.add("sources.write_calls", 1)
                tracer.add("sources.write_s", time.monotonic() - t0)
                path = local_path(handle.engine_url)
                if os.path.exists(path):
                    tracer.add("sources.bytes_written", path_bytes(path))

        return traced_write

    def _run_order(self, run_order):
        tracer = self

        @functools.wraps(run_order)
        def traced_run_order(collection):
            t0 = time.monotonic()
            layers = run_order(collection)
            tracer.add("core.collection.run_order_s", time.monotonic() - t0)
            tracer.layers = [set(layer) for layer in layers]
            return layers

        return traced_run_order

    # -- readout --------------------------------------------------------
    def finish_pass(self, pass_s: float, cores: int) -> dict[str, float]:
        """Per-pass layer metrics; call after the pass, outside its timing."""
        sc = self.sc
        sc.setLocalProperty("spark.jobGroup.id", None)
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs, stage_ids = 0, set()
        for group in self.groups:
            for job_id in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(job_id)
                if info is not None:
                    jobs += 1
                    stage_ids.update(info.stageIds)
        out = dict(self.values)
        engine = defaultdict(float)
        store = jsc.statusStore()
        for stage_id in stage_ids:
            try:
                sd = store.lastStageAttempt(stage_id)
            except Exception:  # noqa: BLE001 - stage evicted from the store
                continue
            if sd.numCompleteTasks() + sd.numFailedTasks() == 0:
                continue  # skipped: its output was reused from an earlier job
            engine["spark.stages"] += 1
            engine["spark.tasks"] += sd.numCompleteTasks()
            engine["spark.tasks_failed"] += sd.numFailedTasks()
            engine["spark.input_bytes"] += sd.inputBytes()
            engine["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
            engine["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            engine["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            engine["spark.executor_run_ms"] += sd.executorRunTime()
            engine["spark.executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            engine["spark.jvm_gc_ms"] += sd.jvmGcTime()
        out.update(engine)
        out["spark.jobs"] = jobs
        out["spark.unattributed_jobs"] = (
            len(tracker.getJobIdsForGroup(None)) - self._unattributed_base
        )
        out["spark.busy_ratio"] = engine["spark.executor_run_ms"] / (pass_s * 1000 * cores)
        out["spark.arrow_tasks"] = self.arrow_tasks.value - self._arrow_base
        straggler = 0.0
        for layer in self.layers:
            times = [self.go_seconds[m] for m in layer if m in self.go_seconds]
            if times:
                straggler += max(times) - statistics.median(times)
        out["core.collection.layers"] = len(self.layers)
        out["core.collection.straggler_s"] = straggler
        return out

"""``Connect`` — declarative dataset binding as a Python descriptor.

Re-expresses the reference's ``ayeaye.Connect`` (AyeAye
``lib/ayeaye/connect.py:10-331``): a class-level declaration on a model
that lazily resolves to a connector when first touched.  In the Spark
engine the resolved handle exposes a *DataFrame* (``.df``) instead of a
row iterator; everything else — AccessMode, clone-for-DAG-discovery,
callable/templated/list engine_urls, standalone mode — keeps the
reference's semantics.
"""

from __future__ import annotations

import copy
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..sources.base import AccessMode, DataConnector
from ..sources.multi import MultiConnector, PlaceholderDataConnector
from .resolver import connector_resolver


class DatasetHandle:
    """Per-model-instance resolved dataset: connector + SparkSession.

    The attribute a model's ``build()`` works with.  ``.df`` triggers the
    read (lazy DataFrame — Catalyst optimizes the whole composed plan);
    ``.write(df)`` is the sink side and reports what it wrote: the rows
    (also kept as ``rows_written``) plus any aggregates the caller names,
    observed on the write job itself, so a model never re-runs a frame's
    plan just to count what it persisted.  Driver-side connectors (json
    manifests, REST) proxy ``.data`` and verbs straight through, mirroring
    the reference's standalone attribute proxy (``connect.py:295-331``).
    """

    def __init__(self, connector: DataConnector, spark_provider: Callable[[], SparkSession]):
        self.connector = connector
        self._spark_provider = spark_provider
        self._df: DataFrame | None = None
        #: rows of this handle's last observed write; None until one
        self.rows_written: int | None = None

    @property
    def spark(self) -> SparkSession:
        return self._spark_provider()

    @property
    def df(self) -> DataFrame:
        if self._df is None:
            self._df = self.connector.read(self.spark)
        return self._df

    def read(self) -> DataFrame:
        return self.df

    def write(self, df: DataFrame, mode: str = "overwrite", **metrics: Column) -> dict | None:
        """Write ``df``; return ``{"rows": n, **metrics}`` as observed on
        the write job, e.g. ``write(df, total=F.sum("x"))``.

        One ``Dataset.observe`` carries ``rows = count(1)`` and the named
        aggregate columns (the shape of
        :func:`~ayeaye_spark.core.checkpoint.materialize_observed`).  The
        connector applies it after its layout step, at the root of the
        write's result stage, where Spark applies each task's update
        once.  Returns None, without waiting on the observation, when
        the connector's write path runs no ``DataFrameWriter`` action on
        an observed frame (csv ``;single_file``, ``arrow://``, ``wds://``,
        the REST sinks; kafka, bigquery and elasticsearch, whose writers
        live in their own jars, stay unobserved too).
        """
        if "rows" in metrics:
            raise ValueError("'rows' is the write's own row count; name the metric otherwise")
        self.rows_written = None
        if not self.connector.observes_writes:
            self.connector.write(df, mode=mode)
            return None
        obs = Observation()
        applied = False

        def observe(frame: DataFrame) -> DataFrame:
            nonlocal applied
            applied = True
            return frame.observe(
                obs, F.count(F.lit(1)).alias("rows"), *[v.alias(k) for k, v in metrics.items()]
            )

        self.connector.write(df, mode=mode, observe=observe)
        if not applied:
            return None
        observed = obs.get
        self.rows_written = observed["rows"]
        return observed

    def sql(self, statement: str, **params: Any) -> DataFrame:
        if not hasattr(self.connector, "sql"):
            raise AttributeError(f"{type(self.connector).__name__} has no sql passthrough")
        return self.connector.sql(self.spark, statement, **params)

    @property
    def engine_url(self) -> str:
        return self.connector.engine_url

    @property
    def datasource_exists(self) -> bool:
        return self.connector.datasource_exists

    def close(self) -> None:
        self._df = None
        self.rows_written = None
        self.connector.close_connection()

    def __getattr__(self, item: str) -> Any:
        # proxy to the connector (driver-side .data, add_engine_url, topic, …)
        return getattr(self.connector, item)

    def __setattr__(self, key: str, value: Any) -> None:
        if key in ("connector", "_spark_provider", "_df"):
            object.__setattr__(self, key, value)
        elif key == "data":
            setattr(self.connector, "data", value)
        else:
            object.__setattr__(self, key, value)

    def __getitem__(self, engine_url: str):
        """Child access for MultiConnector-backed datasets
        (``multi_connector.py:10-167`` semantics)."""
        return self.connector[engine_url]

    def __iter__(self):
        """Row iteration compatibility: yields Spark ``Row``s via
        ``toLocalIterator`` (one partition at a time on the driver).  The
        scalable path is ``.df`` — this exists for small-data parity with
        the reference's per-row connectors."""
        return self.df.toLocalIterator()

    def __len__(self) -> int:
        return self.df.count()

    def __repr__(self) -> str:
        return f"<DatasetHandle {self.connector!r}>"


class Connect:
    """Descriptor declaring a model's dataset (``connect.py:10-44``).

    ``engine_url`` may be a string, a list (→ :class:`MultiConnector`), a
    callable (deferred until access), or None (→ placeholder).  ``access``
    defaults to READ.  Other kwargs flow to the connector (``field_names``,
    ``schema``, ``transform_map``, …).
    """

    def __init__(self, **kwargs: Any):
        self._kwargs = kwargs
        self.attribute_name: str | None = None

    # -- descriptor protocol -----------------------------------------
    def __set_name__(self, owner: type, name: str) -> None:
        self.attribute_name = name

    def __get__(self, instance: Any, owner: type | None = None) -> Any:
        if instance is None:
            return self
        ident = self.attribute_name or f"connect_{id(self)}"
        cache = instance.__dict__.setdefault("_dataset_handles", {})
        if ident not in cache:
            cache[ident] = self._build_handle(instance)
        return cache[ident]

    def __set__(self, instance: Any, value: Any) -> None:
        if isinstance(value, Connect):
            ident = value.attribute_name = self.attribute_name
            instance.__dict__.setdefault("_dataset_handles", {}).pop(ident, None)
            instance.__dict__.setdefault("_connect_overrides", {})[ident] = value
        else:
            raise ValueError("assign a Connect(...) to replace a dataset declaration")

    # -- construction -------------------------------------------------
    @property
    def access(self) -> AccessMode:
        return self._kwargs.get("access", AccessMode.READ)

    @property
    def engine_url(self) -> Any:
        return self._kwargs.get("engine_url")

    def _effective(self, instance: Any) -> "Connect":
        overrides = getattr(instance, "_connect_overrides", None) or instance.__dict__.get(
            "_connect_overrides", {}
        )
        return overrides.get(self.attribute_name, self)

    def _build_handle(self, instance: Any) -> DatasetHandle:
        declared = self._effective(instance)
        connector = declared.build_connector()

        def spark_provider() -> SparkSession:
            get = getattr(instance, "spark_session", None)
            if callable(get):
                return get()
            from .session import get_spark

            return get_spark()

        return DatasetHandle(connector, spark_provider)

    def build_connector(self) -> DataConnector:
        from ..sources.registry import connector_for

        kwargs = {k: v for k, v in self._kwargs.items() if k not in ("engine_url", "access")}
        url = self.engine_url
        if callable(url):
            url = url()
        if url is None:
            return PlaceholderDataConnector("", access=self.access, **kwargs)
        if isinstance(url, (list, tuple)):
            resolved = [connector_resolver.resolve(u) for u in url]
            return MultiConnector(resolved, access=self.access, **kwargs)
        resolved = connector_resolver.resolve(url)
        return connector_for(resolved, access=self.access, **kwargs)

    # -- standalone mode (connect.py:295-331) --------------------------
    def handle(self, spark: SparkSession | None = None) -> DatasetHandle:
        """Use a Connect OUTSIDE a model (the reference's standalone
        mode): resolves immediately to a :class:`DatasetHandle`.

        >>> animals = Connect(engine_url="csv:///data/animals.csv").handle()
        >>> animals.df.count()
        """

        def spark_provider() -> SparkSession:
            if spark is not None:
                return spark
            from .session import get_spark

            return get_spark()

        return DatasetHandle(self.build_connector(), spark_provider)

    # -- clone / DAG identity -----------------------------------------
    def clone(self, **overrides: Any) -> "Connect":
        """Reuse one dataset declaration across models (``connect.py:100-113``)
        — clones share ``connect_id`` so the DAG builder links them."""
        kwargs = copy.deepcopy({k: v for k, v in self._kwargs.items() if not callable(v)})
        kwargs.update({k: v for k, v in self._kwargs.items() if callable(v)})
        kwargs.update(overrides)
        return Connect(**kwargs)

    def connect_id(self) -> str:
        """Identity key for DAG node matching (``connect.py:115-135``)."""
        url = self.engine_url
        if callable(url):
            url = f"callable:{getattr(url, '__name__', repr(url))}"
        if isinstance(url, (list, tuple)):
            url = "|".join(sorted(str(u) for u in url))
        return str(url)

    def __repr__(self) -> str:
        return f"Connect(engine_url={self.engine_url!r}, access={self.access.name})"


#: alias matching this engine's naming (``Dataset`` reads better on models)
Dataset = Connect

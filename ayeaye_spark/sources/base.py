"""Connector abstraction: engine_url ⇄ Spark reader/writer.

Re-expresses the reference's ``DataConnector`` (AyeAye
``lib/ayeaye/connectors/base.py:16-345``) for a Spark engine: a connector
no longer iterates rows — it resolves an engine_url into a *DataFrame*
(read) or accepts a DataFrame (write).  Access-mode enforcement mirrors
``connectors/base.py:10-13`` and per-op checks like
``csv_connector.py:236-237``.
"""

from __future__ import annotations

import enum
import os
from glob import glob
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from ..core.engine_url import EngineUrl, parse_engine_url


class AccessMode(enum.Enum):
    READ = "r"
    WRITE = "w"
    READWRITE = "rw"

    @property
    def can_read(self) -> bool:
        return self in (AccessMode.READ, AccessMode.READWRITE)

    @property
    def can_write(self) -> bool:
        return self in (AccessMode.WRITE, AccessMode.READWRITE)


class ConnectorError(RuntimeError):
    pass


class AccessModeError(ConnectorError):
    pass


class MissingDependencyError(ConnectorError):
    """A connector needs a runtime dependency (jar/package) not installed."""


class DataConnector:
    """Base class for engine_url-addressed sources/sinks.

    Subclasses declare ``engine_types`` (list of url schemes) and implement
    :meth:`read` and/or :meth:`write`.  ``method_overlay`` support mirrors
    the reference's connector-method patching (``connectors/base.py:110-151``).
    """

    engine_types: list[str] = []
    #: connectors that only make sense driver-side (manifests, REST control)
    driver_side: bool = False
    #: ``write`` takes ``observe=`` and applies it to the frame it hands
    #: its ``DataFrameWriter`` (see :meth:`DatasetHandle.write`)
    observes_writes: bool = False

    def __init__(
        self,
        engine_url: str,
        access: AccessMode = AccessMode.READ,
        method_overlay: Any = None,
        **kwargs: Any,
    ):
        self.raw_engine_url = engine_url
        self.url: EngineUrl = parse_engine_url(engine_url)
        self.access = access
        self.connector_kwargs = kwargs
        self._overlay(method_overlay)

    def _overlay(self, method_overlay: Any) -> None:
        if method_overlay is None:
            return
        overlays = method_overlay if isinstance(method_overlay, (list, tuple)) else [method_overlay]
        for item in overlays:
            if isinstance(item, tuple):
                func, name = item
            else:
                func, name = item, item.__name__
            bound = (lambda f: lambda *a, **kw: f(self, *a, **kw))(func)
            setattr(self, name, bound)

    # -- identity ----------------------------------------------------
    @property
    def engine_url(self) -> str:
        return self.raw_engine_url

    def connect_id(self) -> str:
        """Stable identity for DAG node keying (cf. ``connect.py:115-135``)."""
        return f"{type(self).__name__}:{self.url.without_options()}"

    # -- capabilities ------------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame:
        raise AccessModeError(f"{type(self).__name__} cannot read {self.engine_url}")

    def write(self, df: DataFrame, mode: str = "overwrite") -> None:
        raise AccessModeError(f"{type(self).__name__} cannot write {self.engine_url}")

    def _require_read(self) -> None:
        if not self.access.can_read:
            raise AccessModeError(f"{self.engine_url} opened without read access")

    def _require_write(self) -> None:
        if not self.access.can_write:
            raise AccessModeError(f"{self.engine_url} opened without write access")

    def as_pandas(self, spark: SparkSession | None = None):
        """Entire dataset as a pandas DataFrame (reference
        ``connectors/base.py:317-323`` exposes this on every connector).

        Driver-side materialization — an escape hatch for small
        datasets; large data stays a DataFrame."""
        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise ConnectorError(
                "as_pandas needs a SparkSession: pass spark= or create one first"
            )
        return self.read(spark).toPandas()

    # -- filesystem helpers ------------------------------------------
    @property
    def local_path(self) -> str:
        loc = self.url.locator
        if loc.startswith("s3://"):
            return loc
        return loc

    @property
    def datasource_exists(self) -> bool:
        path = self.local_path
        if any(c in path for c in "*?["):
            return bool(glob(path))
        return os.path.exists(path)

    @property
    def last_modified(self) -> float | None:
        if os.path.exists(self.local_path):
            return os.path.getmtime(self.local_path)
        return None

    def close_connection(self) -> None:
        """Stateless for Spark paths; subclasses with driver handles override."""

    def __repr__(self) -> str:
        return f"<{type(self).__name__} {self.engine_url} {self.access.name}>"


#: ``observe=`` of an observing connector's ``write``: applied to the
#: exact frame handed to the ``DataFrameWriter`` (after any layout step)
Observe = Callable[[DataFrame], DataFrame]


def unobserved(df: DataFrame) -> DataFrame:
    """Default ``observe=`` of an observing connector's ``write``."""
    return df


def spark_path(url: EngineUrl) -> str:
    """Locator → path Spark understands; ``s3`` modifier maps to ``s3a://``.

    The reference reaches S3 through smart_open
    (``engine_type_modifiers/smart_open_modifier.py:75-199``); on Spark,
    S3 is a first-class filesystem and gzip is codec-auto-detected, so the
    ``s3+``/``gz+`` modifiers only influence the path scheme here.
    """
    loc = url.locator
    if "s3" in url.modifiers:
        if loc.startswith("s3://"):
            loc = "s3a://" + loc[len("s3://") :]
        elif not loc.startswith("s3a://"):
            loc = "s3a://" + loc.lstrip("/")
    return loc


TransformMap = dict[str, Callable]

"""External-system connectors: JDBC databases, Kafka, BigQuery,
Elasticsearch, REST APIs.

Spark-first equivalents of (SURVEY §2.1):

* SqlAlchemyDatabaseConnector — ``lib/ayeaye/connectors/sqlalchemy_database.py:18-298``
  → ``spark.read.jdbc`` / ``df.write.jdbc`` with query pushdown.
* KafkaConnector — ``kafka_connector.py:19-263`` → ``format("kafka")``
  batch-by-timestamp-offsets (the ``@(datetime)`` engine_url bounds,
  ``kafka_connector.py:139-166``) and Structured Streaming.
* BigQueryConnector — ``bigquery.py:10-248`` → ``format("bigquery")``.
* ElasticsearchConnector — ``elasticsearch_connector.py:10-124`` →
  ``format("es")`` for table-shaped IO, driver-side HTTP for point ops.
* RestfulConnector — ``restful_connector.py:19-467`` → driver-side HTTP
  with retry/backoff for control-plane, ``mapPartitions`` fan-out helper
  for data-plane calls.

The container has no JDBC drivers / kafka / bigquery / es jars, so these
connectors validate configuration eagerly but defer jar-dependent work to
call time behind :class:`MissingDependencyError`; unit tests cover url →
option mapping with the Spark calls mocked (mirrors the reference's
mocked-transport test strategy, SURVEY §5).
"""

from __future__ import annotations

import datetime as _dt
import json
import re
import time
import urllib.error
import urllib.request
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from .base import (
    AccessMode,
    ConnectorError,
    DataConnector,
    MissingDependencyError,
    Observe,
    unobserved,
)


class JdbcConnector(DataConnector):
    """``sqlite:// mysql:// mysql+pymysql:// postgresql://`` → Spark JDBC.

    ``table=`` url option (or kwarg) names the table; :meth:`sql` pushes a
    raw query down to the database (the reference's escape hatch,
    ``sqlalchemy_database.py:226-243``).
    """

    engine_types = ["sqlite", "mysql", "mysql+pymysql", "postgresql", "jdbc"]
    observes_writes = True

    _DRIVERS = {
        "sqlite": "org.sqlite.JDBC",
        "mysql": "com.mysql.cj.jdbc.Driver",
        "postgresql": "org.postgresql.Driver",
    }

    @property
    def _dialect(self) -> str:
        """sqlalchemy compound schemes are ``dialect+driver``
        (``mysql+pymysql``), which the engine_url grammar parses as
        modifier ``mysql`` + engine_type ``pymysql`` — the OPPOSITE
        roles.  JDBC cares about the dialect only (the python driver
        part names a client lib Spark never loads), so recover it from
        the modifier chain when the engine_type itself isn't a known
        dialect."""
        et = self.url.engine_type
        if et == "jdbc" or et in self._DRIVERS:
            return et
        for m in self.url.modifiers:
            if m in self._DRIVERS:
                return m
        return et

    @property
    def jdbc_url(self) -> str:
        et = self._dialect
        if et == "jdbc":
            return "jdbc:" + self.url.locator
        if et == "sqlite":
            return f"jdbc:sqlite:{self.url.locator.lstrip('/') and '/' + self.url.locator.lstrip('/')}"
        host_db = self.url.locator
        return f"jdbc:{et}://{host_db}"

    @property
    def table(self) -> str | None:
        return self.connector_kwargs.get("table") or self.url.option("table")

    def _jdbc_options(self, query: str | None = None) -> dict[str, str]:
        opts: dict[str, str] = {"url": self.jdbc_url}
        driver = self._DRIVERS.get(self._dialect)
        if driver:
            opts["driver"] = driver
        if query is not None:
            opts["query"] = query
        elif self.table:
            opts["dbtable"] = self.table
        else:
            raise ConnectorError(f"no table or query for {self.engine_url}")
        for k in ("user", "password", "numPartitions", "partitionColumn", "lowerBound", "upperBound", "fetchsize"):
            v = self.url.option(k) or self.connector_kwargs.get(k)
            if v is not None:
                opts[k] = str(v)
        # remaining url options pass straight through to the JDBC source
        # (driver override, dialect connection attributes like Derby's
        # create=true) — the connect-args escape hatch every sqlalchemy
        # engine string has
        for k, v in self.url.options.items():
            if k != "table" and k not in opts:
                opts[k] = str(v)
        return opts

    def read(self, spark: SparkSession) -> DataFrame:
        self._require_read()
        return self._load(spark, self._jdbc_options())

    def sql(self, spark: SparkSession, statement: str) -> DataFrame:
        """Raw SQL pushed down to the database (JDBC ``query`` option)."""
        self._require_read()
        return self._load(spark, self._jdbc_options(query=statement))

    def _load(self, spark: SparkSession, opts: dict[str, str]) -> DataFrame:
        try:
            return spark.read.format("jdbc").options(**opts).load()
        except Exception as e:  # driver jar absent in this container
            if "ClassNotFoundException" in str(e) or "No suitable driver" in str(e):
                raise MissingDependencyError(
                    f"JDBC driver {opts.get('driver')} not on Spark classpath; "
                    f"add the jar via spark.jars to use {self.engine_url}"
                ) from e
            raise

    def write(self, df: DataFrame, mode: str = "append", observe: Observe = unobserved) -> None:
        self._require_write()
        opts = self._jdbc_options()
        try:
            observe(df).write.format("jdbc").options(**opts).mode(mode).save()
        except Exception as e:
            if "ClassNotFoundException" in str(e) or "No suitable driver" in str(e):
                raise MissingDependencyError(
                    f"JDBC driver {opts.get('driver')} not on Spark classpath"
                ) from e
            raise


_KAFKA_BOUND_RE = re.compile(r"^@\((.*)\)$")


def decode_kafka_bound(raw: str | None) -> str | int | None:
    """Decode ``@(datetime)`` / ``@(earliest)`` / ``@(latest)`` url bounds.

    Mirrors ``kafka_connector.py:139-166``: datetimes become epoch-millis
    (for ``startingOffsetsByTimestamp``), the keywords pass through.
    """
    if raw is None:
        return None
    m = _KAFKA_BOUND_RE.match(raw.strip())
    if not m:
        raise ConnectorError(f"kafka offset bound must be @(...): {raw!r}")
    inner = m.group(1).strip()
    if inner in ("earliest", "latest"):
        return inner
    for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d"):
        try:
            dt = _dt.datetime.strptime(inner, fmt).replace(tzinfo=_dt.timezone.utc)
            return int(dt.timestamp() * 1000)
        except ValueError:
            continue
    raise ConnectorError(f"can't parse kafka bound {inner!r}")


class KafkaConnector(DataConnector):
    """``kafka://bootstrap/topic;start=@(...);end=@(...)``.

    Batch mode reads the offset window the reference resolves per-partition
    (``kafka_connector.py:77-137``) — Spark does that resolution natively
    via ``startingOffsetsByTimestamp`` / ``endingOffsetsByTimestamp``.
    :meth:`read_stream` exposes the same topic as Structured Streaming.
    """

    engine_types = ["kafka"]

    @property
    def bootstrap(self) -> str:
        return self.url.locator.split("/", 1)[0]

    @property
    def topic(self) -> str:
        parts = self.url.locator.split("/", 1)
        if len(parts) < 2 or not parts[1]:
            raise ConnectorError(f"kafka url needs a topic: {self.engine_url}")
        return parts[1]

    def _bound_options(self) -> dict[str, str]:
        opts: dict[str, str] = {
            "kafka.bootstrap.servers": self.bootstrap,
            "subscribe": self.topic,
        }
        start = decode_kafka_bound(self.url.option("start"))
        end = decode_kafka_bound(self.url.option("end"))
        if isinstance(start, int):
            opts["startingTimestamp"] = str(start)
        elif start:
            opts["startingOffsets"] = start
        if isinstance(end, int):
            opts["endingTimestamp"] = str(end)
        elif end:
            opts["endingOffsets"] = end
        return opts

    def read(self, spark: SparkSession) -> DataFrame:
        self._require_read()
        try:
            df = spark.read.format("kafka").options(**self._bound_options()).load()
        except Exception as e:
            if "Failed to find data source: kafka" in str(e) or "DATA_SOURCE_NOT_FOUND" in str(e):
                raise MissingDependencyError(
                    "spark-sql-kafka package not on classpath; submit with "
                    "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>"
                ) from e
            raise
        from pyspark.sql import functions as F

        return df.select(
            F.col("key").cast("string").alias("key"),
            F.col("value").cast("string").alias("value"),
            "topic", "partition", "offset", "timestamp",
        )

    def read_stream(self, spark: SparkSession) -> DataFrame:
        self._require_read()
        opts = {k: v for k, v in self._bound_options().items() if not k.startswith("ending")}
        return spark.readStream.format("kafka").options(**opts).load()

    def write(self, df: DataFrame, mode: str = "append") -> None:
        self._require_write()
        from pyspark.sql import functions as F

        cols = df.columns
        if "value" not in cols:
            df = df.select(F.to_json(F.struct(*cols)).alias("value"))
        (
            df.write.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap)
            .option("topic", self.topic)
            .save()
        )


class BigQueryConnector(DataConnector):
    """``bigquery://project/dataset.table`` → spark-bigquery connector.

    The reference buffers 1000-row streaming inserts (``bigquery.py:49,
    151-162``); ``df.write.format("bigquery")`` batches internally, so no
    driver-side buffer exists here.  SQL with parameters maps to the
    connector's ``query`` option (``bigquery.py:101-127``).
    """

    engine_types = ["bigquery"]

    @property
    def project(self) -> str:
        return self.url.locator.split("/", 1)[0]

    @property
    def table_ref(self) -> str:
        parts = self.url.locator.split("/", 1)
        if len(parts) < 2:
            raise ConnectorError(f"bigquery url needs dataset.table: {self.engine_url}")
        return f"{self.project}.{parts[1]}"

    def _options(self, query: str | None = None) -> dict[str, str]:
        opts = {"parentProject": self.project}
        if query is not None:
            opts["query"] = query
            opts["viewsEnabled"] = "true"
        else:
            opts["table"] = self.table_ref
        return opts

    def read(self, spark: SparkSession) -> DataFrame:
        self._require_read()
        return self._load(spark, self._options())

    def sql(self, spark: SparkSession, statement: str, **params: Any) -> DataFrame:
        for k, v in params.items():
            statement = statement.replace(f"@{k}", repr(v) if isinstance(v, str) else str(v))
        return self._load(spark, self._options(query=statement))

    def _load(self, spark: SparkSession, opts: dict[str, str]) -> DataFrame:
        try:
            return spark.read.format("bigquery").options(**opts).load()
        except Exception as e:
            if "Failed to find data source: bigquery" in str(e) or "DATA_SOURCE_NOT_FOUND" in str(e):
                raise MissingDependencyError(
                    "spark-bigquery connector jar not on classpath"
                ) from e
            raise

    def write(self, df: DataFrame, mode: str = "append") -> None:
        self._require_write()
        try:
            df.write.format("bigquery").option("table", self.table_ref).mode(mode).save()
        except Exception as e:
            if "Failed to find data source: bigquery" in str(e) or "DATA_SOURCE_NOT_FOUND" in str(e):
                raise MissingDependencyError(
                    "spark-bigquery connector jar not on classpath"
                ) from e
            raise


class ElasticsearchConnector(DataConnector):
    """``elasticsearch://host:port/index`` — table IO via the ``es`` format,
    single-doc add/fetch driver-side (``elasticsearch_connector.py:10-124``)."""

    engine_types = ["elasticsearch"]

    @property
    def host(self) -> str:
        return self.url.locator.split("/", 1)[0]

    @property
    def default_index(self) -> str | None:
        parts = self.url.locator.split("/", 1)
        return parts[1] if len(parts) > 1 and parts[1] else None

    def _es_options(self, index: str | None) -> dict[str, str]:
        host, _, port = self.host.partition(":")
        return {
            "es.nodes": host,
            "es.port": port or "9200",
            "es.resource": index or self.default_index or "",
            "es.nodes.wan.only": "true",
        }

    def read(self, spark: SparkSession, index: str | None = None) -> DataFrame:
        self._require_read()
        try:
            return spark.read.format("es").options(**self._es_options(index)).load()
        except Exception as e:
            if "Failed to find data source: es" in str(e) or "DATA_SOURCE_NOT_FOUND" in str(e):
                raise MissingDependencyError("elasticsearch-spark jar not on classpath") from e
            raise

    def write(self, df: DataFrame, mode: str = "append", index: str | None = None) -> None:
        self._require_write()
        try:
            df.write.format("es").options(**self._es_options(index)).mode(mode).save()
        except Exception as e:
            if "Failed to find data source: es" in str(e) or "DATA_SOURCE_NOT_FOUND" in str(e):
                raise MissingDependencyError("elasticsearch-spark jar not on classpath") from e
            raise

    # -- point ops (driver-side JSON-over-HTTP, the reference's whole
    # -- surface: elasticsearch_connector.py:81-124; exercised live
    # -- against a loopback HTTP stub in tests) -----------------------
    def _resolve_index(self, index: str | None) -> str:
        idx = index or self.default_index
        if not idx:
            # reference contract: elasticsearch_connector.py:99-101
            raise ConnectorError(
                "Unknown index: must be set in engine_url or as argument"
            )
        return idx

    def _endpoint(self, index: str | None, doc_id: Any) -> str:
        return f"http://{self.host}/{self._resolve_index(index)}/_doc/{doc_id}"

    def add(
        self, document: dict, doc_id: Any = None, index: str | None = None
    ) -> dict:
        """Index one document; ``doc_id=None`` lets the server assign
        the id (POST to ``/_doc`` vs PUT to ``/_doc/{id}`` — the same
        dual the reference's client.index(id=None) hits)."""
        self._require_write()
        if doc_id is None:
            url = f"http://{self.host}/{self._resolve_index(index)}/_doc"
            method = "POST"
        else:
            url = self._endpoint(index, doc_id)
            method = "PUT"
        req = urllib.request.Request(
            url,
            data=json.dumps(document).encode(),
            headers={"Content-Type": "application/json"},
            method=method,
        )
        with urllib.request.urlopen(req) as resp:
            return json.loads(resp.read())

    def fetch(self, doc_id: Any, index: str | None = None) -> dict | None:
        self._require_read()
        try:
            with urllib.request.urlopen(self._endpoint(index, doc_id)) as resp:
                doc = json.loads(resp.read())
                return doc.get("_source")
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return None
            raise


class RestfulConnector(DataConnector):
    """``http:// https://`` — JSON REST client with retry + fan-out.

    Driver-side verbs mirror ``restful_connector.py:129-290`` (sessions,
    retry on 5xx ×3 with 0.1 backoff — ``restful_connector.py:62-73``,
    profiling stats — ``:410-454``).  :meth:`fan_out` is the data-plane
    path: one HTTP call per row executed inside ``mapPartitions`` so a
    100 TB keyed enrichment distributes across executors.
    """

    engine_types = ["http", "https"]
    driver_side = True

    RETRIES = 3
    BACKOFF = 0.1
    RETRY_CODES = (500, 502, 503, 504)

    def __init__(self, engine_url: str, access: AccessMode = AccessMode.READ, **kwargs: Any):
        super().__init__(engine_url, access, **kwargs)
        self.stats = {"requests": 0, "retries": 0, "elapsed": 0.0}

    @property
    def base_url(self) -> str:
        return f"{self.url.engine_type}://{self.url.locator}"

    def _request(self, method: str, path: str, body: dict | None = None) -> Any:
        url = self.base_url.rstrip("/") + "/" + path.lstrip("/") if path else self.base_url
        payload = json.dumps(body).encode() if body is not None else None
        last_err: Exception | None = None
        for attempt in range(self.RETRIES + 1):
            t0 = time.monotonic()
            try:
                req = urllib.request.Request(
                    url, data=payload,
                    headers={"Content-Type": "application/json"},
                    method=method,
                )
                with urllib.request.urlopen(req) as resp:
                    self.stats["requests"] += 1
                    self.stats["elapsed"] += time.monotonic() - t0
                    raw = resp.read()
                    return json.loads(raw) if raw else None
            except urllib.error.HTTPError as e:
                last_err = e
                if e.code in self.RETRY_CODES and attempt < self.RETRIES:
                    self.stats["retries"] += 1
                    time.sleep(self.BACKOFF * (2**attempt))
                    continue
                raise
        raise last_err  # pragma: no cover

    def get(self, path: str = "") -> Any:
        self._require_read()
        return self._request("GET", path)

    def post(self, path: str = "", body: dict | None = None) -> Any:
        self._require_write()
        return self._request("POST", path, body)

    def patch(self, path: str = "", body: dict | None = None) -> Any:
        self._require_write()
        return self._request("PATCH", path, body)

    def delete(self, path: str = "") -> Any:
        self._require_write()
        return self._request("DELETE", path)

    def fan_out(
        self,
        df: DataFrame,
        path_for_row: Callable[[dict], str],
        result_schema: str,
        method: str = "GET",
    ) -> DataFrame:
        """Distributed per-row REST calls: ``mapPartitions`` with one shared
        connection context per partition (SURVEY §2.1 RestfulConnector row)."""
        base = self.base_url
        retries, backoff, retry_codes = self.RETRIES, self.BACKOFF, self.RETRY_CODES

        def run_partition(rows: Iterator) -> Iterator[dict]:
            import urllib.request as _rq
            import urllib.error as _er

            for row in rows:
                d = row.asDict()
                url = base.rstrip("/") + "/" + path_for_row(d).lstrip("/")
                for attempt in range(retries + 1):
                    try:
                        with _rq.urlopen(_rq.Request(url, method=method)) as resp:
                            d["response"] = resp.read().decode()
                        break
                    except _er.HTTPError as e:
                        if e.code in retry_codes and attempt < retries:
                            time.sleep(backoff * (2**attempt))
                            continue
                        d["response"] = None
                        break
                yield d

        spark = df.sparkSession
        return spark.createDataFrame(df.rdd.mapPartitions(run_partition), schema=result_schema)

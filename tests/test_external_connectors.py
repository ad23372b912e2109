"""External-connector behaviour against a real local HTTP server (the
reference mocks its transports — SURVEY §5; a live loopback server is a
stronger check for the driver-side verbs and the mapPartitions fan-out)."""

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from ayeaye_spark import AccessMode, connector_for
from ayeaye_spark.core.manifest import EngineFromManifest, manifest_build_context
from ayeaye_spark.sources.external import ElasticsearchConnector, RestfulConnector


class _Handler(BaseHTTPRequestHandler):
    store: dict[str, bytes] = {}
    fail_next: list[int] = []  # status codes to emit before succeeding

    def _respond(self, code: int, payload: dict | None = None):
        body = json.dumps(payload or {}).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        if _Handler.fail_next:
            return self._respond(_Handler.fail_next.pop(0))
        if self.path in _Handler.store:
            return self._respond(200, {"_source": json.loads(_Handler.store[self.path])})
        if self.path.startswith("/echo/"):
            return self._respond(200, {"echo": self.path.split("/")[-1]})
        if self.path.startswith("/empty/"):
            return self._respond(200, {})  # no "data" key -> empty page
        if self.path.startswith("/page/"):
            # paged list endpoint for the Python DataSource: 3 rows/page
            page = int(self.path.split("/")[-1])
            body = json.dumps(
                [{"id": page * 3 + i, "name": f"row{page}_{i}"} for i in range(3)]
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        return self._respond(404)

    def do_PUT(self):
        length = int(self.headers["Content-Length"])
        _Handler.store[self.path] = self.rfile.read(length)
        self._respond(200, {"result": "created"})

    ingested: list = []  # bodies POSTed to /ingest (for the REST sink test)
    next_auto_id: int = 1000  # ES auto-id counter for POST /{index}/_doc

    def do_POST(self):
        length = int(self.headers.get("Content-Length", 0))
        raw = self.rfile.read(length) or b"{}"
        body = json.loads(raw)
        if self.path == "/ingest":
            _Handler.ingested.append(body)
        elif self.path.endswith("/_doc"):
            # mini-ES: auto-assign an id like POST /{index}/_doc does
            doc_id = str(_Handler.next_auto_id)
            _Handler.next_auto_id += 1
            _Handler.store[f"{self.path}/{doc_id}"] = raw
            return self._respond(201, {"result": "created", "_id": doc_id})
        self._respond(200, {"posted": body})

    def do_DELETE(self):
        _Handler.store.pop(self.path, None)
        self._respond(200, {"result": "deleted"})

    def log_message(self, *args):  # silence
        pass


@pytest.fixture(scope="module")
def http_server():
    server = HTTPServer(("127.0.0.1", 0), _Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    yield f"127.0.0.1:{server.server_port}"
    server.shutdown()


class TestRestful:
    def test_get_post_delete(self, http_server):
        r = RestfulConnector(f"http://{http_server}", access=AccessMode.READWRITE)
        assert r.get("/echo/hello") == {"echo": "hello"}
        assert r.post("/anything", {"x": 1}) == {"posted": {"x": 1}}
        assert r.delete("/echo/x")["result"] == "deleted"
        assert r.stats["requests"] == 3

    def test_retry_on_5xx(self, http_server):
        _Handler.fail_next = [503, 502]
        r = RestfulConnector(f"http://{http_server}")
        assert r.get("/echo/retried") == {"echo": "retried"}
        assert r.stats["retries"] == 2

    def test_fan_out_distributed(self, spark, http_server):
        r = RestfulConnector(f"http://{http_server}")
        df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["id", "key"])
        out = r.fan_out(
            df,
            path_for_row=lambda row: f"/echo/{row['key']}",
            result_schema="id long, key string, response string",
        )
        got = {row["key"]: json.loads(row["response"]) for row in out.collect()}
        assert got == {"a": {"echo": "a"}, "b": {"echo": "b"}, "c": {"echo": "c"}}


class TestElasticsearchPointOps:
    """The reference's ES connector is ONLY these driver-side point ops
    (elasticsearch_connector.py:81-124); here they run LIVE against the
    loopback HTTP stub — real sockets, real JSON, real status codes."""

    def test_add_and_fetch(self, http_server):
        e = ElasticsearchConnector(
            f"elasticsearch://{http_server}/myindex", access=AccessMode.READWRITE
        )
        e.add({"name": "test doc"}, doc_id=42)
        assert e.fetch(42) == {"name": "test doc"}
        assert e.fetch(99999) is None

    def test_auto_id_add(self, http_server):
        e = ElasticsearchConnector(
            f"elasticsearch://{http_server}/autoidx", access=AccessMode.READWRITE
        )
        r = e.add({"v": 1})  # no doc_id: server assigns
        assert r["result"] == "created" and r["_id"]
        assert e.fetch(r["_id"]) == {"v": 1}

    def test_per_call_index_override(self, http_server):
        e = ElasticsearchConnector(
            f"elasticsearch://{http_server}/defaultidx",
            access=AccessMode.READWRITE,
        )
        e.add({"k": "a"}, doc_id=1, index="otheridx")
        assert e.fetch(1, index="otheridx") == {"k": "a"}
        assert e.fetch(1) is None  # default index does NOT see it

    def test_missing_index_raises(self, http_server):
        from ayeaye_spark.sources.base import ConnectorError

        e = ElasticsearchConnector(
            f"elasticsearch://{http_server}", access=AccessMode.READWRITE
        )
        with pytest.raises(ConnectorError, match="Unknown index"):
            e.add({"x": 1}, doc_id=1)
        with pytest.raises(ConnectorError, match="Unknown index"):
            e.fetch(1)
        # resolvable per-call index still works without a default
        e.add({"x": 1}, doc_id=7, index="adhoc")
        assert e.fetch(7, index="adhoc") == {"x": 1}

    def test_access_mode_guards(self, http_server):
        from ayeaye_spark.sources.base import AccessModeError

        ro = ElasticsearchConnector(
            f"elasticsearch://{http_server}/idx", access=AccessMode.READ
        )
        with pytest.raises(AccessModeError):
            ro.add({"x": 1}, doc_id=1)
        wo = ElasticsearchConnector(
            f"elasticsearch://{http_server}/idx", access=AccessMode.WRITE
        )
        with pytest.raises(AccessModeError):
            wo.fetch(1)


class TestManifestIndirection:
    def test_engine_from_manifest(self, tmp_path, resolver, spark):
        data_file = tmp_path / "d1.ndjson"
        data_file.write_text('{"x": 1}\n{"x": 2}\n')
        manifest = tmp_path / "manifest.json"
        manifest.write_text(json.dumps({"source_files": [str(data_file)]}))

        url_source = EngineFromManifest(f"json://{manifest}", "source_files", "ndjson")
        urls = url_source()
        assert urls == [f"ndjson://{data_file}"]
        assert connector_for(urls[0]).read(spark).count() == 2

    def test_manifest_build_context(self, tmp_path, resolver):
        manifest = tmp_path / "ctx.json"
        manifest.write_text(json.dumps({"build_id": "b42", "env": "test"}))
        with manifest_build_context(str(manifest)):
            assert resolver.resolve("csv:///{env}/{build_id}.csv") == "csv:///test/b42.csv"


class TestMethodOverlay:
    def test_overlay_callable(self, spark, tmp_path):
        p = tmp_path / "x.csv"
        p.write_text("a,b\n1,2\n")

        def row_total(connector, spark_session):
            df = connector.read(spark_session)
            return df.count()

        c = connector_for(f"csv://{p}", method_overlay=row_total)
        assert c.row_total(spark) == 1

    def test_overlay_with_name(self, tmp_path):
        def helper(connector):
            return connector.engine_url.upper()

        c = connector_for(f"file://{tmp_path}/f.txt", method_overlay=[(helper, "shout")])
        assert c.shout().startswith("FILE://")


class TestRestPythonDataSource:
    """Spark 4 Python DataSource: paged REST GET fetched on executors,
    one input partition per page."""

    def test_paged_read(self, spark, http_server):
        from ayeaye_spark.sources.pyds import register_python_datasources

        assert "ayeaye_rest" in register_python_datasources(spark)
        df = (
            spark.read.format("ayeaye_rest")
            .option("url", f"http://{http_server}/page/{{page}}")
            .option("pages", 4)
            .option("ddl", "id int, name string")
            .load()
        )
        rows = sorted((r["id"], r["name"]) for r in df.collect())
        assert len(rows) == 12  # 4 pages x 3 rows
        assert rows[0] == (0, "row0_0") and rows[-1] == (11, "row3_2")
        assert df.rdd.getNumPartitions() == 4  # one partition per page

    def test_missing_options_raise(self, spark, http_server):
        from ayeaye_spark.sources.pyds import register_python_datasources

        register_python_datasources(spark)
        import pytest as _pytest

        with _pytest.raises(Exception, match="ddl"):
            (spark.read.format("ayeaye_rest")
             .option("url", f"http://{http_server}/page/{{page}}").load().collect())

    def test_stream_advances_offset_across_restarts(self, spark, http_server, tmp_path):
        """The stream offset (page number) persists in the checkpoint:
        three separate availableNow runs against the same checkpoint
        drain pages 0, 1, 2 in order without re-reading."""
        from ayeaye_spark.sources.pyds import register_python_datasources

        register_python_datasources(spark)
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")
        for _ in range(3):
            stream = (
                spark.readStream.format("ayeaye_rest_stream")
                .option("url", f"http://{http_server}/page/{{page}}")
                .option("ddl", "id int, name string")
                .option("end_page", 3)
                .load()
            )
            q = (
                stream.writeStream.format("parquet")
                .option("path", out).option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(60)
        rows = sorted(r["id"] for r in spark.read.parquet(out).collect())
        assert rows == list(range(9))  # pages 0-2, 3 rows each, no rereads

    def test_rest_writer_posts_batched(self, spark, http_server):
        """df.write.format('ayeaye_rest') POSTs each partition's rows as
        one JSON-array batch to write_url (executor-side, batched)."""
        from ayeaye_spark.sources.pyds import register_python_datasources

        register_python_datasources(spark)
        _Handler.ingested.clear()
        df = spark.createDataFrame(
            [(i, f"n{i}") for i in range(10)], "id int, name string"
        ).repartition(2)
        (
            df.write.format("ayeaye_rest")
            .option("write_url", f"http://{http_server}/ingest")
            .mode("append")
            .save()
        )
        got = sorted(
            (r["id"], r["name"]) for batch in _Handler.ingested for r in batch
        )
        assert got == [(i, f"n{i}") for i in range(10)]
        assert len(_Handler.ingested) == 2  # one batched POST per partition

    def test_overwrite_mode_rejected(self, spark, http_server):
        from ayeaye_spark.sources.pyds import register_python_datasources

        register_python_datasources(spark)
        df = spark.createDataFrame([(1, "a")], "id int, name string")
        with pytest.raises(Exception, match="append"):
            (df.write.format("ayeaye_rest")
             .option("write_url", f"http://{http_server}/ingest")
             .mode("overwrite").save())

    def test_writer_serializes_dates(self, spark, http_server):
        """Non-JSON-primitive columns (date/timestamp) must serialize
        via default=str instead of crashing the write task."""
        import datetime

        from ayeaye_spark.sources.pyds import register_python_datasources

        register_python_datasources(spark)
        _Handler.ingested.clear()
        df = spark.createDataFrame(
            [(1, datetime.date(2024, 3, 1))], "id int, d date"
        ).coalesce(1)
        (df.write.format("ayeaye_rest")
         .option("write_url", f"http://{http_server}/ingest")
         .mode("append").save())
        assert _Handler.ingested == [[{"id": 1, "d": "2024-03-01"}]]

    def test_stream_empty_page_does_not_advance_offset(self, spark, http_server):
        """Unbounded polling: an empty page leaves the offset unchanged
        so rows arriving later are not skipped."""
        from pyspark.sql.types import StructType

        from ayeaye_spark.sources.pyds import RestStreamReader

        schema = StructType.fromDDL("id int, name string")
        reader = RestStreamReader(
            {"url": f"http://{http_server}/empty/{{page}}"}, schema
        )
        # /empty/N returns {} -> data [] (the dict fallback)
        rows, offset = reader.read({"page": 7})
        assert list(rows) == [] and offset == {"page": 7}

    def test_stream_read_between_offsets_replays_range(self, spark, http_server):
        """Crash recovery path: readBetweenOffsets replays exactly the
        planned-but-uncommitted page range."""
        from pyspark.sql.types import StructType

        from ayeaye_spark.sources.pyds import RestStreamReader

        schema = StructType.fromDDL("id int, name string")
        reader = RestStreamReader(
            {"url": f"http://{http_server}/page/{{page}}"}, schema
        )
        rows = list(reader.readBetweenOffsets({"page": 1}, {"page": 3}))
        assert [r[0] for r in rows] == [3, 4, 5, 6, 7, 8]  # pages 1-2 only


class TestRestStreamBoundedEmptyPage:
    def test_bounded_mode_advances_past_empty_page(self, spark, http_server):
        """With end_page set the page range is a fixed work list: an
        empty mid-range page must be stepped over, or the offset pins
        there forever and every later page is unreachable."""
        from pyspark.sql.types import StructType

        from ayeaye_spark.sources.pyds import RestStreamReader

        schema = StructType.fromDDL("id int, name string")
        reader = RestStreamReader(
            {"url": f"http://{http_server}/empty/{{page}}", "end_page": "5"},
            schema,
        )
        rows, offset = reader.read({"page": 2})
        assert list(rows) == [] and offset == {"page": 3}

    def test_unbounded_mode_still_idles_on_empty_page(self, spark, http_server):
        from pyspark.sql.types import StructType

        from ayeaye_spark.sources.pyds import RestStreamReader

        schema = StructType.fromDDL("id int, name string")
        reader = RestStreamReader(
            {"url": f"http://{http_server}/empty/{{page}}"}, schema
        )
        rows, offset = reader.read({"page": 2})
        assert list(rows) == [] and offset == {"page": 2}


class TestRestWriterRequiresWriteUrl:
    def test_read_url_is_not_a_write_fallback(self, spark, http_server):
        """The read option "url" is a paging TEMPLATE — falling back to
        it would POST rows to a literal '{page}' URL.  Writes must
        require write_url explicitly."""
        register = __import__(
            "ayeaye_spark.sources.pyds", fromlist=["register_python_datasources"]
        ).register_python_datasources
        register(spark)
        df = spark.createDataFrame([(1, "a")], "id int, name string")
        with pytest.raises(Exception, match="write_url"):
            (df.write.format("ayeaye_rest")
             .option("url", f"http://{http_server}/page/{{page}}")
             .mode("append").save())


class TestJdbcLiveDerby:
    """LIVE JDBC end-to-end against embedded Apache Derby — the one
    database whose driver ships inside the Spark distribution itself
    (``$SPARK_HOME/jars/derby*.jar``), so the real read / ``.sql()``
    pushdown / write paths run with no extra jars.  Mirrors the
    reference's sqlalchemy connector test flow (create + read + raw-SQL
    + write) that the sqlite/mysql/postgres option-dict tests freeze
    structurally in ``test_connectors.py``."""

    def _url(self, tmp_path, **extra):
        opts = ";".join(f"{k}={v}" for k, v in extra.items())
        return (
            f"jdbc://derby:{tmp_path}/db;create=true"
            + (f";{opts}" if opts else "")
        )

    def test_write_read_roundtrip(self, spark, tmp_path):
        from ayeaye_spark import AccessMode
        from ayeaye_spark.sources.external import JdbcConnector

        w = JdbcConnector(
            self._url(tmp_path, table="animals"), access=AccessMode.READWRITE
        )
        df = spark.createDataFrame(
            [(1, "aye-aye"), (2, "sloth"), (3, "loris")], ["id", "name"]
        )
        w.write(df, mode="append")
        back = w.read(spark)
        assert {(r["id"], r["name"]) for r in back.collect()} == {
            (1, "aye-aye"), (2, "sloth"), (3, "loris")
        }

    def test_write_reports_rows_and_metrics(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from ayeaye_spark import AccessMode, Connect

        target = Connect(
            engine_url=self._url(tmp_path, table="counted"), access=AccessMode.READWRITE
        ).handle(spark)
        got = target.write(spark.range(10).withColumnRenamed("id", "k"), total=F.sum("k"))
        back = target.read().agg(F.count(F.lit(1)).alias("rows"), F.sum("k").alias("total"))
        assert got == back.first().asDict() == {"rows": 10, "total": 45}

    def test_sql_pushdown_runs_in_database(self, spark, tmp_path):
        from ayeaye_spark import AccessMode
        from ayeaye_spark.sources.external import JdbcConnector

        c = JdbcConnector(
            self._url(tmp_path, table="t2"), access=AccessMode.READWRITE
        )
        c.write(spark.range(10).withColumnRenamed("id", "k"), mode="append")
        # Derby folds unquoted identifiers to upper case; Spark's JDBC
        # writer created the column case-sensitively as "k"
        got = c.sql(
            spark, 'SELECT COUNT(*) AS "n" FROM t2 WHERE "k" >= 5'
        ).collect()
        assert [r["n"] for r in got] == [5]

    def test_partitioned_parallel_read(self, spark, tmp_path):
        """numPartitions/partitionColumn/bounds drive a real parallel
        JDBC scan (one query per stride), not just an option dict."""
        from ayeaye_spark import AccessMode
        from ayeaye_spark.sources.external import JdbcConnector

        seed = JdbcConnector(
            self._url(tmp_path, table="big"), access=AccessMode.READWRITE
        )
        seed.write(
            spark.range(100).withColumnRenamed("id", "k"), mode="append"
        )
        par = JdbcConnector(
            self._url(
                tmp_path, table="big", numPartitions=4,
                partitionColumn='"k"', lowerBound=0, upperBound=100,
            )
        )
        df = par.read(spark)
        assert df.rdd.getNumPartitions() == 4
        assert df.count() == 100


class TestWdsPythonDataSource:
    def test_streaming_member_read_matches_binaryfile_reader(self, spark, tmp_path):
        from ayeaye_spark.sources.pyds import register_python_datasources
        from ayeaye_spark.sources.webdataset import read_tar_shards, write_tar_shards

        docs = spark.createDataFrame(
            [(i, f"body {i}", f'{{"i": {i}}}') for i in range(30)],
            "doc_id long, text string, meta string",
        )
        out = str(tmp_path / "shards")
        write_tar_shards(
            docs, out, key_col="doc_id",
            member_cols={"txt": "text", "json": "meta"}, n_shards=3,
        ).collect()

        register_python_datasources(spark)
        via_ds = (
            spark.read.format("ayeaye_wds")
            .option("path", f"{out}/shard-*.tar")
            .load()
        )
        # one input partition per shard file
        assert via_ds.rdd.getNumPartitions() == 3
        a = {(r["key"], r["suffix"], bytes(r["content"]))
             for r in via_ds.collect()}
        b = {(r["key"], r["suffix"], bytes(r["content"]))
             for r in read_tar_shards(spark, f"{out}/shard-*.tar").collect()}
        assert a == b
        assert len(a) == 60

    def test_missing_path_and_no_match(self, spark, tmp_path):
        import pytest

        from ayeaye_spark.sources.pyds import register_python_datasources

        register_python_datasources(spark)
        with pytest.raises(Exception, match="no shards match"):
            (spark.read.format("ayeaye_wds")
             .option("path", f"{tmp_path}/nope-*.tar").load().collect())


class TestWarcPythonDataSource:
    def test_streaming_record_read_matches_binaryfile_reader(
        self, spark, tmp_path
    ):
        from ayeaye_spark.sources.pyds import register_python_datasources
        from ayeaye_spark.sources.warc import (
            http_response_payload, read_warc, write_warc,
        )

        for shard in range(3):
            write_warc(
                str(tmp_path / f"crawl-{shard}.warc.gz"),
                [{"warc_type": "response",
                  "target_uri": f"https://s{shard}.com/p{i}",
                  "warc_date": "2026-08-16T00:00:00Z",
                  "content_type": "application/http; msgtype=response",
                  "payload": http_response_payload(
                      f"<p>doc {shard}/{i}</p>")}
                 for i in range(10)],
            )

        register_python_datasources(spark)
        via_ds = (
            spark.read.format("ayeaye_warc")
            .option("path", f"{tmp_path}/crawl-*.warc.gz")
            .load()
        )
        # one input partition per archive
        assert via_ds.rdd.getNumPartitions() == 3
        a = {(r["target_uri"], bytes(r["payload"]))
             for r in via_ds.collect()}
        b = {(r["target_uri"], bytes(r["payload"]))
             for r in read_warc(
                 spark, f"{tmp_path}/crawl-*.warc.gz").collect()}
        assert a == b and len(a) == 30

    def test_missing_and_unmatched_path(self, spark, tmp_path):
        import pytest

        from ayeaye_spark.sources.pyds import register_python_datasources

        register_python_datasources(spark)
        with pytest.raises(Exception, match="requires .option"):
            spark.read.format("ayeaye_warc").load().collect()
        with pytest.raises(Exception, match="no archives match"):
            (spark.read.format("ayeaye_warc")
             .option("path", f"{tmp_path}/nope-*.warc").load().collect())


class TestPydsSchemeAwareReads:
    """Streaming pyds readers over explicit ``file:///`` URI globs —
    the listing runs through ``fs.globStatus`` and each shard/archive
    is fetched to executor-local scratch via JVM-side
    ``copyToLocalFile`` before streaming: the exact code path an
    ``s3a://``/``hdfs://`` glob uses."""

    def test_wds_file_uri_glob_matches_local(self, spark, tmp_path):
        from ayeaye_spark.sources.pyds import register_python_datasources
        from ayeaye_spark.sources.webdataset import write_tar_shards

        docs = spark.createDataFrame(
            [(i, f"body {i}") for i in range(20)],
            "doc_id long, text string",
        )
        out = str(tmp_path / "shards")
        write_tar_shards(
            docs, out, key_col="doc_id",
            member_cols={"txt": "text"}, n_shards=2,
        ).collect()
        register_python_datasources(spark)
        local = (spark.read.format("ayeaye_wds")
                 .option("path", f"{out}/shard-*.tar").load())
        remote = (spark.read.format("ayeaye_wds")
                  .option("path", f"file://{out}/shard-*.tar").load())
        assert remote.rdd.getNumPartitions() == 2
        a = {(r["key"], bytes(r["content"])) for r in local.collect()}
        b = {(r["key"], bytes(r["content"])) for r in remote.collect()}
        assert a == b and len(a) == 20

    def test_warc_file_uri_glob_matches_local(self, spark, tmp_path):
        from ayeaye_spark.sources.pyds import register_python_datasources
        from ayeaye_spark.sources.warc import (
            http_response_payload, write_warc,
        )

        for shard in range(2):
            write_warc(
                str(tmp_path / f"c-{shard}.warc.gz"),
                [{"warc_type": "response",
                  "target_uri": f"https://s{shard}.com/p{i}",
                  "content_type": "application/http; msgtype=response",
                  "payload": http_response_payload(f"<p>{shard}/{i}</p>")}
                 for i in range(5)],
            )
        register_python_datasources(spark)
        local = (spark.read.format("ayeaye_warc")
                 .option("path", f"{tmp_path}/c-*.warc.gz").load())
        remote = (spark.read.format("ayeaye_warc")
                  .option("path", f"file://{tmp_path}/c-*.warc.gz").load())
        a = {(r["target_uri"], bytes(r["payload"])) for r in local.collect()}
        b = {(r["target_uri"], bytes(r["payload"])) for r in remote.collect()}
        assert a == b and len(a) == 10

    def test_arrow_file_uri_schema_and_batches(self, spark, tmp_path):
        from ayeaye_spark.sources.arrow_ipc import (
            infer_ipc_schema, read_arrow_shards, write_arrow_shards,
        )

        docs = spark.createDataFrame(
            [(i, float(i) / 3) for i in range(12)],
            "doc_id long, score double",
        )
        out = str(tmp_path / "ipc")
        write_arrow_shards(docs, out, key_col="doc_id", n_shards=2).collect()
        # schema inference through the gateway fetch
        schema = infer_ipc_schema(f"file://{out}/shard-*.arrow")
        assert schema == docs.schema
        back = read_arrow_shards(spark, f"file://{out}/shard-*.arrow")
        assert {r["doc_id"] for r in back.collect()} == set(range(12))

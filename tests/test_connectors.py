"""Connector tests over tmp-dir fixtures (mirrors the reference's
per-connector golden tests, SURVEY §5)."""

import gzip
import json
import os

import pytest

from ayeaye_spark import AccessMode, connector_for
from ayeaye_spark.core.engine_url import EngineUrlError
from ayeaye_spark.sources.base import AccessModeError
from ayeaye_spark.sources.external import JdbcConnector, KafkaConnector, decode_kafka_bound
from ayeaye_spark.sources.file_formats import SchemaContractError
from ayeaye_spark.sources.multi import MultiConnector
from ayeaye_spark.sources.registry import connector_class_for


@pytest.fixture()
def data_dir(tmp_path):
    (tmp_path / "creatures.csv").write_text(
        "common_name,native_to\nCrown of thorns starfish,Indo-Pacific\nGolden dart frog,Colombia\n"
    )
    (tmp_path / "monkeys.tsv").write_text(
        "common_name\tnative_to\nProboscis monkey\tBorneo\n"
    )
    (tmp_path / "mice.csv").write_text("house mouse,Mus musculus,everywhere\n")
    # trailing-field-missing row (venomous_creatures.csv shape)
    (tmp_path / "venomous.csv").write_text(
        "common_name,native_to,toxic_scale\nGeo textile cone shell,\n"
    )
    (tmp_path / "pubs.ndjson").write_text(
        '{"id": 1, "name": "Red Lion"}\n{"id": 2, "name": "White Hart"}\n'
    )
    with gzip.open(tmp_path / "parks.ndjson.gz", "wt") as f:
        f.write('{"name": "Dartmoor", "size": 954}\n{"name": "Exmoor", "size": 693}\n')
    (tmp_path / "doc.json").write_text(json.dumps({"animals": [{"name": "frog", "where": "bog"}]}))
    (tmp_path / "quote.txt").write_text("one line\nand another\n")
    return tmp_path


class TestCsv:
    def test_read(self, spark, data_dir):
        c = connector_for(f"csv://{data_dir}/creatures.csv")
        df = c.read(spark)
        assert df.columns == ["common_name", "native_to"]
        assert df.count() == 2

    def test_headerless_field_names(self, spark, data_dir):
        c = connector_for(
            f"csv://{data_dir}/mice.csv",
            field_names=["common_name", "scientific_name", "native_to"],
        )
        rows = c.read(spark).collect()
        assert rows[0]["scientific_name"] == "Mus musculus"

    def test_missing_trailing_fields_null(self, spark, data_dir):
        rows = connector_for(f"csv://{data_dir}/venomous.csv").read(spark).collect()
        assert rows[0]["native_to"] is None or rows[0]["native_to"] == ""
        assert rows[0]["toxic_scale"] is None

    def test_required_fields(self, spark, data_dir):
        c = connector_for(f"csv://{data_dir}/creatures.csv", required_fields=["common_name"])
        assert c.read(spark).count() == 2
        bad = connector_for(f"csv://{data_dir}/creatures.csv", required_fields=["nope"])
        with pytest.raises(SchemaContractError):
            bad.read(spark)

    def test_expected_fields_exact(self, spark, data_dir):
        bad = connector_for(
            f"csv://{data_dir}/creatures.csv", expected_fields=["native_to", "common_name"]
        )
        with pytest.raises(SchemaContractError):
            bad.read(spark)

    def test_alias_fields(self, spark, data_dir):
        c = connector_for(f"csv://{data_dir}/creatures.csv", alias_fields={"native_to": "where"})
        assert c.read(spark).columns == ["common_name", "where"]
        c2 = connector_for(f"csv://{data_dir}/creatures.csv", alias_fields=["name", "place"])
        assert c2.read(spark).columns == ["name", "place"]
        with pytest.raises(ValueError):
            connector_for(
                f"csv://{data_dir}/creatures.csv",
                alias_fields=["x", "y"],
                required_fields=["x"],
            )

    def test_transform_map(self, spark, data_dir):
        from pyspark.sql import functions as F

        c = connector_for(
            f"csv://{data_dir}/creatures.csv", transform_map={"common_name": F.upper}
        )
        rows = c.read(spark).orderBy("common_name").collect()
        assert rows[0]["common_name"] == "CROWN OF THORNS STARFISH"

    def test_row_slice(self, spark, data_dir):
        c = connector_for(f"csv://{data_dir}/creatures.csv;start=1;end=1")
        rows = c.read(spark).collect()
        assert len(rows) == 1
        assert rows[0]["common_name"] == "Golden dart frog"

    def test_write_roundtrip(self, spark, data_dir, tmp_path):
        df = connector_for(f"csv://{data_dir}/creatures.csv").read(spark)
        out = connector_for(f"csv://{tmp_path}/out_csv", access=AccessMode.WRITE)
        out.write(df)
        back = connector_for(f"csv://{tmp_path}/out_csv").read(spark)
        assert back.count() == 2

    def test_write_needs_access(self, spark, data_dir):
        df = connector_for(f"csv://{data_dir}/creatures.csv").read(spark)
        with pytest.raises(AccessModeError):
            connector_for(f"csv://{data_dir}/ro.csv").write(df)


class TestOtherFormats:
    def test_tsv(self, spark, data_dir):
        rows = connector_for(f"tsv://{data_dir}/monkeys.tsv").read(spark).collect()
        assert rows[0]["native_to"] == "Borneo"

    def test_ndjson(self, spark, data_dir):
        df = connector_for(f"ndjson://{data_dir}/pubs.ndjson").read(spark)
        assert df.count() == 2
        assert set(df.columns) == {"id", "name"}

    def test_gz_ndjson(self, spark, data_dir):
        df = connector_for(f"gz+ndjson://{data_dir}/parks.ndjson.gz").read(spark)
        assert df.count() == 2

    def test_json_document(self, data_dir, tmp_path):
        c = connector_for(f"json://{data_dir}/doc.json")
        assert c.data.animals[0].name == "frog"
        out = connector_for(f"json://{tmp_path}/out.json;indent=2", access=AccessMode.WRITE)
        out.data = {"x": [1, 2]}
        assert json.load(open(tmp_path / "out.json")) == {"x": [1, 2]}

    def test_json_as_dataframe(self, spark, data_dir):
        c = connector_for(f"json://{data_dir}/doc.json")
        df = c.as_dataframe(spark, "animals")
        assert df.count() == 1

    def test_parquet_roundtrip(self, spark, tmp_path):
        df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "name"])
        out = connector_for(f"parquet://{tmp_path}/t.parquet", access=AccessMode.READWRITE)
        out.write(df)
        assert out.read(spark).count() == 2

    def test_orc_roundtrip(self, spark, tmp_path):
        df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "name"])
        out = connector_for(f"orc://{tmp_path}/t.orc", access=AccessMode.READWRITE)
        out.write(df)
        assert sorted(r["name"] for r in out.read(spark).collect()) == ["a", "b"]

    def test_orc_partitioned_write(self, spark, tmp_path):
        df = spark.createDataFrame([(1, "x"), (2, "y"), (3, "x")], ["id", "grp"])
        out = connector_for(
            f"orc://{tmp_path}/p.orc", access=AccessMode.WRITE, partition_by=["grp"]
        )
        out.write(df)
        import os

        assert {d for d in os.listdir(tmp_path / "p.orc") if d.startswith("grp=")} == {
            "grp=x", "grp=y",
        }

    def test_orc_clustered_write_tuple_form(self, spark, tmp_path):
        """(n_files, cols) sort_by must work identically to parquet —
        the layout path is shared."""
        df = spark.createDataFrame([(i, i % 3) for i in range(30)], ["id", "grp"])
        out = connector_for(
            f"orc://{tmp_path}/c.orc", access=AccessMode.READWRITE,
            sort_by=(2, ["id"]),
        )
        out.write(df)
        import glob as _glob

        files = _glob.glob(str(tmp_path / "c.orc" / "part-*"))
        assert len(files) == 2
        assert out.read(spark).count() == 30

    def test_avro_gated_without_jar(self, spark, tmp_path):
        from ayeaye_spark.sources.base import MissingDependencyError

        df = spark.createDataFrame([(1, "a")], ["id", "name"])
        out = connector_for(f"avro://{tmp_path}/t.avro", access=AccessMode.READWRITE)
        with pytest.raises(MissingDependencyError, match="spark-avro"):
            out.write(df)
        with pytest.raises(MissingDependencyError, match="spark-avro"):
            out.read(spark)

    def test_file_text(self, spark, data_dir, tmp_path):
        c = connector_for(f"file://{data_dir}/quote.txt")
        assert "one line" in c.data
        assert c.read(spark).count() == 2
        w = connector_for(f"file://{tmp_path}/new.txt", access=AccessMode.WRITE)
        w.data = "written"
        assert open(tmp_path / "new.txt").read() == "written"

    def test_file_binary(self, data_dir):
        c = connector_for(f"file://{data_dir}/quote.txt;file_mode=b")
        assert isinstance(c.data, bytes)


class TestRegistry:
    def test_unknown_engine_type(self):
        with pytest.raises(EngineUrlError):
            connector_class_for("nope://x")

    def test_unknown_modifier(self):
        with pytest.raises(EngineUrlError):
            connector_class_for("zip+csv://x")

    def test_plugin_registration(self):
        from ayeaye_spark import register_connector
        from ayeaye_spark.sources.base import DataConnector

        class MyConnector(DataConnector):
            engine_types = ["mything"]

        register_connector(MyConnector)
        assert connector_class_for("mything://anything") is MyConnector

    def test_wildcard_glob_read(self, spark, data_dir):
        df = connector_for(f"csv://{data_dir}/creature*.csv").read(spark)
        assert df.count() == 2

    def test_fake(self, spark):
        assert connector_for("fake://").read(spark).count() == 1

    def test_placeholder(self, spark):
        c = connector_for("")
        assert not c.datasource_exists


class TestMulti:
    def test_multi_read_with_source(self, spark, data_dir):
        m = connector_for(
            [f"csv://{data_dir}/creatures.csv", f"tsv://{data_dir}/monkeys.tsv"]
        )
        assert isinstance(m, MultiConnector)
        df = m.read(spark)
        assert df.count() == 3
        assert "source_url" in df.columns
        assert df.where(df.source_url.contains("monkeys")).count() == 1

    def test_child_access(self, spark, data_dir):
        url = f"csv://{data_dir}/creatures.csv"
        m = connector_for([url])
        assert m[url].read(spark).count() == 2
        assert len(m) == 1

    def test_add_engine_url(self, data_dir, resolver):
        resolver.add(d=str(data_dir))
        m = connector_for([f"csv://{data_dir}/creatures.csv"])
        child = m.add_engine_url("tsv://{d}/monkeys.tsv")
        assert len(m) == 2
        assert "monkeys" in child.engine_url


class TestExternalUrlMapping:
    def test_kafka_bounds(self):
        assert decode_kafka_bound("@(earliest)") == "earliest"
        assert decode_kafka_bound("@(2019-05-15 08:00:00)") == 1557907200000
        assert decode_kafka_bound(None) is None

    def test_kafka_options(self):
        k = KafkaConnector("kafka://broker:9092/mytopic;start=@(2019-05-15 08:00:00);end=@(latest)")
        opts = k._bound_options()
        assert opts["kafka.bootstrap.servers"] == "broker:9092"
        assert opts["subscribe"] == "mytopic"
        assert opts["startingTimestamp"] == "1557907200000"
        assert opts["endingOffsets"] == "latest"

    def test_jdbc_urls(self):
        j = JdbcConnector("sqlite:///tmp/db.sqlite;table=animals")
        assert j.jdbc_url == "jdbc:sqlite:/tmp/db.sqlite"
        opts = j._jdbc_options()
        assert opts["dbtable"] == "animals"
        assert opts["driver"] == "org.sqlite.JDBC"
        p = JdbcConnector("postgresql://host:5432/mydb", table="t")
        assert p.jdbc_url == "jdbc:postgresql://host:5432/mydb"
        assert p._jdbc_options(query="SELECT 1")["query"] == "SELECT 1"

    def test_bigquery_mapping(self):
        from ayeaye_spark.sources.external import BigQueryConnector

        b = BigQueryConnector("bigquery://myproject/ds.table1")
        assert b.table_ref == "myproject.ds.table1"
        assert b._options()["table"] == "myproject.ds.table1"
        assert b._options(query="SELECT 1")["viewsEnabled"] == "true"

    def test_elasticsearch_mapping(self):
        from ayeaye_spark.sources.external import ElasticsearchConnector

        e = ElasticsearchConnector("elasticsearch://es-host:9200/myindex")
        opts = e._es_options(None)
        assert opts["es.nodes"] == "es-host"
        assert opts["es.resource"] == "myindex"

    def test_restful_stats(self):
        from ayeaye_spark.sources.external import RestfulConnector

        r = RestfulConnector("https://api.example.com/v1")
        assert r.base_url == "https://api.example.com/v1"
        assert r.stats["requests"] == 0


class TestCsvParityExtras:
    def test_quoting_nonnumeric_types(self, spark, tmp_path):
        p = tmp_path / "typed.csv"
        p.write_text('common_name,toxic_scale\n"Cone shell",9.5\n"Krait",8.0\n')
        df = connector_for(f"csv://{p};quoting=nonnumeric").read(spark)
        assert dict(df.dtypes)["toxic_scale"] == "double"
        assert df.where(df.toxic_scale > 9).count() == 1

    def test_single_file_write(self, spark, tmp_path):
        df = spark.createDataFrame([(2, "b"), (1, "a")], ["id", "name"])
        out = tmp_path / "exact_name.csv"
        connector_for(f"csv://{out};single_file", access=AccessMode.WRITE).write(df)
        content = out.read_text().strip().splitlines()
        assert content[0] == "id,name"
        assert sorted(content[1:]) == ["1,a", "2,b"]
        back = connector_for(f"csv://{out}").read(spark)
        assert back.count() == 2

    def test_duplicate_header_columns(self, spark, tmp_path):
        """Duplicate header names (reference fixture
        duplicate_field_names.csv): Spark de-duplicates with positional
        suffixes so both columns stay addressable."""
        p = tmp_path / "dup.csv"
        p.write_text("Species,Description,Description\nAdder,short,venomous\n")
        df = connector_for(f"csv://{p}").read(spark)
        assert len(df.columns) == 3
        assert len(set(df.columns)) == 3  # made unique
        row = df.collect()[0]
        assert "short" in list(row) and "venomous" in list(row)


class TestTransformMapTyping:
    def test_numeric_transform_keeps_type(self, spark, tmp_path):
        p = tmp_path / "nums.csv"
        p.write_text("a,b\n1,x\n2,y\n")
        c = connector_for(
            f"csv://{p};infer_schema=true",
            transform_map={"a": lambda v: v * 2},
        )
        df = c.read(spark)
        # Column arithmetic path: stays numeric, not stringified
        assert df.schema["a"].dataType.typeName() in ("integer", "long", "double")
        assert sorted(r["a"] for r in df.collect()) == [2, 4]

    def test_per_value_callable_keeps_column_type(self, spark, tmp_path):
        p = tmp_path / "strs.csv"
        p.write_text("a,b\n1,hello\n2,world\n")
        c = connector_for(
            f"csv://{p}", transform_map={"b": lambda v: v.upper()}
        )
        df = c.read(spark)
        assert df.schema["b"].dataType.typeName() == "string"
        assert sorted(r["b"] for r in df.collect()) == ["HELLO", "WORLD"]
        # no row-at-a-time PythonUDF in the plan: Arrow-batched eval only
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan

    def test_explicit_return_type_tuple(self, spark, tmp_path):
        p = tmp_path / "t.csv"
        p.write_text("a,b\n1,x\n2,y\n")
        c = connector_for(
            f"csv://{p};infer_schema=true",
            transform_map={"a": (lambda v: float(v) / 2, "double")},
        )
        df = c.read(spark)
        assert df.schema["a"].dataType.typeName() == "double"
        assert sorted(r["a"] for r in df.collect()) == [0.5, 1.0]


class TestMultiConnectorEmpty:
    def test_empty_engine_urls_raises_clearly(self, spark):
        from ayeaye_spark.sources.multi import MultiConnector
        from ayeaye_spark.sources.base import ConnectorError

        mc = MultiConnector(engine_url=[])
        with pytest.raises(ConnectorError, match="no engine_urls"):
            mc.read(spark)

    def test_add_engine_url_then_read(self, spark, tmp_path):
        from ayeaye_spark.sources.multi import MultiConnector

        p = tmp_path / "one.csv"
        p.write_text("a,b\n1,x\n")
        mc = MultiConnector(engine_url=[])
        mc.add_engine_url(f"csv://{p}")
        assert mc.read(spark).count() == 1


class TestAsPandasBase:
    def test_csv_as_pandas(self, spark, data_dir):
        pdf = connector_for(f"csv://{data_dir}/creatures.csv").as_pandas(spark)
        assert len(pdf) > 0 and "common_name" in pdf.columns

    def test_ndjson_as_pandas_active_session(self, spark, tmp_path):
        p = tmp_path / "x.ndjson"
        p.write_text('{"a": 1}\n{"a": 2}\n')
        # no explicit spark: falls back to the active session
        pdf = connector_for(f"ndjson://{p}").as_pandas()
        assert sorted(pdf["a"].tolist()) == [1, 2]


class TestPatternExpansion:
    def test_prefix_matcher_mirrors_reference(self):
        from ayeaye_spark.sources.listing import pattern_prefix_matcher

        prefix, matcher = pattern_prefix_matcher("data/sub/part-*.csv")
        assert prefix == "data/sub/part-"
        assert matcher("data/sub/part-0001.csv")
        assert not matcher("data/sub/part-0001.csv.bak")  # fullmatch
        assert not matcher("data/other/part-1.csv")

    def test_reserved_chars_rejected(self):
        from ayeaye_spark.sources.listing import pattern_prefix_matcher

        with pytest.raises(NotImplementedError):
            pattern_prefix_matcher("data/[ab]*.csv")
        with pytest.raises(ValueError):
            pattern_prefix_matcher("data/no_wildcard.csv")

    def test_expand_pattern_local_fs(self, spark, tmp_path):
        from ayeaye_spark.sources.listing import expand_pattern

        d = tmp_path / "files"
        d.mkdir()
        for name in ("a-1.csv", "a-2.csv", "b-1.csv", "a-3.tsv"):
            (d / name).write_text("x,y\n1,2\n")
        urls = expand_pattern(spark, f"csv://{d}/a-*.csv")
        assert [u.rsplit("/", 1)[1] for u in urls] == ["a-1.csv", "a-2.csv"]
        assert all(u.startswith("csv://") for u in urls)
        # expanded urls feed MultiConnector for per-file access
        from ayeaye_spark.sources.multi import MultiConnector

        assert MultiConnector(urls).read(spark).count() == 2


class TestSortByStringForm:
    def test_bare_string_sort_by(self, spark, tmp_path):
        from ayeaye_spark import AccessMode

        df = spark.createDataFrame([(i, i * 2) for i in range(100)], ["k", "v"])
        out = connector_for(
            f"parquet://{tmp_path}/s", access=AccessMode.WRITE, sort_by="k"
        )
        out.write(df)
        assert spark.read.parquet(f"{tmp_path}/s").count() == 100


class TestConnectorRegistryFacade:
    def test_reference_parity_surface(self, spark):
        from ayeaye_spark import connector_registry
        from ayeaye_spark.sources.base import DataConnector
        from ayeaye_spark.sources.file_formats import CsvConnector

        assert CsvConnector in connector_registry.registered_connectors

        class MyConnector(DataConnector):
            engine_types = ["my_protocol"]

            def read(self, spark):  # pragma: no cover - registration test
                raise NotImplementedError

        connector_registry.register_connector(MyConnector)
        try:
            assert MyConnector in connector_registry.registered_connectors
            from ayeaye_spark import registered_engine_types

            assert "my_protocol" in registered_engine_types()
        finally:
            connector_registry.reset()
        assert MyConnector not in connector_registry.registered_connectors
        assert CsvConnector in connector_registry.registered_connectors

    def test_rejects_non_class(self):
        from ayeaye_spark import connector_registry

        with pytest.raises(TypeError, match="subclass of DataConnector"):
            connector_registry.register_connector(object())


class TestJdbcOptionContracts:
    """Pin the EXACT spark.read.jdbc option dict per engine_url family.

    No database driver jars ship in this container, so the live read
    path can't run here — these contract tests freeze the full mapping
    (url rewrite, driver class, table/query routing, credential and
    partitioning passthrough) so a regression is caught without a
    database.  Covers the reference's sqlalchemy_database.py engine
    strings (sqlite/mysql/postgresql)."""

    def test_sqlite_full_option_dict(self):
        j = JdbcConnector("sqlite:///var/data/app.db;table=animals")
        assert j._jdbc_options() == {
            "url": "jdbc:sqlite:/var/data/app.db",
            "driver": "org.sqlite.JDBC",
            "dbtable": "animals",
        }

    def test_postgres_full_option_dict_with_credentials_and_partitioning(self):
        j = JdbcConnector(
            "postgresql://pg-host:5432/warehouse;table=public.orders;"
            "user=svc;password=secret;numPartitions=8;"
            "partitionColumn=o_orderkey;lowerBound=1;upperBound=6000000;"
            "fetchsize=10000"
        )
        assert j._jdbc_options() == {
            "url": "jdbc:postgresql://pg-host:5432/warehouse",
            "driver": "org.postgresql.Driver",
            "dbtable": "public.orders",
            "user": "svc",
            "password": "secret",
            "numPartitions": "8",
            "partitionColumn": "o_orderkey",
            "lowerBound": "1",
            "upperBound": "6000000",
            "fetchsize": "10000",
        }

    def test_mysql_full_option_dict_and_pymysql_alias(self):
        for scheme in ("mysql", "mysql+pymysql"):
            j = JdbcConnector(f"{scheme}://db:3306/shop;table=parts;user=u")
            assert j._jdbc_options() == {
                "url": "jdbc:mysql://db:3306/shop",
                "driver": "com.mysql.cj.jdbc.Driver",
                "dbtable": "parts",
                "user": "u",
            }, scheme

    def test_query_replaces_dbtable(self):
        j = JdbcConnector("postgresql://h/db;table=t")
        opts = j._jdbc_options(query="SELECT 1 AS x")
        assert "dbtable" not in opts and opts["query"] == "SELECT 1 AS x"

    def test_raw_jdbc_scheme_passthrough_no_driver_guess(self):
        j = JdbcConnector("jdbc://oracle:thin:@h:1521/XE;table=t")
        opts = j._jdbc_options()
        assert opts["url"].startswith("jdbc:oracle:thin:")
        assert "driver" not in opts  # unknown engine: let Spark resolve

    def test_kwargs_beat_url_options(self):
        j = JdbcConnector("postgresql://h/db;table=from_url", table="from_kwarg")
        assert j._jdbc_options()["dbtable"] == "from_kwarg"

    def test_no_table_or_query_raises(self):
        from ayeaye_spark.sources.base import ConnectorError

        with pytest.raises(ConnectorError, match="no table or query"):
            JdbcConnector("postgresql://h/db")._jdbc_options()


class TestCompoundSchemeRegistry:
    def test_sqlalchemy_compound_scheme_resolves(self):
        """mysql+pymysql:// must resolve via the registry: the full
        compound scheme is a registered engine_type and wins over
        interpreting 'mysql' as an unknown modifier (which raised)."""
        from ayeaye_spark.sources.registry import connector_class_for

        assert connector_class_for("mysql+pymysql://db/shop;table=t") is JdbcConnector

    def test_modifier_chains_still_work(self):
        from ayeaye_spark.sources.registry import connector_class_for

        cls = connector_class_for("gz+csv:///data/x.csv.gz")
        assert cls.__name__ == "CsvConnector"


class TestXmlConnector:
    def test_round_trip_with_row_tag(self, spark, tmp_path):
        """xml:// uses Spark 4's native XML source: write a frame with a
        custom row/root tag, read it back through the registry."""
        from ayeaye_spark.sources.registry import connector_for
        from ayeaye_spark.core.dataset import AccessMode

        out = tmp_path / "animals_xml"
        df = spark.createDataFrame(
            [(1, "cat"), (2, "dog"), (3, "emu")], "id long, name string"
        )
        w = connector_for(
            f"xml://{out};row_tag=animal;root_tag=zoo", access=AccessMode.WRITE
        )
        w.write(df.coalesce(1))
        raw = next(p for p in out.iterdir() if p.suffix == ".xml").read_text()
        assert "<zoo>" in raw and "<animal>" in raw

        r = connector_for(f"xml://{out};row_tag=animal")
        got = sorted((row["id"], row["name"]) for row in r.read(spark).collect())
        assert got == [(1, "cat"), (2, "dog"), (3, "emu")]

    def test_default_row_tag_and_registry(self, spark, tmp_path):
        from ayeaye_spark.sources.file_formats import XmlConnector
        from ayeaye_spark.sources.registry import connector_class_for

        assert connector_class_for("xml:///tmp/x") is XmlConnector
        p = tmp_path / "r.xml"
        p.write_text("<rows><row><a>1</a></row><row><a>2</a></row></rows>")
        got = XmlConnector(f"xml://{p}").read(spark).collect()
        assert sorted(r["a"] for r in got) == [1, 2]


class TestKafkaBigQueryEsOptionContracts:
    """Full option-dict contracts for the remaining gated connectors
    (no brokers/credentials in this container) — same rationale as
    TestJdbcOptionContracts: freeze the exact mapping the live read
    would receive."""

    def test_kafka_timestamp_window_full_dict(self):
        k = KafkaConnector(
            "kafka://broker1:9092/events;"
            "start=@(2024-03-01 00:00:00);end=@(2024-03-02 00:00:00)"
        )
        assert k._bound_options() == {
            "kafka.bootstrap.servers": "broker1:9092",
            "subscribe": "events",
            "startingTimestamp": "1709251200000",
            "endingTimestamp": "1709337600000",
        }

    def test_kafka_keyword_bounds_full_dict(self):
        k = KafkaConnector("kafka://b:9092/t;start=@(earliest);end=@(latest)")
        assert k._bound_options() == {
            "kafka.bootstrap.servers": "b:9092",
            "subscribe": "t",
            "startingOffsets": "earliest",
            "endingOffsets": "latest",
        }

    def test_kafka_no_bounds_minimal_dict(self):
        k = KafkaConnector("kafka://b:9092/t")
        assert k._bound_options() == {
            "kafka.bootstrap.servers": "b:9092",
            "subscribe": "t",
        }

    def test_bigquery_table_and_query_full_dicts(self):
        from ayeaye_spark.sources.external import BigQueryConnector

        b = BigQueryConnector("bigquery://myproject/ds.table1")
        assert b._options() == {
            "parentProject": "myproject",
            "table": "myproject.ds.table1",
        }
        assert b._options(query="SELECT 1") == {
            "parentProject": "myproject",
            "query": "SELECT 1",
            "viewsEnabled": "true",
        }

    def test_elasticsearch_full_dict_with_and_without_port(self):
        from ayeaye_spark.sources.external import ElasticsearchConnector

        e = ElasticsearchConnector("elasticsearch://es-host:9201/myindex")
        assert e._es_options(None) == {
            "es.nodes": "es-host",
            "es.port": "9201",
            "es.resource": "myindex",
            "es.nodes.wan.only": "true",
        }
        d = ElasticsearchConnector("elasticsearch://bare-host/idx")
        opts = d._es_options("override")
        assert opts["es.port"] == "9200" and opts["es.resource"] == "override"


class TestWebDataset:
    def _docs(self, spark, n=40):
        return spark.createDataFrame(
            [(i, f"document body {i} " * 3, json.dumps({"i": i})) for i in range(n)],
            "doc_id long, text string, meta string",
        )

    def test_roundtrip(self, spark, tmp_path):
        from ayeaye_spark.sources.webdataset import (
            members_to_samples,
            read_tar_shards,
            write_tar_shards,
        )

        docs = self._docs(spark)
        out = str(tmp_path / "shards")
        manifest = write_tar_shards(
            docs, out, key_col="doc_id",
            member_cols={"txt": "text", "json": "meta"}, n_shards=4,
        ).collect()
        assert sum(m["n_keys"] for m in manifest) == 40
        assert sum(m["n_members"] for m in manifest) == 80
        assert all(os.path.exists(m["path"]) for m in manifest)

        members = read_tar_shards(spark, f"{out}/shard-*.tar")
        assert members.count() == 80
        wide = members_to_samples(members, ["txt", "json"])
        got = {r["key"]: (r["txt"], r["json"]) for r in wide.collect()}
        assert len(got) == 40
        assert got["7"][0].decode() == "document body 7 " * 3
        assert json.loads(got["7"][1].decode()) == {"i": 7}

    def test_byte_deterministic_and_partitioning_independent(self, spark, tmp_path):
        from ayeaye_spark.sources.webdataset import write_tar_shards

        docs = self._docs(spark, 25)
        a, b = str(tmp_path / "a"), str(tmp_path / "b")
        ma = write_tar_shards(
            docs.repartition(7), a, key_col="doc_id",
            member_cols={"txt": "text"}, n_shards=3,
        ).collect()
        mb = write_tar_shards(
            docs.coalesce(1).sortWithinPartitions("text"), b, key_col="doc_id",
            member_cols={"txt": "text"}, n_shards=3,
        ).collect()
        assert {m["shard_id"] for m in ma} == {m["shard_id"] for m in mb}
        for m in ma:
            other = os.path.join(b, os.path.basename(m["path"]))
            with open(m["path"], "rb") as f1, open(other, "rb") as f2:
                assert f1.read() == f2.read(), m["path"]

    def test_gz_shards_deterministic_and_readable(self, spark, tmp_path):
        from ayeaye_spark.sources.webdataset import read_tar_shards, write_tar_shards

        docs = self._docs(spark, 10)
        a, b = str(tmp_path / "ga"), str(tmp_path / "gb")
        for out in (a, b):
            write_tar_shards(
                docs, out, key_col="doc_id",
                member_cols={"txt": "text"}, n_shards=2, compress=True,
            ).collect()
        for name in os.listdir(a):
            assert name.endswith(".tar.gz")
            with open(os.path.join(a, name), "rb") as f1, \
                 open(os.path.join(b, name), "rb") as f2:
                assert f1.read() == f2.read()
        members = read_tar_shards(spark, f"{a}/shard-*.tar.gz")
        assert members.count() == 10

    def test_duplicate_keys_raise(self, spark, tmp_path):
        from ayeaye_spark.sources.webdataset import write_tar_shards

        dup = spark.createDataFrame(
            [(1, "x"), (1, "y")], "doc_id long, text string"
        )
        with pytest.raises(Exception, match="duplicate key"):
            write_tar_shards(
                dup, str(tmp_path / "d"), key_col="doc_id",
                member_cols={"txt": "text"}, n_shards=1,
            ).collect()

    def test_connector_url_read_write(self, spark, tmp_path):
        out = str(tmp_path / "wdsdir")
        c = connector_for(
            f"wds://{out};shards=2;key=doc_id", access=AccessMode.READWRITE,
            member_cols={"txt": "text"},
        )
        c.write(self._docs(spark, 12))
        assert c.last_manifest is not None
        assert sum(m["n_keys"] for m in c.last_manifest) == 12
        df = c.read(spark)
        assert df.count() == 12
        assert set(df.columns) == {"shard_path", "key", "suffix", "content"}

    def test_overwrite_clears_stale_shards(self, spark, tmp_path):
        """Rewriting with fewer keys/shards must not leave old
        shard-NNNNNN files behind for the read glob to mix in."""
        out = str(tmp_path / "wdsdir")
        c = connector_for(
            f"wds://{out};shards=8;key=doc_id", access=AccessMode.READWRITE,
            member_cols={"txt": "text"},
        )
        c.write(self._docs(spark, 40))
        n_first = len(os.listdir(out))
        assert n_first > 1
        # second write: 1 doc → at most 1 shard file emitted
        c.write(self._docs(spark, 1))
        assert {f for f in os.listdir(out)} == {
            os.path.basename(m["path"]) for m in c.last_manifest
        }
        keys = {r["key"] for r in c.read(spark).collect()}
        assert keys == {"0"}  # no stale members resurface

    def test_save_modes_honored(self, spark, tmp_path):
        from ayeaye_spark.sources.base import ConnectorError

        out = str(tmp_path / "wdsmodes")
        c = connector_for(
            f"wds://{out};shards=2;key=doc_id", access=AccessMode.READWRITE,
            member_cols={"txt": "text"},
        )
        c.write(self._docs(spark, 4))
        with pytest.raises(ConnectorError, match="already has"):
            c.write(self._docs(spark, 4), mode="error")
        with pytest.raises(ConnectorError, match="append is not supported"):
            c.write(self._docs(spark, 4), mode="append")
        with pytest.raises(ConnectorError, match="unknown save mode"):
            c.write(self._docs(spark, 4), mode="upsert")
        before = c.last_manifest
        c.write(self._docs(spark, 9), mode="ignore")  # skipped: exists
        assert c.last_manifest is before
        assert c.read(spark).select("key").distinct().count() == 4

    def test_ustar_key_length_guard(self, spark, tmp_path):
        """Keys longer than the USTAR name budget must fail up front
        with an actionable message, not an opaque tarfile error
        mid-shard."""
        from ayeaye_spark.sources.webdataset import write_tar_shards

        long_key = "k" * 120
        df = spark.createDataFrame(
            [(long_key, "body")], "doc_id string, text string"
        )
        with pytest.raises(Exception, match="USTAR member names cap"):
            write_tar_shards(
                df, str(tmp_path / "lk"), key_col="doc_id",
                member_cols={"txt": "text"}, n_shards=1,
            ).collect()
        # a key at exactly the budget still writes fine
        ok_key = "k" * (100 - 1 - len("txt"))
        write_tar_shards(
            spark.createDataFrame([(ok_key, "body")], "doc_id string, text string"),
            str(tmp_path / "ok"), key_col="doc_id",
            member_cols={"txt": "text"}, n_shards=1,
        ).collect()

    def test_connector_registry_and_access_guard(self, tmp_path):
        from ayeaye_spark.sources.webdataset import WebDatasetConnector

        assert connector_class_for("wds:///tmp/x") is WebDatasetConnector
        c = connector_for(f"wds://{tmp_path}/x", access=AccessMode.READ)
        with pytest.raises(AccessModeError):
            c.write(None)


class TestArrowIpc:
    def _docs(self, spark, n=35):
        return spark.createDataFrame(
            [(i, f"text {i}", float(i) / 2, [float(i), float(i + 1)])
             for i in range(n)],
            "doc_id long, text string, score double, vec array<double>",
        )

    def test_roundtrip_with_schema_inference(self, spark, tmp_path):
        from ayeaye_spark.sources.arrow_ipc import (
            read_arrow_shards,
            write_arrow_shards,
        )

        docs = self._docs(spark)
        out = str(tmp_path / "ipc")
        manifest = write_arrow_shards(
            docs, out, key_col="doc_id", n_shards=4
        ).collect()
        assert sum(m["n_rows"] for m in manifest) == 35
        back = read_arrow_shards(spark, f"{out}/shard-*.arrow")
        # schema inferred from the IPC footer, nested list included
        assert back.schema == docs.schema
        assert back.rdd.getNumPartitions() == len(manifest)
        a = {(r["doc_id"], r["text"], r["score"], tuple(r["vec"]))
             for r in back.collect()}
        b = {(r["doc_id"], r["text"], r["score"], tuple(r["vec"]))
             for r in docs.collect()}
        assert a == b

    def test_deterministic_across_partitionings(self, spark, tmp_path):
        from ayeaye_spark.sources.arrow_ipc import write_arrow_shards

        docs = self._docs(spark, 20)
        a, b = str(tmp_path / "a"), str(tmp_path / "b")
        ma = write_arrow_shards(docs.repartition(6), a, key_col="doc_id",
                                n_shards=3).collect()
        write_arrow_shards(docs.coalesce(1), b, key_col="doc_id",
                           n_shards=3).collect()
        for m in ma:
            other = os.path.join(b, os.path.basename(m["path"]))
            with open(m["path"], "rb") as f1, open(other, "rb") as f2:
                assert f1.read() == f2.read(), m["path"]

    def test_connector_url_read_write(self, spark, tmp_path):
        out = str(tmp_path / "arrowdir")
        c = connector_for(
            f"arrow://{out};shards=2;key=doc_id", access=AccessMode.READWRITE
        )
        c.write(self._docs(spark, 12))
        assert sum(m["n_rows"] for m in c.last_manifest) == 12
        df = c.read(spark)
        assert df.count() == 12
        assert "vec" in df.columns

    def test_write_requires_key_and_registry(self, spark, tmp_path):
        from ayeaye_spark.sources.arrow_ipc import ArrowIpcConnector
        from ayeaye_spark.sources.base import ConnectorError

        assert connector_class_for("arrow:///tmp/x") is ArrowIpcConnector
        c = connector_for(f"arrow://{tmp_path}/x", access=AccessMode.READWRITE)
        with pytest.raises(ConnectorError, match="key"):
            c.write(self._docs(spark, 3))

    def test_overwrite_clears_stale_shards(self, spark, tmp_path):
        out = str(tmp_path / "arrowdir")
        c = connector_for(
            f"arrow://{out};shards=8;key=doc_id", access=AccessMode.READWRITE
        )
        c.write(self._docs(spark, 35))
        assert len(os.listdir(out)) > 1
        c.write(self._docs(spark, 1))  # rewrite emits at most one shard
        assert {f for f in os.listdir(out)} == {
            os.path.basename(m["path"]) for m in c.last_manifest
        }
        assert {r["doc_id"] for r in c.read(spark).collect()} == {0}


class TestExecutorFsUnit:
    """publish_file / uri_join / has_scheme directly (no Spark): the
    primitives the shard writers run inside executors."""

    def test_scheme_detection_and_join(self):
        from ayeaye_spark.sources.executor_fs import has_scheme, uri_join

        assert has_scheme("s3a://bucket/x") and has_scheme("file:///x")
        assert has_scheme("hdfs://nn:8020/x")
        assert not has_scheme("/data/corpus") and not has_scheme("rel/path")
        assert uri_join("s3a://b/dir/", "f.tar") == "s3a://b/dir/f.tar"
        assert uri_join("/data/x", "f.tar") == "/data/x/f.tar"
        # single-letter "schemes" are Windows drive paths, not URIs
        assert not has_scheme("C:/Users/me/corpus")
        assert not has_scheme("d:/data/x.tar")

    def test_worker_reuse_warning_fires_once(self):
        """When spark.python.worker.reuse is disabled, the shard
        writers warn (once) that every task pays a fresh gateway JVM."""
        import warnings

        from ayeaye_spark.sources import executor_fs

        class _Conf:
            def __init__(self, reuse):
                self._reuse = reuse

            def get(self, key, default=None):
                assert key == "spark.python.worker.reuse"
                return self._reuse

        class _Spark:
            def __init__(self, reuse):
                self.conf = _Conf(reuse)

        old = executor_fs._REUSE_WARNED
        executor_fs._REUSE_WARNED = False
        try:
            with warnings.catch_warnings(record=True) as seen:
                warnings.simplefilter("always")
                executor_fs.warn_if_worker_reuse_disabled(_Spark("true"))
                assert not seen  # default config: silent
                executor_fs.warn_if_worker_reuse_disabled(_Spark("false"))
                assert len(seen) == 1
                assert issubclass(seen[0].category, RuntimeWarning)
                assert "worker.reuse" in str(seen[0].message)
                # one-time: a second disabled session does not re-warn
                executor_fs.warn_if_worker_reuse_disabled(_Spark("false"))
                assert len(seen) == 1
        finally:
            executor_fs._REUSE_WARNED = old

    def test_session_hadoop_overrides_capture(self, spark):
        """spark.hadoop.* SparkConf entries are captured prefix-stripped
        (the dict the writers ship into publish_file task closures)."""
        from ayeaye_spark.sources.executor_fs import session_hadoop_overrides

        got = session_hadoop_overrides(spark)
        assert isinstance(got, dict)
        # no spark.hadoop.* in the test session -> empty, never raises
        assert all(not k.startswith("spark.hadoop.") for k in got)

        class _Conf:
            def getAll(self):
                return [("spark.hadoop.fs.s3a.endpoint", "http://minio:9000"),
                        ("spark.sql.shuffle.partitions", "32")]

        class _Sc:
            def getConf(self):
                return _Conf()

        class _Spark:
            sparkContext = type("X", (), {"getConf": lambda s: _Conf()})()

        assert session_hadoop_overrides(_Spark()) == {
            "fs.s3a.endpoint": "http://minio:9000"
        }

    def test_hadoop_conf_reaches_gateway_configuration(self):
        """hadoop_conf= entries land in the Configuration the gateway
        JVM resolves filesystems with (the spark.hadoop.* ship path)."""
        from ayeaye_spark.sources.executor_fs import _fs_and_path

        fs, _ = _fs_and_path("file:///tmp/x", {"ayeaye.test.flag": "42"})
        assert fs.getConf().get("ayeaye.test.flag") == "42"
        # and a fresh Configuration without overrides does not leak it
        fs2, _ = _fs_and_path("file:///tmp/x")
        assert fs2.getConf().get("ayeaye.test.flag") is None

    def test_pyds_hadoop_option_forwarding(self):
        from ayeaye_spark.sources.pyds import _hadoop_options

        got = _hadoop_options({"path": "/x/*.tar",
                               "hadoop.fs.s3a.endpoint": "http://e:9000",
                               "hadoop.fs.s3a.path.style.access": "true"})
        assert got == {"fs.s3a.endpoint": "http://e:9000",
                       "fs.s3a.path.style.access": "true"}

    def test_publish_local_move(self, tmp_path):
        from ayeaye_spark.sources.executor_fs import publish_file

        src = tmp_path / "src.bin"
        src.write_bytes(b"payload")
        dest = tmp_path / "sub" / "dir" / "out.bin"
        publish_file(str(src), str(dest))  # creates parents, consumes src
        assert dest.read_bytes() == b"payload"
        assert not src.exists()

    def test_s3_modifier_composes_with_scheme_routing(self):
        """`s3+wds://bucket/corpus` resolves to an s3a:// out_dir, which
        has_scheme routes to the Hadoop publish path — the connector-URL
        spelling of an object-store shard export (no live S3 here; the
        file:/// integration tests exercise the same branch)."""
        from ayeaye_spark.sources.base import spark_path
        from ayeaye_spark.sources.executor_fs import has_scheme
        from ayeaye_spark.sources.registry import connector_for

        from ayeaye_spark import AccessMode

        c = connector_for(
            "s3+wds://bucket/corpus;shards=4;key=doc_id",
            access=AccessMode.READWRITE, member_cols={"txt": "text"},
        )
        out = spark_path(c.url)
        assert out == "s3a://bucket/corpus"
        assert has_scheme(out)

    def test_publish_file_uri_via_gateway(self, tmp_path):
        """file:// destination exercises the launched-JVM
        copyFromLocalFile path end to end in THIS process (the same
        code an executor's Python worker runs)."""
        from ayeaye_spark.sources.executor_fs import publish_file

        src = tmp_path / "src.bin"
        src.write_bytes(b"gateway payload" * 100)
        dest = tmp_path / "remote" / "out.bin"
        publish_file(str(src), f"file://{dest}")
        assert dest.read_bytes() == b"gateway payload" * 100
        assert not src.exists()  # delSrc=True consumed the scratch file


class TestShardHadoopFsPublish:
    """Shard sinks through an explicit ``file:///`` URI — the writes
    route through the executor-side Hadoop FS gateway
    (``executor_fs.publish_file`` → ``fs.copyFromLocalFile``) and the
    overwrite cleanup through the driver's ``fs.globStatus``, i.e. the
    exact code path an ``s3a://``/``hdfs://`` destination uses."""

    def _docs(self, spark, n=20):
        return spark.createDataFrame(
            [(i, f"document body {i}") for i in range(n)],
            "doc_id long, text string",
        )

    def test_wds_file_uri_write_matches_local_bytes(self, spark, tmp_path):
        from ayeaye_spark.sources.webdataset import (
            read_tar_shards,
            write_tar_shards,
        )

        docs = self._docs(spark)
        local = str(tmp_path / "local")
        remote_dir = tmp_path / "remote"
        remote = f"file://{remote_dir}"
        write_tar_shards(
            docs, local, key_col="doc_id",
            member_cols={"txt": "text"}, n_shards=3,
        ).collect()
        manifest = write_tar_shards(
            docs, remote, key_col="doc_id",
            member_cols={"txt": "text"}, n_shards=3,
        ).collect()
        assert all(m["path"].startswith("file://") for m in manifest)
        # byte-identical through the Hadoop copyFromLocalFile path
        names = sorted(os.listdir(local))
        assert sorted(os.listdir(remote_dir)) == names
        for name in names:
            with open(os.path.join(local, name), "rb") as f1, \
                 open(remote_dir / name, "rb") as f2:
                assert f1.read() == f2.read(), name
        # readable straight from the file:// glob (binaryFile scheme-native)
        members = read_tar_shards(spark, f"{remote}/shard-*.tar")
        assert members.count() == 20

    def test_wds_connector_overwrite_via_hadoop_glob(self, spark, tmp_path):
        """Overwrite cleanup on a scheme'd shard dir goes through
        fs.globStatus/fs.delete — stale shard files must not survive."""
        remote_dir = tmp_path / "wds_remote"
        c = connector_for(
            f"wds://file://{remote_dir};shards=8;key=doc_id",
            access=AccessMode.READWRITE, member_cols={"txt": "text"},
        )
        c.write(self._docs(spark, 40))
        assert len(os.listdir(remote_dir)) > 1
        c.write(self._docs(spark, 1))
        assert {f for f in os.listdir(remote_dir)} == {
            os.path.basename(m["path"]) for m in c.last_manifest
        }
        assert {r["key"] for r in c.read(spark).collect()} == {"0"}
        # error mode probes existence through the same Hadoop listing
        from ayeaye_spark.sources.base import ConnectorError

        with pytest.raises(ConnectorError, match="already has"):
            c.write(self._docs(spark, 2), mode="error")

    def test_arrow_file_uri_roundtrip(self, spark, tmp_path):
        from ayeaye_spark.sources.arrow_ipc import (
            read_arrow_shards,
            write_arrow_shards,
        )

        docs = self._docs(spark, 15)
        remote_dir = tmp_path / "ipc_remote"
        manifest = write_arrow_shards(
            docs, f"file://{remote_dir}", key_col="doc_id", n_shards=2
        ).collect()
        assert sum(m["n_rows"] for m in manifest) == 15
        assert all(m["path"].startswith("file://") for m in manifest)
        back = read_arrow_shards(spark, f"file://{remote_dir}/shard-*.arrow")
        assert back.schema == docs.schema
        assert {r["doc_id"] for r in back.collect()} == set(range(15))


class TestInterchangeEdgeCases:
    def test_wds_unicode_dotted_keys_empty_and_large(self, spark, tmp_path):
        from ayeaye_spark.sources.webdataset import read_tar_shards, write_tar_shards

        rows = [
            ("plain", "hello"),
            ("key.with.dots", "dotted key survives rpartition"),
            ("uni", "héllø wörld — 中文 テキスト 🚀"),
            ("empty", ""),
            ("none", None),
            ("big", "x" * 300_000),
        ]
        df = spark.createDataFrame(rows, "k string, text string")
        out = str(tmp_path / "edge")
        write_tar_shards(
            df, out, key_col="k", member_cols={"txt": "text"}, n_shards=2
        ).collect()
        got = {r["key"]: bytes(r["content"])
               for r in read_tar_shards(spark, f"{out}/shard-*.tar").collect()}
        assert got["plain"] == b"hello"
        assert got["key.with.dots"] == "dotted key survives rpartition".encode()
        assert got["uni"].decode("utf-8") == "héllø wörld — 中文 テキスト 🚀"
        assert got["empty"] == b""
        assert got["none"] == b""  # null member -> empty payload, documented
        assert got["big"] == b"x" * 300_000

    def test_arrow_unicode_nulls_and_100k_rows(self, spark, tmp_path):
        from ayeaye_spark.sources.arrow_ipc import read_arrow_shards, write_arrow_shards

        # nulls in every column type + unicode + volume
        big = spark.range(100_000).selectExpr(
            "id AS doc_id",
            "CASE WHEN id % 7 = 0 THEN NULL ELSE concat('t—', id) END AS text",
            "CASE WHEN id % 11 = 0 THEN NULL ELSE cast(id as double) / 3 END AS score",
        )
        out = str(tmp_path / "ipc_big")
        manifest = write_arrow_shards(big, out, key_col="doc_id", n_shards=8).collect()
        assert sum(m["n_rows"] for m in manifest) == 100_000
        back = read_arrow_shards(spark, f"{out}/shard-*.arrow")
        assert back.count() == 100_000
        assert back.where("text IS NULL").count() == big.where("text IS NULL").count()
        assert back.where("score IS NULL").count() == big.where("score IS NULL").count()
        sample = {r["doc_id"]: r["text"] for r in back.where("doc_id < 15").collect()}
        assert sample[1] == "t—1" and sample[0] is None and sample[7] is None


class TestArrowIpcSchemaPinning:
    def test_whole_shard_null_column_keeps_schema(self, spark, tmp_path):
        """A shard whose every row has NULL in some column must carry
        the SAME footer schema as the others (per-shard inference would
        type it pa.null() and break the multi-shard read)."""
        from ayeaye_spark.sources.arrow_ipc import (
            read_arrow_shards,
            write_arrow_shards,
        )

        # craft ids so one shard gets only null-text rows: brute-force
        # ids by shard assignment
        from pyspark.sql import functions as F

        probe = spark.range(200).withColumn(
            "s", F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(2))
        )
        by_shard = {r["id"]: r["s"] for r in probe.collect()}
        shard0 = [i for i, s in by_shard.items() if s == 0][:5]
        shard1 = [i for i, s in by_shard.items() if s == 1][:5]
        rows = [(int(i), None) for i in shard0] + [
            (int(i), f"t{i}") for i in shard1
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = str(tmp_path / "nulls")
        write_arrow_shards(df, out, key_col="doc_id", n_shards=2).collect()
        back = read_arrow_shards(spark, f"{out}/shard-*.arrow")
        assert back.schema == df.schema
        assert back.count() == 10
        assert back.where("text IS NULL").count() == 5


class TestWarc:
    def _fixture_records(self):
        from ayeaye_spark.sources.warc import http_response_payload

        return [
            {"warc_type": "warcinfo", "content_type": "application/warc-fields",
             "payload": b"software: test-crawler/1.0\r\n"},
            {"warc_type": "request", "target_uri": "https://a.com/x",
             "warc_date": "2026-08-16T00:00:00Z",
             "payload": b"GET /x HTTP/1.1\r\nHost: a.com\r\n\r\n"},
            {"warc_type": "response", "target_uri": "https://a.com/x",
             "warc_date": "2026-08-16T00:00:00Z",
             "content_type": "application/http; msgtype=response",
             "payload": http_response_payload(
                 "<html><body><p>hello &amp; welcome</p>"
                 '<a href="/y">next</a></body></html>')},
            {"warc_type": "response", "target_uri": "https://a.com/img",
             "content_type": "application/http; msgtype=response",
             "payload": (b"HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n"
                         b"\r\n\x89PNG\r\n\x1a\nbinary \xff body")},
            {"warc_type": "response", "target_uri": "https://a.com/404",
             "content_type": "application/http; msgtype=response",
             "payload": b"HTTP/1.1 404 Not Found\r\n\r\ngone"},
        ]

    @pytest.mark.parametrize("gz", [False, True])
    def test_roundtrip(self, spark, tmp_path, gz):
        from ayeaye_spark.sources.warc import read_warc, write_warc

        path = str(tmp_path / ("a.warc.gz" if gz else "a.warc"))
        write_warc(path, self._fixture_records())
        rows = {(r["warc_type"], r["target_uri"]): r
                for r in read_warc(spark, path).collect()}
        assert len(rows) == 5
        assert bytes(rows[("warcinfo", "")]["payload"]).startswith(b"software:")
        img = bytes(rows[("response", "https://a.com/img")]["payload"])
        assert img.endswith(b"binary \xff body")
        assert rows[("request", "https://a.com/x")]["record_id"]

    def test_write_is_byte_deterministic(self, tmp_path):
        from ayeaye_spark.sources.warc import write_warc

        p1, p2 = str(tmp_path / "x1.warc.gz"), str(tmp_path / "x2.warc.gz")
        write_warc(p1, self._fixture_records())
        write_warc(p2, self._fixture_records())
        assert open(p1, "rb").read() == open(p2, "rb").read()

    def test_http_responses_projection(self, spark, tmp_path):
        from ayeaye_spark.sources.warc import (
            http_responses, read_warc, write_warc,
        )

        path = str(tmp_path / "b.warc")
        write_warc(path, self._fixture_records())
        got = {r["target_uri"]: r
               for r in http_responses(read_warc(spark, path)).collect()}
        assert set(got) == {"https://a.com/x", "https://a.com/img",
                            "https://a.com/404"}
        ok = got["https://a.com/x"]
        assert ok["http_status"] == 200
        assert ok["http_content_type"].startswith("text/html")
        assert "<p>hello &amp; welcome</p>" in ok["html"]
        img = got["https://a.com/img"]
        assert img["http_status"] == 200 and img["html"] is None
        assert bytes(img["body"]).startswith(b"\x89PNG")
        assert got["https://a.com/404"]["http_status"] == 404

    def test_http_responses_real_crawl_robustness(self, spark, tmp_path):
        """LF-only header framing, chunked transfer encoding, gzip
        content encoding, and malformed chunk framing — degradations a
        real crawl archive contains that must not corrupt html/body."""
        import gzip as _gzip

        from ayeaye_spark.sources.warc import (
            http_responses, read_warc, write_warc,
        )

        gz_body = _gzip.compress(b"<html><p>zipped page</p></html>")
        records = [
            # LF-only headers (no CRLF anywhere)
            {"warc_type": "response", "target_uri": "https://lf.example/",
             "content_type": "application/http; msgtype=response",
             "payload": (b"HTTP/1.1 200 OK\nContent-Type: text/html\n\n"
                         b"<html>lf-only page</html>")},
            # chunked transfer framing
            {"warc_type": "response", "target_uri": "https://chunk.example/",
             "content_type": "application/http; msgtype=response",
             "payload": (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                         b"Transfer-Encoding: chunked\r\n\r\n"
                         b"b\r\n<html>chunk\r\n9\r\ned</html>\r\n0\r\n\r\n")},
            # gzip content encoding
            {"warc_type": "response", "target_uri": "https://gz.example/",
             "content_type": "application/http; msgtype=response",
             "payload": (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                         b"Content-Encoding: gzip\r\n\r\n" + gz_body)},
            # chunked header but garbage framing -> raw bytes, no crash
            {"warc_type": "response", "target_uri": "https://bad.example/",
             "content_type": "application/http; msgtype=response",
             "payload": (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                         b"Transfer-Encoding: chunked\r\n\r\n"
                         b"not-hex\r\nwhatever")},
        ]
        path = str(tmp_path / "robust.warc")
        write_warc(path, records)
        got = {r["target_uri"]: r
               for r in http_responses(read_warc(spark, path)).collect()}
        lf = got["https://lf.example/"]
        assert lf["http_status"] == 200
        assert lf["html"] == "<html>lf-only page</html>"
        assert got["https://chunk.example/"]["html"] == "<html>chunked</html>"
        assert got["https://gz.example/"]["html"] == "<html><p>zipped page</p></html>"
        assert got["https://bad.example/"]["html"] == "not-hex\r\nwhatever"

    def test_extraction_composes(self, spark, tmp_path):
        from ayeaye_spark.operators import web
        from ayeaye_spark.sources.warc import (
            http_responses, read_warc, write_warc,
        )

        path = str(tmp_path / "c.warc.gz")
        write_warc(path, self._fixture_records())
        pages = http_responses(read_warc(spark, path)).where(
            "html IS NOT NULL"
        )
        out = web.html_extract(pages, "target_uri", "html").collect()
        got = {r["target_uri"]: r for r in out}
        assert got["https://a.com/x"]["text"] == "hello & welcome next"
        assert got["https://a.com/x"]["n_links"] == 1

    def test_committed_crawl_fixture_pins_oracle_values(self, spark, tmp_path):
        """The warc_crawl_curation oracle replays from VALUES literals
        of CRAWL_PAGES/CRAWL_ROBOTS; this pins the COMMITTED archive to
        those constants: (a) byte equality with a fresh deterministic
        write, (b) the archive's extracted (url, html) pages and robots
        files equal the constants exactly."""
        from ayeaye_spark.fixtures import (
            CRAWL_PAGES,
            CRAWL_ROBOTS,
            crawl_fixture_path,
            crawl_fixture_records,
        )
        from ayeaye_spark.sources.warc import (
            http_responses, read_warc, write_warc,
        )

        committed = crawl_fixture_path()
        fresh = str(tmp_path / "fresh.warc.gz")
        write_warc(fresh, crawl_fixture_records())
        with open(committed, "rb") as f1, open(fresh, "rb") as f2:
            assert f1.read() == f2.read(), (
                "committed crawl_acceptance.warc.gz drifted from the "
                "fixture constants — regenerate via ensure_crawl_fixture()"
            )
        resp = http_responses(read_warc(spark, committed)).collect()
        pages = sorted(
            (r["target_uri"], r["html"]) for r in resp
            if r["http_status"] == 200 and r["html"] is not None
            and not r["target_uri"].endswith("/robots.txt")
        )
        assert pages == sorted(CRAWL_PAGES)
        robots = sorted(
            (r["target_uri"].split("//")[1].split("/")[0], r["html"])
            for r in resp if r["target_uri"].endswith("/robots.txt")
        )
        assert robots == sorted(CRAWL_ROBOTS)

    def test_warc_crawl_curation_golden(self, spark):
        """Golden pin of the end-to-end curation entry: robots gate
        drops the two disallowed pages, canonicalization collapses the
        tracking-param / default-port / fragment / query-order variants,
        link counts survive extraction."""
        from ayeaye_spark.catalog import QUERIES

        out = {r["canonical_url"]: (r["keep_url"], r["dup_count"], r["sum_links"])
               for r in QUERIES["warc_crawl_curation"](
                   spark, "/root/testdata/sf0.001").collect()}
        assert len(out) == 7
        # blocked pages never appear under any canonical form
        assert not any("secret" in c or "/b/9" in c for c in out)
        assert out["https://www.alpha-site.com/home"] == (
            "https://www.alpha-site.com/home", 2, 2)
        assert out["https://www.beta-site.com/b/1"] == (
            "https://www.beta-site.com/b/1", 2, 2)
        assert out["https://www.beta-site.com/b/2"] == (
            "https://www.beta-site.com/b/2#frag", 1, 1)
        assert out["https://www.gamma-site.com/g?a=1&b=2"][1] == 2
        assert out["http://www.gamma-site.com/plain9"] == (
            "http://www.gamma-site.com/plain9", 1, 0)

    def test_dechunk_property_roundtrip(self):
        """Any chunk split of any byte payload de-chunks back exactly;
        arbitrary garbage never raises (returns bytes)."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from ayeaye_spark.sources.warc import _dechunk

        @settings(max_examples=150, deadline=None)
        @given(
            chunks=st.lists(st.binary(min_size=1, max_size=64), max_size=8),
            crlf=st.booleans(),
        )
        def roundtrip(chunks, crlf):
            nl = b"\r\n" if crlf else b"\n"
            enc = b"".join(
                format(len(c), "x").encode() + nl + c + nl for c in chunks
            ) + b"0" + nl + nl
            assert _dechunk(enc) == b"".join(chunks)

        roundtrip()

        @settings(max_examples=150, deadline=None)
        @given(junk=st.binary(max_size=128))
        def never_raises(junk):
            out = _dechunk(junk)
            assert isinstance(out, bytes)

        never_raises()

    def test_dechunk_hostile_framing_terminates(self):
        """Negative / sign-prefixed / underscore hex size tokens are
        malformed framing: int(b'-3', 16) parses, and a negative size
        once walked ``pos`` backwards forever.  All must return the
        body unchanged (and return at all)."""
        from ayeaye_spark.sources.warc import _dechunk

        hostile = [
            b"-3\nAB\n0\n\n",          # the reported infinite loop
            b"-1\r\nX\r\n0\r\n\r\n",
            b"+3\r\nabc\r\n0\r\n\r\n",  # int() tolerates '+'
            b"1_0\r\n" + b"x" * 16,     # int() tolerates '_'
            b"\n\n",                    # empty size token
        ]
        for body in hostile:
            assert _dechunk(body) == body

    def test_lf_only_header_with_crlf_in_body(self, spark, tmp_path):
        """An LF-framed response whose BODY contains \\r\\n\\r\\n must
        split at the header's \\n\\n (earliest separator wins), not at
        the body occurrence."""
        from ayeaye_spark.sources.warc import (
            http_responses, read_warc, write_warc,
        )

        body = b"<html>line1\r\n\r\nline2</html>"
        records = [
            {"warc_type": "response", "target_uri": "https://mix.example/",
             "content_type": "application/http; msgtype=response",
             "payload": (b"HTTP/1.1 200 OK\nContent-Type: text/html\n\n"
                         + body)},
            # and the normal CRLF case still splits at the CRLF-CRLF
            # even when an \n\n appears later in the body
            {"warc_type": "response", "target_uri": "https://crlf.example/",
             "content_type": "application/http; msgtype=response",
             "payload": (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                         b"<html>a\n\nb</html>")},
        ]
        path = str(tmp_path / "mixsep.warc")
        write_warc(path, records)
        got = {r["target_uri"]: r
               for r in http_responses(read_warc(spark, path)).collect()}
        mix = got["https://mix.example/"]
        assert mix["http_status"] == 200
        assert mix["http_content_type"] == "text/html"
        assert bytes(mix["body"]) == body
        assert got["https://crlf.example/"]["html"] == "<html>a\n\nb</html>"

    def test_connector_and_glob(self, spark, tmp_path):
        from ayeaye_spark import AccessMode
        from ayeaye_spark.sources.base import ConnectorError
        from ayeaye_spark.sources.warc import WarcConnector, write_warc

        write_warc(str(tmp_path / "s1.warc"), self._fixture_records()[:2])
        write_warc(str(tmp_path / "s2.warc.gz"), self._fixture_records()[2:])
        c = WarcConnector(f"warc://{tmp_path}")
        assert c.read(spark).count() == 5
        r = WarcConnector(f"warc://{tmp_path}/*.warc*;responses")
        resp = r.read(spark)
        assert resp.count() == 3 and "http_status" in resp.columns
        w = WarcConnector(f"warc://{tmp_path}", access=AccessMode.WRITE)
        with pytest.raises(ConnectorError, match="read-only"):
            w.write(resp)

    def test_malformed_raises(self, spark, tmp_path):
        from ayeaye_spark.sources.base import ConnectorError
        from ayeaye_spark.sources.warc import parse_warc_bytes

        with pytest.raises(ConnectorError, match="version line"):
            list(parse_warc_bytes(b"HTTP/1.1 200 OK\r\n\r\nnope"))
        with pytest.raises(ConnectorError, match="Content-Length"):
            list(parse_warc_bytes(b"WARC/1.0\r\nWARC-Type: x\r\n\r\n"))


class TestWriteObservedMetrics:
    """``DatasetHandle.write`` reports the rows and aggregates it wrote,
    observed on the write job itself."""

    @pytest.mark.parametrize("scheme,layout", [
        pytest.param("parquet", {}, id="parquet"),
        pytest.param("parquet", {"sort_by": "x"}, id="parquet-sort_by"),
        pytest.param("parquet", {"sort_by": (3, ["x"])}, id="parquet-sort_by_n"),
        pytest.param("parquet", {"zorder_by": (4, ["x", "g"])}, id="parquet-zorder_by"),
        pytest.param("parquet", {"partition_by": ["g"]}, id="parquet-partition_by"),
        pytest.param("orc", {"sort_by": "x"}, id="orc-sort_by"),
        pytest.param("csv", {}, id="csv"),
        pytest.param("ndjson", {}, id="ndjson"),
        pytest.param("json", {}, id="json"),
        pytest.param("xml", {}, id="xml"),
    ])
    def test_metrics_equal_read_back(self, spark, tmp_path, scheme, layout):
        """A range-partitioned layout samples its input in a job of its
        own; an observation below the layout would count those rows
        again (1000 for 500)."""
        from pyspark.sql import functions as F

        from ayeaye_spark import Connect

        df = spark.range(0, 500, 1, 4).select(
            (F.col("id") * 7 % 500).alias("x"), (F.col("id") % 5).alias("g")
        )
        target = Connect(
            engine_url=f"{scheme}://{tmp_path}/t", access=AccessMode.READWRITE, **layout
        ).handle(spark)
        got = target.write(df, total=F.sum("x"))

        back = spark.read.format("json" if scheme == "ndjson" else scheme).options(
            header=True, inferSchema=True, rowTag="row"
        ).load(f"{tmp_path}/t")
        want = back.agg(F.count(F.lit(1)).alias("rows"), F.sum("x").alias("total")).first()
        assert got == {"rows": want["rows"], "total": want["total"]} == {
            "rows": 500, "total": 124750,
        }
        assert target.rows_written == 500

    @pytest.mark.parametrize(
        "url", ["csv://{tmp}/one.csv;single_file", "arrow://{tmp}/shards;key=x;shards=2"]
    )
    def test_unobserved_write_returns_none_without_waiting(self, spark, tmp_path, url):
        """Paths that run no DataFrameWriter action on the frame never
        wait on an observation that would not arrive."""
        import threading

        from pyspark.sql import functions as F

        from ayeaye_spark import Connect

        df = spark.range(20).select(F.col("id").alias("x"))
        target = Connect(
            engine_url=url.format(tmp=tmp_path), access=AccessMode.READWRITE
        ).handle(spark)
        result = {}
        worker = threading.Thread(
            target=lambda: result.setdefault("got", target.write(df)), daemon=True
        )
        worker.start()
        worker.join(60)
        assert not worker.is_alive(), "write blocked on an observation"
        assert result == {"got": None}
        assert target.rows_written is None

import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from ayeaye_spark.core.session import CODEGEN_CACHE_MAX_ENTRIES


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("ayeaye_spark_tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="ayeaye_wh_"))
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def resolver():
    from ayeaye_spark.core.resolver import connector_resolver

    yield connector_resolver
    connector_resolver.brutal_reset()


SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("AYEAYE_TEST_SF_DIR", "/root/testdata/sf0.001")

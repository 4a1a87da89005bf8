from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from logstash_integration_jdbc_spark.session import get_spark
from logstash_integration_jdbc_spark.sources.generator import write_fixtures


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]",
                  extra_conf={"spark.sql.shuffle.partitions": "8"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def testdata():
    """``testdata("sf0.001/documents.parquet")`` → that path under the
    shared scale-factor data root ($SPARK_GRAFT_TESTDATA, defaulting to
    the location TESTDATA.md describes); the test skips when it is
    absent."""
    root = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")

    def path(rel: str) -> str:
        p = os.path.join(root, rel)
        if not os.path.exists(p):
            pytest.skip(f"test data {p} not present")
        return p
    return path


@pytest.fixture(scope="session")
def fixture_dir(spark):
    d = tempfile.mkdtemp(prefix="ljspark-fixtures-")
    write_fixtures(spark, d, n_rows=5000, seed=42)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def transcripts(spark, fixture_dir):
    return spark.read.parquet(f"{fixture_dir}/transcripts.parquet")


@pytest.fixture(scope="session")
def tool_dim(spark, fixture_dir):
    return spark.read.parquet(f"{fixture_dir}/tool_dim.parquet")


@pytest.fixture(scope="session")
def role_dim(spark, fixture_dir):
    return spark.read.parquet(f"{fixture_dir}/role_dim.parquet")

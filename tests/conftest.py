import os
import shutil
import tempfile

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("nvimagecodec_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        # PySpark's call-site capture costs several py4j round trips per
        # Column function and only enriches error messages.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture()
def tmp_dir():
    d = tempfile.mkdtemp(prefix="nvics-test-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: long-running tests (deselect with -m 'not slow')")
    os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")

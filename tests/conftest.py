import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

REFERENCE_TESTS = "/root/reference/tests"
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


#: reference_fixture() calls of this session: file read / file missing
_REFERENCE_COUNTS = {"replayed": 0, "unavailable": 0}
# pytest loads this file as top-level ``conftest``; test modules import
# it as ``tests.conftest``.  One module object keeps one set of counts.
sys.modules.setdefault("tests.conftest", sys.modules[__name__])


def reference_fixture(name: str) -> bytes:
    path = os.path.join(REFERENCE_TESTS, name)
    if not os.path.exists(path):
        _REFERENCE_COUNTS["unavailable"] += 1
        pytest.skip(f"reference fixture {name} not available")
    _REFERENCE_COUNTS["replayed"] += 1
    with open(path, "rb") as f:
        return f.read()


def pytest_terminal_summary(terminalreporter):
    """One line that makes a run without the reference mount visible:
    how many byte-identity replays read a reference golden and how
    many skipped for want of one."""
    terminalreporter.write_line(
        "reference goldens replayed {replayed} / unavailable {unavailable}"
        .format(**_REFERENCE_COUNTS)
    )


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("docwire_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()

import os

import pytest
from pyspark.sql import SparkSession

from mhdb_tables2turtles_spark.sources.golden import REFERENCE_CHILLS_TTL


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("mhdb-tables2turtles-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def onto_ttl():
    """In-repo ontology for the web KG tests: 40 labelled entities with
    comments, in the Turtle layout ``web.vocab`` reads."""
    return os.path.join(os.path.dirname(__file__), "data", "ontology.ttl")


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: long-running end-to-end test")


# Oracle inputs outside the repo: the reference checkout's golden graph
# (``<reference checkout>/output/chills.ttl``) and the checkout's
# ``mhdb`` module.
GOLDEN_TTL = REFERENCE_CHILLS_TTL
REFERENCE_MODULE = os.path.join(
    os.path.dirname(os.path.dirname(GOLDEN_TTL)), "mhdb"
)


def requires(path):
    """Skip marker for a test that reads ``path``, which only exists
    where the reference checkout does."""
    return pytest.mark.skipif(
        not os.path.exists(path), reason=f"needs {path}"
    )

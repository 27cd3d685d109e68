import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
sys.path.insert(0, os.path.dirname(__file__))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("learnhtml-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "6g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def star_executor_conf(spark):
    """Callable that selects ``functions.dedup._star_contract``'s executor
    through the session's broadcast threshold: the 10 MB default keeps
    test-sized graphs on the driver, ``-1`` forces the distributed rounds.
    The setting is restored after the test."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key, None)

    def select(executor):
        spark.conf.set(key, {"local": "10MB", "distributed": "-1"}[executor])

    yield select
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


@pytest.fixture(params=["local", "distributed"])
def star_executor(request, star_executor_conf):
    """Runs the test once per ``_star_contract`` executor."""
    star_executor_conf(request.param)
    return request.param


@pytest.fixture(scope="session")
def fixture_docs():
    """[(name, html, gold_blocks)] for the four reference fixture pages."""
    from learnhtml_spark.training import FIXTURE_SPECS, fixture_training_docs

    return [(spec[0], html, gold)
            for spec, (html, gold) in zip(FIXTURE_SPECS, fixture_training_docs())]


@pytest.fixture(scope="session")
def fixture_model(fixture_docs):
    from learnhtml_spark.training import train

    return train([(html, gold) for _, html, gold in fixture_docs],
                 epochs=400, lr=1.0, l2=1e-5)

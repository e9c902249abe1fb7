from __future__ import annotations

import os

import pytest

os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder
        .master("local[4]")
        .appName("kgforge-tests")
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
def tiny_pages():
    """120 deterministic synthetic pages + gold triples (in-memory rows)."""
    from kgforge.synth import gen_pages

    return gen_pages(0, 120)


@pytest.fixture(scope="session")
def tiny_pages_df(spark, tiny_pages):
    from kgforge import schemas

    pages, _ = tiny_pages
    return spark.createDataFrame(pages, schema=schemas.PAGES)


@pytest.fixture(scope="session")
def gold_triples_df(spark, tiny_pages):
    from kgforge import schemas

    _, golds = tiny_pages
    return spark.createDataFrame(golds, schema=schemas.GOLD_TRIPLES)


@pytest.fixture(scope="session")
def alias_df(spark):
    from kgforge.queries import _alias_df

    return _alias_df(spark)

import os

import pytest
from pyspark.sql import SparkSession

from deep_db_learning_spark.session import CODEGEN_CACHE_ENTRIES

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    s = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("deep-db-learning-spark-tests")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_ENTRIES)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def db(spark):
    from deep_db_learning_spark.sources import load_testdata

    return load_testdata(spark, SF_SMOKE)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    return con

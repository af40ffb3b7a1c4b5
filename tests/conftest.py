"""Shared pytest fixtures: one session-scoped SparkSession (local)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # keep unit tests light

from schwab_elt_etl_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # The catalog's warehouse dir and embedded Derby's home (its derby.log)
    # default to the working directory, the checkout: point both at a
    # session tmp dir. The warehouse dir is a static conf, so it joins the
    # builder get_spark uses. (Not a chdir: Python workers start in the
    # JVM's working directory and import the engine from there.)
    home = tmp_path_factory.mktemp("spark-home")
    get_or_create = SparkSession.Builder.getOrCreate
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(
            SparkSession.Builder,
            "getOrCreate",
            lambda b: get_or_create(
                b.config("spark.sql.warehouse.dir", str(home / "spark-warehouse"))
            ),
        )
        spark = get_spark(app_name="engine-tests", shuffle_partitions=4)
    spark.sparkContext._jvm.java.lang.System.setProperty("derby.system.home", str(home))
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR

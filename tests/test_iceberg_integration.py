"""Jar-gated Iceberg integration: exercises Catalog's fmt="iceberg"
branches (catalog.py writeTo/createOrReplace/partitionedBy,
format("iceberg") read) against a real local Iceberg HADOOP
catalog WHEN the iceberg-spark-runtime jar is on the classpath.

This sandbox has no Iceberg jars and no network to fetch them
(SURVEY.md sandbox note), so every test here SKIPS locally; on a real
cluster, either drop the runtime jar into $SPARK_HOME/jars or point
SLOWSPARK_ICEBERG_JAR at it and run this file — RUNBOOK.md §Iceberg has
the exact invocation. The point of the gate (round-3 verdict #2): the
format("iceberg") code paths must not remain untested the first time
someone flips SLOWSPARK_TABLE_FORMAT=iceberg in production.
"""

from __future__ import annotations

import glob
import os

import pytest


def _iceberg_jar() -> str | None:
    env = os.environ.get("SLOWSPARK_ICEBERG_JAR")
    if env and os.path.isfile(env):
        return env
    try:
        from pyspark.find_spark_home import _find_spark_home

        home = _find_spark_home()
    except Exception:
        return None
    jars = glob.glob(os.path.join(home, "jars", "iceberg-spark-runtime*.jar"))
    return jars[0] if jars else None


needs_iceberg = pytest.mark.skipif(
    _iceberg_jar() is None,
    reason="iceberg-spark-runtime jar not on the classpath "
    "(set SLOWSPARK_ICEBERG_JAR or drop it into $SPARK_HOME/jars)",
)


@pytest.fixture(scope="module")
def iceberg_spark(tmp_path_factory):
    """A dedicated session: Iceberg catalogs must be configured BEFORE the
    session starts, so the shared test session cannot be reused."""
    from pyspark.sql import SparkSession

    wh = str(tmp_path_factory.mktemp("iceberg_wh"))
    jar = _iceberg_jar()
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("slowspark-iceberg-it")
        .config("spark.jars", jar)
        .config("spark.sql.catalog.it", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.it.type", "hadoop")
        .config("spark.sql.catalog.it.warehouse", wh)
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@needs_iceberg
def test_plain_write_partitioned(iceberg_spark):
    from pyspark.sql import functions as F

    from slowspark.catalog import Catalog

    spark = iceberg_spark
    cat = Catalog(warehouse="unused-for-iceberg", fmt="iceberg")
    df = spark.range(100).select(
        (F.col("id") % 5).cast("string").alias("p"), F.col("id").alias("v")
    )
    cat.write(df, "it.db.plain_t", partition_by=["p"])
    back = cat.read(spark, "it.db.plain_t")
    assert back.count() == 100
    assert {r["p"] for r in back.select("p").distinct().collect()} == {
        "0", "1", "2", "3", "4"
    }
    # createOrReplace must be idempotent (second write replaces, not appends)
    cat.write(df, "it.db.plain_t", partition_by=["p"])
    assert cat.read(spark, "it.db.plain_t").count() == 100

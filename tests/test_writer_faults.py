"""Fault paths of the partitioned-parquet writers: a revision that
cannot merge must raise and leave the stored day intact, and neither
writer may leave its overwrite mode on the caller's session."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from rainforest_spark.sources.writers import (
    compact_partitions, upsert_daily_partition,
)

MODE = "spark.sql.sources.partitionOverwriteMode"
KEYS = ["day", "STATION", "t"]


@pytest.fixture
def static_mode(spark):
    """Run the test with the caller's session on STATIC overwrite (the
    Spark default), restoring whatever was set before."""
    before = spark.conf.get(MODE)
    spark.conf.set(MODE, "static")
    yield
    spark.conf.set(MODE, before)


def _day(spark, day, n, zh=1.0):
    return spark.createDataFrame(
        [(day, "S1", t, zh) for t in range(n)],
        "day string, STATION string, t int, ZH double")


def _count(spark, path, day):
    return (spark.read.parquet(path)
            .filter(F.col("day").cast("string") == day).count())


def test_schema_drifted_revision_raises_and_keeps_the_day(
        spark, tmp_path, static_mode):
    path = str(tmp_path / "db")
    upsert_daily_partition(spark, _day(spark, "20240601", 3), path, KEYS)
    bad = spark.createDataFrame([("20240601", "S1", 9, True)],
                                "day string, STATION string, t int, "
                                "ZH boolean")
    with pytest.raises(AnalysisException):
        upsert_daily_partition(spark, bad, path, KEYS)
    assert _count(spark, path, "20240601") == 3
    assert dict(spark.read.parquet(path).dtypes)["ZH"] == "double"


def test_upsert_leaves_session_mode_and_other_days(
        spark, tmp_path, static_mode):
    path = str(tmp_path / "db")
    upsert_daily_partition(
        spark, _day(spark, "20240601", 3).unionByName(
            _day(spark, "20240602", 2)), path, KEYS)
    # a revision of one day: the other day must survive even though
    # the caller's session is on static overwrite
    upsert_daily_partition(spark, _day(spark, "20240601", 4, zh=2.0),
                           path, KEYS)
    assert spark.conf.get(MODE) == "static"
    assert _count(spark, path, "20240601") == 4
    assert _count(spark, path, "20240602") == 2


def test_compact_leaves_session_mode_and_other_days(
        spark, tmp_path, static_mode):
    path = str(tmp_path / "db")
    upsert_daily_partition(spark, _day(spark, "20240602", 2), path, KEYS)
    for i in range(3):   # fragment one day into three files
        (_day(spark, "20240601", 1).withColumn("t", F.lit(i))
         .coalesce(1).write.mode("append").partitionBy("day")
         .parquet(path))
    assert compact_partitions(spark, path, min_files=2,
                              partitions=["20240601"]) == {"20240601": 3}
    assert spark.conf.get(MODE) == "static"
    assert _count(spark, path, "20240601") == 3
    assert _count(spark, path, "20240602") == 2

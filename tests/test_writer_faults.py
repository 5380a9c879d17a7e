"""Fault paths of the partitioned-parquet writers: a revision that
cannot merge must raise and leave the stored day intact, and neither
writer may leave its overwrite mode on the caller's session.  The daily
upsert also keeps its cost (two Spark jobs, one file per touched day,
untouched days left alone), lets the incoming row win a key clash,
recovers a commit cut between its two renames, and keeps Spark's
``partitionBy`` layout in both directions."""

from __future__ import annotations

import datetime
import glob
import itertools
import os

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


_GROUPS = itertools.count()


def _jobs(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` runs."""
    sc = spark.sparkContext
    group = f"writer-faults-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _files(path, day):
    """The day's data files with their modification times."""
    return {(os.path.basename(f), os.stat(f).st_mtime_ns)
            for f in glob.glob(f"{path}/day={day}/*.parquet")}


def test_upsert_of_one_day_is_two_jobs_and_one_file(spark, tmp_path):
    path = str(tmp_path / "db")
    days = ["20240601", "20240602", "20240603"]
    (_day(spark, days[0], 3).unionByName(_day(spark, days[1], 3))
     .unionByName(_day(spark, days[2], 3))
     .repartition(2).write.partitionBy("day").parquet(path))
    others = {d: _files(path, d) for d in days[1:]}
    rev = _day(spark, days[0], 5, zh=2.0)

    assert _jobs(spark, lambda: upsert_daily_partition(
        spark, rev, path, KEYS)) <= 2    # the schema read, the Arrow collect
    assert len(os.listdir(f"{path}/day={days[0]}")) == 1
    assert len(_files(path, days[0])) == 1
    assert not glob.glob(f"{path}/_staging-*")
    assert {d: _files(path, d) for d in days[1:]} == others
    assert _count(spark, path, days[0]) == 5

    def uri():
        with pytest.raises(ValueError):
            upsert_daily_partition(spark, rev, f"file://{path}", KEYS)

    assert _jobs(spark, uri) == 0


def test_incoming_row_wins_a_key_clash(spark, tmp_path):
    from rainforest_spark.catalog import Database

    path = str(tmp_path / "db.parquet")
    upsert_daily_partition(spark, _day(spark, "20240601", 3), path, KEYS)
    clash = spark.createDataFrame([("20240601", "S1", 1, 5.0)],
                                  _day(spark, "x", 0).schema)
    upsert_daily_partition(spark, clash, path, KEYS)
    got = {r.t: r.ZH for r in spark.read.parquet(path).collect()}
    assert got == {0: 1.0, 1: 5.0, 2: 1.0}

    db = Database(spark)
    db.add_tables({"t": path})
    db.upsert("t", clash.withColumn("ZH", F.lit(7.0)), KEYS)
    assert db.query("SELECT t, ZH FROM t ORDER BY t").values.tolist() \
        == [[0, 1.0], [1, 7.0], [2, 1.0]]


def test_cut_commit_is_restored_by_the_next_upsert(spark, tmp_path,
                                                   monkeypatch):
    import duckdb

    path = str(tmp_path / "db")
    upsert_daily_partition(
        spark, _day(spark, "20240601", 3).unionByName(
            _day(spark, "20240602", 2)), path, KEYS)
    rename = os.rename

    def failing_rename(src, dst):
        # the staged day never reaches its place; the old one is aside
        if "/_staging-" in str(src) and str(src).endswith("/day=20240601"):
            raise OSError("injected commit fault")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError):
        upsert_daily_partition(spark, _day(spark, "20240601", 10, zh=9.0),
                               path, KEYS)
    monkeypatch.undo()
    assert not os.path.isdir(f"{path}/day=20240601")
    assert glob.glob(f"{path}/_staging-*/_old-day=20240601")

    # the next upsert of the day puts it back, then adds keys 3 and 4;
    # none of the cut upsert's rows may appear
    upsert_daily_partition(
        spark, _day(spark, "20240601", 5, zh=2.0).filter("t >= 3"),
        path, KEYS)
    assert not glob.glob(f"{path}/_staging-*")
    n, n_keys = duckdb.sql(
        f"SELECT COUNT(*), COUNT(DISTINCT (STATION, t)) FROM read_parquet("
        f"'{path}/day=20240601/*.parquet')").fetchone()
    assert n == n_keys == 5
    got = sorted((r.t, r.ZH) for r in spark.read.parquet(path)
                 .filter(F.col("day") == 20240601).collect())
    assert got == [(0, 1.0), (1, 1.0), (2, 1.0), (3, 2.0), (4, 2.0)]
    assert _count(spark, path, "20240602") == 2


def _layout_rows(spark, days, n_from, dtype, ts_type):
    """Rows ``t = n_from, n_from + 1`` of ``days``, with a null in the
    nullable int column ``n`` and in the ``ts_type`` column ``ts``."""
    rows = [(d, "S1", t, None if t % 2 else t, t / 4,
             None if t % 2 else datetime.datetime(2024, 6, 1, 0, t, 0, 123456))
            for d in days for t in (n_from, n_from + 1)]
    return spark.createDataFrame(
        rows, f"day {dtype}, STATION string, t int, n int, ZH double, "
              f"ts {ts_type}")


def _assert_same_table(spark, got, want):
    """Two partitioned tables hold the same directories, and Spark,
    DuckDB and pyarrow read equal rows and types from them."""
    import duckdb
    import pyarrow.dataset as ds

    def parts(p):
        return sorted(n for n in os.listdir(p) if not n.startswith(("_", ".")))

    assert parts(got) == parts(want)
    g, w = spark.read.parquet(got), spark.read.parquet(want)
    assert g.schema == w.schema
    assert sorted(g.collect()) == sorted(w.collect())
    sql = ("SELECT * FROM read_parquet('{}/*/*.parquet', "
           "hive_partitioning = true) ORDER BY day, t")
    g, w = duckdb.sql(sql.format(got)), duckdb.sql(sql.format(want))
    assert g.types == w.types
    assert g.fetchall() == w.fetchall()
    g = ds.dataset(got, partitioning="hive").to_table()
    w = ds.dataset(want, partitioning="hive").to_table()
    assert g.schema.equals(w.schema, check_metadata=False)
    order = [("day", "ascending"), ("t", "ascending")]
    assert g.sort_by(order).equals(w.sort_by(order))


@pytest.mark.parametrize("dtype, days, ts_type", [
    ("int", [20240601, 20240602, 20240603], "timestamp"),
    ("string", ["2024-06-01", "2024-06-02", "2024-06-03"], "timestamp_ntz"),
    # characters Spark escapes in directory names
    ("string", ["site a/1", "site=b:2", "site c%3"], "timestamp"),
    ("date", [datetime.date(2024, 6, d) for d in (1, 2, 3)], "timestamp")])
def test_upsert_keeps_spark_partition_layout(spark, tmp_path, dtype, days,
                                             ts_type):
    keys = ["day", "STATION", "t"]

    # a Spark-written table revised by the upsert: a stored day gets
    # new keys and a clash, and a new day is added
    old = _layout_rows(spark, days[:2], 0, dtype, ts_type)
    rev = _layout_rows(spark, days[1:], 1, dtype, ts_type)
    got, want = str(tmp_path / "upserted"), str(tmp_path / "spark")
    old.write.partitionBy("day").parquet(got)
    upsert_daily_partition(spark, rev, got, keys)
    (old.filter(~((F.col("day") == days[1]) & (F.col("t") == 1)))
     .unionByName(rev).write.partitionBy("day").parquet(want))
    _assert_same_table(spark, got, want)

    # an upserted table appended to by Spark
    got, want = str(tmp_path / "created"), str(tmp_path / "spark2")
    upsert_daily_partition(spark, old, got, keys)
    rev.filter(F.col("day") == days[2]).write.mode("append") \
        .partitionBy("day").parquet(got)
    old.unionByName(rev.filter(F.col("day") == days[2])) \
        .write.partitionBy("day").parquet(want)
    _assert_same_table(spark, got, want)

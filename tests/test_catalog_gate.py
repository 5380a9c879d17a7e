"""``Database.query``'s RAM-gated collect (one bounded head, then the
count-and-gate fallback) and ``Database.upsert`` (reads see the new
files without a manual re-registration)."""

from __future__ import annotations

import itertools

import pandas as pd
import pytest
from pyspark.sql import DataFrame

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"catalog-gate-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


ROWS = [(i, i * 37 % 100) for i in range(200)]      # every b twice


@pytest.fixture()
def db(spark, tmp_path):
    """``gate_t``: ROWS in 4 parquet files, so a read is a scan."""
    from rainforest_spark.catalog import Database

    path = str(tmp_path / "gate_t.parquet")
    spark.createDataFrame(ROWS, "a int, b int").repartition(4) \
        .write.parquet(path)
    db = Database(spark)
    db.add_tables({"gate_t": path})
    return db


def test_small_read_is_one_job(spark, db):
    sql = "SELECT a, b FROM gate_t WHERE a >= 50"
    got, jobs = _jobs(spark, lambda: db.query(sql))
    assert isinstance(got, pd.DataFrame)
    want = db.query(sql, to_memory=False).toPandas()
    pd.testing.assert_frame_equal(got.sort_values("a", ignore_index=True),
                                  want.sort_values("a", ignore_index=True))
    assert jobs == 1


def test_order_by_reads_keep_order_in_one_job(spark, db):
    got, jobs = _jobs(spark, lambda: db.query(
        "SELECT b FROM gate_t ORDER BY b"))
    assert got["b"].tolist() == sorted(b for _, b in ROWS)
    assert jobs == 1
    got, jobs = _jobs(spark, lambda: db.query(
        "SELECT a, b FROM gate_t ORDER BY b DESC, a"))
    assert list(zip(got["a"], got["b"])) == sorted(
        ROWS, key=lambda r: (-r[1], r[0]))
    assert jobs == 1


def test_gate_boundary(spark, db, monkeypatch):
    from rainforest_spark import catalog

    # cap = WARNING_RAM_MB·2²⁰ / (4·cols) = 100 rows for one column
    monkeypatch.setattr(catalog, "WARNING_RAM_MB", 100 * 4 / 2**20)
    at_cap = db.query("SELECT a FROM gate_t WHERE a < 100 ORDER BY a")
    assert isinstance(at_cap, pd.DataFrame)        # probe miss, fallback
    assert at_cap["a"].tolist() == list(range(100))
    over = db.query("SELECT a FROM gate_t WHERE a < 101")
    assert isinstance(over, DataFrame)
    assert over.count() == 101


def test_lazy_read_runs_no_job(spark, db):
    got, jobs = _jobs(spark, lambda: db.query("SELECT a FROM gate_t",
                                              to_memory=False))
    assert isinstance(got, DataFrame)
    assert jobs == 0


def test_command_result_is_collected(db):
    """A command's result has no columns and no rows: its empty head is
    the result."""
    got = db.query("CREATE OR REPLACE TEMP VIEW gate_v AS SELECT a FROM gate_t")
    assert isinstance(got, pd.DataFrame) and got.empty


def test_read_after_upsert_sees_new_rows(spark, tmp_path):
    """A view keeps its file listing; ``Database.upsert`` re-registers
    it, so the next read sees the revised day instead of failing on a
    file the rewrite removed."""
    from rainforest_spark.catalog import Database

    path = str(tmp_path / "radar.parquet")
    base = spark.createDataFrame(
        [(d, s, float(d * 10 + s)) for d in (1, 2) for s in range(3)],
        "day int, st int, v double")
    base.write.partitionBy("day").parquet(path)
    db = Database(spark)
    db.add_tables({"radar": path})
    assert db.query("SELECT COUNT(*) AS n FROM radar WHERE day = 1")["n"][0] == 3

    rev = spark.createDataFrame([(1, 2, 99.0), (1, 3, 13.0)],
                                "day int, st int, v double")
    db.upsert("radar", rev, ["day", "st"])
    got = db.query("SELECT st FROM radar WHERE day = 1 ORDER BY st")
    assert got["st"].tolist() == [0, 1, 2, 3]
    assert db.query("SELECT COUNT(*) AS n FROM radar WHERE day = 2")["n"][0] == 3


def test_upsert_into_dataframe_table_raises(spark):
    from rainforest_spark.catalog import Database

    db = Database(spark)
    rev = spark.createDataFrame([(1, 1)], "a int, b int")
    db.add_tables({"frame_t": rev})
    with pytest.raises(ValueError, match="DataFrame"):
        db.upsert("frame_t", rev, ["a", "b"], partition_col="a")


def test_cli_query_prints_at_most_n_rows(spark, tmp_path, capsys,
                                         monkeypatch):
    """``cli query`` without ``--output`` runs the query lazily and shows
    ``-n`` rows: a small result is bounded by ``-n`` too, and an
    over-gate one pays no head or count, only the show's job."""
    from rainforest_spark import catalog
    from rainforest_spark.cli import main

    monkeypatch.setattr(catalog, "get_spark", lambda: spark)
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame(ROWS, "a int, b int").coalesce(1) \
        .write.parquet(path)
    _, register_jobs = _jobs(
        spark, lambda: catalog.Database(spark).add_tables({"t": path}))
    argv = ["query", "SELECT a, b FROM t ORDER BY a", "-t", f"t={path}"]
    assert main(argv + ["-n", "5"]) == 0
    rows = [ln for ln in capsys.readouterr().out.splitlines()
            if ln.startswith("|")][1:]                 # minus the header
    assert [int(r.split("|")[1]) for r in rows] == [0, 1, 2, 3, 4]

    # cap = 100 rows for two columns: the 200-row result is over the gate
    monkeypatch.setattr(catalog, "WARNING_RAM_MB", 100 * 8 / 2**20)
    rc, jobs = _jobs(spark, lambda: main(argv + ["-n", "3"]))
    assert rc == 0 and jobs == register_jobs + 1
    assert len([ln for ln in capsys.readouterr().out.splitlines()
                if ln.startswith("|")]) == 1 + 3

"""§3.2 ETL worker chain vs a pandas golden recompute: station-gates LUT
join, argmax-linked neighbourhood agg, 10-min pair aggregation."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rainforest_spark.testing.fixtures import RADAR_XYZ


@pytest.fixture(scope="module")
def setup(spark):
    from rainforest_spark.grid.lookup import (
        polar_to_cart_lut, station_to_pixel_lut,
    )

    rng = np.random.RandomState(23)
    frames = []
    for ts in (1717200000, 1717200300):  # two 5-min scans, one window
        for sweep in (1, 3):
            az, rg = np.meshgrid(np.arange(0, 360, 2), np.arange(60),
                                 indexing="ij")
            n = az.size
            frames.append(pd.DataFrame({
                "TIMESTAMP": np.int64(ts), "RADAR": "A",
                "SWEEP": np.int32(sweep),
                "az_idx": az.ravel().astype(np.int32),
                "rng_idx": rg.ravel().astype(np.int32),
                "ZH": rng.uniform(-5, 55, n),
                "KDP": rng.uniform(-0.5, 4, n),
            }))
    polar = pd.concat(frames, ignore_index=True)
    lut = polar_to_cart_lut(spark, {"A": RADAR_XYZ["A"]}, sweeps=[1, 3],
                            n_az=360, n_rng=60)
    # stations sitting on pixels the LUT actually covers
    lut_pdf = lut.toPandas()
    px = lut_pdf.drop_duplicates(["x_idx", "y_idx"]).iloc[[5, 50]]
    stations = pd.DataFrame({
        "Abbrev": ["ST00", "ST01"],
        "X": (px["x_idx"].to_numpy() + 255.0 + 0.5) * 1000.0,
        "Y": (px["y_idx"].to_numpy() - 160.0 + 0.5) * 1000.0,
    })
    spx = station_to_pixel_lut(spark, stations)
    return spark.createDataFrame(polar), lut, spx, polar


def test_build_radar_table_golden(spark, setup):
    from rainforest_spark.grid.db_build import build_radar_table

    polar_df, lut, spx, polar_pdf = setup
    out = build_radar_table(polar_df, lut, spx, ["ZH", "KDP"]).toPandas()
    assert len(out) > 0
    assert set(out["STATION"]) <= {"ST00", "ST01"}
    assert (out["TIMESTAMP"] == 1717200000).all()  # one 10-min bucket
    assert set(out["TCOUNT"]) <= {1, 2}
    assert (out["day"] == "20240601").all()

    # golden recompute in pandas for one (station, sweep, neighbour)
    lut_pdf = lut.toPandas()
    spx_pdf = spx.toPandas()
    gates = lut_pdf.merge(spx_pdf, on=["x_idx", "y_idx"])
    row = out.iloc[0]
    g = gates[(gates.STATION == row.STATION) & (gates.SWEEP == row.SWEEP)
              & (gates.NX == row.NX) & (gates.NY == row.NY)]
    sub = polar_pdf.merge(g[["RADAR", "SWEEP", "az_idx", "rng_idx"]],
                          on=["RADAR", "SWEEP", "az_idx", "rng_idx"])
    # per-scan dB-domain logmean, then logmean of the two scan means
    # (the reference aggregates per 5-min scan first, A4, then pairs, A3)
    per_scan_lin = sub.groupby("TIMESTAMP").apply(
        lambda d: np.mean(10 ** (0.1 * d["ZH"])), include_groups=False)
    expect = 10 * np.log10(np.mean(per_scan_lin))
    assert abs(row["ZH_mean"] - expect) < 1e-9
    # ZH_max is the max (anchor = itself); KDP_max anchors on KDP
    # scan-pair aggregation uses the VARIABLE's operator for every
    # derived column (reference OPERATIONS table, retrieve_radar_data.py:
    # 790-822): ZH_max pairs via logmean, KDP_max via plain mean
    per_scan = sub.groupby("TIMESTAMP")
    zh_max_scans = per_scan.apply(lambda d: d["ZH"].max(),
                                  include_groups=False)
    expect_zh_max = 10 * np.log10(np.mean(10 ** (0.1 * zh_max_scans)))
    assert abs(row["ZH_max"] - expect_zh_max) < 1e-9
    kdp_max_scans = per_scan.apply(lambda d: d["KDP"].max(),
                                   include_groups=False)
    assert abs(row["KDP_max"] - kdp_max_scans.mean()) < 1e-9


def test_daily_partition_write(spark, setup, tmp_path):
    from rainforest_spark.grid.db_build import build_radar_table
    from rainforest_spark.sources.writers import upsert_daily_partition

    polar_df, lut, spx, _ = setup
    out = build_radar_table(polar_df, lut, spx, ["ZH"])
    path = str(tmp_path / "radar_table")
    keys = ["TIMESTAMP", "STATION", "RADAR", "SWEEP", "NX", "NY"]
    upsert_daily_partition(spark, out, path, keys)
    upsert_daily_partition(spark, out, path, keys)  # idempotent re-run
    stored = spark.read.parquet(path)
    assert stored.count() == stored.dropDuplicates(keys).count()


def test_fill_odd_slots_reference_semantics(spark):
    """Mirrors database_5min/retrieve_dwh_data_5min.py:15-69: a NULL at
    an odd 5-min slot takes the value 5 minutes LATER; even-slot nulls
    stay null; no fill when the +300 s row is missing; the excluded
    precip column is caller-side (not filled here by construction)."""
    from rainforest_spark.grid.db_build import fill_odd_slots

    t0 = 1717200000  # :00 even slot (t0 % 600 == 0)
    rows = [
        # (station, ts, temp): odd slot null -> filled from next even
        ("A", t0 + 300, None), ("A", t0 + 600, 7.0),
        # even slot null stays null
        ("A", t0 + 1200, None), ("A", t0 + 1500, 9.0),
        # odd slot null with a GAP (next row +600, not +300): no fill
        ("A", t0 + 2100, None), ("A", t0 + 2700, 11.0),
        # odd slot with a value: untouched
        ("B", t0 + 300, 3.0), ("B", t0 + 600, 4.0),
    ]
    df = spark.createDataFrame(rows, "STATION string, TIMESTAMP long, "
                                     "temp double")
    got = {(r.STATION, r.TIMESTAMP): r.temp
           for r in fill_odd_slots(df, ["STATION"], "TIMESTAMP",
                                   ["temp"]).collect()}
    assert got[("A", t0 + 300)] == 7.0       # filled from +300 s
    assert got[("A", t0 + 1200)] is None     # even slot never fills
    assert got[("A", t0 + 2100)] is None     # gap: no fill
    assert got[("B", t0 + 300)] == 3.0       # value untouched


def test_db_populate_cli_5min(spark, tmp_path, capsys):
    """db-populate -t gauge --window-sec 300: odd-slot fill (precip
    excluded) + daily-partition upsert; re-running the same batch is
    idempotent."""
    import json as _json

    import pandas as pd

    from rainforest_spark.cli import main

    t0 = 1717200000
    pdf = pd.DataFrame({
        "STATION": ["A"] * 4,
        "TIMESTAMP": [t0 + 300, t0 + 600, t0 + 900, t0 + 1200],
        "TRE200S0": [None, 5.0, None, 6.0],
        "RRE005R0": [None, 0.2, None, 0.4],
    })
    src = tmp_path / "gauge.parquet"
    pdf.to_parquet(src)
    out = str(tmp_path / "db")
    for _ in range(2):  # idempotent upsert
        assert main(["db-populate", "-t", "gauge", str(src), out,
                     "--window-sec", "300"]) == 0
    res = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["rows_total"] == 4
    got = {r.TIMESTAMP: (r.TRE200S0, r.RRE005R0)
           for r in spark.read.parquet(out).collect()}
    assert got[t0 + 300] == (5.0, None)   # temp filled, precip NOT
    assert got[t0 + 900] == (6.0, None)
    saved = spark.read.parquet(out)
    assert "day" in saved.columns

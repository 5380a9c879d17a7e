"""Phase-2 pipeline vs a DuckDB oracle on the rainforest-shaped fixtures.

The whole prepare_input chain is re-stated as one DuckDB SQL query; the
Spark result must match on keys exactly and on floats to 1e-6 relative
(the reference's own golden tolerance is 1e-3, tests_cscs/
test_retrieve_radar_data.py:24-25 — we are far tighter).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from rainforest_spark.testing.fixtures import write_fixtures


@pytest.fixture(scope="module")
def fx(tmp_path_factory):
    out = tmp_path_factory.mktemp("rf_fixtures")
    return write_fixtures(str(out))


ORACLE = """
WITH radar_d AS (
  SELECT DISTINCT * FROM radar
  WHERE NX = 0 AND NY = 0
),
ref0 AS (SELECT DISTINCT TIMESTAMP, STATION FROM reference
         WHERE NX = 0 AND NY = 0),
gauge_valid AS (
  SELECT STATION, TIMESTAMP, RRE150Z0 FROM gauge
  WHERE RRE150Z0 IS NOT NULL AND RRE150Z0 != -9999
),
aligned AS (
  SELECT g.* FROM gauge_valid g
  WHERE EXISTS (SELECT 1 FROM radar_d r
                WHERE r.STATION = g.STATION AND r.TIMESTAMP = g.TIMESTAMP)
    AND EXISTS (SELECT 1 FROM ref0 f
                WHERE f.STATION = g.STATION AND f.TIMESTAMP = g.TIMESTAMP)
),
hours AS (
  SELECT *, COUNT(*) OVER (PARTITION BY STATION,
            (TIMESTAMP - 600) - (TIMESTAMP - 600) % 3600) AS n_in_hr
  FROM aligned
),
g6 AS (SELECT * FROM hours WHERE n_in_hr = 6),
rj AS (
  SELECT r.*, s.X, s.Y, s.Z, rd.X_rad, rd.Y_rad,
         pow(10, -0.5 * r.HEIGHT / 1000.0) * r.VISIB_mean / 100.0 AS w
  FROM radar_d r
  JOIN stations s ON s.Abbrev = r.STATION
  JOIN radars rd ON rd.RADAR = r.RADAR
  WHERE EXISTS (SELECT 1 FROM g6
                WHERE g6.STATION = r.STATION AND g6.TIMESTAMP = r.TIMESTAMP)
),
vert AS (
  SELECT STATION, TIMESTAMP,
         SUM(CASE WHEN ZH_mean IS NOT NULL AND ZH_mean != -9999
             THEN w * ZH_mean END)
           / SUM(CASE WHEN ZH_mean IS NOT NULL AND ZH_mean != -9999
                 THEN w END) AS ZH_mean,
         SUM(w * sqrt((X - X_rad)*(X - X_rad) + (Y - Y_rad)*(Y - Y_rad))
             / 1000.0) / SUM(w) AS DIST_TO_RAD,
         SUM(CASE WHEN RADAR = 'A' THEN w ELSE 0 END) / SUM(w) AS RADAR_prop_A,
         SUM(w) AS W_SUM
  FROM rj GROUP BY STATION, TIMESTAMP
)
SELECT v.*, g6.RRE150Z0 * 6 AS target_mmh
FROM vert v JOIN g6 ON v.STATION = g6.STATION AND v.TIMESTAMP = g6.TIMESTAMP
"""


def test_prepare_input_oracle(spark, fx):
    import duckdb

    from rainforest_spark.ml.dataset import prepare_input

    dfs = {k: spark.read.parquet(p) for k, p in fx.items()}
    got = prepare_input(dfs["gauge"], dfs["radar"], dfs["reference"],
                        dfs["stations"], dfs["radars"]).toPandas()

    con = duckdb.connect()
    for k, p in fx.items():
        con.execute(f"CREATE VIEW {k} AS SELECT * FROM '{p}'")
    want = con.execute(ORACLE).df()

    assert len(got) > 50, "pipeline produced too few rows"
    key = ["STATION", "TIMESTAMP"]
    g = got.sort_values(key, ignore_index=True)
    w = want.sort_values(key, ignore_index=True)
    assert len(g) == len(w), f"rows {len(g)} != {len(w)}"
    assert (g["STATION"] == w["STATION"]).all()
    assert (g["TIMESTAMP"].astype("int64")
            == w["TIMESTAMP"].astype("int64")).all()
    for c in ["ZH_mean", "DIST_TO_RAD", "RADAR_prop_A", "W_SUM",
              "target_mmh"]:
        a = g[c].to_numpy(dtype=float)
        b = w[c].to_numpy(dtype=float)
        ok = np.isclose(a, b, rtol=1e-6, atol=1e-6, equal_nan=True)
        assert ok.all(), f"{c}: {(~ok).sum()} mismatches, e.g. " \
                         f"{a[~ok][:3]} vs {b[~ok][:3]}"


def test_prepare_input_invariants(spark, fx):
    from rainforest_spark.ml.dataset import prepare_input

    dfs = {k: spark.read.parquet(p) for k, p in fx.items()}
    out = prepare_input(dfs["gauge"], dfs["radar"], dfs["reference"],
                        dfs["stations"], dfs["radars"])
    pdf = out.toPandas()
    # keys unique
    assert not pdf.duplicated(["STATION", "TIMESTAMP"]).any()
    # radar proportions sum to 1
    props = pdf[[c for c in pdf.columns if c.startswith("RADAR_prop_")]]
    assert np.allclose(props.sum(axis=1), 1.0)
    # target non-negative, group ids dense from 0
    assert (pdf["target_mmh"] >= 0).all()
    gids = np.sort(pdf["group_id"].unique())
    assert gids[0] == 0 and (np.diff(gids) == 1).all()


def _spark_and_oracle(spark, paths):
    """prepare_input and the ORACLE on the same parquet tables, both
    sorted by key (ties broken by the target)."""
    import duckdb

    from rainforest_spark.ml.dataset import prepare_input

    dfs = {k: spark.read.parquet(p) for k, p in paths.items()}
    out = prepare_input(dfs["gauge"], dfs["radar"], dfs["reference"],
                        dfs["stations"], dfs["radars"])
    con = duckdb.connect()
    for k, p in paths.items():
        con.execute(f"CREATE VIEW {k} AS SELECT * FROM '{p}'")
    key = ["STATION", "TIMESTAMP", "target_mmh"]
    got = out.toPandas().sort_values(key, ignore_index=True)
    want = con.execute(ORACLE).df().sort_values(key, ignore_index=True)
    assert len(got) == len(want), f"rows {len(got)} != {len(want)}"
    assert (got["STATION"] == want["STATION"]).all()
    assert (got["TIMESTAMP"].astype("int64")
            == want["TIMESTAMP"].astype("int64")).all()
    for c in ["ZH_mean", "DIST_TO_RAD", "RADAR_prop_A", "W_SUM",
              "target_mmh"]:
        a = got[c].to_numpy(dtype=float)
        b = want[c].to_numpy(dtype=float)
        ok = np.isclose(a, b, rtol=1e-6, atol=1e-6, equal_nan=True)
        assert ok.all(), f"{c}: {a[~ok][:3]} vs {b[~ok][:3]}"
    return out, got


def _edge_tables() -> dict[str, pd.DataFrame]:
    """One gauge hour (slots :10 .. :00) per station, each station one
    edge case; only S1 and S5 survive the complete-hour constraint."""
    t0 = 1717200000
    slots = [t0 + 600 * k for k in range(1, 7)]
    gauge, radar, ref = [], [], []

    def radar_rows(sta, ts):
        for rad in ("A", "D"):
            for sweep in (1, 2):
                for nx, ny in ((0, 0), (1, 0)):
                    radar.append({
                        "TIMESTAMP": ts, "STATION": sta, "RADAR": rad,
                        "SWEEP": sweep, "NX": nx, "NY": ny,
                        "HEIGHT": 500.0 + 250.0 * sweep + (ts % 7),
                        "T": 5.0, "VISIB_mean": 50.0,
                        "ZH_mean": 10.0 + sweep + (ts % 11),
                        "ZV_mean": 9.0 + sweep})

    for sta in ("S1", "S2", "S3", "S4", "S5", "S6"):
        for i, ts in enumerate(slots):
            radar_rows(sta, ts)
            # S2: the :30 reference rows are all off-centre
            centre = not (sta == "S2" and i == 2)
            ref += [{"TIMESTAMP": ts, "STATION": sta, "NX": nx, "NY": 0,
                     "RZC": 1.0} for nx in ((0, 1) if centre else (1, -1))]
            if sta == "S3" and i == 5:
                continue  # S3: 5 of 6 slots (a radar key with no gauge)
            if sta == "S5" and i == 4:
                continue  # S5: 5 slots, one duplicated gauge row -> 6
            rre = -9999.0 if (sta == "S6" and i == 3) else 0.25 * (i + 1)
            gauge.append({"STATION": sta, "TIMESTAMP": ts, "RRE150Z0": rre})
    # S4 and S5: duplicate gauge rows at one key — both count toward the
    # hour (S4 reaches 7 and drops, S5 reaches 6 and keeps both rows)
    gauge += [dict(g) for g in gauge
              if g["STATION"] in ("S4", "S5") and g["TIMESTAMP"] == slots[1]]
    # radar keys with no gauge row at all
    for ts in slots:
        radar_rows("S7", ts)
    radar = pd.DataFrame(radar)
    ref = pd.DataFrame(ref)
    # exact-duplicate radar rows and duplicate reference rows
    radar = pd.concat([radar, radar[radar["STATION"] == "S1"].head(6)],
                      ignore_index=True)
    ref = pd.concat([ref, ref[ref["STATION"] == "S1"]], ignore_index=True)
    stations = pd.DataFrame({
        "Abbrev": [f"S{i}" for i in range(1, 8)],
        "X": [600e3 + 1e4 * i for i in range(7)],
        "Y": [150e3 + 5e3 * i for i in range(7)],
        "Z": [400.0 + 100 * i for i in range(7)]})
    radars = pd.DataFrame({"RADAR": ["A", "D"], "X_rad": [681201.0, 497057.0],
                           "Y_rad": [237604.0, 142408.0],
                           "Z_rad": [938.0, 1682.0]})
    return {"gauge": pd.DataFrame(gauge), "radar": radar, "reference": ref,
            "stations": stations, "radars": radars}


def _write(tables: dict[str, pd.DataFrame], out_dir) -> dict[str, str]:
    paths = {}
    for k, df in tables.items():
        paths[k] = str(out_dir / f"{k}.parquet")
        df.to_parquet(paths[k], index=False)
    return paths


def test_prepare_input_edge_cases_oracle(spark, tmp_path):
    """Duplicates, off-centre reference keys, radar keys without a gauge,
    duplicate gauge rows, a 5-of-6 hour and a -9999 gauge value: the
    pipeline matches the ORACLE, and exactly S1 (6 rows) and S5 (5 keys,
    one twice) survive."""
    _, got = _spark_and_oracle(spark, _write(_edge_tables(), tmp_path))
    assert got.groupby("STATION").size().to_dict() == {"S1": 6, "S5": 6}
    assert got.duplicated(["STATION", "TIMESTAMP"]).sum() == 1
    assert (got["target_mmh"] >= 0).all()


def test_prepare_input_zero_weight_key(spark, fx, tmp_path):
    """A key whose every sweep has VISIB_mean = 0 sums to zero weight:
    its weighted means and RADAR proportions are NULL (the reference's
    numpy mean gives NaN), not an ANSI DIVIDE_BY_ZERO for the whole set,
    and the RF still trains on the other rows."""
    from rainforest_spark.ml.rf import RandomForestQPE

    tables = {k: pd.read_parquet(p) for k, p in fx.items()}
    _, base = _spark_and_oracle(spark, fx)
    sta, ts = base.loc[0, "STATION"], base.loc[0, "TIMESTAMP"]
    radar = tables["radar"]
    at_key = (radar["STATION"] == sta) & (radar["TIMESTAMP"] == ts)
    radar.loc[at_key, "VISIB_mean"] = np.float32(0.0)

    out, got = _spark_and_oracle(spark, _write(tables, tmp_path))
    row = got[(got["STATION"] == sta) & (got["TIMESTAMP"] == ts)]
    assert len(row) == 1 and row["W_SUM"].iloc[0] == 0.0
    assert row[["ZH_mean", "DIST_TO_RAD", "RADAR_prop_A"]].isna().all(
        axis=None)
    assert len(got) == len(base)

    model = RandomForestQPE(["ZH_mean", "DIST_TO_RAD", "RADAR_prop_A"],
                            num_trees=3, max_depth=3).fit(out)
    assert model.model.numFeatures == 3


def test_prepare_input_plain_plan_shuffles(spark, fx):
    """Aggregate first, align after: the plain-parquet plan has at most 7
    shuffle exchanges (broadcasts and reused exchanges not counted)."""
    import re

    from rainforest_spark.ml.dataset import prepare_input

    dfs = {k: spark.read.parquet(p) for k, p in fx.items()}
    out = prepare_input(dfs["gauge"], dfs["radar"], dfs["reference"],
                        dfs["stations"], dfs["radars"])
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert 0 < len(shuffles) <= 7, plan

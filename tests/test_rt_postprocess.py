"""The RT micro-batch's driver-side post-processing and its failure
paths: the numpy frame kernels equal the batch DataFrame operators, a
post store that cannot be read fails the batch, a query killed
mid-batch restarts and converges, and the micro-batch write leaves the
caller's session conf alone and the sink with the post store only."""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import StreamingQueryException

SCHEMA = ("TIMESTAMP bigint, STATION string, RADAR string, SWEEP bigint, "
          "az_idx int, rng_idx int, ZH double, VISIB double, zh_lin double")
SERIES = ("TIMESTAMP long, x_idx int, y_idx int, zh_lin double, "
          "rain_rate double")
KEYS = ["TIMESTAMP", "x_idx", "y_idx"]
POST_COLS = ["rain_rate", "rain_rate_2frame", "disag_ratio",
             "rain_rate_disag", "rain_rate_advected"]
MODE = "spark.sql.sources.partitionOverwriteMode"
T0 = 1717200000


def _random_series(seed, nx, ny):
    """Frames at non-contiguous times; each drops a random share of the
    pixels and nulls some values; one pixel has a zero proxy mean."""
    rng = np.random.RandomState(seed)
    parts = []
    for t in (T0, T0 + 300, T0 + 900, T0 + 1200, T0 + 2100):
        yy, xx = np.nonzero(rng.uniform(size=(ny, nx)) < 0.8)
        n = len(xx)
        zh = rng.uniform(0, 1e4, n)
        rr = rng.uniform(0, 30, n)
        zh[rng.uniform(size=n) < 0.15] = np.nan
        rr[rng.uniform(size=n) < 0.15] = np.nan
        parts.append(pd.DataFrame({
            "TIMESTAMP": np.int64(t), "x_idx": xx.astype(np.int32),
            "y_idx": yy.astype(np.int32), "zh_lin": zh, "rain_rate": rr}))
    pdf = pd.concat(parts, ignore_index=True)
    corner = (pdf["x_idx"] == 0) & (pdf["y_idx"] == 0)
    pdf = pd.concat([pdf[~corner], pd.DataFrame({
        "TIMESTAMP": np.int64([T0, T0 + 300]), "x_idx": np.int32(0),
        "y_idx": np.int32(0), "zh_lin": 0.0, "rain_rate": 1.0})],
        ignore_index=True)
    # shuffle: the kernels must not rely on the input order
    return pdf.sample(frac=1.0, random_state=seed).reset_index(drop=True)


@pytest.mark.parametrize("seed", [0, 1])
def test_numpy_kernels_equal_dataframe_operators(spark, seed):
    from rainforest_spark.grid.advection import (
        advect_blend_frames, advect_blend_series,
    )
    from rainforest_spark.grid.qpe import (
        temporal_smooth, temporal_smooth_frames,
    )

    nx, ny, shift = 24, 18, 3
    pdf = _random_series(seed, nx, ny)
    sdf = spark.createDataFrame(pdf, SERIES)
    blend = (advect_blend_series(sdf, "rain_rate", nx=nx, ny=ny,
                                 max_shift=shift)
             .withColumnRenamed("rain_rate", "rain_rate_advected"))
    want = (temporal_smooth(sdf, "rain_rate", proxy_col="zh_lin")
            .join(blend, on=KEYS, how="left").toPandas()
            .sort_values(KEYS, ignore_index=True))

    got = temporal_smooth_frames(pdf, "rain_rate", proxy_col="zh_lin")
    got["rain_rate_advected"] = advect_blend_frames(
        got, "rain_rate", nx=nx, ny=ny, max_shift=shift)
    got = got.sort_values(KEYS, ignore_index=True)

    pd.testing.assert_frame_equal(got[KEYS], want[KEYS], check_dtype=False)
    # the series exercises every null branch of the row semantics
    assert want["disag_ratio"].isna().any()
    assert (want["zh_lin"].notna() & want["disag_ratio"].isna()).any()
    assert want["rain_rate_advected"].notna().any()
    for c in POST_COLS:
        np.testing.assert_allclose(got[c], want[c], rtol=1e-9, atol=0,
                                   equal_nan=True, err_msg=c)


def _scan_file(src, ts, rng):
    az, rg = np.meshgrid(np.arange(0, 360, 8), np.arange(30), indexing="ij")
    n = az.size
    zh = rng.uniform(0, 50, n)
    pd.DataFrame({
        "TIMESTAMP": np.int64(ts), "STATION": "ST00", "RADAR": "A",
        "SWEEP": 1, "az_idx": az.ravel().astype(np.int32),
        "rng_idx": rg.ravel().astype(np.int32), "ZH": zh,
        "VISIB": rng.uniform(50, 100, n), "zh_lin": 10 ** (0.1 * zh),
    }).to_parquet(f"{src}/scan_{ts}.parquet", index=False)


@pytest.fixture
def rt(spark, tmp_path):
    """A drop directory, sink and checkpoint, the LUT, and a runner that
    starts ``run_rt_postprocessed`` with an availableNow trigger."""
    from rainforest_spark.grid.lookup import polar_to_cart_lut
    from rainforest_spark.streaming.rt import run_rt_postprocessed
    from rainforest_spark.testing.fixtures import RADAR_XYZ

    env = {"src": str(tmp_path / "src"), "sink": str(tmp_path / "sink"),
           "ckpt": str(tmp_path / "ckpt"), "rng": np.random.RandomState(3),
           "lut": polar_to_cart_lut(spark, {"A": RADAR_XYZ["A"]},
                                    sweeps=[1], n_az=360, n_rng=30)}
    os.makedirs(env["src"])
    env["run"] = lambda: run_rt_postprocessed(
        spark, env["src"], SCHEMA, env["sink"], env["ckpt"], env["lut"])
    return env


def _partitions(path):
    return sorted(int(p.rsplit("=", 1)[1])
                  for p in glob.glob(f"{path}/TIMESTAMP=*"))


def test_unreadable_frames_store_fails_the_batch(rt):
    _scan_file(rt["src"], T0, rt["rng"])
    q = rt["run"]()
    q.awaitTermination(180)
    assert q.exception() is None
    with open(f"{rt['sink']}/post/TIMESTAMP={T0}/part-corrupt.parquet",
              "wb") as f:
        f.write(b"not a parquet file")

    # frame 1's predecessor partition now holds a corrupt file
    _scan_file(rt["src"], T0 + 300, rt["rng"])
    q = rt["run"]()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(180)
    assert q.exception() is not None
    assert _partitions(f"{rt['sink']}/post") == [T0]


def test_micro_batch_leaves_session_overwrite_mode(spark, rt):
    before = spark.conf.get(MODE)
    spark.conf.set(MODE, "static")
    try:
        for i in range(2):
            _scan_file(rt["src"], T0 + 300 * i, rt["rng"])
            q = rt["run"]()
            q.awaitTermination(180)
            assert q.exception() is None
        assert spark.conf.get(MODE) == "static"
    finally:
        spark.conf.set(MODE, before)
    # a static overwrite would have replaced the store with one frame
    assert not os.path.exists(f"{rt['sink']}/frames")
    assert _partitions(f"{rt['sink']}/post") == [T0, T0 + 300]


def test_rt_restart_after_failed_batch_converges_to_batch(spark, rt):
    from rainforest_spark.grid.advection import advect_blend_series
    from rainforest_spark.grid.qpe import (
        polar_to_grid, rain_rate, temporal_smooth, vertical_composite,
    )

    for i in range(3):
        _scan_file(rt["src"], T0 + 300 * i, rt["rng"])
    # a plain file where the post store goes: the micro-batch fails
    # after its composite collect
    os.makedirs(rt["sink"])
    with open(f"{rt['sink']}/post", "w") as f:
        f.write("in the way")
    q = rt["run"]()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(180)
    assert os.path.isfile(f"{rt['sink']}/post")

    os.remove(f"{rt['sink']}/post")
    q = rt["run"]()
    q.awaitTermination(180)
    assert q.exception() is None

    comp = rain_rate(vertical_composite(
        polar_to_grid(spark.read.schema(SCHEMA).parquet(rt["src"]),
                      rt["lut"], ["zh_lin"]), ["zh_lin"], visib_col=None)) \
        .select("TIMESTAMP", "x_idx", "y_idx", "zh_lin", "w_total",
                "rain_rate")
    blend = (advect_blend_series(comp, "rain_rate")
             .withColumnRenamed("rain_rate", "rain_rate_advected"))
    want = (temporal_smooth(comp, "rain_rate", proxy_col="zh_lin")
            .join(blend, on=KEYS, how="left").toPandas()
            .sort_values(KEYS, ignore_index=True))
    got = (spark.read.parquet(f"{rt['sink']}/post").toPandas()
           .sort_values(KEYS, ignore_index=True)[want.columns])
    got["TIMESTAMP"] = got["TIMESTAMP"].astype("int64")

    assert sorted(got["TIMESTAMP"].unique()) == [T0, T0 + 300, T0 + 600]
    pd.testing.assert_frame_equal(got[KEYS], want[KEYS])
    for c in POST_COLS:
        np.testing.assert_allclose(got[c], want[c], rtol=1e-9, atol=1e-12,
                                   equal_nan=True, err_msg=c)

"""The numpy composite kernel (grid/qpe.compile_lut + composite_frames)
equals the DataFrame chain polar_to_grid → vertical_composite →
rain_rate on the same gates, row semantics included."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

SCHEMA = ("TIMESTAMP bigint, RADAR string, SWEEP bigint, az_idx int, "
          "rng_idx int, zh_lin double")
FRAME_COLS = ["TIMESTAMP", "x_idx", "y_idx", "zh_lin", "w_total",
              "rain_rate"]
KEYS = ["TIMESTAMP", "x_idx", "y_idx"]
N_AZ, N_RNG = 120, 20
T0 = 1717200000


def _gates(lut_pdf, seed):
    """3 radars × 2 sweeps × 3 timestamps of random gates, a random
    third of them missing and a fifth null, plus gates beyond the LUT's
    range and of a radar the LUT does not know; every gate of one
    pixel of the first frame is null.  Shuffled."""
    rng = np.random.RandomState(seed)
    parts = []
    for t in (T0, T0 + 300, T0 + 600):
        for radar in ("A", "D", "L", "Q"):
            for sweep in (1, 2):
                az, rg = np.meshgrid(np.arange(N_AZ),
                                     np.arange(N_RNG + 3), indexing="ij")
                keep = rng.uniform(size=az.size) < 0.67
                n = int(keep.sum())
                z = rng.uniform(0, 1e4, n)
                z[rng.uniform(size=n) < 0.2] = np.nan
                parts.append(pd.DataFrame({
                    "TIMESTAMP": np.int64(t), "RADAR": radar,
                    "SWEEP": np.int64(sweep),
                    "az_idx": az.ravel()[keep].astype(np.int32),
                    "rng_idx": rg.ravel()[keep].astype(np.int32),
                    "zh_lin": z}))
    gates = pd.concat(parts, ignore_index=True)
    hit = gates.merge(lut_pdf, on=["RADAR", "SWEEP", "az_idx", "rng_idx"],
                      how="left")
    # a pixel that several gates of one sweep share in the first frame
    shared = (hit[hit["TIMESTAMP"] == T0]
              .groupby(["RADAR", "SWEEP", "x_idx", "y_idx"]).size())
    x, y = shared[shared > 1].index[0][2:]
    null_pix = ((hit["TIMESTAMP"] == T0) & (hit["x_idx"] == x)
                & (hit["y_idx"] == y)).to_numpy()
    gates.loc[null_pix, "zh_lin"] = np.nan
    return gates.sample(frac=1.0, random_state=seed) \
        .reset_index(drop=True), (x, y)


@pytest.mark.parametrize("seed", [0, 1])
def test_composite_frames_equals_dataframe_chain(spark, seed):
    from rainforest_spark.grid.lookup import polar_to_cart_lut
    from rainforest_spark.grid.qpe import (
        compile_lut, composite_frames, polar_to_grid, rain_rate,
        vertical_composite,
    )
    from rainforest_spark.testing.fixtures import RADAR_XYZ

    lut = polar_to_cart_lut(spark, {r: RADAR_XYZ[r] for r in "ADL"},
                            sweeps=[1, 2], n_az=N_AZ, n_rng=N_RNG)
    lut_pdf = lut.toPandas()
    gates, (x, y) = _gates(lut_pdf, seed)
    # the input exercises every branch of the join
    assert (gates["rng_idx"] >= N_RNG).any()
    assert (gates["RADAR"] == "Q").any()

    want = (rain_rate(vertical_composite(
        polar_to_grid(spark.createDataFrame(gates, SCHEMA), lut,
                      ["zh_lin"]), ["zh_lin"], visib_col=None))
        .select(*FRAME_COLS).toPandas()
        .sort_values(KEYS, ignore_index=True))
    got = composite_frames(gates, compile_lut(lut_pdf))
    assert list(got.columns) == FRAME_COLS
    got = got.sort_values(KEYS, ignore_index=True)

    pd.testing.assert_frame_equal(got[KEYS], want[KEYS], check_dtype=False)
    for c in ["zh_lin", "w_total", "rain_rate"]:
        np.testing.assert_allclose(got[c], want[c], rtol=1e-9, atol=0,
                                   equal_nan=True, err_msg=c)
    null_pix = want[(want["TIMESTAMP"] == T0) & (want["x_idx"] == x)
                    & (want["y_idx"] == y)]
    assert len(null_pix) == 1
    assert null_pix["zh_lin"].isna().all()
    assert null_pix["w_total"].notna().all()


def test_compile_lut_rejects_duplicate_gate_key():
    from rainforest_spark.grid.qpe import compile_lut

    lut = pd.DataFrame({"RADAR": ["A", "A", "A"], "SWEEP": [1, 1, 1],
                        "az_idx": [0, 1, 0], "rng_idx": [3, 3, 3],
                        "x_idx": [5, 6, 7], "y_idx": [5, 5, 5],
                        "height": [1000.0, 1000.0, 1000.0]})
    with pytest.raises(ValueError):
        compile_lut(lut)


def test_composite_frames_empty_input():
    from rainforest_spark.grid.qpe import compile_lut, composite_frames

    lut = compile_lut(pd.DataFrame({
        "RADAR": ["A", "B"], "SWEEP": [1, 1], "az_idx": [0, 1],
        "rng_idx": [3, 3], "x_idx": [5, 6], "y_idx": [5, 5],
        "height": [1000.0, 1200.0]}))
    gates = pd.DataFrame({
        "TIMESTAMP": np.int64([]), "RADAR": pd.Series([], dtype=object),
        "SWEEP": np.int64([]), "az_idx": np.int32([]),
        "rng_idx": np.int32([]), "zh_lin": np.float64([])})
    got = composite_frames(gates, lut)
    assert list(got.columns) == FRAME_COLS
    assert got.empty

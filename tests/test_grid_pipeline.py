"""Grid pipeline vs numpy golden implementations (SURVEY §5: golden-array
tests, tolerance mirroring the reference's check_less_precise=3)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rainforest_spark.testing.fixtures import RADAR_XYZ


@pytest.fixture(scope="module")
def polar(spark):
    """Small deterministic polar volume: 2 radars × 2 sweeps × 90 az × 40
    gates with VISIB and noise fields."""
    rng = np.random.RandomState(3)
    recs = []
    for radar in ("A", "D"):
        for sweep in (1, 3):
            az, rg = np.meshgrid(np.arange(0, 360, 4), np.arange(40),
                                 indexing="ij")
            n = az.size
            recs.append(pd.DataFrame({
                "RADAR": radar, "SWEEP": np.int32(sweep),
                "az_idx": az.ravel().astype(np.int32),
                "rng_idx": rg.ravel().astype(np.int32),
                "ZH": rng.uniform(-5, 55, n).astype(np.float64),
                "NH": rng.uniform(-25, 5, n).astype(np.float64),
                "VISIB": rng.uniform(0, 100, n).astype(np.float64),
            }))
    return spark.createDataFrame(pd.concat(recs, ignore_index=True))


def test_lut_geometry(spark):
    from rainforest_spark.grid.lookup import (
        ELEVATIONS, beam_height, polar_to_cart_lut,
    )

    lut = polar_to_cart_lut(spark, {"A": RADAR_XYZ["A"]}, sweeps=[1, 5],
                            n_az=360, n_rng=50).toPandas()
    assert set(lut["SWEEP"]) == {1, 5}
    assert (lut["x_idx"] >= 0).all() and (lut["x_idx"] < 710).all()
    assert (lut["y_idx"] >= 0).all() and (lut["y_idx"] < 640).all()
    # beam height grows with range & elevation
    h1 = beam_height(np.array([1e4, 5e4]), ELEVATIONS[0], 900.0)
    h5 = beam_height(np.array([1e4, 5e4]), ELEVATIONS[4], 900.0)
    assert h1[1] > h1[0] and (h5 > h1).all()


def test_lut_is_materialised_numpy_geometry(spark, polar):
    """The polar→Cartesian LUT is stored rows, not a plan literal: the
    analysed plan of a job that joins it holds no LocalRelation, and its
    rows are, bit for bit, the gates the numpy geometry maps inside the
    grid."""
    from rainforest_spark.grid.lookup import (
        ELEVATIONS, NBINS_X, NBINS_Y, X0_KM, Y0_KM, beam_height,
        ground_distance, polar_to_cart_lut,
    )
    from rainforest_spark.grid.qpe import apply_polar_masks, polar_to_grid

    radars = {k: RADAR_XYZ[k] for k in ("A", "D")}
    sweeps, n_az, n_rng, res = [1, 3], 90, 40, 500.0
    lut = polar_to_cart_lut(spark, radars, sweeps=sweeps, n_az=n_az,
                            n_rng=n_rng, rng_res_m=res)
    grid = polar_to_grid(apply_polar_masks(polar.localCheckpoint()), lut,
                         ["zh_lin"])
    assert "LocalRelation" not in \
        grid._jdf.queryExecution().analyzed().toString()

    rng_m = (np.arange(n_rng) + 0.5) * res
    want = []
    for radar, (rx, ry, rz) in radars.items():
        for sweep in sweeps:
            gd = ground_distance(rng_m, ELEVATIONS[sweep - 1])
            h = beam_height(rng_m, ELEVATIONS[sweep - 1], rz)
            for az in range(n_az):
                x_idx = np.floor((rx + np.sin(np.deg2rad(az)) * gd)
                                 / 1000.0 - X0_KM).astype(np.int32)
                y_idx = np.floor((ry + np.cos(np.deg2rad(az)) * gd)
                                 / 1000.0 - Y0_KM).astype(np.int32)
                inside = ((x_idx >= 0) & (x_idx < NBINS_X)
                          & (y_idx >= 0) & (y_idx < NBINS_Y))
                want.append(pd.DataFrame({
                    "RADAR": radar, "SWEEP": np.int32(sweep),
                    "az_idx": np.int32(az),
                    "rng_idx": np.arange(n_rng, dtype=np.int32)[inside],
                    "x_idx": x_idx[inside], "y_idx": y_idx[inside],
                    "height": h[inside].astype(np.float32)}))
    want = pd.concat(want, ignore_index=True)
    key = ["RADAR", "SWEEP", "az_idx", "rng_idx"]
    got = lut.toPandas().sort_values(key, ignore_index=True)
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_masks_and_scatter_add(spark, polar):
    from rainforest_spark.grid.lookup import polar_to_cart_lut
    from rainforest_spark.grid.qpe import apply_polar_masks, polar_to_grid

    masked = apply_polar_masks(polar, snr_threshold=3.0, min_visib=37.0)
    pdf = masked.toPandas()
    src = polar.toPandas()
    # golden: SNR mask nulls ZH where ZH-NH < 3
    snr_bad = (src["ZH"] - src["NH"]) < 3
    assert pdf.loc[snr_bad.to_numpy(), "ZH"].isna().all()
    # golden: visib mask + correction
    vis_ok = (~snr_bad) & (src["VISIB"] >= 37)
    expect = (10 ** (0.1 * src["ZH"])
              * np.minimum(100 / src["VISIB"], 2.0))[vis_ok]
    got = pdf.loc[vis_ok.to_numpy(), "zh_lin"]
    assert np.allclose(got, expect, rtol=1e-9)

    lut = polar_to_cart_lut(spark, {k: RADAR_XYZ[k] for k in ("A", "D")},
                            sweeps=[1, 3], n_az=90, n_rng=40,
                            rng_res_m=500.0)
    # align LUT az resolution with the fixture's 4-degree spacing
    lut = lut.filter(F.col("az_idx") % 4 == 0) \
             .withColumn("az_idx", F.col("az_idx"))
    grid = polar_to_grid(masked, lut, ["zh_lin"]).toPandas()
    assert len(grid) > 100
    assert grid["n_gates"].ge(1).all()
    # pixel means: spot-check one pixel against pandas
    j = masked.toPandas().merge(lut.toPandas(),
                                on=["RADAR", "SWEEP", "az_idx", "rng_idx"])
    golden = (j.groupby(["RADAR", "SWEEP", "x_idx", "y_idx"])["zh_lin"]
              .mean().reset_index())
    m = grid.merge(golden, on=["RADAR", "SWEEP", "x_idx", "y_idx"],
                   suffixes=("", "_gold"))
    assert len(m) == len(grid)
    both = m.dropna(subset=["zh_lin", "zh_lin_gold"])
    assert np.allclose(both["zh_lin"], both["zh_lin_gold"], rtol=1e-9)


def test_vertical_composite(spark, polar):
    from rainforest_spark.grid.lookup import polar_to_cart_lut
    from rainforest_spark.grid.qpe import (
        apply_polar_masks, polar_to_grid, rain_rate, vertical_composite,
    )

    lut = polar_to_cart_lut(spark, {k: RADAR_XYZ[k] for k in ("A", "D")},
                            sweeps=[1, 3], n_az=90, n_rng=40)
    g = polar_to_grid(apply_polar_masks(polar), lut, ["zh_lin"])
    comp = vertical_composite(g, ["zh_lin"], beta=-0.5, visib_col=None)
    out = rain_rate(comp).toPandas()
    assert {"x_idx", "y_idx", "zh_lin", "w_total", "rain_rate"} <= set(out.columns)
    valid = out.dropna(subset=["rain_rate"])
    assert len(valid) > 50 and (valid["rain_rate"] >= 0).all()
    # golden recompute of the weighted ratio on pandas
    gp = g.toPandas()
    gp["w"] = 10 ** (-0.5 * gp["height"] / 1000.0)
    gp["wx"] = np.where(np.isnan(gp["zh_lin"]), np.nan, gp["w"] * gp["zh_lin"])
    gold = gp.groupby(["x_idx", "y_idx"]).apply(
        lambda d: np.nansum(d["wx"]) / d.loc[~d["zh_lin"].isna(), "w"].sum()
        if (~d["zh_lin"].isna()).any() else np.nan,
        include_groups=False).rename("gold").reset_index()
    m = out.merge(gold, on=["x_idx", "y_idx"])
    both = m.dropna(subset=["zh_lin", "gold"])
    assert np.allclose(both["zh_lin"], both["gold"], rtol=1e-6)


def _sparse_df(spark, mat, ts=None):
    ys, xs = np.nonzero(np.isfinite(mat))
    pdf = pd.DataFrame({"x_idx": xs.astype(np.int32),
                        "y_idx": ys.astype(np.int32),
                        "val": mat[ys, xs]})
    if ts is not None:
        pdf.insert(0, "TIMESTAMP", np.int64(ts))
    return spark.createDataFrame(pdf)


def test_tile_outlier_matches_dense_golden(spark):
    from rainforest_spark.grid.image import _kernel_outlier, tile_kernel

    rng = np.random.RandomState(11)
    mat = rng.uniform(0, 5, (200, 300))
    mat[50, 60] = 500.0  # a spike
    mat[120:140, 200:220] = np.nan
    df = _sparse_df(spark, mat)
    out = tile_kernel(df, "val", kernel="outlier", halo=3).toPandas()
    got = np.full_like(mat, np.nan)
    got[out["y_idx"], out["x_idx"]] = out["val"]
    gold = _kernel_outlier(mat, size=7, z_thresh=3.0)
    both = np.isfinite(gold) & np.isfinite(got)
    assert np.isfinite(got).sum() == np.isfinite(mat).sum()
    assert np.allclose(got[both], gold[both], rtol=1e-9, atol=1e-12)
    assert got[50, 60] < 100  # spike removed


def test_tile_gaussian_matches_dense_golden(spark):
    from rainforest_spark.grid.image import _kernel_gaussian, tile_kernel

    rng = np.random.RandomState(12)
    mat = rng.uniform(0, 5, (150, 150))
    df = _sparse_df(spark, mat, ts=1717200000)
    out = tile_kernel(df, "val", kernel="gaussian", halo=3,
                      sigma=0.5).toPandas()
    got = np.full_like(mat, np.nan)
    got[out["y_idx"], out["x_idx"]] = out["val"]
    gold = _kernel_gaussian(mat, sigma=0.5)
    assert np.allclose(got, gold, rtol=1e-9, atol=1e-12)


def test_outlier_relational_matches_tile_kernel(spark):
    """W7 route pair: the exact-BIGINT neighbour-join route
    (grid/image.outlier_relational — the oracle-paired q205 plan) and
    the dense-tile applyInPandas route agree on an integer-valued
    sparse grid: same replaced-pixel mask, same output values (the
    relational route's round-half-up nanos vs the tile's double mean,
    within half a nano)."""
    from rainforest_spark.grid.image import outlier_relational, tile_kernel

    rng = np.random.RandomState(7)
    mat = rng.randint(0, 200, (150, 180)).astype(float)
    mat[40, 50] = 5000.0                    # a spike to replace
    mat[90:110, 120:140] = np.nan           # a hole (nan-aware stats)
    mat[mat % 13 == 0] = np.nan             # scattered sparsity
    df = _sparse_df(spark, mat)

    tile = tile_kernel(df, "val", kernel="outlier", halo=3).toPandas()
    rel = outlier_relational(df, "val", 7).toPandas()
    assert len(rel) == np.isfinite(mat).sum()
    assert len(tile) == len(rel)

    m = tile.merge(rel, on=["x_idx", "y_idx"], how="inner")
    assert len(m) == len(rel)
    got = m["out_nanos"].to_numpy() / 1e9
    assert np.allclose(got, m["val"].to_numpy(), atol=6e-10, rtol=0)
    # the spike is replaced on both routes
    spike = m[(m["y_idx"] == 40) & (m["x_idx"] == 50)].iloc[0]
    assert spike["is_replaced"] == 1 and spike["out_nanos"] < 5000e9
    # replacement actually fired somewhere beyond the spike and the
    # exact-integer mask agrees with the tile route's value changes
    changed_tile = ~np.isclose(m["val"], m["v"], atol=1e-9)
    assert (m["is_replaced"] == 1).sum() >= 1
    assert np.array_equal(changed_tile, m["is_replaced"] == 1)

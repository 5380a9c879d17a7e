"""DN scale encode/decode, npz sink metadata, advection motion recovery."""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_dn_encode_decode_roundtrip(spark):
    from rainforest_spark.grid.io import (
        dn_decode, dn_encode, scale_cpc, scale_table,
    )

    scale = scale_cpc()
    st = scale_table(spark, scale)
    # boundary values, bin interiors, exact scale points, past-the-end
    vals = [0.0, 0.03, 0.04, 0.5, float(scale[7]), 5.0, 100.0, 6000.0]
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    enc = dn_encode(df, "v", st).toPandas().set_index("v")["dn"]
    # golden: the reference's np.searchsorted(SCALE_CPC, x) (qpe.py:276)
    gold = {v: int(np.searchsorted(scale, v)) for v in vals}
    for v in vals:
        assert enc[v] == gold[v], f"{v}: {enc[v]} != {gold[v]}"
    dec = dn_decode(spark.createDataFrame(
        pd.DataFrame({"dn": list(set(enc))})), "dn", scale).toPandas()
    # reference decode is SCALE_CPC[dn] (io_data.py:203)
    for _, r in dec.iterrows():
        assert r["value"] == scale[int(r["dn"])]


def test_scale_cpc_matches_reference_form():
    from rainforest_spark.grid.io import scale_cpc

    s = scale_cpc()
    # spot values of the published SCALE_CPC table (constants.py:133-183)
    assert s[0] == 0.0 and s[1] == 0.0
    assert abs(s[2] - 7.177341e-02) < 1e-6
    assert abs(s[20] - 1.0) < 1e-9
    assert abs(s[40] - 3.0) < 1e-9
    assert abs(s[100] - 31.0) < 1e-7
    assert np.all(np.diff(s[1:]) > 0)


def test_npz_sink(spark, tmp_path):
    from rainforest_spark.grid.io import save_grid_npz

    df = spark.createDataFrame(pd.DataFrame({
        "x_idx": np.int32([1, 2]), "y_idx": np.int32([3, 4]),
        "rain_rate": [1.5, 2.5]}))
    out = str(tmp_path / "qpe_202406010510.npz")
    save_grid_npz(df, "rain_rate", out, timestamp=1717218600, quality="AD-PW")
    m = np.load(out)["data"]
    # reference raster: (640 northing rows DESCENDING, 710 easting cols)
    assert m.shape == (640, 710)
    assert m[640 - 1 - 3, 1] == 1.5 and m[640 - 1 - 4, 2] == 2.5
    assert np.isnan(m[0, 0])
    meta = json.load(open(out + ".json"))
    assert meta["quality"] == "AD-PW" and meta["shape"] == [1, 640, 710]


def test_odim_gate(spark):
    from rainforest_spark.grid.io import save_grid_odim

    with pytest.raises(NotImplementedError):
        save_grid_odim(None, "x", "/tmp/x.h5", 0)


def test_advection_recovers_known_shift():
    from rainforest_spark.grid.advection import (
        advect, advection_blend, estimate_motion,
    )

    rng = np.random.RandomState(13)
    base = rng.uniform(0, 1, (80, 80))
    # smooth it so block matching has structure
    k = np.ones(5) / 5
    base = np.apply_along_axis(lambda m: np.convolve(m, k, "same"), 0, base)
    base = np.apply_along_axis(lambda m: np.convolve(m, k, "same"), 1, base)
    shifted = np.roll(np.roll(base, 3, axis=0), -2, axis=1)
    dy, dx = estimate_motion(base, shifted, max_shift=6)
    assert (dy, dx) == (3, -2)
    # advecting base by the estimated motion reproduces the new frame
    moved = advect(base, -dy, -dx)  # backward resample convention check
    # interior agreement (borders are NaN/out-of-bounds)
    inner = np.s_[10:70, 10:70]
    assert np.allclose(np.roll(np.roll(base, dy, 0), dx, 1)[inner],
                       advect(base, dy, dx)[inner], atol=1e-9)
    blended = advection_blend(base, shifted)
    assert blended.shape == base.shape and np.isfinite(blended).all()


def test_fft_motion_matches_direct_loop():
    """The FFT cross-correlation path returns exactly the direct shift
    loop's (dy, dx) — structured, shifted and pure-noise frames, incl.
    the first-maximum tie-break order."""
    from rainforest_spark.grid.advection import (
        _estimate_motion_loop, estimate_motion,
    )

    rng = np.random.RandomState(29)
    for _ in range(5):
        prev = rng.rand(48, 57) * 10
        dy, dx = rng.randint(-7, 8), rng.randint(-7, 8)
        cur = (np.roll(np.roll(prev, dy, axis=0), dx, axis=1)
               + rng.rand(48, 57) * 0.1)
        assert (estimate_motion(prev, cur)
                == _estimate_motion_loop(prev, cur))
    for _ in range(3):
        p, c = rng.rand(33, 41), rng.rand(33, 41)
        assert estimate_motion(p, c) == _estimate_motion_loop(p, c)


def test_advect_blend_series_distributed(spark):
    """applyInPandas frame-pair advection equals the driver-side
    advection_blend for each consecutive pair."""
    from rainforest_spark.grid.advection import advect_blend_series, advection_blend

    rng = np.random.RandomState(17)
    nx = ny = 48
    base = rng.uniform(0, 1, (ny, nx))
    k = np.ones(5) / 5
    base = np.apply_along_axis(lambda r: np.convolve(r, k, "same"), 0, base)
    base = np.apply_along_axis(lambda r: np.convolve(r, k, "same"), 1, base)
    frames = {1000: base,
              1300: np.roll(base, 2, axis=0),
              1600: np.roll(base, 4, axis=0)}
    rows = []
    for t, m in frames.items():
        yy, xx = np.nonzero(np.isfinite(m))
        rows.append(pd.DataFrame({"TIMESTAMP": np.int64(t),
                                  "x_idx": xx.astype(np.int32),
                                  "y_idx": yy.astype(np.int32),
                                  "rain_rate": m[yy, xx]}))
    grids = spark.createDataFrame(pd.concat(rows, ignore_index=True))
    out = advect_blend_series(grids, nx=nx, ny=ny, max_shift=6).toPandas()
    assert sorted(out["TIMESTAMP"].unique()) == [1300, 1600]
    for t_prev, t_cur in [(1000, 1300), (1300, 1600)]:
        exp = advection_blend(frames[t_prev], frames[t_cur], max_shift=6)
        got = out[out["TIMESTAMP"] == t_cur]
        m = np.full((ny, nx), np.nan)
        m[got["y_idx"], got["x_idx"]] = got["rain_rate"]
        fin = np.isfinite(exp)
        assert np.allclose(m[fin], exp[fin], atol=1e-9)


def _bilinear(frame, dy, dx):
    """The semi-Lagrangian bilinear resample, written out in full: the
    reference that a whole-pixel ``advect`` must equal."""
    ny, nx = frame.shape
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    sy, sx = yy - dy, xx - dx
    y0 = np.clip(np.floor(sy).astype(int), 0, ny - 2)
    x0 = np.clip(np.floor(sx).astype(int), 0, nx - 2)
    fy = np.clip(sy - y0, 0.0, 1.0)
    fx = np.clip(sx - x0, 0.0, 1.0)
    f = np.nan_to_num(frame, nan=0.0)
    out = ((1 - fy) * (1 - fx) * f[y0, x0]
           + (1 - fy) * fx * f[y0, x0 + 1]
           + fy * (1 - fx) * f[y0 + 1, x0]
           + fy * fx * f[y0 + 1, x0 + 1])
    out[(sy < 0) | (sy > ny - 1) | (sx < 0) | (sx > nx - 1)] = np.nan
    return out


def test_advect_whole_pixel_shift_equals_bilinear():
    """A whole-pixel shift (negative, zero, beyond the frame, int or
    integral float) gives exactly the bilinear formula's values; a
    fractional one raises."""
    from rainforest_spark.grid.advection import advect

    rng = np.random.RandomState(31)
    for shape in [(13, 17), (2, 3)]:
        f = rng.uniform(0, 10, shape)
        f[rng.rand(*shape) < 0.15] = np.nan
        ny, nx = shape
        for dy in range(-ny - 2, ny + 3):
            for dx in range(-nx - 2, nx + 3):
                got = advect(f, dy, dx)
                want = _bilinear(f, dy, dx)
                assert got.dtype == want.dtype
                assert np.array_equal(got, want, equal_nan=True), (dy, dx)
        assert np.array_equal(advect(f, 1.0, -1.0), _bilinear(f, 1, -1),
                              equal_nan=True)
    f32 = rng.uniform(0, 10, (9, 11)).astype(np.float32)
    assert np.array_equal(advect(f32, -3, 4), _bilinear(f32, -3, 4),
                          equal_nan=True)
    with pytest.raises(ValueError, match="whole pixels"):
        advect(f32, 0.5, 0)


def _series(stamps, n=40):
    """Sparse rows of a blob moving one row per frame, frames in the
    given TIMESTAMP order."""
    rng = np.random.RandomState(41)
    base = rng.uniform(0, 1, (n, n))
    rows = []
    for i, t in enumerate(stamps):
        m = np.roll(base, i, axis=0)
        yy, xx = np.nonzero(m > 0.3)
        rows.append(pd.DataFrame({"TIMESTAMP": t,
                                  "x_idx": xx.astype(np.int32),
                                  "y_idx": yy.astype(np.int32),
                                  "rain_rate": m[yy, xx]}))
    pdf = pd.concat(rows, ignore_index=True)
    pdf["TIMESTAMP"] = pdf["TIMESTAMP"].astype("Int64")
    return pdf


def _blend_pairs(pdf, n=40, max_shift=5):
    """Driver-side expectation: each frame blended against the frame
    before it in sorted TIMESTAMP order, as sparse sorted rows."""
    from rainforest_spark.grid.advection import advection_blend

    pdf = pdf.dropna(subset=["TIMESTAMP"])
    dense = {}
    for t, part in pdf.groupby("TIMESTAMP"):
        m = np.full((n, n), np.nan)
        m[part["y_idx"], part["x_idx"]] = part["rain_rate"]
        dense[int(t)] = m
    stamps = sorted(dense)
    out = []
    for t_prev, t in zip(stamps, stamps[1:]):
        b = advection_blend(dense[t_prev], dense[t], max_shift=max_shift)
        yy, xx = np.nonzero(np.isfinite(b))
        out.append(pd.DataFrame({"TIMESTAMP": np.int64(t),
                                 "x_idx": xx.astype(np.int32),
                                 "y_idx": yy.astype(np.int32),
                                 "rain_rate": b[yy, xx]}))
    cols = ["TIMESTAMP", "x_idx", "y_idx", "rain_rate"]
    if not out:
        return pd.DataFrame(columns=cols)
    return pd.concat(out).sort_values(cols[:3], ignore_index=True)


def test_advect_blend_series_is_four_jobs(spark):
    """Frames pair through one broadcast successor dimension: a
    3-frame series blends in at most 4 Spark jobs."""
    from rainforest_spark.grid.advection import advect_blend_series

    grids = spark.createDataFrame(_series([1000, 1300, 1600])) \
        .localCheckpoint()
    sc = spark.sparkContext
    group = "advect-blend-series-jobs"
    sc.setJobGroup(group, group)
    try:
        got = advect_blend_series(grids, nx=40, ny=40,
                                  max_shift=5).toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4
    assert sorted(got["TIMESTAMP"].unique()) == [1300, 1600]


@pytest.mark.parametrize("case", ["single", "unsorted_gapped", "null_ts"])
def test_advect_blend_series_edge_cases(spark, case):
    """One frame gives no rows; unsorted, gapped timestamps pair in
    sorted order; rows with a null TIMESTAMP belong to no frame."""
    from rainforest_spark.grid.advection import advect_blend_series

    stamps = {"single": [1000], "null_ts": [1000, 1300, 1600],
              "unsorted_gapped": [1900, 1000, 1300, 5000, 1600]}[case]
    pdf = _series(stamps)
    if case == "null_ts":
        pdf.loc[::7, "TIMESTAMP"] = pd.NA
    got = (advect_blend_series(spark.createDataFrame(pdf), nx=40, ny=40,
                               max_shift=5).toPandas()
           .sort_values(["TIMESTAMP", "x_idx", "y_idx"], ignore_index=True))
    want = _blend_pairs(pdf)
    assert len(got) == len(want)
    if case == "single":
        return
    assert np.array_equal(got["TIMESTAMP"], want["TIMESTAMP"])
    assert np.array_equal(got[["x_idx", "y_idx"]], want[["x_idx", "y_idx"]])
    assert np.array_equal(got["rain_rate"], want["rain_rate"])


def test_binary_grid_roundtrip(spark, tmp_path):
    """ELDES/RFQ headerless binary: DN plane (size = ny*nx) decodes via
    the scale, float32 plane reads raw (io_data.py:193-206 dispatch)."""
    from rainforest_spark.grid.io import (
        load_grid_auto, load_grid_bin, save_grid_bin, scale_cpc,
    )

    scale = scale_cpc()
    rng = np.random.RandomState(21)
    m = rng.uniform(0, 50, (20, 30))
    m[3, 4] = np.nan

    # DN path: 20*30 bytes → searchsorted codes, NaN sentinel 255
    p_dn = str(tmp_path / "RFQ_dn.bin")
    save_grid_bin(m, p_dn, scale)
    import os
    assert os.path.getsize(p_dn) == 20 * 30
    back = load_grid_bin(spark, p_dn, scale, nx=30, ny=20).toPandas()
    k = back.set_index(["x_idx", "y_idx"])
    assert k.loc[(4, 20 - 1 - 3), "dn"] == 255
    assert np.isnan(k.loc[(4, 20 - 1 - 3), "value"])
    exp_dn = np.searchsorted(scale, m[0, 0])
    assert k.loc[(0, 19), "dn"] == exp_dn
    assert k.loc[(0, 19), "value"] == scale[exp_dn]

    # float32 path: 4x the size → raw values
    p_f = str(tmp_path / "RFQ_f.bin")
    save_grid_bin(m, p_f)
    backf = load_grid_auto(spark, p_f, nx=30, ny=20).toPandas()
    kf = backf.set_index(["x_idx", "y_idx"])["value"]
    assert kf[(0, 19)] == pytest.approx(m[0, 0], rel=1e-6)
    assert np.isnan(kf[(4, 16)])


def test_npz_grid_roundtrip(spark, tmp_path):
    from rainforest_spark.grid.io import load_grid_auto, save_grid_npz

    df = spark.createDataFrame(pd.DataFrame({
        "x_idx": np.int32([0, 2]), "y_idx": np.int32([1, 3]),
        "rr": [1.5, 4.0]}))
    p = str(tmp_path / "comp.npz")
    save_grid_npz(df, "rr", p, timestamp=1717200000, nx=4, ny=5)
    back = load_grid_auto(spark, p).toPandas().set_index(["x_idx", "y_idx"])
    assert back.loc[(0, 1), "value"] == 1.5
    assert back.loc[(2, 3), "value"] == 4.0
    assert np.isnan(back.loc[(1, 1), "value"])


def test_odim_roundtrip(spark, tmp_path):
    """ODIM write→read round-trip (runs wherever h5py is installed;
    import-gated like the reference's optional deps)."""
    pytest.importorskip("h5py")
    from rainforest_spark.grid.io import load_grid_odim, save_grid_odim

    df = spark.createDataFrame(pd.DataFrame({
        "x_idx": np.int32([1]), "y_idx": np.int32([2]), "rr": [7.25]}))
    p = str(tmp_path / "comp.h5")
    save_grid_odim(df, "rr", p, timestamp=1717200000, nx=4, ny=5)
    back = load_grid_odim(spark, p).toPandas().set_index(["x_idx", "y_idx"])
    assert back.loc[(1, 2), "value"] == 7.25


def test_gif_auto_dispatch(spark, tmp_path):
    from rainforest_spark.grid.gif import save_grid_gif
    from rainforest_spark.grid.io import load_grid_auto, scale_cpc

    df = spark.createDataFrame(pd.DataFrame({
        "x_idx": np.int32([1]), "y_idx": np.int32([1]), "rr": [3.0]}))
    p = str(tmp_path / "rzc.gif")
    save_grid_gif(df, "rr", p, nx=5, ny=5)
    back = load_grid_auto(spark, p).toPandas().set_index(["x_idx", "y_idx"])
    scale = scale_cpc()
    assert back.loc[(1, 1), "dn"] == np.searchsorted(scale, 3.0)

"""Independent reference computations for the output checks.

``composite_rain_rate`` rebuilds one timestep's rain-rate map with dense
numpy — polar→Cartesian geometry, visibility mask, per-pixel mean,
height-weighted vertical composite, Marshall-Palmer — without Spark, to
check the engine's grid chain on the same generated volumes.
"""

from __future__ import annotations

import numpy as np

# Geometry and grid constants of the Swiss QPE domain (1 km grid,
# 710 easting × 640 northing bins; effective earth radius factor 1.25).
ELEVATIONS = [-0.2, 0.4, 1.0, 1.6, 2.5, 3.5, 4.5, 5.5, 6.5, 7.5,
              8.5, 9.5, 11.0, 13.0, 16.0, 20.0, 25.0, 30.0, 35.0, 40.0]
KE, R_EARTH = 1.25, 6371e3
X0_KM, Y0_KM = 255.0, -160.0
NX, NY = 710, 640


def gate_geometry(radar_xyz: tuple, sweep: int, n_az: int, n_rng: int,
                  rng_res_m: float = 500.0):
    """(x_idx, y_idx, inside, height float32) per (az, rng) gate."""
    rx, ry, rz = radar_xyz
    el = np.deg2rad(ELEVATIONS[sweep - 1])
    re = KE * R_EARTH
    rng_m = (np.arange(n_rng, dtype=np.int32) + 0.5) * rng_res_m
    h_rel = np.sqrt(rng_m ** 2 + re ** 2 + 2 * rng_m * re * np.sin(el)) - re
    gd = re * np.arcsin(rng_m * np.cos(el) / (re + h_rel))
    height = (np.sqrt(rng_m ** 2 + re ** 2 + 2 * rng_m * re * np.sin(el))
              - re + rz)
    theta = np.deg2rad(np.arange(n_az, dtype=np.int32))[:, None]
    x = rx + np.sin(theta) * gd[None, :]
    y = ry + np.cos(theta) * gd[None, :]
    x_idx = np.floor(x / 1000.0 - X0_KM).astype(np.int32)
    y_idx = np.floor(y / 1000.0 - Y0_KM).astype(np.int32)
    inside = (x_idx >= 0) & (x_idx < NX) & (y_idx >= 0) & (y_idx < NY)
    h32 = np.repeat(height[None, :], n_az, axis=0).astype(np.float32)
    return x_idx, y_idx, inside, h32


def masked_zh_lin(zh: np.ndarray, visib: np.ndarray,
                  min_visib: float = 37.0,
                  max_corr: float = 2.0) -> np.ndarray:
    """Linear reflectivity with the visibility mask and correction;
    NaN where masked."""
    corr = np.minimum(100.0 / visib, max_corr)
    z = np.power(10.0, 0.1 * zh) * corr
    z[(visib < min_visib) | np.isnan(zh)] = np.nan
    return z


def composite_rain_rate(sweeps_by_radar: dict, radar_xyz: dict,
                        n_az: int, n_rng: int, beta: float = -0.5,
                        a: float = 316.0, b: float = 1.5) -> np.ndarray:
    """{radar: {sweep: {"ZH", "VISIB"}}} → (640, 710) float32 rain rate,
    row 0 the northernmost band, NaN where no gate maps or none is valid.
    """
    npix = NX * NY
    num = np.zeros(npix)
    den = np.zeros(npix)
    present = np.zeros(npix, dtype=bool)
    for radar, sweeps in sweeps_by_radar.items():
        for sweep, f in sweeps.items():
            xi, yi, inside, h32 = gate_geometry(radar_xyz[radar], sweep,
                                                n_az, n_rng)
            z = masked_zh_lin(f["ZH"], f["VISIB"])[inside]
            pix = (yi * NX + xi)[inside]
            h = h32[inside].astype(np.float64)
            valid = ~np.isnan(z)
            n_all = np.bincount(pix, minlength=npix)
            n_val = np.bincount(pix[valid], minlength=npix)
            s_z = np.bincount(pix[valid], weights=z[valid], minlength=npix)
            s_h = np.bincount(pix, weights=h, minlength=npix)
            hit = n_all > 0
            present |= hit
            ok = n_val > 0
            w = np.power(10.0, beta * (s_h[ok] / n_all[ok]) / 1000.0)
            num[ok] += (s_z[ok] / n_val[ok]) * w
            den[ok] += w
    zh = np.full(npix, np.nan)
    good = den > 0
    zh[good] = num[good] / den[good]
    rr = np.maximum(np.power(zh / a, 1.0 / b), 0.0)
    rr[~present] = np.nan
    m = rr.reshape(NY, NX)[::-1, :]          # northernmost row first
    return m.astype(np.float32)

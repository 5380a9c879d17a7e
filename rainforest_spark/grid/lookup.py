"""Lookup-table (LUT) builders as DataFrames.

The reference precomputes pickled geometry LUTs once and reuses them for
every query (rainforest/common/lookup.py:137-561).  The Spark-first
equivalent: build each mapping once as a DataFrame and broadcast-join it
everywhere (SURVEY §4 "precomputed join indices").

Geometry is pure math (effective-earth-radius beam propagation with the
Swiss ke = 1.25 replacing the textbook 4/3 — radarprocessing.py:376-389
``correct_gate_altitude``; Doviak & Zrnić) — computed driver-side with
numpy (5 radars × 20 sweeps × 360 × 100 gates at most).  The
polar→Cartesian LUT is materialised once when it is built
(``localCheckpoint``), so the plans that join it scan stored rows; a
``createDataFrame`` literal (a ``LocalRelation`` of up to 3.6M rows)
would be analysed, planned and scanned again by every job that joins
it.  The stored rows live in this session's executors' block managers
only and the lineage is cut: an executor lost (or removed by dynamic
allocation) takes its blocks with it, and every later job that joins
the LUT fails; build the LUT again then.  In ``local`` mode the driver
is the only executor, so its LUT lives as long as the session.  The
station→pixel LUT (at most 9 rows per gauge) stays a literal.

Reference grid (common/constants.py:112-126): easting (the reference's
Y_QPE) 255..965 km → 710 bins; northing (the reference's X_QPE)
480..-160 km descending → 640 bins.  Here x_idx indexes easting
ascending and y_idx indexes northing ascending; raster export flips to
the reference's descending-northing row order (grid/qpe.py
grid_to_matrix).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

#: grid shape (common/constants.py:112-126): 710 easting bins (Y_QPE
#: 255..965), 640 northing bins (X_QPE 480..-160 descending)
NBINS_X, NBINS_Y = 710, 640
#: 1 km resolution, LV03 km offsets of the QPE domain (constants.py:118-126)
X0_KM, Y0_KM = 255.0, -160.0

#: effective earth-radius factor — the reference REPLACES 4/3 with the
#: Swiss ke=1.25 (radarprocessing.py:376-389 correct_gate_altitude)
KE = 1.25
R_EARTH = 6371e3

#: per-sweep elevation angles, degrees (reference ELEVATIONS,
#: common/constants.py:58-85 — 20 sweeps from -0.2 to 40 deg)
ELEVATIONS = [-0.2, 0.4, 1.0, 1.6, 2.5, 3.5, 4.5, 5.5, 6.5, 7.5,
              8.5, 9.5, 11.0, 13.0, 16.0, 20.0, 25.0, 30.0, 35.0, 40.0]


def beam_height(rng_m: np.ndarray, elev_deg: float, radar_alt_m: float) -> np.ndarray:
    """Height a.s.l. of the beam centre at slant range (4/3-earth model)."""
    el = np.deg2rad(elev_deg)
    re = KE * R_EARTH
    return (np.sqrt(rng_m ** 2 + re ** 2 + 2 * rng_m * re * np.sin(el))
            - re + radar_alt_m)


def ground_distance(rng_m: np.ndarray, elev_deg: float) -> np.ndarray:
    """Great-circle ground distance of the gate."""
    el = np.deg2rad(elev_deg)
    re = KE * R_EARTH
    h = np.sqrt(rng_m ** 2 + re ** 2 + 2 * rng_m * re * np.sin(el)) - re
    return re * np.arcsin(rng_m * np.cos(el) / (re + h))


def polar_to_cart_lut(spark: SparkSession, radars_xyz: dict[str, tuple],
                      sweeps: list[int] | None = None,
                      n_az: int = 360, n_rng: int = 100,
                      rng_res_m: float = 500.0) -> DataFrame:
    """(RADAR, SWEEP, az_idx, rng_idx) → (x_idx, y_idx, height) LUT.

    Reference builds this once per radar (common/lookup.py:540-550,
    qpegrid_to_rad) and indexes numpy arrays with it; here it becomes a
    broadcastable dimension table for the J7 equi-join, materialised
    here (one Spark job) so no plan that joins it carries its rows.

    The result is ``localCheckpoint``ed: its rows live on this session's
    executors only and cannot be recomputed.  If an executor that holds
    them is lost, jobs that join the LUT fail; call this again for a new
    LUT.  A ``local`` master, where the driver is the executor, is not
    affected.
    """
    sweeps = sweeps or list(range(1, len(ELEVATIONS) + 1))
    frames = []
    az = np.arange(n_az, dtype=np.int32)
    rng_idx = np.arange(n_rng, dtype=np.int32)
    rng_m = (rng_idx + 0.5) * rng_res_m
    for radar, (rx, ry, rz) in radars_xyz.items():
        for sweep in sweeps:
            elev = ELEVATIONS[sweep - 1]
            gd = ground_distance(rng_m, elev)            # (n_rng,)
            h = beam_height(rng_m, elev, rz)             # (n_rng,)
            theta = np.deg2rad(az)[:, None]              # (n_az, 1)
            x = rx + np.sin(theta) * gd[None, :]
            y = ry + np.cos(theta) * gd[None, :]
            x_idx = np.floor(x / 1000.0 - X0_KM).astype(np.int32)
            y_idx = np.floor(y / 1000.0 - Y0_KM).astype(np.int32)
            inside = ((x_idx >= 0) & (x_idx < NBINS_X)
                      & (y_idx >= 0) & (y_idx < NBINS_Y))
            aa, rr = np.meshgrid(az, rng_idx, indexing="ij")
            frames.append(pd.DataFrame({
                "RADAR": radar, "SWEEP": np.int32(sweep),
                "az_idx": aa[inside], "rng_idx": rr[inside],
                "x_idx": x_idx[inside], "y_idx": y_idx[inside],
                "height": np.repeat(h[None, :], n_az, axis=0)[inside]
                .astype(np.float32),
            }))
    return (spark.createDataFrame(pd.concat(frames, ignore_index=True))
            .localCheckpoint())


def station_to_pixel_lut(spark: SparkSession, stations: pd.DataFrame,
                         neighbours: int = 1) -> DataFrame:
    """STATION × (NX, NY) neighbourhood → grid pixel LUT.

    Reference ``station_to_qpegrid`` (common/lookup.py:435-478): each
    station maps to its pixel and the 8 neighbours (ncode '-1-1'..'11').
    """
    recs = []
    offs = range(-neighbours, neighbours + 1)
    for _, row in stations.iterrows():
        x_idx = int(np.floor(row["X"] / 1000.0 - X0_KM))
        y_idx = int(np.floor(row["Y"] / 1000.0 - Y0_KM))
        for nx in offs:
            for ny in offs:
                xi, yi = x_idx + nx, y_idx + ny
                if 0 <= xi < NBINS_X and 0 <= yi < NBINS_Y:
                    recs.append({"STATION": row["Abbrev"],
                                 "NX": np.int32(nx), "NY": np.int32(ny),
                                 "x_idx": np.int32(xi),
                                 "y_idx": np.int32(yi)})
    return spark.createDataFrame(pd.DataFrame.from_records(recs))

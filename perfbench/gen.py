"""Seeded input generators.  The same seed gives the same files.

The engine receives only what these functions write: npz polar volumes
(qpe_batch), parquet scan files renamed into a drop directory
(rt_stream), and gauge/radar/reference parquet tables with the
``rainforest_spark.testing.fixtures`` schema (db_research).
"""

from __future__ import annotations

import io
import os
from datetime import datetime, timezone

import numpy as np
import pandas as pd

#: Swiss radar sites (LV03 metres, altitude m) — the same coordinates
#: the engine's test fixtures use
RADAR_XYZ = {
    "A": (681201.0, 237604.0, 938.0),
    "D": (497057.0, 142408.0, 1682.0),
    "L": (707957.0, 99762.0, 1626.0),
    "P": (603687.0, 135476.0, 2937.0),
    "W": (779700.0, 189790.0, 2850.0),
}
RADARS = list(RADAR_XYZ)
CYCLE_S = 300
NO_DATA = -9999.0
#: 2024-06-01 00:00 UTC
T0 = 1717200000


def scan_name(radar: str, ts: int) -> str:
    """``<RADAR><yyDDDHHmm>.npz``, the ingest layer's filename stamp."""
    return radar + datetime.fromtimestamp(ts, timezone.utc) \
        .strftime("%y%j%H%M") + ".npz"


class StormField:
    """A few Gaussian rain cells drifting at one seeded velocity, so
    consecutive frames share structure and motion (km, seconds)."""

    def __init__(self, rng: np.random.Generator, n_cells: int = 6):
        self.cx = rng.uniform(480, 800, n_cells)
        self.cy = rng.uniform(60, 280, n_cells)
        self.sig = rng.uniform(8, 25, n_cells)
        self.amp = rng.uniform(0.4, 1.0, n_cells)
        self.v = rng.uniform(-0.01, 0.01, 2)          # km/s

    def __call__(self, x_km: np.ndarray, y_km: np.ndarray,
                 t: float) -> np.ndarray:
        f = np.zeros_like(x_km)
        for cx, cy, s, a in zip(self.cx, self.cy, self.sig, self.amp):
            dx = x_km - (cx + self.v[0] * t)
            dy = y_km - (cy + self.v[1] * t)
            f += a * np.exp(-(dx * dx + dy * dy) / (2 * s * s))
        return np.minimum(f, 1.0)


def _gate_xy_km(radar: str, n_az: int, n_rng: int,
                rng_res_m: float = 500.0):
    rx, ry, _ = RADAR_XYZ[radar]
    theta = np.deg2rad(np.arange(n_az))[:, None]
    r = (np.arange(n_rng) + 0.5)[None, :] * rng_res_m
    return (rx + np.sin(theta) * r) / 1000.0, (ry + np.cos(theta) * r) / 1000.0


def polar_sweep(rng: np.random.Generator, storm: StormField, radar: str,
                t: float, n_az: int, n_rng: int,
                visib: np.ndarray) -> dict[str, np.ndarray]:
    """One sweep: ZH/ZV in dBZ with ~5 % masked (NaN) gates, VISIB in %."""
    x, y = _gate_xy_km(radar, n_az, n_rng)
    zh = 5.0 + 45.0 * storm(x, y, t) + rng.normal(0.0, 2.0, x.shape)
    zh[rng.random(x.shape) < 0.05] = np.nan
    zv = zh - rng.uniform(0.0, 2.0, x.shape)
    return {"ZH": zh, "ZV": zv, "VISIB": visib}


def write_polar_drop(out_dir: str, seed: int, radars: list[str],
                     sweeps: list[int], n_ts: int, n_az: int,
                     n_rng: int) -> dict:
    """npz polar volumes for ``n_ts`` 5-min steps × ``radars``.

    Returns the generated volumes (for the output checks) keyed by
    (timestamp, radar): {sweep: {field: array}}.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    storm = StormField(rng)
    visib = {(r, s): rng.uniform(20.0, 100.0, (n_az, n_rng))
             for r in radars for s in sweeps}
    t_start = T0 + int(rng.integers(0, 300)) * 86400
    volumes = {}
    for k in range(n_ts):
        ts = t_start + k * CYCLE_S
        for radar in radars:
            vol = {s: polar_sweep(rng, storm, radar, k * CYCLE_S, n_az,
                                  n_rng, visib[(radar, s)])
                   for s in sweeps}
            buf = io.BytesIO()
            np.savez_compressed(buf, **{f"s{s}__{f}": a
                                        for s, fields in vol.items()
                                        for f, a in fields.items()})
            with open(os.path.join(out_dir, scan_name(radar, ts)),
                      "wb") as fh:
                fh.write(buf.getvalue())
            volumes[(ts, radar)] = vol
    return volumes


RT_SCHEMA = ("TIMESTAMP bigint, RADAR string, SWEEP int, az_idx int, "
             "rng_idx int, ZH double, VISIB double, zh_lin double")


def write_scan_stage(stage_dir: str, seed: int, radars: list[str],
                     n_frames: int, n_az: int, n_rng: int) -> list[tuple]:
    """Pre-serialised real-time scan files (one per 5-min frame, every
    radar's lowest sweep, linear reflectivity already masked — what the
    daemon receives).  Returns [(timestamp, staged path)] in time order;
    the drop is a rename from the stage into the watched directory."""
    os.makedirs(stage_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 1_000_003)
    storm = StormField(rng)
    t_start = T0 + int(rng.integers(0, 300)) * 86400
    az, rg = np.meshgrid(np.arange(n_az, dtype=np.int32),
                         np.arange(n_rng, dtype=np.int32), indexing="ij")
    out = []
    for k in range(n_frames):
        ts = t_start + k * CYCLE_S
        parts = []
        for radar in radars:
            sw = polar_sweep(rng, storm, radar, k * CYCLE_S, n_az, n_rng,
                             rng.uniform(40.0, 100.0, (n_az, n_rng)))
            zh = sw["ZH"].ravel()
            parts.append(pd.DataFrame({
                "TIMESTAMP": np.int64(ts), "RADAR": radar,
                "SWEEP": np.int32(1), "az_idx": az.ravel(),
                "rng_idx": rg.ravel(), "ZH": zh,
                "VISIB": sw["VISIB"].ravel(),
                "zh_lin": 10.0 ** (0.1 * zh)}))
        path = os.path.join(stage_dir, f"scan_{ts}.parquet")
        pd.concat(parts, ignore_index=True).to_parquet(path, index=False)
        out.append((ts, path))
    return out


# --------------------------------------------------------------------
# research database (testing.fixtures schema, scaled)

RADVARS = ["ZH", "ZV", "ZH_VISIB", "ZV_VISIB", "ZDR", "KDP", "RHOHV"]
RADAR_KEY = ["TIMESTAMP", "STATION", "RADAR", "SWEEP", "NX", "NY"]


def epoch_day(ts) -> np.ndarray:
    return (np.asarray(ts, dtype=np.int64) // 86400).astype(np.int32)


def _keep_hours(rng, ts: np.ndarray, p_drop_hour: float) -> np.ndarray:
    hours = (ts - 600) - (ts - 600) % 3600
    uniq = np.unique(hours)
    dropped = uniq[rng.random(len(uniq)) < p_drop_hour]
    return ~np.isin(hours, dropped)


class ResearchDB:
    """Seeded gauge/radar/reference/stations/radars tables.

    A latent per-(station, 10-min) rain rate drives both the gauge
    accumulation and the radar reflectivity, so the RF target is
    learnable.  ``radar`` is written day-partitioned (``day=<epoch
    day>``), the layout the daily upsert rewrites.
    """

    def __init__(self, seed: int, n_stations: int, n_days: int):
        self.rng = np.random.default_rng(seed)
        self.stations = [f"S{i:03d}" for i in range(n_stations)]
        self.t_start = T0 + int(self.rng.integers(0, 300)) * 86400
        self.ts = np.arange(self.t_start, self.t_start + n_days * 86400,
                            600, dtype=np.int64)
        self.days = sorted(set(epoch_day(self.ts).tolist()))

    def _rain(self, n: int) -> np.ndarray:
        return np.where(self.rng.random(n) < 0.5, 0.0,
                        self.rng.gamma(1.5, 1.2, n))

    def tables(self) -> dict[str, pd.DataFrame]:
        rng = self.rng
        gauges, radars, refs = [], [], []
        for sta in self.stations:
            rain = self._rain(len(self.ts))                  # mm/h latent
            g_keep = _keep_hours(rng, self.ts, 0.10)
            t = self.ts[g_keep]
            n = len(t)
            rre = np.round(rain[g_keep] / 6.0
                           * rng.uniform(0.8, 1.2, n), 2).astype(np.float32)
            rre[rng.random(n) < 0.02] = NO_DATA
            gauges.append(pd.DataFrame({
                "STATION": sta, "TIMESTAMP": t.astype(np.int32),
                "TRE200S0": rng.uniform(-15, 30, n).astype(np.float32),
                "PRESTAS0": rng.uniform(850, 1040, n).astype(np.float32),
                "URE200S0": rng.uniform(20, 100, n).astype(np.float32),
                "RRE150Z0": rre,
                "DKL010Z0": rng.uniform(0, 360, n).astype(np.float32),
                "FKL010Z0": rng.uniform(0, 15, n).astype(np.float32)}))
            r_keep = _keep_hours(rng, self.ts, 0.05)
            vis = [r for r in RADARS if rng.random() > 0.6] or ["A"]
            for rad in vis:
                for sweep in sorted(rng.choice(np.arange(1, 19), 2,
                                               replace=False)):
                    radars.append(self._radar_rows(
                        sta, rad, int(sweep), self.ts[r_keep],
                        rain[r_keep], 0, 0))
            f_keep = _keep_hours(rng, self.ts, 0.05)
            for nx in (-1, 0, 1):
                for ny in (-1, 0, 1):
                    refs.append(self._ref_rows(sta, self.ts[f_keep], nx, ny))
        radar = pd.concat(radars, ignore_index=True)
        radar["day"] = epoch_day(radar["TIMESTAMP"])
        return {
            "gauge": pd.concat(gauges, ignore_index=True),
            "radar": radar,
            "reference": pd.concat(refs, ignore_index=True),
            "stations": pd.DataFrame({
                "Abbrev": self.stations,
                "ID": np.arange(1, len(self.stations) + 1),
                "X": rng.uniform(480e3, 840e3, len(self.stations)).round(0),
                "Y": rng.uniform(60e3, 300e3, len(self.stations)).round(0),
                "Z": rng.uniform(200, 2500, len(self.stations)).round(0),
                "type": "SwissMetNet"}),
            "radars": pd.DataFrame(
                [{"RADAR": k, "X_rad": x, "Y_rad": y, "Z_rad": z}
                 for k, (x, y, z) in RADAR_XYZ.items()]),
        }

    def _radar_rows(self, sta: str, rad: str, sweep: int, t: np.ndarray,
                    rain: np.ndarray, nx: int, ny: int) -> pd.DataFrame:
        rng = self.rng
        n = len(t)
        zh = 10.0 * np.log10(316.0 * np.maximum(rain, 0.05) ** 1.5) \
            + rng.normal(0.0, 1.5, n)
        height = 500 + sweep * 250 + rng.uniform(0, 200, n)
        iso0 = rng.uniform(500, 4000, n)
        cols = {
            "TIMESTAMP": t.astype(np.int32), "STATION": sta, "RADAR": rad,
            "SWEEP": np.int8(sweep), "NX": np.int8(nx), "NY": np.int8(ny),
            "HEIGHT": height.astype(np.float32),
            "VPR": rng.uniform(0.3, 3.0, n).astype(np.float32),
            "RADPRECIP": rng.gamma(1.0, 1.0, n).astype(np.float32),
            "ISO0_HEIGHT": iso0.astype(np.float32),
            "T": rng.uniform(-20, 25, n).astype(np.float32),
            "VISIB_mean": rng.uniform(10, 100, n).astype(np.float32),
            "TCOUNT": rng.choice(np.array([1, 2, 3], np.int8), n),
            "height_over_iso0": (height - iso0).astype(np.float32),
        }
        for v in RADVARS:
            base = zh + rng.normal(0.0, 1.0, n) if v != "RHOHV" \
                else rng.uniform(0.8, 1.0, n)
            cols[f"{v}_mean"] = base.astype(np.float32)
            cols[f"{v}_max"] = (base + rng.uniform(0, 5, n)).astype(np.float32)
            cols[f"{v}_min"] = (base - rng.uniform(0, 5, n)).astype(np.float32)
        zh_mean = cols["ZH_mean"]
        zh_mean[rng.random(n) < 0.02] = np.float32(NO_DATA)
        return pd.DataFrame(cols)

    def _ref_rows(self, sta: str, t: np.ndarray, nx: int,
                  ny: int) -> pd.DataFrame:
        rng = self.rng
        n = len(t)

        def pos(a):
            return np.maximum(0.0, a - 0.5).astype(np.float32)
        return pd.DataFrame({
            "TIMESTAMP": t.astype(np.int32), "STATION": sta,
            "NX": np.int8(nx), "NY": np.int8(ny),
            "RZC": pos(rng.gamma(1.2, 1.5, n)),
            "CPC": pos(rng.gamma(1.2, 1.5, n)),
            "CPCH": pos(rng.gamma(1.2, 1.5, n)),
            "BZC": rng.uniform(0, 100, n).astype(np.float32),
            "MZC": rng.uniform(0, 4, n).astype(np.float32),
            "MVRZC_x": rng.uniform(-5, 5, n).astype(np.float32),
            "MVRZC_y": rng.uniform(-5, 5, n).astype(np.float32)})

    def revision(self, day: int, n_stations: int) -> pd.DataFrame:
        """A revised day for ``n_stations`` stations: re-delivered rows
        for existing keys plus a sweep (19 or 20) the base table never
        holds, so the upsert both replaces and adds keys."""
        rng = self.rng
        ts = self.ts[epoch_day(self.ts) == day]
        parts = []
        for sta in rng.choice(self.stations, n_stations, replace=False):
            rad = RADARS[int(rng.integers(0, len(RADARS)))]
            sweep = int(rng.choice([19, 20]))
            parts.append(self._radar_rows(str(sta), rad, sweep, ts,
                                          self._rain(len(ts)), 0, 0))
        out = pd.concat(parts, ignore_index=True)
        out["day"] = epoch_day(out["TIMESTAMP"])
        return out


def write_db(out_dir: str, tables: dict[str, pd.DataFrame]) -> dict[str, str]:
    """Parquet files; ``radar`` day-partitioned.  Returns name → path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, df in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if name == "radar":
            for day, part in df.groupby("day", sort=True):
                ddir = os.path.join(path, f"day={day}")
                os.makedirs(ddir, exist_ok=True)
                pq.write_table(
                    pa.Table.from_pandas(part.drop(columns="day"),
                                         preserve_index=False),
                    os.path.join(ddir, "part-0.parquet"))
        else:
            df.to_parquet(path, index=False)
        paths[name] = path
    return paths

"""Deterministic synthetic gauge/radar/reference tables (FIXTURES.md).

Mirrors the reference's three database tables and dimension tables with
the exact column names/dtypes (rainforest/common/constants.py:328-336
COL_TYPES; layouts per FIXTURES.md §1-4).  Seeded — every run produces
identical parquet, so DuckDB-oracle tests are reproducible.

Dropout is applied per HOUR (whole hours missing) plus a light per-row
dropout, so the complete-hour constraint (ml/rf.py:211-223) keeps a
meaningful fraction of rows while still being exercised.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

SEED = 42
NO_DATA = -9999.0

STATIONS = [f"ST{i:02d}" for i in range(10)] + ["SLF01", "OTL", "PAY"]
RADARS = ["A", "D", "L", "P", "W"]
RADAR_XYZ = {
    "A": (681201.0, 237604.0, 938.0),
    "D": (497057.0, 142408.0, 1682.0),
    "L": (707957.0, 99762.0, 1626.0),
    "P": (603687.0, 135476.0, 2937.0),
    "W": (779700.0, 189790.0, 2850.0),
}

T0 = 1717200000  # 2024-06-01 00:00 UTC, multiple of 3600


def _timestamps(days: int = 2) -> np.ndarray:
    """10-min grid over ``days`` with a >12 h gap (creates ≥2 events for
    the sessionization tests, ml/utils.py:71-126)."""
    day = 86400
    parts = [
        np.arange(T0 + 600, T0 + day + 600, 600),
        np.arange(T0 + day + 14 * 3600 + 600, T0 + 2 * day + 600, 600),
    ]
    return np.concatenate(parts).astype(np.int64)


def _hour_of(ts: np.ndarray) -> np.ndarray:
    """Gauge-hour bucket (T−600) − (T−600) % 3600 (ml/rf.py:211-213)."""
    s = ts - 600
    return s - s % 3600


def _keep_by_hour(rng, ts: np.ndarray, p_drop_hour: float,
                  p_drop_row: float) -> np.ndarray:
    hours = _hour_of(ts)
    uniq = np.unique(hours)
    dropped = set(uniq[rng.rand(len(uniq)) < p_drop_hour])
    keep = np.array([h not in dropped for h in hours])
    keep &= rng.rand(len(ts)) >= p_drop_row
    return keep


def gauge_table(rng: np.random.RandomState) -> pd.DataFrame:
    ts = _timestamps()
    rows = []
    for sta in STATIONS:
        t = ts[_keep_by_hour(rng, ts, 0.15, 0.02)]
        n = len(t)
        precip = np.where(rng.rand(n) < 0.5, 0.0,
                          np.round(rng.gamma(1.5, 1.2, n), 2)).astype(np.float32)
        precip[rng.rand(n) < 0.02] = NO_DATA
        rows.append(pd.DataFrame({
            "STATION": sta,
            "TIMESTAMP": t.astype(np.int32),
            "TRE200S0": np.round(rng.uniform(-15, 30, n), 1).astype(np.float32),
            "PRESTAS0": np.round(rng.uniform(850, 1040, n), 1).astype(np.float32),
            "URE200S0": np.round(rng.uniform(20, 100, n), 1).astype(np.float32),
            "RRE150Z0": precip,
            "DKL010Z0": np.round(rng.uniform(0, 360, n), 0).astype(np.float32),
            "FKL010Z0": np.round(rng.uniform(0, 15, n), 2).astype(np.float32),
        }))
    return pd.concat(rows, ignore_index=True)


def radar_table(rng: np.random.RandomState) -> pd.DataFrame:
    ts = _timestamps()
    recs = []
    radvars = ["ZH", "ZV", "ZH_VISIB", "ZV_VISIB", "ZDR", "KDP", "RHOHV"]
    for sta in STATIONS[:11]:
        vis_radars = [r for r in RADARS if rng.rand() > 0.4] or ["A"]
        sweeps = {r: sorted(rng.choice(range(1, 21),
                                       size=rng.randint(2, 5),
                                       replace=False)) for r in vis_radars}
        for t in ts[_keep_by_hour(rng, ts, 0.10, 0.0)]:
            for rad in vis_radars:
                for sweep in sweeps[rad]:
                    for nx, ny in [(0, 0)] + [
                            (x, y) for x in (-1, 0, 1) for y in (-1, 0, 1)
                            if not (x == 0 and y == 0) and rng.rand() < 0.25]:
                        height = np.float32(500 + sweep * 250
                                            + rng.uniform(0, 200))
                        rec = {
                            "TIMESTAMP": np.int32(t),
                            "STATION": sta, "RADAR": rad,
                            "SWEEP": np.int8(sweep),
                            "NX": np.int8(nx), "NY": np.int8(ny),
                            "HEIGHT": height,
                            "VPR": np.float32(rng.uniform(0.3, 3.0)),
                            "RADPRECIP": np.float32(rng.gamma(1.0, 1.0)),
                            "ISO0_HEIGHT": np.float32(rng.uniform(500, 4000)),
                            "T": np.float32(rng.uniform(-20, 25)),
                            "VISIB_mean": np.float32(rng.uniform(10, 100)),
                            "TCOUNT": np.int8(rng.choice([1, 2, 3])),
                        }
                        rec["height_over_iso0"] = np.float32(
                            rec["HEIGHT"] - rec["ISO0_HEIGHT"])
                        for v in radvars:
                            base = rng.uniform(-5, 50)
                            rec[f"{v}_mean"] = np.float32(base)
                            rec[f"{v}_max"] = np.float32(base + rng.uniform(0, 5))
                            rec[f"{v}_min"] = np.float32(base - rng.uniform(0, 5))
                        if rng.rand() < 0.02:
                            rec["ZH_mean"] = np.float32(NO_DATA)
                        recs.append(rec)
    df = pd.DataFrame.from_records(recs)
    # a few exact duplicates to exercise dedup (FIXTURES.md §2 key note)
    return pd.concat([df, df.iloc[:25]], ignore_index=True)


def reference_table(rng: np.random.RandomState) -> pd.DataFrame:
    ts = _timestamps()
    recs = []
    for sta in STATIONS[:11]:
        for t in ts[_keep_by_hour(rng, ts, 0.05, 0.0)]:
            for nx in (-1, 0, 1):
                for ny in (-1, 0, 1):
                    rzc = max(0.0, rng.gamma(1.2, 1.5) - 0.5)
                    recs.append({
                        "TIMESTAMP": np.int32(t), "STATION": sta,
                        "NX": np.int8(nx), "NY": np.int8(ny),
                        "RZC": np.float32(0.0 if rzc < 0.04 else rzc),
                        "CPC": np.float32(max(0.0, rng.gamma(1.2, 1.5) - 0.5)),
                        "CPCH": np.float32(max(0.0, rng.gamma(1.2, 1.5) - 0.5)),
                        "BZC": np.float32(rng.uniform(0, 100)),
                        "MZC": np.float32(rng.uniform(0, 4)),
                        "MVRZC_x": np.float32(rng.uniform(-5, 5)),
                        "MVRZC_y": np.float32(rng.uniform(-5, 5)),
                    })
    return pd.DataFrame.from_records(recs)


def stations_table(rng: np.random.RandomState) -> pd.DataFrame:
    return pd.DataFrame({
        "Abbrev": STATIONS,
        "ID": np.arange(1, len(STATIONS) + 1),
        "X": rng.uniform(480e3, 840e3, len(STATIONS)).round(0),
        "Y": rng.uniform(60e3, 300e3, len(STATIONS)).round(0),
        "Z": rng.uniform(200, 2500, len(STATIONS)).round(0),
        "type": ["SwissMetNet" if i % 3 else "PrecipStation"
                 for i in range(len(STATIONS))],
    })


def radars_table() -> pd.DataFrame:
    return pd.DataFrame(
        [{"RADAR": k, "X_rad": x, "Y_rad": y, "Z_rad": z}
         for k, (x, y, z) in RADAR_XYZ.items()])


def write_fixtures(out_dir: str) -> dict[str, str]:
    """Write all fixture tables as parquet; returns name → path."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.RandomState(SEED)
    tables = {
        "gauge": gauge_table(rng),
        "radar": radar_table(rng),
        "reference": reference_table(rng),
        "stations": stations_table(rng),
        "radars": radars_table(),
    }
    paths = {}
    for name, df in tables.items():
        p = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(p, index=False)
        paths[name] = p
    return paths

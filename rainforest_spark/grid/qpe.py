"""QPE compositing pipeline as DataFrame jobs.

Re-expresses qpe/qpe.py:324-811 (per-timestep numpy pipeline) as:

    polar long DF
      → SNR / visibility masks (P11/P12 — column expressions)
      → broadcast-join polar→Cartesian LUT (J7)
      → scatter-add mean per pixel (A9 — groupBy agg, replaces the
        numba add_at kernels common/add_at.py:1-24)
      → weighted vertical compositing across sweeps/radars (A10)
      → rain rate + temporal windows (W5/W6)

Scale shape: everything shuffles on (timestamp, x_idx, y_idx) — uniform
keys, map-side partial aggregation first; the LUT join is broadcast so
polar rows never shuffle for geometry.

``compile_lut`` + ``composite_frames`` are the dense numpy twin of
``rain_rate(vertical_composite(polar_to_grid(...)))`` for gates already
collected into pandas, as the reference builds its composite (LUT indexing and
scatter-add, qpe/qpe.py:324-811, common/add_at.py): one sorted-key join
and two bincount aggregations, no intermediate relation.  The RT stream
composites with it; the DataFrame operators stay the batch path and
the arbiter.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def apply_polar_masks(polar: DataFrame, snr_threshold: float = 3.0,
                      min_visib: float = 37.0,
                      max_visib_corr: float = 2.0) -> DataFrame:
    """SNR mask + visibility mask & correction on the long polar table.

    Reference: radarprocessing.py:116-142 (mask where ZH − NH < thr) and
    :144-182 (mask VISIB < min, multiply linear Z by min(100/VISIB, max)).
    """
    out = polar
    if "NH" in polar.columns:
        snr_bad = (F.col("ZH") - F.col("NH")) < snr_threshold
        for c in ("ZH", "ZV", "ZDR", "RHOHV", "KDP"):
            if c in polar.columns:
                out = out.withColumn(
                    c, F.when(snr_bad, None).otherwise(F.col(c)))
    vis_bad = F.col("VISIB") < min_visib
    corr = F.least(F.lit(100.0) / F.col("VISIB"), F.lit(max_visib_corr))
    zlin = F.pow(F.lit(10.0), 0.1 * F.col("ZH")) * corr
    return (out.withColumn("zh_lin",
                           F.when(vis_bad | F.col("ZH").isNull(), None)
                           .otherwise(zlin)))


#: gate-key columns of the LUT join, most significant first
GATE_KEY = ["RADAR", "SWEEP", "az_idx", "rng_idx"]


def polar_to_grid(polar: DataFrame, lut: DataFrame,
                  value_cols: list[str]) -> DataFrame:
    """J7 + A9: LUT equi-join then per-pixel mean (scatter-add ÷ count).

    Reference: qpe/qpe_utils.py:31-75 ``pol_to_cart`` — numba
    ``add_at`` accumulate + divide; here ``groupBy(pixel).avg`` with
    map-side combine.
    """
    joined = polar.join(broadcast(lut), on=GATE_KEY, how="inner")
    aggs = [F.avg(c).alias(c) for c in value_cols]
    aggs.append(F.count(F.lit(1)).alias("n_gates"))
    aggs.append(F.max(F.col(value_cols[0]).isNotNull().cast("int"))
                .alias("any_valid"))
    keys = ["RADAR", "SWEEP", "x_idx", "y_idx"]
    if "TIMESTAMP" in polar.columns:
        keys = ["TIMESTAMP"] + keys
    return joined.groupBy(*keys).agg(*aggs, F.avg("height").alias("height"))


#: height weighting exponent of the vertical composite (qpe/qpe.py:613-656)
BETA = -0.5
#: Marshall-Palmer Z = a·R^b (constants A_QPE / B_QPE)
A_QPE, B_QPE = 316.0, 1.5


def vertical_composite(grid_sweeps: DataFrame, value_cols: list[str],
                       beta: float = BETA,
                       visib_col: str | None = "VISIB") -> DataFrame:
    """A10: weighted vertical aggregation of sweep/radar grids per pixel.

    Reference qpe/qpe.py:613-656: running Σ var·W·valid and Σ W·valid with
    W = 10^(β·h/1000)·(visib/100), then the ratio (:670-676).
    """
    w = F.pow(F.lit(10.0), beta * F.col("height") / 1000.0)
    if visib_col and visib_col in grid_sweeps.columns:
        w = w * F.col(visib_col) / 100.0
    wdf = grid_sweeps.withColumn("__w", w)
    keys = [c for c in ("TIMESTAMP", "x_idx", "y_idx")
            if c in grid_sweeps.columns]
    aggs = []
    for c in value_cols:
        valid_w = F.when(F.col(c).isNotNull(), F.col("__w"))
        aggs.append((F.sum(F.col(c) * valid_w) / F.sum(valid_w)).alias(c))
    aggs.append(F.sum("__w").alias("w_total"))
    return wdf.groupBy(*keys).agg(*aggs)


def rain_rate(composite: DataFrame, zh_lin_col: str = "zh_lin",
              a: float = A_QPE, b: float = B_QPE) -> DataFrame:
    """Marshall-Palmer inversion R = (Z/a)^(1/b) with the ZH validity mask
    (P13, qpe/qpe.py:569-577 + constants A_QPE/B_QPE)."""
    r = F.pow(F.col(zh_lin_col) / a, 1.0 / b)
    return composite.withColumn(
        "rain_rate", F.when(F.col(zh_lin_col).isNull(), None)
        .otherwise(F.greatest(r, F.lit(0.0))))


class CompiledLut(NamedTuple):
    """The LUT as sorted arrays (``compile_lut``)."""
    radars: np.ndarray      # sorted RADAR names; a radar's code is its index
    lo: list                # per gate-key column: smallest value
    span: list              # per gate-key column: number of values
    key: np.ndarray         # int64 gate keys, sorted
    pixel: np.ndarray       # each gate's row in ``pixels``
    pixels: np.ndarray      # distinct (x_idx, y_idx) pairs
    height: np.ndarray      # each gate's height, float64


def _gate_key(parts, lo, span):
    """Mixed-radix int64 key of the gate-key columns (RADAR as code)."""
    key = parts[0].astype(np.int64)
    for p, lo_, sp in zip(parts[1:], lo[1:], span[1:]):
        key = key * sp + (p - lo_)
    return key


def compile_lut(lut_pdf) -> CompiledLut:
    """Compile the LUT (pandas: RADAR, SWEEP, az_idx, rng_idx, x_idx,
    y_idx, height) once for ``composite_frames``: int64 gate keys over
    (RADAR code, SWEEP, az_idx, rng_idx), sorted, with each gate's pixel
    and height in the same order.  A duplicate gate key raises
    ``ValueError`` — the join would fan that gate out."""
    import pandas as pd

    code, radars = pd.factorize(lut_pdf["RADAR"], sort=True)
    parts = [code] + [lut_pdf[c].to_numpy(np.int64) for c in GATE_KEY[1:]]
    lo = [0] + [int(p.min(initial=0)) for p in parts[1:]]
    span = [len(radars)] + [int(p.max(initial=0)) - lo_ + 1
                            for p, lo_ in zip(parts[1:], lo[1:])]
    if np.prod(np.array(span, dtype=np.float64)) >= 2.0 ** 63:
        raise ValueError("LUT gate keys do not fit in int64")
    key = _gate_key(parts, lo, span)
    order = np.argsort(key, kind="stable")
    key = key[order]
    if (key[1:] == key[:-1]).any():
        raise ValueError("LUT has a duplicate (RADAR, SWEEP, az_idx, "
                         "rng_idx) gate key")
    x = lut_pdf["x_idx"].to_numpy(np.int64)[order]
    y = lut_pdf["y_idx"].to_numpy(np.int64)[order]
    y0 = int(y.min(initial=0))
    ny = int(y.max(initial=0)) - y0 + 1
    xy, pixel = np.unique(x * ny + (y - y0), return_inverse=True)
    pixels = np.stack([xy // ny, xy % ny + y0], axis=1)
    return CompiledLut(radars.to_numpy(), lo, span, key, pixel, pixels,
                       lut_pdf["height"].to_numpy(np.float64)[order])


def composite_frames(gates, lut: CompiledLut):
    """Dense numpy twin of ``rain_rate(vertical_composite(polar_to_grid(
    gates, lut, ["zh_lin"]), ["zh_lin"], visib_col=None))`` with the
    same row semantics, on a pandas frame of gates (TIMESTAMP, RADAR,
    SWEEP, az_idx, rng_idx, zh_lin; null as NaN) in any order:

    - inner join: a gate with no LUT match (unknown radar, index beyond
      the LUT, null key) drops out;
    - per (TIMESTAMP, RADAR, SWEEP, pixel) slot: mean ``zh_lin``
      ignoring nulls, mean height over all matched gates;
    - per (TIMESTAMP, pixel): ``w = 10^(β·h/1000)``, ``zh_lin = Σz·w /
      Σw`` over the slots with a valid mean (null if none), ``w_total =
      Σw`` over all slots, Marshall-Palmer ``rain_rate`` null where
      ``zh_lin`` is; a pixel is emitted if any gate maps to it.

    Returns pandas TIMESTAMP long, x_idx int, y_idx int, zh_lin,
    w_total, rain_rate (nulls as NaN)."""
    import pandas as pd

    radar = pd.Categorical(gates["RADAR"], categories=lut.radars)
    parts, ok = [radar.codes], radar.codes >= 0
    for c, lo_, sp in zip(GATE_KEY[1:], lut.lo[1:], lut.span[1:]):
        v = gates[c].fillna(lo_ - 1).to_numpy(np.int64)
        ok &= (v >= lo_) & (v < lo_ + sp)
        parts.append(v)
    key = _gate_key(parts, lut.lo, lut.span)
    at = np.searchsorted(lut.key, key)
    hit = at < len(lut.key)
    hit[hit] = lut.key[at[hit]] == key[hit]
    ok &= hit
    at = at[ok]
    ts = gates["TIMESTAMP"].to_numpy(np.int64)[ok]
    z = gates["zh_lin"].to_numpy(np.float64)[ok]
    # slot = (TIMESTAMP, pixel, RADAR·SWEEP), polar_to_grid's groups;
    # dividing out the RADAR·SWEEP code leaves the frame pixel
    n_rs = lut.span[0] * lut.span[1]
    n_pix = max(len(lut.pixels), 1)
    times, t_code = np.unique(ts, return_inverse=True)
    rs = lut.key[at] // (lut.span[2] * lut.span[3])
    slot = (t_code * n_pix + lut.pixel[at]) * n_rs + rs
    slots, g2s = np.unique(slot, return_inverse=True)
    frames, s2f = np.unique(slots // n_rs, return_inverse=True)
    valid = ~np.isnan(z)
    with np.errstate(invalid="ignore", divide="ignore"):
        z_mean = (np.bincount(g2s, weights=np.where(valid, z, 0.0))
                  / np.bincount(g2s, weights=valid))
        h_mean = (np.bincount(g2s, weights=lut.height[at])
                  / np.bincount(g2s))
        w = 10.0 ** (BETA * h_mean / 1000.0)
        has = ~np.isnan(z_mean)
        zh = (np.bincount(s2f, weights=np.where(has, z_mean * w, 0.0))
              / np.bincount(s2f, weights=np.where(has, w, 0.0)))
        rr = np.maximum((zh / A_QPE) ** (1.0 / B_QPE), 0.0)
    xy = lut.pixels[frames % n_pix]
    return pd.DataFrame({
        "TIMESTAMP": times[frames // n_pix],
        "x_idx": xy[:, 0].astype(np.int32),
        "y_idx": xy[:, 1].astype(np.int32),
        "zh_lin": zh, "w_total": np.bincount(s2f, weights=w),
        "rain_rate": rr})


def temporal_smooth(grids: DataFrame, value_col: str = "rain_rate",
                    proxy_col: str | None = None) -> DataFrame:
    """W5 two-frame sliding mean + W6 disaggregation ratio per pixel.

    Reference qpe/qpe.py:680-733.  One window shuffle on (pixel), ordered
    by time.
    """
    w = (Window.partitionBy("x_idx", "y_idx").orderBy("TIMESTAMP")
         .rowsBetween(-1, 0))
    out = grids.withColumn(f"{value_col}_2frame", F.avg(value_col).over(w))
    if proxy_col:
        mean2 = F.avg(proxy_col).over(w)
        out = out.withColumn(
            "disag_ratio",
            F.when(mean2 > 0, F.col(proxy_col) / mean2).otherwise(None))
        out = out.withColumn(
            value_col + "_disag",
            F.col(f"{value_col}_2frame") * F.coalesce(F.col("disag_ratio"),
                                                      F.lit(1.0)))
    return out


def temporal_smooth_frames(series, value_col: str = "rain_rate",
                           proxy_col: str | None = None):
    """numpy twin of ``temporal_smooth`` for a driver-side pandas series
    of long (TIMESTAMP, x_idx, y_idx, ...) rows — the daemon's per-frame
    W5/W6 step (qpe/qpe.py:680-733) without a window shuffle.

    Same row semantics: a pixel's previous row is its most recent
    earlier frame in ``series`` (a frame it is missing from is skipped,
    a null value still counts as the row); the two-row mean ignores
    nulls like ``avg``; ``disag_ratio`` is null unless the proxy mean
    is > 0.  Returns a copy of ``series`` with the same added columns
    (nulls as NaN)."""
    import numpy as np

    out = series.reset_index(drop=True)
    # per-pixel time order, as the window's partitionBy/orderBy
    order = np.lexsort((out["TIMESTAMP"].to_numpy(),
                        out["y_idx"].to_numpy(), out["x_idx"].to_numpy()))
    xs = out["x_idx"].to_numpy()[order]
    ys = out["y_idx"].to_numpy()[order]
    same_pixel = (xs[1:] == xs[:-1]) & (ys[1:] == ys[:-1])

    def mean2(col):
        v = out[col].to_numpy(np.float64)
        prev_sorted = np.full(len(v), np.nan)
        prev_sorted[1:] = np.where(same_pixel, v[order][:-1], np.nan)
        prev = np.empty_like(v)
        prev[order] = prev_sorted
        n = (~np.isnan(prev)).astype(np.float64) + ~np.isnan(v)
        with np.errstate(invalid="ignore"):
            return (np.nan_to_num(prev) + np.nan_to_num(v)) / n

    out[f"{value_col}_2frame"] = mean2(value_col)
    if proxy_col:
        m = mean2(proxy_col)
        with np.errstate(invalid="ignore", divide="ignore"):
            ratio = np.where(m > 0, out[proxy_col].to_numpy(np.float64) / m,
                             np.nan)
        out["disag_ratio"] = ratio
        out[value_col + "_disag"] = (out[f"{value_col}_2frame"].to_numpy()
                                     * np.where(np.isnan(ratio), 1.0, ratio))
    return out


def grid_to_matrix(grid_df, value_col: str, nx: int = 710, ny: int = 640):
    """Collect one timestep's sparse pixel rows into a dense numpy grid —
    the ODIM/GIF sink boundary (driver-side by design, like the
    reference's save_output; only ~454k float32 per map).

    Row order follows the reference raster convention (constants.py
    X_QPE 480..-160 DESCENDING): row 0 is the northernmost 1-km band, so
    the matrix is (640 northing rows, 710 easting cols)."""
    import numpy as np

    pdf = grid_df.select("x_idx", "y_idx", value_col).toPandas()
    m = np.full((ny, nx), np.nan, dtype=np.float32)
    m[ny - 1 - pdf["y_idx"].to_numpy(), pdf["x_idx"].to_numpy()] = \
        pdf[value_col].to_numpy(dtype=np.float32)
    return m

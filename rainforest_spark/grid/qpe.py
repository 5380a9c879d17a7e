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
"""

from __future__ import annotations

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


def polar_to_grid(polar: DataFrame, lut: DataFrame,
                  value_cols: list[str]) -> DataFrame:
    """J7 + A9: LUT equi-join then per-pixel mean (scatter-add ÷ count).

    Reference: qpe/qpe_utils.py:31-75 ``pol_to_cart`` — numba
    ``add_at`` accumulate + divide; here ``groupBy(pixel).avg`` with
    map-side combine.
    """
    joined = polar.join(broadcast(lut), on=["RADAR", "SWEEP", "az_idx",
                                            "rng_idx"], how="inner")
    aggs = [F.avg(c).alias(c) for c in value_cols]
    aggs.append(F.count(F.lit(1)).alias("n_gates"))
    aggs.append(F.max(F.col(value_cols[0]).isNotNull().cast("int"))
                .alias("any_valid"))
    keys = ["RADAR", "SWEEP", "x_idx", "y_idx"]
    if "TIMESTAMP" in polar.columns:
        keys = ["TIMESTAMP"] + keys
    return joined.groupBy(*keys).agg(*aggs, F.avg("height").alias("height"))


def vertical_composite(grid_sweeps: DataFrame, value_cols: list[str],
                       beta: float = -0.5,
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
              a: float = 316.0, b: float = 1.5) -> DataFrame:
    """Marshall-Palmer inversion R = (Z/a)^(1/b) with the ZH validity mask
    (P13, qpe/qpe.py:569-577 + constants A_QPE/B_QPE)."""
    r = F.pow(F.col(zh_lin_col) / a, 1.0 / b)
    return composite.withColumn(
        "rain_rate", F.when(F.col(zh_lin_col).isNull(), None)
        .otherwise(F.greatest(r, F.lit(0.0))))


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

"""Verification scores (SURVEY §2.4 A13/A14).

Reference ``perfscores`` (common/utils.py:76-166): RMSE, logBias, the
Germann-scatter (weighted-quantile spread of the dB error), contingency
counts, correlation.  All but the energy distance are pure SQL
expressions; energy distance is a pandas UDAF (grouped applyInPandas).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def perfscores(df: DataFrame, est_col: str, ref_col: str,
               group_cols: list[str] | None = None,
               min_ref: float = 0.1) -> DataFrame:
    """RMSE / logBias / N / means on the double-conditional subset.

    Reference common/utils.py:76-137: scores computed where both estimate
    and reference exceed ``min_ref`` ("double conditional"); logBias is
    ``10·log10(Σest/Σref)``.
    """
    cond = (F.col(est_col) > min_ref) & (F.col(ref_col) > min_ref)
    d = df.filter(cond)
    err = F.col(est_col) - F.col(ref_col)
    aggs = [
        F.count(F.lit(1)).alias("N"),
        F.sqrt(F.avg(err * err)).alias("RMSE"),
        (10.0 * F.log10(F.sum(est_col) / F.sum(ref_col))).alias("logBias"),
        F.avg(est_col).alias("est_mean"),
        F.avg(ref_col).alias("ref_mean"),
        F.corr(est_col, ref_col).alias("corr_p"),
    ]
    return d.groupBy(*(group_cols or [])).agg(*aggs)


def scatter_score(df: DataFrame, est_col: str, ref_col: str,
                  group_cols: list[str] | None = None,
                  min_ref: float = 0.1) -> DataFrame:
    """Germann scatter: half the distance between the weighted 16% and 84%
    quantiles of the dB error, weights ∝ reference precip.

    Reference common/utils.py:139-166 + weighted quantile :294-369.
    The cumulative weight is a window per group: grid/evaluation's
    10-group × station-hour shape measured SUBlinear through 100× on
    this plan.  Both quantiles come out of one pass.
    """
    group_cols = group_cols or []
    cond = (F.col(est_col) > min_ref) & (F.col(ref_col) > min_ref)
    d = df.filter(cond).withColumn(
        "__db_err", 10.0 * F.log10(F.col(est_col) / F.col(ref_col)))
    ws = (Window.partitionBy(*[F.col(c) for c in group_cols])
          .orderBy(F.col("__db_err"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wt = Window.partitionBy(*[F.col(c) for c in group_cols])
    cum = (d.withColumn("__cw", F.sum(ref_col).over(ws))
            .withColumn("__tw", F.sum(ref_col).over(wt)))
    cum = cum.withColumn("__q", F.col("__cw") / F.col("__tw"))
    # both quantiles in ONE pass: rows past the 16% cut, with the 84%
    # quantile as a conditional min — one groupBy, no self-join
    out = (cum.filter(F.col("__q") >= 0.16)
           .groupBy(*group_cols)
           .agg(F.min("__db_err").alias("q16"),
                F.min(F.when(F.col("__q") >= 0.84,
                             F.col("__db_err"))).alias("q84")))
    return out.withColumn("scatter", (F.col("q84") - F.col("q16")) / 2.0) \
              .select(*group_cols, "scatter")


def contingency(df: DataFrame, est_col: str, ref_col: str, threshold: float,
                group_cols: list[str] | None = None) -> DataFrame:
    """Hit/miss/false-alarm/correct-negative counts vs a threshold.

    Reference A14 (performance/eval_calculate.py:30-112).
    """
    e = F.col(est_col) > threshold
    r = F.col(ref_col) > threshold
    aggs = [
        F.sum((e & r).cast("long")).alias("hits"),
        F.sum(((~e) & r).cast("long")).alias("misses"),
        F.sum((e & (~r)).cast("long")).alias("false_alarms"),
        F.sum(((~e) & (~r)).cast("long")).alias("correct_neg"),
    ]
    return df.groupBy(*(group_cols or [])).agg(*aggs)


def energy_distance(df: DataFrame, est_col: str, ref_col: str,
                    group_cols: list[str]) -> DataFrame:
    """Energy distance between est and ref samples per group.

    Reference uses scipy.stats.energy_distance (common/utils.py:148) — a
    genuinely non-SQL statistic; realized as a grouped Arrow-batched
    ``applyInPandas`` (the reference's only UDAF-shaped score).
    """
    import numpy as np
    import pandas as pd

    schema = ", ".join(f"{c} string" for c in group_cols) + ", energy_dist double"

    def _ed(pdf: pd.DataFrame) -> pd.DataFrame:
        x = np.sort(pdf[est_col].to_numpy(dtype=float))
        y = np.sort(pdf[ref_col].to_numpy(dtype=float))
        n, m = len(x), len(y)
        # E|X-X'|, E|Y-Y'| via sorted pair sums
        def mean_abs_diff_sorted(a):
            k = len(a)
            if k < 2:
                return 0.0
            idx = np.arange(k)
            return float(2.0 * np.sum((2 * idx - k + 1) * a) / (k * k))
        # E|X-Y| via sorted prefix sums (O((n+m)·log n)) — an n×m outer
        # product would blow memory on large groups:
        # Σᵢ|xᵢ−yⱼ| = yⱼ·(2cⱼ−n) + Sx − 2·prefxⱼ with cⱼ = #{x ≤ yⱼ}
        if n and m:
            prefx = np.concatenate(([0.0], np.cumsum(x)))
            c = np.searchsorted(x, y, side="right")
            xy = float(np.sum(y * (2 * c - n) + (prefx[n] - 2 * prefx[c]))
                       / (n * m))
        else:
            xy = 0.0
        ed2 = 2 * xy - mean_abs_diff_sorted(x) - mean_abs_diff_sorted(y)
        out = {c: [pdf[c].iloc[0]] for c in group_cols}
        out["energy_dist"] = [float(np.sqrt(max(ed2, 0.0)))]
        return pd.DataFrame(out)

    return df.groupBy(*group_cols).applyInPandas(_ed, schema=schema)

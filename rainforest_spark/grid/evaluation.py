"""QPE-run evaluation pipeline (reference qpe/evaluation.py:54-240,
performance/eval_get_estimates.py:61-74,404-421).

The reference walks a directory of QPE grids per model, extracts the
grid value at each gauge-station pixel through the station→pixel lookup
table, averages the (usually 2) files inside each 10-min slot, keeps
slots where every model is present, compares against gauge precip
(RRE150Z0·6), aggregates complete hours (6 slots), and emits per-model
per-intensity-bound score tables at both resolutions.

Spark-first composition — every step reuses an existing operator:

- grids arrive LONG (model, timestep, file_id, x_idx, y_idx, value),
  the shape ``load_grid_gif``/``load_grid_npz`` produce, so a year of
  grids is one partitioned scan, not a driver loop over files;
- the station→pixel LUT (grid/lookup.py station_to_pixel_lut) is a tiny
  dimension → broadcast hash join, fact rows never shuffle for it;
- the per-slot model-completeness rule and the complete-hour rule are
  computed on the DISTINCT (timestep[, model]) dimension — small — and
  broadcast back (the ml/dataset.py distinct-dim pattern);
- scores come from operators/scores.perfscores + scatter_score, grouped
  by (model, bound): one shuffle per resolution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from rainforest_spark.operators.scores import perfscores, scatter_score

#: reference evaluation.py:54-66 defaults
BOUNDS_10MIN = (0.0, 2.0, 10.0, 100.0)
BOUNDS_60MIN = (0.0, 1.0, 10.0, 100.0)


def station_series(grids: DataFrame, lut: DataFrame,
                   model_col: str = "model", ts_col: str = "timestep",
                   file_col: str = "file_id", value_col: str = "value",
                   station_col: str = "STATION",
                   min_files: int = 2) -> DataFrame:
    """Grid values at station pixels, averaged over the files of each
    10-min slot (reference evaluation.py:127-146).

    ``lut`` columns: (STATION, x_idx, y_idx).  Slots backed by fewer
    than ``min_files`` files for a model are dropped (evaluation.py:
    88-93), and slots missing any model are dropped (:95-101), so every
    model is scored on the same sample.
    """
    at_st = grids.join(broadcast(lut), on=["x_idx", "y_idx"])
    est = (at_st.groupBy(model_col, ts_col, station_col)
           .agg(F.avg(value_col).alias("est_mmh")))

    # ≥ min_files rule on the per-(model, slot) file dimension (small)
    files = (grids.select(model_col, ts_col, file_col).distinct()
             .groupBy(model_col, ts_col)
             .agg(F.countDistinct(file_col).alias("__nf"))
             .filter(F.col("__nf") >= min_files).drop("__nf"))
    est = est.join(broadcast(files), on=[model_col, ts_col])

    # all-models-present rule on the distinct (slot, model) dimension
    per_ts = (files.groupBy(ts_col)
              .agg(F.countDistinct(model_col).alias("__nm")))
    nmax = per_ts.agg(F.max("__nm").alias("__mx"))
    complete = (per_ts.crossJoin(broadcast(nmax))
                .filter(F.col("__nm") == F.col("__mx")).select(ts_col))
    return est.join(broadcast(complete), on=ts_col)


def hourly_rollup(df: DataFrame, ts_col: str, group_cols: list[str],
                  value_col: str, out_col: str,
                  slots_per_hour: int = 6) -> DataFrame:
    """Mean over the slots of COMPLETE hours (evaluation.py:155-176:
    only hours with all ``slots_per_hour`` 10-min slots count)."""
    hour = (F.floor(F.col(ts_col) / 3600) * 3600).cast("long").alias("hour")
    slots = df.select(ts_col).distinct().groupBy(hour).agg(
        F.count(F.lit(1)).alias("__ns"))
    full = slots.filter(F.col("__ns") == slots_per_hour).select("hour")
    return (df.withColumn("hour", hour)
            .join(broadcast(full), on="hour")
            .groupBy("hour", *group_cols)
            .agg(F.avg(value_col).alias(out_col)))


def _bounded_scores(df: DataFrame, est_col: str, ref_col: str,
                    bounds, agg_label: str, model_col: str,
                    min_ref: float) -> DataFrame:
    """perfscores + scatter per (model, ref-intensity bound), with the
    unbounded 'all' rows always included (common/utils.py:116-129)."""
    valid = df.filter((F.col(est_col) >= 0) & (F.col(ref_col) >= 0))
    cls = F.lit(None).cast("string")
    for i in range(len(bounds) - 1):
        lo, hi = float(bounds[i]), float(bounds[i + 1])
        cls = F.when((F.col(ref_col) >= lo) & (F.col(ref_col) < hi),
                     F.lit(f"{lo:2.1f}-{hi:2.1f}")).otherwise(cls)
    u = valid.withColumn("bound", F.lit("all")).unionByName(
        valid.withColumn("bound", cls).filter(F.col("bound").isNotNull()))
    sc = perfscores(u, est_col, ref_col, [model_col, "bound"], min_ref)
    # (model × bound) ≈ 10 groups over station-hour pairs gives the
    # window sort enough parallelism — this plan measured SUBlinear
    # through 100× (sf10, round 6: 2.2× at 100× data)
    sct = scatter_score(u, est_col, ref_col, [model_col, "bound"],
                        min_ref)
    return (sc.join(sct, on=[model_col, "bound"], how="left")
            .withColumn("agg", F.lit(agg_label)))


def evaluate_qpe(grids: DataFrame, gauge: DataFrame, lut: DataFrame,
                 model_col: str = "model", ts_col: str = "timestep",
                 file_col: str = "file_id", value_col: str = "value",
                 station_col: str = "STATION", ref_col: str = "ref_mmh",
                 bounds10=BOUNDS_10MIN, bounds60=BOUNDS_60MIN,
                 min_files: int = 2, slots_per_hour: int = 6,
                 min_ref: float = 0.1, materialize: bool = True) -> DataFrame:
    """The composed evaluation job: per-model scores at 10-min and
    hourly resolution, per intensity bound.

    ``gauge`` columns: (STATION, <ts_col>, <ref_col>) — the reference's
    RRE150Z0·6 mm/h series.  Returns one DataFrame with columns
    (agg, model, bound, N, RMSE, logBias, est_mean, ref_mean, corr_p,
    scatter); ``agg`` ∈ {'10min', '60min'}.

    ``materialize`` (default on): the station series is consumed by
    every score arm (perfscores + scatter × bounds × both resolutions)
    — without a pipeline breaker the whole grids-scan→LUT-join→slot-agg
    subtree re-executes per arm (~8×; measured 2.3× wall on the bench).
    The series is TINY after aggregation (models × slots × stations —
    ~80M rows/year at full scale vs billions of grid pixels), so an
    eager localCheckpoint is the right trade; GC reclaims it when the
    result goes out of scope, unlike a pinned cache.
    """
    est10 = station_series(grids, lut, model_col, ts_col, file_col,
                           value_col, station_col, min_files)
    if materialize:
        est10 = est10.localCheckpoint()
    j10 = est10.join(gauge, on=[station_col, ts_col])
    s10 = _bounded_scores(j10, "est_mmh", ref_col, bounds10, "10min",
                          model_col, min_ref)

    est60 = hourly_rollup(est10, ts_col, [model_col, station_col],
                          "est_mmh", "est_mmh", slots_per_hour)
    # reference ref60: gauge means over the SAME kept slots
    kept_ts = est10.select(ts_col).distinct()
    ref60 = hourly_rollup(gauge.join(broadcast(kept_ts), on=ts_col),
                          ts_col, [station_col], ref_col, ref_col,
                          slots_per_hour)
    j60 = est60.join(ref60, on=["hour", station_col])
    s60 = _bounded_scores(j60, "est_mmh", ref_col, bounds60, "60min",
                          model_col, min_ref)
    return s10.unionByName(s60)

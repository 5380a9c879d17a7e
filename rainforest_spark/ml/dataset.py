"""Training-dataset preparation — the reference's hardest tabular logic.

Re-expresses ``RFTraining.prepare_input`` (rainforest/ml/rf.py:107-286)
as ONE lazy DataFrame job that aggregates first and aligns after:

1. sentinel → null on gauge and radar (rf.py:154,180-181)
2. centre-pixel predicate NX = NY = 0 (rf.py:163-167), then the radar
   dedup on its composite key (rf.py:170-177)
3. station/radar metadata broadcast joins → X, Y, Z (rf.py:247-252),
   derived features HISO, HAG, zh/zv linear, DIST_TO_RAD (rf.py:254-257,
   361-372), and the weighted vertical aggregation over the sweep column
   with β-height × visibility weights and categorical RADAR proportions
   (ml/utils.py:16-61, weights rf.py:394,435-438) — over every centre
   radar key, one row per (STATION, TIMESTAMP)
4. three-table alignment on (STATION, TIMESTAMP) (rf.py:192-221): the
   valid gauge targets in mm/h (rf.py:452), left-semi joined to the
   centre reference keys, inner joined to the aggregate
5. complete-hour constraint — 6 ten-minute steps per (station, hour)
   (rf.py:211-223)
6. dense event-group ids (rf.py:227-243)

Scale notes: aggregating before aligning puts each fact table in the
plan once per branch, and the aggregate's at most one row per key makes
the target join the radar alignment.  The radar fact shuffles for its
dedup and for the vertical groupBy, the complete-hour window
shuffles the aligned rows on (STATION, hour), and the group-id branch
re-reads keys only: 7 shuffles on plain parquet, none on the fact path
of STATION-bucketed inputs.  A key whose weights sum to zero gets NULL
means, not an error.  Dimension joins are broadcast.  No Python touches
any row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from rainforest_spark.functions.physics import dist_to_radar_km
from rainforest_spark.operators.filters import (
    complete_group_filter, dedup_by_key, sentinel_to_null,
)

RADAR_KEY = ["TIMESTAMP", "STATION", "RADAR", "SWEEP", "NX", "NY"]
GAUGE_KEY = ["STATION", "TIMESTAMP"]


def hour_bucket(ts_col: str = "TIMESTAMP") -> F.Column:
    """The reference's gauge-hour bucket ``(T−600) − (T−600) % 3600``
    (rf.py:211-213): the six 10-min steps :10..:00 belong to the hour
    they accumulate into."""
    shifted = F.col(ts_col) - 600
    return (shifted - shifted % 3600).alias("hour_ts")


def prepare_input(gauge: DataFrame, radar: DataFrame, reference: DataFrame,
                  stations: DataFrame, radars: DataFrame,
                  features: list[str] | None = None,
                  beta: float = -0.5,
                  visib_weighting: bool = True) -> DataFrame:
    """gauge/radar/reference → one vertically-aggregated training row per
    (STATION, TIMESTAMP) with the gauge target in mm/h."""
    features = features or ["ZH_mean", "ZV_mean", "ZDR_mean", "KDP_mean",
                            "RHOHV_mean", "HEIGHT", "VISIB_mean",
                            "height_over_iso0"]

    # 1. nulls
    gauge = sentinel_to_null(gauge, ["RRE150Z0"])
    radar = sentinel_to_null(
        radar, [c for c in features if c in radar.columns])

    # 2. centre pixel, then dedup (NX, NY are key columns, so the filter
    #    commutes with the dedup and shrinks its shuffle)
    centre = (F.col("NX") == 0) & (F.col("NY") == 0)
    radar0 = dedup_by_key(radar.filter(centre), RADAR_KEY)

    # 3. dimension joins (broadcast: ~700 stations, 5 radars), derived
    #    features, then the weighted vertical aggregation over (RADAR,
    #    SWEEP) rows of EVERY centre key — at most one row per key, so the
    #    inner join of step 4 is the radar semi-join
    st = stations.select(F.col("Abbrev").alias("STATION"), "X", "Y", "Z")
    vert = (radar0.join(broadcast(st), on="STATION", how="left")
            .join(broadcast(radars), on="RADAR", how="left"))
    weight = F.pow(F.lit(10.0), beta * F.col("HEIGHT") / 1000.0)
    if visib_weighting:
        weight = weight * F.col("VISIB_mean") / 100.0
    vert = vert.withColumns({
        "HISO": F.col("HEIGHT") - F.col("T") / 0.7 * 100.0,
        "HAG": F.greatest(F.col("HEIGHT") - F.col("Z"), F.lit(0.0)),
        "zh": F.pow(F.lit(10.0), 0.1 * F.col("ZH_mean")),
        "zv": F.pow(F.lit(10.0), 0.1 * F.col("ZV_mean")),
        "DIST_TO_RAD": dist_to_radar_km("X", "Y", "X_rad", "Y_rad"),
        "__w": weight,
    })
    num_vars = features + ["HISO", "HAG", "zh", "zv", "DIST_TO_RAD"]
    num_vars = [v for v in num_vars if v in vert.columns]
    # try_divide: a key whose weights sum to 0 (every sweep VISIB_mean = 0)
    # gets NULL, as the reference's numpy mean gets NaN, instead of an ANSI
    # DIVIDE_BY_ZERO that aborts the whole set
    aggs = [F.try_divide(F.sum(F.when(F.col(v).isNotNull(),
                                      F.col("__w") * F.col(v))),
                         F.sum(F.when(F.col(v).isNotNull(), F.col("__w"))))
            .alias(v) for v in num_vars]
    aggs += [F.try_divide(F.sum(F.when(F.col("RADAR") == r, F.col("__w"))
                                .otherwise(0.0)), F.sum("__w"))
             .alias(f"RADAR_prop_{r}") for r in ["A", "D", "L", "P", "W"]]
    aggs.append(F.sum("__w").alias("W_SUM"))
    vertical = vert.groupBy("STATION", "TIMESTAMP").agg(*aggs)

    # 4. gauge target at the keys present in all three tables (a semi join
    #    ignores duplicates on its right side, so the reference needs no
    #    dedup; duplicate gauge rows both survive and count toward step 5)
    g = (gauge.filter(F.col("RRE150Z0").isNotNull())
         .select("STATION", "TIMESTAMP",
                 (F.col("RRE150Z0") * 6).alias("target_mmh"))
         .join(reference.filter(centre).select(GAUGE_KEY),
               on=GAUGE_KEY, how="left_semi"))
    out = vertical.join(g, on=GAUGE_KEY, how="inner")

    # 5. complete hours only: all 6 ten-minute slots present
    out = complete_group_filter(out, ["STATION", hour_bucket()], 6)

    # 6. event-group ids: dense ids via the distinct-timestamp dimension
    # (tiny), not a global window over the fact table — a no-partition
    # window would serialize the whole table through one task at scale.
    tdim = (out.select("TIMESTAMP").distinct()
            .withColumn("group_id",
                        F.dense_rank().over(Window.orderBy("TIMESTAMP")) - 1))
    return out.join(broadcast(tdim), on="TIMESTAMP", how="left")

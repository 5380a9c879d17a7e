"""Radar-table construction — the reference's ETL worker re-expressed
(SURVEY §3.2: retrieve_radar_data.py's per-timestep pipeline).

Reference flow per 10-min step: station→polar-gates LUT lookup
(J8, lookup.py:173-253 + retrieve_radar_data.py:302-377), per-
(station, sweep, neighbour) aggregation with argmax-linked max/min
(A4, :838-905), two-scan temporal aggregation (A3, :526-531), wide→long
``_remap`` (:677-788), daily parquet upsert (S5).

Spark-first: the SLURM fan-out disappears — the same job runs over ALL
timesteps at once, partitioned by day at the sink.  The station-gates
LUT is not hand-built geometry: it is the polar→Cartesian LUT equi-joined
with the station→pixel LUT on the pixel key (both already materialized
dims), then broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from rainforest_spark.functions.db import AVG_BY_VAR, avg_expr_for


def station_gates_lut(polar_cart_lut: DataFrame,
                      station_pixel_lut: DataFrame) -> DataFrame:
    """J8 LUT = J7 LUT ⋈ J6 LUT on the pixel key.

    (RADAR, SWEEP, az_idx, rng_idx) → (STATION, NX, NY) for every gate
    whose Cartesian pixel is a station neighbourhood pixel.
    """
    return polar_cart_lut.join(station_pixel_lut, on=["x_idx", "y_idx"],
                               how="inner")


def neighbourhood_aggregate(polar: DataFrame, gates_lut: DataFrame,
                            variables: list[str],
                            anchor: str = "ZH") -> DataFrame:
    """A4: per (TIMESTAMP, STATION, RADAR, SWEEP, NX, NY) aggregate of
    the gates in the neighbourhood — mean per the per-variable operator,
    max/min taken AT the anchor's argmax/argmin row (KDP anchors on
    itself, retrieve_radar_data.py:866-904)."""
    joined = polar.join(broadcast(gates_lut),
                        on=["RADAR", "SWEEP", "az_idx", "rng_idx"],
                        how="inner")
    keys = ["TIMESTAMP", "STATION", "RADAR", "SWEEP", "NX", "NY"]
    aggs = []
    for v in variables:
        aggs.append(avg_expr_for(v).alias(f"{v}_mean"))
        a = v if v.startswith("KDP") else anchor
        tie = F.struct(F.col("az_idx"), F.col("rng_idx"))
        aggs.append(F.max(F.struct(F.col(a).alias("__a"), tie.alias("__t"),
                                   F.col(v).alias("__v")))["__v"]
                    .alias(f"{v}_max"))
        aggs.append(F.min(F.struct(F.col(a).alias("__a"), tie.alias("__t"),
                                   F.col(v).alias("__v")))["__v"]
                    .alias(f"{v}_min"))
    aggs.append(F.count(anchor).alias("NVALID"))
    return joined.groupBy(*keys).agg(*aggs)


def temporal_pair_aggregate(obs: DataFrame, variables: list[str],
                            window_sec: int = 600) -> DataFrame:
    """A3: collapse the five-minute scans of each 10-min gauge window
    with the per-variable operator; TCOUNT counts contributing scans
    (usually 2, but the reference's own test artifact carries TCOUNT=3 —
    repeated scans at a timestep each count)."""
    keys = ["STATION", "RADAR", "SWEEP", "NX", "NY"]
    bucket = (F.floor(F.col("TIMESTAMP") / window_sec) * window_sec) \
        .cast("long").alias("TIMESTAMP")
    aggs = []
    for v in variables:
        for suffix in ("_mean", "_max", "_min"):
            col = f"{v}{suffix}"
            method = AVG_BY_VAR.get(v)
            if method == "logmean":
                from rainforest_spark.functions.db import logmean
                aggs.append(logmean(col).alias(col))
            else:
                aggs.append(F.avg(col).alias(col))
    aggs.append(F.count(F.lit(1)).cast("int").alias("TCOUNT"))
    return obs.groupBy(bucket, *keys).agg(*aggs)


#: The reference's central dtype map (common/constants.py:328-336
#: COL_TYPES), in Spark DDL types.  Applied by base name — the
#: reference looks up ``col.split('_')[0]`` (retrieve_radar_data.py:
#: 612-616), so VISIB_mean → tinyint, ZH_VISIB_mean → float.
REF_COL_TYPES = {
    "TIMESTAMP": "int",
    "RADAR": "string",
    "SWEEP": "tinyint",
    "NX": "tinyint",
    "NY": "tinyint",
    "STATION": "string",
    "HYDRO": "tinyint",
    "VISIB": "tinyint",
    "TCOUNT": "tinyint",
}


def fill_odd_slots(df: DataFrame, partition_cols: list[str], ts_col: str,
                   value_cols: list[str],
                   slot_sec: int = 300) -> DataFrame:
    """The 5-min database's slot-fill (reference W4 variant,
    database_5min/retrieve_dwh_data_5min.py:15-69): a NULL at an ODD
    5-min slot (:05, :15, ... — ``ts % (2·slot) == slot``) takes the
    value of the row exactly ``slot_sec`` later (the next even slot).
    Even-slot nulls stay null, and the fill only applies when the next
    row really is +slot_sec (the reference shifts by *time*, not by
    row).  Precip columns are excluded by the caller (the reference
    never fills ``rre005r0``).

    ``ts_col`` is epoch seconds.  One bounded lead window per
    partition key — no global window.
    """
    w = Window.partitionBy(*partition_cols).orderBy(F.col(ts_col))
    ts = F.col(ts_col)
    is_odd = ts % (2 * slot_sec) == slot_sec
    next_ok = F.lead(ts).over(w) == ts + slot_sec
    out = df
    for v in value_cols:
        out = out.withColumn(
            v, F.when(is_odd & F.col(v).isNull() & next_ok,
                      F.lead(v).over(w)).otherwise(F.col(v)))
    return out


def build_gauge_table(gauge: DataFrame, window_sec: int = 600,
                      station_col: str = "STATION",
                      ts_col: str = "TIMESTAMP",
                      no_fill_cols: tuple[str, ...] = ("RRE005R0",
                                                       "rre005r0")) -> DataFrame:
    """Gauge-table preparation for the database populate path.

    At the classic 10-min cadence (``window_sec=600``) rows pass
    through untouched.  At the 5-MIN cadence (``window_sec=300`` —
    reference ``database_5min/db_populate.py`` wiring
    ``retrieve_dwh_data_5min.py:15-69``) NULLs at odd 5-min slots
    (:05, :15, ...) are filled from the next even slot for every value
    column EXCEPT the 5-min precip accumulations (the reference's
    ``assign_even_to_odd`` excludes ``rre005r0``).  A ``day`` column is
    attached for the daily-partition upsert either way.
    """
    if window_sec == 300:
        keys = {station_col, ts_col, "day"}
        vals = [c for c in gauge.columns
                if c not in keys and c not in no_fill_cols]
        gauge = fill_odd_slots(gauge, [station_col], ts_col, vals,
                               slot_sec=300)
    return gauge.withColumn(
        "day", F.date_format(F.col(ts_col).cast("timestamp"), "yyyyMMdd"))


def reference_layout_columns(radar_variables: list[str],
                             other_variables: list[str] = ("HEIGHT", "VPR"),
                             cosmo_variables: list[str] = (),
                             agg_methods: list[str] = ("mean",)) -> list[str]:
    """Column order of the reference's day files (``_remap``,
    retrieve_radar_data.py:742-747): the six keys, OTHER_VARIABLES,
    COSMO_VARIABLES, then {var}_{method} per radar variable, then the
    TCOUNT the temporal aggregation appends (:629-633)."""
    cols = ["TIMESTAMP", "STATION", "RADAR", "SWEEP", "NX", "NY",
            *other_variables, *cosmo_variables]
    cols += [f"{r}_{m}" for r in radar_variables for m in agg_methods]
    cols.append("TCOUNT")
    return cols


def to_reference_layout(df: DataFrame, radar_variables: list[str],
                        other_variables: list[str] = ("HEIGHT", "VPR"),
                        cosmo_variables: list[str] = (),
                        agg_methods: list[str] = ("mean",)) -> DataFrame:
    """Project a radar day table onto the reference's exact column
    layout and dtypes: order per ``reference_layout_columns``, dtype by
    base name via ``REF_COL_TYPES`` with a float32 default
    (retrieve_radar_data.py:608-621) — byte-compatible with the files
    the reference's ``Updater`` writes (tests_cscs/
    reference_test_output.parquet)."""
    out = []
    for c in reference_layout_columns(radar_variables, other_variables,
                                      cosmo_variables, agg_methods):
        t = REF_COL_TYPES.get(c.split("_")[0], "float")
        out.append(F.col(c).cast(t).alias(c))
    return df.select(*out)


def build_radar_table(polar: DataFrame, polar_cart_lut: DataFrame,
                      station_pixel_lut: DataFrame,
                      variables: list[str]) -> DataFrame:
    """Full §3.2 worker chain: gates LUT ⋈ polar → A4 → A3 → long table
    keyed (TIMESTAMP, STATION, RADAR, SWEEP, NX, NY) + day column for
    partitioned upsert."""
    lut = station_gates_lut(polar_cart_lut, station_pixel_lut) \
        .select("RADAR", "SWEEP", "az_idx", "rng_idx", "STATION", "NX", "NY")
    nb = neighbourhood_aggregate(polar, lut, variables)
    out = temporal_pair_aggregate(nb, variables)
    return out.withColumn(
        "day", F.date_format(F.col("TIMESTAMP").cast("timestamp"),
                             "yyyyMMdd"))

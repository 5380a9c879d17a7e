"""Join operators (SURVEY §2.3).

Broadcast hints are explicit on every dimension-table join: the LUT /
centroid / scale tables are tiny next to fact tables, and at 100 TB a
shuffle join on them would dominate the plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def semi_align(left: DataFrame, others: list[DataFrame],
               on: list[str]) -> DataFrame:
    """Keep left rows whose key exists in EVERY other table.

    Reference J3 (ml/rf.py:192-221) builds a concatenated ``s-tstamp`` key
    and intersects python sets; Spark-first this is chained left-semi joins
    on the composite key — no concat column, no driver materialization, and
    AQE can convert to broadcast when one side is small.
    """
    out = left
    for o in others:
        out = out.join(o.select(on).dropDuplicates(on), on=on, how="left_semi")
    return out


def anti_join(left: DataFrame, right: DataFrame, on: list[str]) -> DataFrame:
    """Rows of left whose key is absent from right (reference J5,
    retrieve_dwh_data.py:22-26 ``~isin``)."""
    return left.join(right.select(on).dropDuplicates(on), on=on, how="left_anti")


def latest_per_group(df: DataFrame, partition_cols: list[Column | str],
                     order_cols: list[Column]) -> DataFrame:
    """Newest row per group: ``row_number() over (partition ... order by
    ... desc) = 1``.

    Reference J11/W2 — among HZT forecast files valid at hour h pick the
    newest run (common/retrieve_data.py:144-188).  ``order_cols`` must make
    the ordering total (include a unique id) for deterministic results.
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def hzt_fallback_chain(files: DataFrame, valid_col: str, run_col: str,
                       lead_col: str, tiebreak_cols: list | None = None,
                       preferred_lead: int = 0) -> DataFrame:
    """HZT gap-fill fallback: per valid hour prefer the operational
    lead-``preferred_lead`` product; when it is missing fall back to the
    NEWEST older run still valid at that hour.

    Reference ``retrieve_hzt_prod`` (common/retrieve_data.py:144-188):
    the lead-0 (".800") ladder is taken first, then each missing hour is
    filled with the last file from the full run ladder valid at that
    hour.  The listdir-order ``[-1]`` pick becomes a deterministic
    (run DESC, lead ASC, tiebreak) ordering here.

    One window partitioned by the valid hour — no run ladder is ever
    collected, so a year of hourly runs stays fully distributed.
    """
    w = Window.partitionBy(valid_col).orderBy(
        F.when(F.col(lead_col) == preferred_lead, 0).otherwise(1),
        F.col(run_col).desc(), F.col(lead_col).asc(),
        *[F.col(c) for c in (tiebreak_cols or [])])
    return (files.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def asof_join(left: DataFrame, right: DataFrame, partition_cols: list[str],
              ts_col: str, right_value_cols: list[str],
              tolerance_sec: int | None = None) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right.ts <= left.ts`` in the same partition.

    Reference J9 — nearest-earlier-time alignment (common/utils.py:586-611
    ``nearest_time`` + qpe/evaluation.py:155-163).

    Spark-first strategy: union both sides tagged, one window sort per
    partition key, ``last(value, ignorenulls)`` carries the most recent
    right-side values forward.  This is a single shuffle on the partition
    key — no range-join explosion, no per-row subquery — and scales as
    sort-within-partition, which survives skew via AQE.
    """
    lt = left.withColumn("__side", F.lit(1))
    rt = right.select(
        *partition_cols,
        F.col(ts_col),
        F.lit(0).alias("__side"),
        *[F.col(c) for c in right_value_cols],
    )
    for c in right_value_cols:
        lt = lt.withColumn(c, F.lit(None).cast(rt.schema[c].dataType))
    unioned = lt.select(rt.columns + [c for c in lt.columns if c not in rt.columns]) \
                .unionByName(rt.select(rt.columns), allowMissingColumns=True)

    # right rows sort before left rows at equal timestamps so an exact-tie
    # right row is visible to the left row (<= semantics, like duckdb ASOF)
    w = (Window.partitionBy(*partition_cols)
         .orderBy(F.col(ts_col).asc(), F.col("__side").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = unioned
    for c in right_value_cols:
        carried = carried.withColumn(c, F.last(c, ignorenulls=True).over(w))
    carried = carried.withColumn(
        "__rts", F.last(F.when(F.col("__side") == 0, F.col(ts_col)),
                        ignorenulls=True).over(w))
    out = carried.filter(F.col("__side") == 1).drop("__side")
    if tolerance_sec is not None:
        stale = F.col(ts_col).cast("long") - F.col("__rts").cast("long") > tolerance_sec
        for c in right_value_cols:
            out = out.withColumn(c, F.when(stale, None).otherwise(F.col(c)))
    return out.withColumnRenamed("__rts", "asof_ts")


def nearest_centroid(df: DataFrame, centroids: DataFrame,
                     dist: Column, class_col: str = "class",
                     keys: list[str] | None = None) -> DataFrame:
    """Classify each row to the nearest centroid (reference J13,
    hydrometeor classification radarprocessing.py:633-779).

    ``crossJoin(broadcast(centroids))`` then a deterministic argmin via
    ``min(struct(dist, class))`` — ties break on the class label, and the
    cross join never shuffles the fact side because the centroid table is
    broadcast (9 rows in the reference).
    """
    keys = keys or [c for c in df.columns]
    joined = df.crossJoin(broadcast(centroids)).withColumn("__dist", dist)
    pick = F.min(F.struct(F.col("__dist"), F.col(class_col))).alias("__best")
    out = joined.groupBy(*keys).agg(pick)
    return (out.withColumn(class_col, F.col("__best")[class_col])
            .withColumn("centroid_dist", F.col("__best")["__dist"])
            .drop("__best"))


def interpolate_hourly_to_subhourly(hourly: DataFrame, key_cols: list[str],
                                    hour_col: str, value_col: str,
                                    steps: int = 12) -> DataFrame:
    """Linear interpolation of hourly values onto a sub-hourly grid.

    Reference J10 (common/radarprocessing.py:489-534): hourly HZT fields →
    twelve 5-min fields via ``v0 + (v1−v0)·k/steps``.

    Spark-first: ``lead()`` pairs hour h with h+1 in one window (no
    self-join shuffle), then ``explode(sequence(0, steps-1))`` fans out the
    sub-steps executor-side.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(hour_col))
    paired = hourly.withColumn("__v1", F.lead(value_col).over(w))
    k = F.explode(F.sequence(F.lit(0), F.lit(steps - 1))).alias("k")
    out = paired.select(*key_cols, hour_col, value_col, "__v1", k)
    frac = F.col("k") / F.lit(float(steps))
    return (out.filter(F.col("__v1").isNotNull() | (F.col("k") == 0))
            .withColumn("ts", F.col(hour_col).cast("timestamp")
                        + F.make_interval(mins=F.col("k") * (60 // steps)))
            .withColumn(value_col,
                        F.when(F.col("__v1").isNotNull(),
                               F.col(value_col)
                               + (F.col("__v1") - F.col(value_col)) * frac)
                        .otherwise(F.col(value_col)))
            .drop("__v1", "k"))


def interval_join(points: DataFrame, intervals: DataFrame,
                  point_us_col: str, start_us_col: str, end_us_col: str,
                  bucket_sec: int = 600) -> DataFrame:
    """Point-in-interval join WITHOUT an equi-key, via time-bucket
    expansion (J-family extension; the reference's point-in-window
    lookups all ride an equi-key — this is the keyless case Spark has
    no range-join rule for).

    A raw ``p.ts BETWEEN i.s AND i.e`` join with no equality conjunct
    plans as BroadcastNestedLoopJoin — O(|P|·|I|) and driver-bound.
    The scale-out form: explode every interval into the epoch buckets
    it covers (``sequence`` fanned out executor-side), bucket each
    point ONCE, equi-join on the bucket id, then filter exact
    containment.  A (point, interval) pair can only meet in the
    point's single bucket, so the join emits each qualifying pair
    exactly once — no post-join dedup.

    Cost model: shuffle |P| + Σ_i ceil(len_i / bucket) rows on the
    bucket key; pick ``bucket_sec`` near the median interval length so
    the interval fan-out stays O(|I|).  Calendar-skewed buckets (a
    flash-crowd hour) are AQE skew-join territory — the key is already
    fine-grained, no salting layer needed.

    Timestamps are epoch-microsecond BIGINTs end-to-end (integer
    bucket division + integer containment compare — engine-exact).
    Column names must be disjoint; both sides' columns survive.
    """
    step = int(bucket_sec) * 1_000_000
    exploded = intervals.withColumn(
        "__bkt",
        F.explode(F.sequence(
            F.expr(f"CAST({start_us_col} AS BIGINT) div {step}"),
            F.expr(f"CAST({end_us_col} AS BIGINT) div {step}"))))
    pointed = points.withColumn(
        "__bkt", F.expr(f"CAST({point_us_col} AS BIGINT) div {step}"))
    return (pointed.join(exploded, "__bkt")
            .filter(F.col(point_us_col).between(F.col(start_us_col),
                                                F.col(end_us_col)))
            .drop("__bkt"))


def fuzzy_match(df: DataFrame, id_col: str, text_col: str,
                block_cols: list[str | Column], max_dist: int,
                keep_cols: list[str] | None = None) -> DataFrame:
    """Blocked fuzzy self-join: near-duplicate ``text_col`` pairs under
    Levenshtein edit distance <= ``max_dist`` (entity-resolution
    extension of the J-family; the reference's joins are all exact-key
    — this is the record-linkage case).

    An unblocked fuzzy join is the all-pairs O(N²) trap, so candidates
    come ONLY from an equi-join on ``block_cols`` (classic ER blocking:
    length bucket, first/last token, phonetic key, ...).  The edit
    distance runs as a residual filter on the equi-join — Spark plans a
    shuffled hash join on the block key, never a cartesian — and uses
    the thresholded ``levenshtein(l, r, max_dist)`` form so the JVM
    abandons each comparison after ``max_dist`` diagonal bands
    (O(d·min(|a|,|b|)) per pair instead of O(|a|·|b|)).

    Cost model: pair count is Σ_b n_b² over block sizes — the operator
    is exactly as good as its blocking key.  At corpus scale pick
    composite keys whose cardinality GROWS with N (token + length +
    category), and let AQE's skew-join split the inevitable hot block;
    a block key whose cardinality is fixed degrades to quadratic and
    should be re-cut, not salted (salting a fuzzy block loses recall).

    Output: one row per unordered candidate pair (``id_a < id_b``) with
    both texts and the exact integer ``dist`` — exact across engines
    (Levenshtein is pure integer DP).
    """
    keep = keep_cols or []
    blocks = [b if isinstance(b, Column) else F.col(b) for b in block_cols]
    sides = []
    for tag in ("a", "b"):
        side = df.select(
            F.col(id_col).alias(f"id_{tag}"),
            F.col(text_col).alias(f"text_{tag}"),
            *[F.col(c).alias(f"{c}_{tag}") for c in keep],
            *[b.alias(f"__blk{i}") for i, b in enumerate(blocks)])
        sides.append(side)
    on = [f"__blk{i}" for i in range(len(blocks))]
    d = F.levenshtein(F.col("text_a"), F.col("text_b"), int(max_dist))
    return (sides[0].join(sides[1], on)
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("dist", d)
            .filter(F.col("dist") >= 0)
            .drop(*on))


def nearest_site(points: DataFrame, sites: DataFrame,
                 point_x: str, point_y: str, site_x: str, site_y: str,
                 point_keys: list[str], site_keys: list[str],
                 cell: int | None = None) -> DataFrame:
    """Bounded-radius nearest-neighbor join on integer planar
    coordinates — the generic form of the reference's station→pixel /
    nearest-gate lookups (grid/lookup.py builds a precomputed LUT for a
    FIXED grid; this operator handles arbitrary point/site sets).

    Grid-bucketing: each site is replicated into its 3×3 neighborhood
    of ``cell``-sized grid cells by exploding a 9-element literal array
    (no join, no shuffle on the site side); points join their single
    cell by EXACT equi-key.  Any site within ``cell`` of a point is
    guaranteed to share one of the 9 cells, so the result is the true
    nearest site whenever one exists within ``cell`` — points with no
    site that close keep NULL site columns (a LEFT join, never a
    silent drop).  Sites farther than ``cell`` may be missed: this is
    the bounded-radius contract every distributed spatial join makes —
    an UNBOUNDED nearest-neighbor degenerates to all-pairs.

    EXACT: coordinates are NON-NEGATIVE BIGINTs (< 2³¹, so the squared
    distance stays in BIGINT; ``div`` truncates toward zero, which
    equals floor only for non-negative operands — shift negative
    spaces before calling), squared Euclidean distance is exact
    integer arithmetic, and the argmin is a lexicographic struct-min
    over ``(d², site_keys...)`` — deterministic under distance ties.

    Shape at 100 TB: site replication is ×9 on the (small) site dim;
    the candidate join is a shuffle-on-cell equi-join (or a broadcast
    when the replicated dim fits); one map-side-combined groupBy on the
    point key takes the argmin.  Cell size trades replica count
    against candidates per cell — at uniform density
    ``cell ≈ √(area/|sites|)`` keeps both O(1) per point.

    ``cell=None`` (the DEFAULT) derives exactly that from the site
    table itself — one bounded 1-row aggregate (bbox + count) — so the
    default path stays scale-safe as site density grows (the
    ``auto_planes`` precedent: pinning the parameter while N grows is
    the candidate-explosion exhibit shape).  Pass an explicit ``cell``
    to pin the search radius instead (the radius IS the cell size, so
    auto-sizing also tightens the match radius as sites densify —
    callers needing a fixed radius must pin it).
    """
    if cell is None:
        import math
        r = sites.agg(F.min(site_x).alias("x0"), F.max(site_x).alias("x1"),
                      F.min(site_y).alias("y0"), F.max(site_y).alias("y1"),
                      F.count(F.lit(1)).alias("n")).first()
        if r["n"]:
            area = (max(int(r["x1"]) - int(r["x0"]), 1)
                    * max(int(r["y1"]) - int(r["y0"]), 1))
            cell = max(math.isqrt(area // int(r["n"])), 1)
        else:
            cell = 1   # no sites: every point LEFT-joins to NULL anyway
    c = int(cell)
    offs = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                     for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    reps = (sites.withColumn("__o", F.explode(offs))
            .select(*site_keys,
                    F.col(site_x).alias("__sx"),
                    F.col(site_y).alias("__sy"),
                    (F.expr(f"{site_x} div {c}") + F.col("__o.dx"))
                    .alias("__cx"),
                    (F.expr(f"{site_y} div {c}") + F.col("__o.dy"))
                    .alias("__cy")))
    p = points.select(*point_keys,
                      F.col(point_x).alias("__px"),
                      F.col(point_y).alias("__py"),
                      F.expr(f"{point_x} div {c}").alias("__cx"),
                      F.expr(f"{point_y} div {c}").alias("__cy"))
    d2 = ((F.col("__px") - F.col("__sx")) * (F.col("__px") - F.col("__sx"))
          + (F.col("__py") - F.col("__sy"))
          * (F.col("__py") - F.col("__sy")))
    cand = (p.join(reps, ["__cx", "__cy"])
            .filter(d2 <= F.lit(c * c).cast("long"))
            .withColumn("__d2", d2))
    best = (cand.groupBy(*point_keys)
            .agg(F.min(F.struct(F.col("__d2").alias("d2"),
                                *[F.col(k) for k in site_keys]))
                 .alias("__b"))
            .select(*point_keys,
                    *[F.col(f"__b.{k}").alias(k) for k in site_keys],
                    F.col("__b.d2").alias("dist_sq")))
    return (points.select(*point_keys, point_x, point_y)
            .join(best, point_keys, "left"))

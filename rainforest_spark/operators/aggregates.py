"""Aggregation operators (SURVEY §2.4).

Everything is groupBy/agg with column expressions — map-side partial
aggregation and whole-stage codegen apply; no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# sessionize lives with its engine caller, ml/rf.split_events
from rainforest_spark.ml.rf import sessionize


def deterministic_mode(df: DataFrame, group_cols: list[str],
                       value_col: str) -> DataFrame:
    """Majority value per group with alphabetical tie-break (reference A16
    ``MODE``, common/constants.py:298-302 — scipy.stats.mode, which also
    returns the smallest on ties)."""
    counted = df.groupBy(*group_cols, value_col).agg(
        F.count(F.lit(1)).alias("__cnt"))
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("__cnt").desc(), F.col(value_col).asc())
    return (counted.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(*group_cols, F.col(value_col).alias(f"{value_col}_mode")))


def funnel(df: DataFrame, user_col: str, ts_col: str, type_col: str,
           stages: list[str], within_sec: int | None = None) -> DataFrame:
    """Ordered-funnel aggregation: per user, the earliest chain of
    ``stages`` events in order (classic conversion-funnel analytics —
    no reference counterpart; events-table extra alongside A15
    sessionization).  An event advances the funnel iff its type is the
    NEXT unreached stage and its timestamp is >= the previous stage's
    chosen time (same-timestamp advances allowed, resolved in stage
    order); with ``within_sec`` the whole chain must complete within
    that many seconds of the stage-1 time.

    Output: one row per user that entered the funnel (has a stage-1
    event): ``(user, stage_reached, t_entry, t_convert)`` —
    ``t_convert`` is the final-stage time when all stages were
    reached, else NULL.

    Shape at 100 TB: ONE user-keyed shuffle.  Events are pre-filtered
    to the k stage types (pushed to the scan), collected per user
    (bounded by a user's own event count), sorted in-expression, and
    folded with the higher-order ``aggregate`` — all JVM-side codegen,
    no window, no self-join per stage (the k-1 self-join formulation
    shuffles k times and breaks under hot users; the fold shuffles
    once and a hot user costs one task's local sort).  Timestamps fold
    as exact epoch-micros BIGINTs.
    """
    k = len(stages)
    if k < 1:
        raise ValueError("funnel needs at least one stage")
    smap = F.create_map(*[x for i, s in enumerate(stages)
                          for x in (F.lit(s), F.lit(i))])
    evs = (df.filter(F.col(type_col).isin(stages))
           .select(F.col(user_col).alias("__u"),
                   (F.unix_micros(F.col(ts_col))).alias("__uts"),
                   smap[F.col(type_col)].alias("__si")))
    per_user = evs.groupBy("__u").agg(
        F.array_sort(F.collect_list(F.struct("__uts", "__si")))
        .alias("__evs"))

    if within_sec is None:
        def within_ok(acc, e):
            return F.lit(True)
    else:
        lim = int(within_sec) * 1_000_000

        def within_ok(acc, e):
            return F.when(F.size(acc) == 0, F.lit(True)).otherwise(
                e["__uts"] - F.element_at(acc, 1) <= F.lit(lim))

    def step(acc, e):
        adv = (e["__si"] == F.size(acc)) & within_ok(acc, e)
        return F.when(adv, F.concat(acc, F.array(e["__uts"]))) \
                .otherwise(acc)

    times = F.aggregate(F.col("__evs"),
                        F.array().cast("array<bigint>"), step)
    out = (per_user.withColumn("__t", times)
           .withColumn("stage_reached", F.size("__t").cast("int"))
           .filter(F.col("stage_reached") >= 1)
           .select(F.col("__u").alias(user_col), "stage_reached",
                   F.timestamp_micros(F.element_at("__t", 1))
                   .alias("t_entry"),
                   F.timestamp_micros(
                       F.when(F.size("__t") == k,
                              F.element_at("__t", k)))
                   .alias("t_convert")))
    return out


def retention_cohorts(df: DataFrame, user_col: str, ts_col: str,
                      period_sec: int = 604_800) -> DataFrame:
    """Cohort retention matrix (classic product-analytics rollup — no
    reference counterpart; events-table extra alongside :func:`funnel`):
    each user's cohort is the period of their FIRST event; the output
    counts, for every ``(cohort, offset)``, the users from that cohort
    active ``offset`` periods later.

    Output: ``(cohort_period, period_offset, n_users)`` — epoch-period
    indices as exact BIGINTs (UTC fixed-width periods, default weekly).

    Shape at 100 TB: ONE user-keyed shuffle — per user the first
    period and the distinct-period set come out of a single partial-
    aggregating groupBy (collect_set combines map-side; its size is
    bounded by the calendar, not the event count: a user active every
    week for 20 years is ~1 000 entries) — then one (cohort, offset)-
    keyed count whose key space is offsets², tiny.  No joins, no
    windows, nothing driver-side.
    """
    period = F.floor(
        (F.col(ts_col).cast("timestamp").cast("double"))
        / F.lit(float(period_sec))).cast("long")
    per_user = (df.select(F.col(user_col).alias("__u"),
                          period.alias("__p"))
                .groupBy("__u")
                .agg(F.min("__p").alias("__cohort"),
                     F.collect_set("__p").alias("__ps")))
    return (per_user
            .select("__cohort", F.explode("__ps").alias("__p"))
            .groupBy(F.col("__cohort").alias("cohort_period"),
                     (F.col("__p") - F.col("__cohort"))
                     .alias("period_offset"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_users")))


def transition_matrix(df: DataFrame, user_col: str, ts_col: str,
                      type_col: str,
                      tie_col: str | None = None) -> DataFrame:
    """Per-user event-transition counts (first-order Markov matrix over
    the event-type alphabet — sequence-analytics extra alongside
    :func:`funnel` / :func:`retention_cohorts`): order each user's
    stream by ``(ts, tie_col)`` and count every adjacent
    ``from -> to`` pair across all users.

    ``tie_col`` (a unique column, e.g. the event id) makes the order —
    and therefore the counts under same-timestamp ties — deterministic
    and engine-portable; without it, ties of DIFFERENT types at one
    timestamp make the matrix order-dependent.

    Output: ``(from_type, to_type, n)`` with exact BIGINT counts.

    Shape at 100 TB: one user-keyed window (``lead`` over
    ``partitionBy(user)`` — millions of user partitions, each a few
    rows, uniform) followed by a count whose key space is the squared
    type alphabet, tiny.  No joins, no collect.
    """
    order = [F.col(ts_col)] + ([F.col(tie_col)] if tie_col else [])
    w = Window.partitionBy(F.col(user_col)).orderBy(*order)
    return (df.select(F.col(user_col), F.col(ts_col),
                      *( [F.col(tie_col)] if tie_col else [] ),
                      F.col(type_col).alias("from_type"))
            .withColumn("to_type", F.lead("from_type").over(w))
            .filter(F.col("to_type").isNotNull())
            .groupBy("from_type", "to_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n")))


def time_weighted_mean(df: DataFrame, key_cols: list[str], ts_col: str,
                       value_col: str, tie_col: str) -> DataFrame:
    """Time-weighted mean per series (A-family extension): each
    observation's value is held until the next observation, so the mean
    weights every sample by the microseconds it was in force — the
    irregular-sampling average (TWAP) that a plain ``avg`` gets wrong.

    Exactness: values quantize to nanos (``floor(x·1e9 + 0.5)`` — the
    hot-path idiom), hold times are exact epoch-microsecond deltas from
    one ``lead`` over the series key, and the per-row products ride
    DECIMAL(38,0) (nanos ≤ ~1e12 × delta ≤ ~1e12 overflows BIGINT but
    is exact at (38,0); decimal addition is order-independent, so the
    32-partition partial agg matches a sequential scan bit-for-bit).
    The mean rounds to micros with the exact integer round-half
    division ``(2·Σvn·Δ + 1000·ΣΔ) div (2000·ΣΔ)`` — the q83 idiom, so
    a quotient landing exactly ON the half-way 6dp boundary rounds
    identically on both engines — then divides by the exact double
    ``1e6`` once.  The last observation of each series has no successor
    and drops out (no hold time), matching the closed-interval TWAP
    convention.

    Shape at 100 TB: one shuffle on the series key shared by the
    ``lead`` window and the groupBy (many small series — the uniform
    grouped-window case); partial aggregation absorbs the row count
    before the exchange.  No joins, no collect.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(ts_col),
                                              F.col(tie_col))
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    vn = F.floor(F.col(value_col) * 1e9 + F.lit(0.5)).cast("long")
    held = (df.withColumn("__us", us)
            .withColumn("__vn", vn)
            .withColumn("__dus", F.lead("__us").over(w) - F.col("__us"))
            .filter(F.col("__dus").isNotNull()))
    prod = (F.col("__vn").cast("decimal(19,0)")
            * F.col("__dus").cast("decimal(19,0)"))
    micro = F.expr("(2*__sp + 1000*__sd"
                   " - pmod(2*__sp + 1000*__sd, 2000*__sd))"
                   " div (2000*__sd)")
    return (held.groupBy(*key_cols)
            .agg(F.sum(prod).alias("__sp"),
                 F.sum(F.col("__dus").cast("decimal(19,0)")).alias("__sd"),
                 F.count(F.lit(1)).cast("long").alias("n_holds"))
            .select(*key_cols, "n_holds",
                    (micro.cast("double") / F.lit(1e6)).alias("tw_mean")))


def winsorized_stats(df: DataFrame, group_cols: list[str],
                     value_col: str, tie_col: str,
                     lo_pct: int = 5, hi_pct: int = 95) -> DataFrame:
    """Per-group winsorized mean of an INTEGER-valued column (robust
    A-family extension): clamp each group's values at its nearest-rank
    ``lo_pct``/``hi_pct`` percentiles, then average — the outlier-proof
    location estimate a corpus health report wants for skewed
    length/score columns.

    Percentiles use the nearest-rank definition ``k = ceil(p·n/100)``
    = ``(p·n + 99) div 100`` — pure integer arithmetic, and the value
    AT a rank is well-defined under ties, so the bounds are exact on
    both engines.  The clamped mean rounds to micros with the exact
    integer round-half division (the q83 idiom), sums riding
    DECIMAL(38,0).

    Groups are the FEW-HUGE case (sources): the per-group rank rides
    the grouped :func:`~rainforest_spark.operators.windows.
    ranged_cumsum` — a ``Window.partitionBy(source)`` would serialize
    each source into one sort task (the q34/q126 lesson).  One range
    shuffle for ranks; the bounds table is group-dim-sized and
    broadcast back; one groupBy computes the clamped sums.
    """
    from rainforest_spark.operators.windows import ranged_cumsum

    v = F.col(value_col).cast("long")
    base = df.select(*group_cols, v.alias("__v"), F.col(tie_col))
    ordered = (base.withColumn("__ord", F.struct(
                    F.col("__v").alias("v"), F.col(tie_col).alias("i")))
               .withColumn("__one", F.lit(1).cast("long")))
    ranked = ranged_cumsum(ordered, "__ord", "__one", cum_col="__rnk",
                           group_cols=group_cols, total_col="__n")
    klo = F.expr(f"(__n * {int(lo_pct)} + 99) div 100")
    khi = F.expr(f"(__n * {int(hi_pct)} + 99) div 100")
    bounds = (ranked.filter((F.col("__rnk") == klo)
                            | (F.col("__rnk") == khi))
              .groupBy(*group_cols)
              .agg(F.max(F.when(F.col("__rnk") == klo, F.col("__v")))
                   .alias("lo"),
                   F.max(F.when(F.col("__rnk") == khi, F.col("__v")))
                   .alias("hi")))
    # nearest-rank at tiny n can make klo == khi; hi falls back to lo
    bounds = bounds.withColumn("hi", F.coalesce("hi", "lo"))
    clamped = (base.join(F.broadcast(bounds), group_cols)
               .withColumn("__c", F.least(F.greatest(F.col("__v"),
                                                     F.col("lo")),
                                          F.col("hi"))))
    micro = F.expr("(2000000*__s + __cnt - pmod(2000000*__s + __cnt,"
                   " 2*__cnt)) div (2*__cnt)")
    return (clamped.groupBy(*group_cols)
            .agg(F.sum(F.col("__c").cast("decimal(38,0)")).alias("__s"),
                 F.count(F.lit(1)).cast("long").alias("__cnt"),
                 F.first("lo").alias("lo"), F.first("hi").alias("hi"))
            .select(*group_cols, F.col("__cnt").alias("n"), "lo", "hi",
                    (micro.cast("double") / F.lit(1e6)).alias("w_mean")))


def mad_profile(df: DataFrame, group_cols: list[str], value_col: str,
                mad_mult: int = 3) -> DataFrame:
    """Median / MAD robust profile per group with an outlier count
    (A-family extension): lower median, lower-median absolute
    deviation, and how many of the group's values sit more than
    ``mad_mult``·MAD from the median — the robust anomaly summary that
    a mean/stddev profile gets wrong on heavy-tailed series.

    Single-pass shape for MANY SMALL groups (users, sensors): ONE
    groupBy collects each group's nano-quantized values, and the
    median → deviations → MAD → outlier-count chain runs entirely in
    array expressions (``array_sort`` + ``element_at`` +
    higher-order ``transform``/``filter``) — no second shuffle, no
    self-join, no windows.  State per group is its value list; for
    few-huge groups use :func:`winsorized_stats`'s ranged-rank shape
    instead (a 10⁸-row group's array does not belong on one executor).

    Lower medians (rank ``(n+1) div 2``) keep every statistic an
    EXACT BIGINT; the two emitted doubles are single divisions by
    1e9.
    """
    vn = F.floor(F.col(value_col) * 1e9 + F.lit(0.5)).cast("long")
    g = (df.withColumn("__vn", vn)
         .groupBy(*group_cols)
         .agg(F.sort_array(F.collect_list("__vn")).alias("__a")))
    mid = F.expr("(size(__a) + 1) div 2").cast("int")
    g = (g.withColumn("__n", F.size("__a"))
         .withColumn("__med", F.element_at("__a", mid)))
    devs = F.sort_array(F.transform("__a",
                                    lambda x: F.abs(x - F.col("__med"))))
    g = (g.withColumn("__devs", devs)
         .withColumn("__mad", F.element_at("__devs", mid)))
    out_n = F.size(F.filter("__devs",
                            lambda d: d > F.lit(int(mad_mult))
                            * F.col("__mad")))
    return g.select(*group_cols, F.col("__n").cast("long").alias("n"),
                    (F.col("__med").cast("double") / F.lit(1e9))
                    .alias("median"),
                    (F.col("__mad").cast("double") / F.lit(1e9))
                    .alias("mad"),
                    out_n.cast("long").alias("n_outliers"))


def session_paths(df: DataFrame, user_col: str, ts_col: str,
                  type_col: str, tie_col: str, gap_sec: int = 1800,
                  max_len: int = 8, min_count: int = 1) -> DataFrame:
    """Frequent session paths (sequence-analytics extension alongside
    :func:`funnel` / :func:`transition_matrix`): sessionize each user's
    stream, spell out every session's first ``max_len`` event types as
    one ``a>b>c`` path string, and count sessions per path.

    Ordering inside a session is ``(ts, tie_col)`` — collected as
    structs and ``array_sort``-ed (a bare ``collect_list`` order is
    partial-agg-dependent; the sort makes it deterministic and
    engine-portable, the q135 idiom).  Counts are exact BIGINTs; no
    doubles anywhere.

    Shape at 100 TB: sessionization's user-keyed window and the
    (user, session) groupBy share one shuffle; the path table then
    aggregates on the path string — skew there mirrors real behavioral
    concentration (the hot path IS the common journey) and map-side
    partial aggregation absorbs it.  ``max_len`` bounds every array
    and string.
    """
    s = sessionize(df, [user_col], ts_col, gap_sec)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    per = (s.withColumn("__us", us)
           .groupBy(user_col, "session_id")
           .agg(F.array_sort(F.collect_list(F.struct(
               F.col("__us").alias("u"), F.col(tie_col).alias("i"),
               F.col(type_col).alias("t")))).alias("__evs")))
    path = F.array_join(
        F.transform(F.slice("__evs", 1, int(max_len)), lambda e: e["t"]),
        ">")
    return (per.select(path.alias("path"))
            .groupBy("path")
            .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
            .filter(F.col("n_sessions") >= int(min_count)))


def rolling_distinct(df: DataFrame, ts_col: str, id_col: str,
                     window_days: int = 7,
                     grain_sec: int = 86400) -> DataFrame:
    """Trailing-N-day distinct-entity count per day (rolling active
    users — the classic engagement metric): for every day ``d``, how
    many distinct ids appeared in ``[d − N + 1, d]``.

    Scale shape: rolling DISTINCT does not decompose into window sums,
    and the naive per-day self-join re-scans the fact N times.  The
    scale-out form is BOUNDED FAN-OUT: dedup to (id, day) first (map-
    side combine absorbs the raw event volume), explode each active
    day into the ≤ N target days it contributes to, then exact
    two-stage count-distinct per target day.  Shuffle volume is
    N·|id-days| — a constant multiple of the deduped activity table,
    independent of raw event count.  (At extreme N, swap the exact
    count for an HLL sketch union — ``approx_count_distinct`` — same
    fan-out shape.)

    Day arithmetic is integer ``epoch div grain``; counts are exact
    BIGINTs.  Emits every day any trailing window covers, including
    the ``N−1`` tail days after the last event (their windows are
    still well-defined).
    """
    day = F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP))"
                 f" div 1000000 div {int(grain_sec)}")
    ud = df.select(day.alias("__d"), F.col(id_col)).distinct()
    fan = ud.withColumn(
        "day", F.explode(F.sequence(
            F.col("__d"), F.col("__d") + F.lit(int(window_days) - 1))))
    return (fan.groupBy("day")
            .agg(F.countDistinct(id_col).cast("long").alias("n_active")))


def survival_curve(df: DataFrame, duration_col: str,
                   event_col: str) -> DataFrame:
    """Kaplan-Meier survival estimate over integer durations (A-family
    extension): input is ONE ROW PER SUBJECT with a non-negative
    integer ``duration`` (days until event or censoring) and
    ``event`` ∈ {0, 1} (1 = the event happened at ``duration``,
    0 = censored there).  Output per distinct event-or-censor time:
    at-risk count ``n_t``, events ``d_t``, censored ``c_t``, and the
    KM product-limit estimate ``survival``.

    Exactness: ``n_t``/``d_t``/``c_t`` are exact BIGINTs (at-risk =
    total − prefix-sum of earlier departures); the survival product is
    a SEQUENTIAL LEFT FOLD over the duration-ordered factors
    ``(n_t − d_t)/n_t`` — Spark's ``aggregate`` over an ordered
    window-collected array and DuckDB's ``list_reduce`` multiply in
    the same order, so the doubles agree bit-for-bit (the q133
    fixed-order rule; a product re-associated by partial aggregation
    would not).

    Scale shape: one groupBy on the duration collapses subjects to the
    duration DIM (bounded by the time alphabet — days of a study
    horizon), and every window after that runs on dim-sized data (the
    q129 bounded-dim precedent).  The subject table is touched once.
    """
    per_t = (df.groupBy(F.col(duration_col).cast("long").alias("t"))
             .agg(F.sum(F.col(event_col).cast("long")).alias("d"),
                  F.sum(F.lit(1) - F.col(event_col).cast("long"))
                  .alias("c"),
                  F.count(F.lit(1)).cast("long").alias("m")))
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow)
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    total = Window.partitionBy()
    out = (per_t
           .withColumn("__tm", F.sum("m").over(total))
           .withColumn("__gone",
                       F.coalesce(F.sum("m").over(wprev),
                                  F.lit(0).cast("long")))
           .withColumn("n_risk", F.col("__tm") - F.col("__gone"))
           .withColumn("__f", (F.col("n_risk") - F.col("d"))
                       .cast("double") / F.col("n_risk").cast("double"))
           .withColumn("__fs", F.collect_list("__f").over(w))
           .withColumn("survival",
                       F.aggregate("__fs", F.lit(1.0).cast("double"),
                                   lambda acc, x: acc * x)))
    return out.select("t", "n_risk", "d", "c", "survival")


def co_occurrence(df: DataFrame, basket_col: str, item_col: str,
                  min_support: int = 2,
                  max_basket: int | None = None) -> DataFrame:
    """Market-basket co-occurrence with confidence and lift (A-family
    extension; the recommender / affinity building block): for every
    unordered item pair appearing together in >= ``min_support``
    baskets, the pair count, each item's basket count, and the exact
    6dp confidence ``P(b|a)`` and lift ``P(ab)/(P(a)·P(b))``.

    Scale shape: dedup to (basket, item) first (map-side combine),
    then the pair fan-out is a SELF-EQUI-JOIN on the basket key with
    ``item_a < item_b`` — C(n,2) per basket, governed by basket size,
    never by corpus size.  (r13 NOTE: a collect_set + in-expression
    C(n,2) pair explode — one corpus Exchange fewer — measured FASTER
    at sf1 (5.74 → 4.96 s) but REGRESSED at sf10 (26.2 → ≥32.7 s)
    with GCLocker allocation stalls: the pair array materializes
    per-basket in task memory while the self-join streams pairs.
    Reverted; recorded in OPTIMIZATION_r13.md.)  ``max_basket`` drops
    pathological mega-
    baskets (a single basket of 10⁵ items would fan to 5·10⁹ pairs);
    dropped baskets are counted in a side column on every output row
    so the cap is never silent.  Item counts join back on the item
    key; the ratio arithmetic rides DECIMAL(38,0) integer cross-
    multiplies with round-half division — no double division chains.

    Confidence is oriented a→b with ``item_a < item_b`` (emit both
    directions by unioning the swap if needed).
    """
    # ONE basket-keyed exchange serves the whole chain (r13): the raw
    # rows repartition by basket, and every downstream distribution —
    # the (b, i) dedup, the basket-size aggregate, the self-join on b
    # (both sides, via ReusedExchange) — is satisfied by
    # hashpartitioning(__b), so the old shape's second corpus exchange
    # (re-keying the (b, i)-distinct output by b for the join) is gone.
    ub = (df.select(F.col(basket_col).alias("__b"),
                    F.col(item_col).alias("__i"))
          .repartition(F.col("__b"))
          .dropDuplicates(["__b", "__i"]))
    n_dropped = 0
    if max_basket is not None:
        sizes = ub.groupBy("__b").agg(F.count(F.lit(1)).alias("__sz"))
        n_dropped = sizes.filter(F.col("__sz") > int(max_basket)).count()
        ub = ub.join(sizes.filter(F.col("__sz") <= int(max_basket))
                     .select("__b"), "__b")
    # one-row aggregate (the catalog.py:57 bounded-collect precedent)
    n_baskets = ub.select("__b").distinct().count()
    item_n = ub.groupBy("__i").agg(F.count(F.lit(1)).alias("__ni"))
    a = ub.select(F.col("__b"), F.col("__i").alias("item_a"))
    b = ub.select(F.col("__b"), F.col("__i").alias("item_b"))
    # SHUFFLE_HASH on the self-join (r14, the q92/q95/q134 corpus-dim
    # lesson): under the broadcast threshold (the sf1 regime) AQE
    # broadcasts the (b, i) side — but that side IS the corpus, so the
    # hash relation is built single-threaded from the whole dedup
    # output while the basket-keyed exchange both sides were built to
    # reuse sits idle.  The hint keeps both sides on that ONE
    # ReusedExchange (no exchange added — BHJ needed the probe-side
    # exchange anyway for the dedup) with per-partition parallel
    # builds.  Measured (r14, interleaved A/B): sf1 SHJ wins or ties
    # 9/12 cycles (cold cycles 9.98->6.60 / 6.99->5.71; warm floors
    # ~equal), sf10 flat (the (b,i) side exceeds the threshold there
    # and the plain plan is already non-broadcast) — shipped for the
    # bounded-build property: no driver-side corpus-sized broadcast
    # build at ANY corpus size, same plan shape at every decade.
    pairs = (a.join(b.hint("shuffle_hash"), "__b")
             .filter(F.col("item_a") < F.col("item_b"))
             .groupBy("item_a", "item_b")
             .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
             .filter(F.col("n_pair") >= int(min_support)))
    pairs = (pairs
             .join(item_n.select(F.col("__i").alias("item_a"),
                                 F.col("__ni").alias("n_a")), "item_a")
             .join(item_n.select(F.col("__i").alias("item_b"),
                                 F.col("__ni").alias("n_b")), "item_b")
             .withColumn("__p", F.col("n_pair").cast("decimal(38,0)"))
             .withColumn("__da", F.col("n_a").cast("decimal(38,0)"))
             .withColumn("__num",
                         F.expr("1000000 * __p") *
                         F.lit(int(n_baskets)).cast("decimal(38,0)"))
             .withColumn("__den",
                         F.col("n_a").cast("decimal(38,0)")
                         * F.col("n_b").cast("decimal(38,0)")))
    conf = F.expr("(2000000*__p + __da - pmod(2000000*__p + __da,"
                  " 2*__da)) div (2*__da)")
    lift = F.expr("(2*__num + __den - pmod(2*__num + __den, 2*__den))"
                  " div (2*__den)")
    return (pairs.select(
        "item_a", "item_b", "n_pair",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        (conf.cast("double") / F.lit(1e6)).alias("confidence"),
        (lift.cast("double") / F.lit(1e6)).alias("lift"),
        F.lit(int(n_dropped)).cast("long").alias("n_baskets_dropped")))


def ohlc(df: DataFrame, key_cols: list[str], ts_col: str,
         value_col: str, tie_col: str, bucket_sec: int) -> DataFrame:
    """Open/high/low/close resampling of an observation series into
    fixed time buckets — the downsampling step any metering, pricing,
    or sensor series needs before charting or joining at a coarser
    cadence (the reference's temporal aggregation A3 keeps means; OHLC
    keeps the endpoints and extremes).

    EXACT: open/close are lexicographic struct-min/max over
    ``(epoch, tie, value)`` (A18's group-wise-first idiom — the unique
    tie key makes them engine-portable under same-timestamp ties);
    high/low are plain min/max; the mean quantizes per element with
    ``floor(v·1e9 + 0.5)`` and divides the exact sum once as a
    round-half-AWAY-FROM-ZERO integer micro-division on the absolute
    value (both engines' integer div truncates toward zero on
    non-negative operands, so magnitude+sign is the portable form for
    possibly-negative sums).

    Shape at 100 TB: ONE map-side-combined groupBy((key, bucket)) over
    the scan — no window, no join, no second pass.
    """
    epoch = F.floor(F.col(ts_col).cast("timestamp").cast("double")) \
        .cast("long")
    b = (df.withColumn("__e", epoch)
         .withColumn("__b", F.expr(f"__e div {int(bucket_sec)}")))
    out = b.groupBy(*key_cols, "__b").agg(*ohlc_agg_exprs(value_col,
                                                          tie_col))
    return out.select(
        *key_cols,
        (F.col("__b") * F.lit(int(bucket_sec))).alias("bucket_start"),
        *ohlc_final_cols())


def ohlc_agg_exprs(value_col: str, tie_col: str) -> list[Column]:
    """The OHLC aggregate expressions (shared with the streaming
    windowed form — streaming/analytics.ohlc_stream must aggregate
    bit-identically to the batch operator).  Expects an ``__e`` epoch
    column on the input."""
    first = F.min(F.struct(F.col("__e"), F.col(tie_col).alias("t"),
                           F.col(value_col).alias("v"))).alias("__f")
    last = F.max(F.struct(F.col("__e"), F.col(tie_col).alias("t"),
                          F.col(value_col).alias("v"))).alias("__l")
    nano = F.floor(F.col(value_col) * F.lit(1e9) + F.lit(0.5)) \
        .cast("decimal(38,0)")
    return [first, last,
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(nano).alias("__sn")]


def ohlc_final_cols() -> list[Column]:
    """Post-aggregation OHLC projection (shared with the stream)."""
    # micros = round-half-away-from-zero(|S| / (1000 n)) with the sign
    # reapplied — (2A + d) div (2d) is round-half-up for A >= 0
    mean = F.expr(
        "CAST((CASE WHEN __sn < 0 THEN -1 ELSE 1 END)"
        " * ((2 * abs(__sn) + 1000 * n"
        "     - pmod(2 * abs(__sn) + 1000 * n, 2000 * n))"
        "    div (2000 * n)) AS DOUBLE) / 1e6")
    return [F.col("__f.v").alias("open"), F.col("high"), F.col("low"),
            F.col("__l.v").alias("close"), F.col("n"),
            mean.alias("mean_value")]


def item_similarity_topk(df: DataFrame, basket_col: str, item_col: str,
                         k: int = 3, min_support: int = 2,
                         ) -> DataFrame:
    """Item-item cosine similarity over co-occurrence counts with a
    per-item top-k — the "customers also bought" neighborhood table
    (the scoring step after :func:`co_occurrence`'s pair counts).

    ``cos(a,b) = n_ab / sqrt(n_a · n_b)`` — counts are exact BIGINTs,
    the product is an exact integer, the IEEE sqrt is correctly
    rounded on every engine, and the score ROUNDS TO 6dp BEFORE
    ranking (the q69 rule) with the neighbor id as tie-break so both
    engines rank identically.

    Scale shape: the pair build is co_occurrence's basket-keyed
    self-equi-join (r13 NOTE: the collect_set + in-expression pair
    explode variant regressed at sf10 — 23.0 → ≥28.6 s with GCLocker
    stalls — and was reverted; see co_occurrence's docstring);
    both directions union (symmetric neighborhoods);
    the per-item top-k is a grouped window over MANY SMALL groups
    (items), the case where a plain grouped window is the right plan.
    """
    from pyspark.sql import Window
    # same single basket-keyed exchange as co_occurrence (r13): the
    # dedup and the self-join's two sides all ride one repartition
    ub = (df.select(F.col(basket_col).alias("__b"),
                    F.col(item_col).alias("__i"))
          .repartition(F.col("__b"))
          .dropDuplicates(["__b", "__i"]))
    item_n = ub.groupBy("__i").agg(F.count(F.lit(1)).cast("long")
                                   .alias("__ni"))
    a = ub.select(F.col("__b"), F.col("__i").alias("item"))
    b = ub.select(F.col("__b"), F.col("__i").alias("neighbor"))
    # SHUFFLE_HASH: same corpus-side broadcast-build pathology as
    # co_occurrence (see the NOTE there; r14 measured pair)
    pairs = (a.join(b.hint("shuffle_hash"), "__b")
             .filter(F.col("item") < F.col("neighbor"))
             .groupBy("item", "neighbor")
             .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
             .filter(F.col("n_pair") >= int(min_support)))
    sym = pairs.unionByName(
        pairs.select(F.col("neighbor").alias("item"),
                     F.col("item").alias("neighbor"), "n_pair"))
    sym = (sym
           .join(item_n.select(F.col("__i").alias("item"),
                               F.col("__ni").alias("n_item")), "item")
           .join(item_n.select(F.col("__i").alias("neighbor"),
                               F.col("__ni").alias("n_neighbor")),
                 "neighbor"))
    score = F.round(
        F.col("n_pair").cast("double")
        / F.sqrt((F.col("n_item") * F.col("n_neighbor")).cast("double")),
        6)
    w = Window.partitionBy("item").orderBy(F.col("cosine").desc(),
                                           F.col("neighbor").asc())
    out = (sym.withColumn("cosine", score)
           .withColumn("rank", F.row_number().over(w).cast("long"))
           .filter(F.col("rank") <= int(k)))
    return out.select("item", "neighbor", "n_pair", "n_item",
                      "n_neighbor", "cosine", "rank")

"""Window / moving-window operators (SURVEY §2.5)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dense_group_ids(df: DataFrame, order_col: str | Column,
                    out_col: str = "group_id") -> DataFrame:
    """Normalize group labels to 0..n-1 (reference W1/A12,
    ``rankdata(…,'dense')-1`` ml/rf.py:227-243).

    Scale shape: a ``dense_rank`` over a no-partition window would drag
    the whole input through one task.  Instead the DISTINCT label set
    (tiny by construction — these are group labels) is ranked with the
    window and broadcast-joined back, so the fact rows never reshuffle.
    """
    key = F.col(order_col) if isinstance(order_col, str) else order_col
    dim = (df.select(key.alias("__gk")).distinct()
           .withColumn(out_col,
                       F.dense_rank().over(Window.orderBy("__gk")) - 1))
    return (df.join(F.broadcast(dim), key.eqNullSafe(F.col("__gk")), "left")
            .drop("__gk"))


#: hash-sieve 1/512 of rows for bounds: small enough that the
#: TakeOrdered cap heap sees ~0.2% of a 100 TB scan, large enough that
#: even small inputs yield a few cut points.  A thin sample (< n keys)
#: is used AS-IS — bounds only steer balance, so a 5k-row input that
#: sieves to ~10 keys simply runs on ~10 ranges; there is never a
#: second collect (the old re-collect fallback doubled the per-cumsum
#: driver-job cost at the sf0.1 bench tier).
_BOUNDS_SAMPLE_MOD = 512
_BOUNDS_SAMPLE_CAP = 65536     # max sampled keys collected to driver

#: auto-sizing target: the sieve's row-count estimate caps the range
#: count at ~one range per this many rows, so a 600k-row input gets ~5
#: ranges (shallow CASE tree, small offsets dim) while anything from
#: ~4M rows up saturates the requested parallelism (est/128k >= 32
#: there — the cap, not the target, binds at scale).  A 128k-row
#: in-memory sort is a trivial task; more ranges than est/128k only
#: add label depth and scheduling overhead.
_BOUNDS_TARGET_ROWS = 131072

#: Sampled bounds memoized by (analyzed-plan semantic hash, key expr,
#: key type, n).  Any ascending cut points of the right type give a
#: CORRECT cumsum (the label expression, not the bounds, carries
#: correctness), so a stale or even colliding cache hit can only cost
#: balance — which is why a cross-build cache is safe at all.  It
#: exists because rebuilds of the same plan (bench min-of-N reps, the
#: offsets/main double-build, repeated parity checks in one session)
#: each paid a fresh driver-side sampling job.
_BOUNDS_CACHE: dict = {}
_BOUNDS_CACHE_MAX = 512


def _py_comparable(v):
    """Row/struct → tuple so driver-side sorting matches Spark's
    field-by-field struct ordering."""
    from pyspark.sql import Row
    if isinstance(v, Row):
        return tuple(_py_comparable(x) for x in v)
    return v


def _lit_of(v, dt):
    """Literal Column of a collected value, cast to the exact key type
    (struct literals rebuilt field by field)."""
    from pyspark.sql.types import StructType
    if isinstance(dt, StructType):
        return F.struct(*[_lit_of(v[i], f.dataType).alias(f.name)
                          for i, f in enumerate(dt.fields)])
    return F.lit(v).cast(dt)


#: Job group the bounds-sampling collects run under — the ONLY jobs a
#: plan BUILD may trigger (tests/test_curation.py asserts exactly this;
#: the group also names the jobs in the Spark UI).
BOUNDS_JOB_GROUP = "ranged-cumsum-bounds"


def _field_not_null(col: Column, dt) -> Column:
    """No field of the key is NULL (recursing into nested structs).
    NULL-field keys are excluded from the bounds sample: as bound
    LITERALS their comparisons would yield NULL and poison the CASE
    tree, and the driver-side sort cannot order None against values.
    As data they are safe — their comparisons fall through to
    partition 0 (see :func:`_bsearch_partition`)."""
    from pyspark.sql.types import StructType
    if isinstance(dt, StructType):
        cond = F.lit(True)
        for f in dt.fields:
            cond = cond & _field_not_null(col.getField(f.name),
                                          f.dataType)
        return cond
    return col.isNotNull()


def _bounds_cache_key(df: DataFrame, key: Column, key_type, n: int):
    """Best-effort memo key for a (plan, key expr, type, n) combination;
    None (→ no caching) when plan introspection isn't available."""
    try:
        plan_hash = df._jdf.queryExecution().analyzed().semanticHash()
        key_str = key._jc.toString()
    except Exception:
        return None
    return (plan_hash, key_str, str(key_type), n)


def _range_bounds(df: DataFrame, key: Column, key_type, n: int) -> list:
    """Up to n−1 ascending cut points for the partition-label expression.

    One bounded driver collect of a hash sample (xxhash64 sieve, then
    an independent-hash TakeOrdered cap, so driver memory is bounded at
    any input size).  Bounds only steer BALANCE — any ascending cut
    values give a CORRECT cumsum, so sampling noise is harmless; what
    matters for correctness is that the label assignment itself is a
    pure per-row expression (recomputation-safe), which this enables.
    A thin sieve result (< n keys — small input) is used directly as
    the cut set rather than re-collected: fewer-than-n balanced ranges
    on a small input beat a second driver job every build.

    Results are memoized per (plan, key, type, n) in
    :data:`_BOUNDS_CACHE`, so rebuilding the same logical plan (bench
    repetitions, the multiple builds Spark's dual-branch execution
    triggers, a session's repeated parity runs) pays the sampling job
    once.  Cache hits can at worst reflect an older sample of the same
    plan — still ascending, still typed, therefore still correct.

    The collects run under :data:`BOUNDS_JOB_GROUP` so callers (and the
    curation laziness test) can attribute build-time jobs to this
    bounded, column-pruned sample scan.
    """
    if n <= 1:
        return []
    ck = _bounds_cache_key(df, key, key_type, n)
    if ck is not None and ck in _BOUNDS_CACHE:
        return _BOUNDS_CACHE[ck]
    sc = df.sparkSession.sparkContext
    keys = (df.select(key.alias("__k"))
            .where(_field_not_null(F.col("__k"), key_type)))
    h2 = F.xxhash64(F.col("__k"), F.lit(7))
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(BOUNDS_JOB_GROUP,
                   "ranged_cumsum partition-bound sampling")
    try:
        sieved = True
        samp = (keys.where(F.pmod(F.xxhash64(F.col("__k")),
                                  F.lit(_BOUNDS_SAMPLE_MOD)) == 0)
                .orderBy(h2).limit(_BOUNDS_SAMPLE_CAP).collect())
        if not samp:
            # the sieve drew nothing — the input is almost surely under
            # ~_BOUNDS_SAMPLE_MOD rows, so collecting keys directly is
            # trivially cheap and keeps __p a real (non-foldable)
            # expression, preserving the distributed plan shape even on
            # toy inputs
            sieved = False
            samp = keys.orderBy(h2).limit(_BOUNDS_SAMPLE_CAP).collect()
    finally:
        if prev is not None:
            sc.setJobGroup(prev, "")
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
    # size the range count from the sieve's row estimate: requested
    # parallelism is a CAP, not a quota — a small input gets few, fat
    # ranges (shallow label tree, fewer tasks), a 100 TB input gets all
    # n.  Never below 2 ranges so __p stays a real expression (a
    # foldable constant would erase the distributed plan shape).
    est = len(samp) * (_BOUNDS_SAMPLE_MOD if sieved else 1)
    n = min(n, max(2, -(-est // _BOUNDS_TARGET_ROWS)))
    rows = sorted((r["__k"] for r in samp), key=_py_comparable)
    if len(rows) >= n:
        rows = [rows[(i * len(rows)) // n] for i in range(1, n)
                if (i * len(rows)) // n < len(rows)]
    # dedupe (repeated quantile picks / repeated sampled keys) — equal
    # bounds only deepen the CASE tree without adding a range
    out, prev_b = [], object()
    for b in rows:
        cb = _py_comparable(b)
        if cb != prev_b:
            out.append(b)
            prev_b = cb
    if ck is not None:
        if len(_BOUNDS_CACHE) >= _BOUNDS_CACHE_MAX:
            _BOUNDS_CACHE.clear()
        _BOUNDS_CACHE[ck] = out
    return out


def _bsearch_partition(key: Column, bounds: list, key_type) -> Column:
    """``bisect_left(bounds, key)`` as a log-depth CASE tree: the count
    of bounds strictly below the key, ~log₂(P) comparisons per row.
    Equal keys always land in the same partition; NULL keys (struct
    comparisons yield NULL) fall through every branch to partition 0,
    matching nulls-first sort order."""
    if not bounds:
        return F.lit(0)
    lits = [_lit_of(b, key_type) for b in bounds]

    def rec(lo: int, hi: int) -> Column:
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return (F.when(key > lits[mid], rec(mid + 1, hi))
                .otherwise(rec(lo, mid)))

    return rec(0, len(bounds))


def ranged_cumsum(df: DataFrame, order_col: str, weight_col: str,
                  cum_col: str = "__cw",
                  num_partitions: int | None = None,
                  group_cols: list[str] | None = None,
                  total_col: str | None = None,
                  extra_weights: dict[str, str] | None = None) -> DataFrame:
    """Ordered cumulative weight sum WITHOUT a single-partition window —
    global, or per group when ``group_cols`` is given.

    Range-label on the order column (equal keys land together; within
    every group the labels are monotone in the order, which is all the
    offset algebra needs), compute a partition-LOCAL ordered cumsum,
    then add per-(group, partition) offsets — a tiny offsets table (≈ one row per partition
    per group-slice it holds) ranked with a small window and broadcast
    back.  Every stage is distributed; the only global structure is the
    broadcast offset map.

    The GROUPED form exists because ``Window.partitionBy(group)`` is a
    scale trap when groups are few and huge: 3 return-flag groups at 10×
    data serialize the whole sort into 3 tasks (the round-6 sf1 bench
    measured q34 going 6.4× at 10× data; this path took it back to
    ~linear).  Intended for FEW large groups — with millions of small
    groups the offsets table grows to ~one row per group and the plain
    grouped window is the right plan instead.

    ``total_col`` additionally attaches the (per-group) TOTAL weight to
    every row, derived from the same tiny offsets table — quantile-style
    consumers need cw/tw and computing the total separately would cost
    another full scan of ``df``.

    ``extra_weights`` ({weight_col: cum_col}) folds FURTHER cumulative
    sums over the SAME ordering into the one pass — each extra weight
    adds a column to the tiny offsets table and a window sum, never a
    second range shuffle (heaps_fit needs the token and the new-term
    cumsums over the same doc order; two calls would double the
    exchange).

    Partition labels are EXPLICIT literal range bounds (hash-sampled
    once, collected bounded, assigned with a deterministic
    binary-search expression) — NOT ``repartitionByRange`` +
    ``spark_partition_id()``.  The offsets branch and the main branch
    each recompute the input; ``repartitionByRange`` draws NEW random
    range-bound samples per physical computation (exchange reuse does
    not dedupe the two branches once column pruning makes their scans
    differ), so partition ids silently disagree between the branches
    and the offsets corrupt the cumsum (observed: ~87% of global ranks
    wrong on a 10k-row double key, varying run to run).  A per-row
    deterministic label expression is recomputation-safe by
    construction, and drops the double exchange (range + window hash)
    to a single window hash exchange.  NaN order keys are unsupported
    (they would label into partition 0 but sort last).
    """
    spark = df.sparkSession
    g = list(group_cols or [])
    ws = {weight_col: cum_col, **(extra_weights or {})}
    n = num_partitions or spark.sparkContext.defaultParallelism
    # the label cuts on the ORDER column alone, grouped or not: a
    # labeling monotone in the global order is monotone within every
    # group, and equal order values share a label — which is all the
    # per-(group, partition) offset algebra needs.  (A struct(group,
    # order) key is equally correct but makes every row's log-depth
    # CASE compare STRUCTS — rebuilt and re-evaluated per branch;
    # measured ~1.2-1.4x whole-query on q34's 3-group x 600k-row shape
    # vs the scalar key.)
    key = F.col(order_col)
    key_type = (df.select(key.alias("__k")).schema["__k"].dataType)
    bounds = _range_bounds(df, key, key_type, n)
    d = df.withColumn("__p", _bsearch_partition(key, bounds, key_type))
    wo = (Window.partitionBy(*g).orderBy("__p") if g
          else Window.orderBy("__p"))
    wt = Window.partitionBy(*g) if g else Window.partitionBy()
    offs = d.groupBy("__p", *g).agg(
        *[F.sum(w).alias(f"__pw_{i}") for i, w in enumerate(ws)])
    for i, w in enumerate(ws):
        # typed zero keeps integer weights integer end-to-end (packing's
        # "all-integer arithmetic" contract; a double 0.0 here silently
        # promoted long cumsums to double, exact only below 2^53)
        zero = F.lit(0).cast(offs.schema[f"__pw_{i}"].dataType)
        offs = offs.withColumn(
            f"__off_{i}",
            F.coalesce(
                F.sum(f"__pw_{i}").over(
                    wo.rowsBetween(Window.unboundedPreceding, -1)),
                zero))
    if total_col:
        offs = offs.withColumn(total_col, F.sum("__pw_0").over(wt))
    offs = offs.select(F.col("__p").alias("__op"),
                       *[F.col(c).alias(f"__og_{c}") for c in g],
                       *[f"__off_{i}" for i in range(len(ws))],
                       *([total_col] if total_col else []))
    wl = (Window.partitionBy("__p", *g).orderBy(F.col(order_col))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # null-SAFE join keys: a NULL group value is a real group (the
    # plain grouped-window path keeps it), and a name-based equi-join
    # would silently drop every row of it
    cond = F.col("__p") == F.col("__op")
    for c in g:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__og_{c}"))
    out = d.join(F.broadcast(offs), cond)
    for i, (w, cc) in enumerate(ws.items()):
        out = out.withColumn(cc, F.sum(w).over(wl) + F.col(f"__off_{i}"))
    return out.drop("__p", "__op",
                    *[f"__off_{i}" for i in range(len(ws))],
                    *[f"__og_{c}" for c in g])


def ranged_cummin(df: DataFrame, order_col: str, value_col: str,
                  cum_col: str = "__cm",
                  prev_col: str | None = None,
                  num_partitions: int | None = None,
                  group_cols: list[str] | None = None) -> DataFrame:
    """Ordered running MINIMUM without a single-partition window — the
    min-aggregation sibling of :func:`ranged_cumsum`, sharing its
    deterministic literal-bounds partition labels.

    ``cum_col`` is ``min(value over rows with order <= this row's)``
    (per group when ``group_cols`` is given; ties included).
    ``prev_col`` additionally emits the strictly-preceding running min
    (``min over rows BEFORE this one`` — the "best seen before me"
    value skyline/frontier consumers need; NULL for the first row).
    It requires DISTINCT order values (per group): with ties, a
    rows-frame's notion of "before" is engine- and run-dependent —
    collapse to a per-order-value dim first (the pareto_frontier
    pattern), which is also what makes the semantics well defined.

    Shape: identical to ranged_cumsum — one window hash exchange on
    (__p, group), a tiny per-partition offsets dim, a broadcast join.
    """
    spark = df.sparkSession
    g = list(group_cols or [])
    n = num_partitions or spark.sparkContext.defaultParallelism
    # scalar order-only label key — see ranged_cumsum for why this is
    # correct for the grouped form too
    key = F.col(order_col)
    key_type = (df.select(key.alias("__k")).schema["__k"].dataType)
    bounds = _range_bounds(df, key, key_type, n)
    d = df.withColumn("__p", _bsearch_partition(key, bounds, key_type))
    wo = (Window.partitionBy(*g).orderBy("__p") if g
          else Window.orderBy("__p"))
    offs = (d.groupBy("__p", *g)
            .agg(F.min(value_col).alias("__pm"))
            .withColumn("__off", F.min("__pm").over(
                wo.rowsBetween(Window.unboundedPreceding, -1))))
    offs = offs.select(F.col("__p").alias("__op"),
                       *[F.col(c).alias(f"__og_{c}") for c in g],
                       "__off")
    wl = (Window.partitionBy("__p", *g).orderBy(F.col(order_col))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wprev = (Window.partitionBy("__p", *g).orderBy(F.col(order_col))
             .rowsBetween(Window.unboundedPreceding, -1))
    cond = F.col("__p") == F.col("__op")
    for c in g:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__og_{c}"))
    out = (d.join(F.broadcast(offs), cond)
           .withColumn(cum_col, F.least(
               F.min(value_col).over(wl),
               F.coalesce(F.col("__off"),
                          F.min(value_col).over(wl)))))
    if prev_col:
        local_prev = F.min(value_col).over(wprev)
        out = out.withColumn(prev_col, F.when(
            F.col("__off").isNotNull() | local_prev.isNotNull(),
            F.least(F.coalesce(local_prev, F.col("__off")),
                    F.coalesce(F.col("__off"), local_prev))))
    return out.drop("__p", "__op", "__off",
                    *[f"__og_{c}" for c in g])


def weighted_quantile(df: DataFrame, group_cols: list[str], value_col: str,
                      weight_col: str, q: float,
                      out_col: str = "wq",
                      ranged: bool = True) -> DataFrame:
    """Weighted quantile via cumulative-weight interpolation.

    Reference W10/A13 (common/utils.py:294-369): sort values, cumsum
    weights, pick where the normalized cumulative weight crosses ``q``.
    This matches the reference's step-function semantics: the quantile is
    the smallest x whose cumweight/totweight >= q.

    Spark-first: the cumsum goes through :func:`ranged_cumsum` (global,
    or grouped — the default, since the reference's group columns are
    all low-cardinality: return flags, event types, precip classes) so
    nothing funnels into one task per group.  ``ranged=False`` switches
    to the plain grouped window — the right plan when there are MANY
    small groups (the offsets table of the ranged form would grow to
    ~one row per group), or when the group count × size already gives
    enough sort parallelism and the ranged form's ~1s of extra fixed
    stages (sample + offsets + broadcast) isn't worth it (measured:
    grid/evaluation.py's 10-group shape stayed sublinear through 100×
    on the window plan).
    """
    if group_cols and not ranged:
        ws = (Window.partitionBy(*group_cols).orderBy(F.col(value_col))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        wt = Window.partitionBy(*group_cols)
        cum = df.withColumn("__cw", F.sum(weight_col).over(ws)) \
                .withColumn("__tw", F.sum(weight_col).over(wt))
    elif group_cols:
        cum = ranged_cumsum(df, value_col, weight_col, "__cw",
                            group_cols=group_cols, total_col="__tw")
    else:
        cum = ranged_cumsum(df, value_col, weight_col, "__cw",
                            total_col="__tw")
    hit = cum.filter(F.col("__cw") >= q * F.col("__tw"))
    return hit.groupBy(*group_cols).agg(F.min(value_col).alias(out_col))


def rolling_zscore(df: DataFrame, partition_cols: list[str], ts_col: str,
                   value_col: str, tie_col: str,
                   window_rows: int = 10, z_thresh: int = 3) -> DataFrame:
    """Rolling-window anomaly detection: flag a reading whose deviation
    from its trailing ``window_rows`` mean exceeds ``z_thresh`` sample
    standard deviations (W-family extension — the per-series QC check a
    telemetry/training-data pipeline runs before admitting a stream).

    Exactness: the value is quantized ONCE to integer nanos
    (``floor(v·1e9 + 0.5)`` — the hot-path idiom), and the flag decision
    is a PURE-INTEGER inequality — with S = Σx, Q = Σx² over the trailing
    window, ``|x−μ| > z·σ`` squares to

        (n·x − S)² · (n−1)  >  z² · n · (n·Q − S²)

    so no engine's FP rounding can flip a row.  Q rides DECIMAL (nanos²
    overflows BIGINT); Spark's decimal partial-agg and DuckDB's sequential
    sum are both exact.  The reported z itself is one double expression
    tree off the same exact integers, rounded 6dp.

    Emits ONLY full windows (cnt == window_rows) with positive variance.

    Shape at 100 TB: one shuffle on the series key; windows are ROWS-
    bounded (state = ``window_rows`` rows per task, no unbounded
    growth).  Millions of small series — the plain grouped window is
    the right plan (ranged_cumsum is for the few-huge-groups case).
    """
    n = int(window_rows)
    w = (Window.partitionBy(*partition_cols)
         .orderBy(F.col(ts_col), F.col(tie_col))
         .rowsBetween(-(n - 1), 0))
    vn = F.floor(F.col(value_col) * F.lit(1e9) + F.lit(0.5)).cast("long")
    d = (df.withColumn("__vn", vn)
         .withColumn("__s", F.sum("__vn").over(w))
         .withColumn("__q", F.sum(F.col("__vn").cast("decimal(18,0)")
                                  * F.col("__vn").cast("decimal(18,0)"))
                     .over(w))
         .withColumn("__cnt", F.count(F.lit(1)).over(w)))
    dev = (F.col("__cnt") * F.col("__vn") - F.col("__s"))
    var_num = (F.col("__cnt") * F.col("__q")
               - F.col("__s").cast("decimal(18,0)")
               * F.col("__s").cast("decimal(18,0)"))
    flagged = (d.filter(F.col("__cnt") == n)
               .withColumn("__dev", dev)
               .withColumn("__vnum", var_num)
               .filter(F.col("__vnum") > 0)
               .filter(F.col("__dev").cast("decimal(18,0)")
                       * F.col("__dev").cast("decimal(18,0)")
                       * F.lit(n - 1)
                       > F.lit(int(z_thresh) ** 2) * F.lit(n)
                       * F.col("__vnum")))
    z = ((F.col("__dev").cast("double") / F.lit(n))
         / F.sqrt(F.col("__vnum").cast("double") / F.lit(n * (n - 1))))
    return (flagged.withColumn("zscore", F.round(z, 6))
            .drop("__vn", "__s", "__q", "__cnt", "__dev", "__vnum"))


def attribute_intervals(df: DataFrame, key_cols: list[str], ts_col: str,
                        attr_col: str, tie_col: str) -> DataFrame:
    """SCD-2 validity intervals: collapse a keyed change log into
    ``[valid_from, valid_to)`` rows, one per run of equal ``attr_col``
    values (W-family extension — the slowly-changing-dimension build a
    warehouse load runs over every entity history).

    Two windows over ONE shuffle on the entity key: ``lag`` marks run
    starts (gaps-and-islands), then ``lead`` over the surviving change
    rows closes each interval; the current version keeps a NULL
    ``valid_to`` and ``version`` numbers the runs.  Ordering ties break
    on ``tie_col`` so same-timestamp writes are engine-portable.

    Shape at 100 TB: entity keys are many and histories short — the
    grouped window is the right plan; state is one row of lag/lead per
    task.  Pure string/integer comparisons, engine-exact.
    """
    w = (Window.partitionBy(*key_cols)
         .orderBy(F.col(ts_col), F.col(tie_col)))
    changed = (df.withColumn("__prev", F.lag(F.col(attr_col)).over(w))
               .filter(F.col("__prev").isNull()
                       | ~F.col("__prev").eqNullSafe(F.col(attr_col))))
    return (changed
            .withColumn("valid_from", F.col(ts_col))
            .withColumn("valid_to", F.lead(F.col(ts_col)).over(w))
            .withColumn("version", F.row_number().over(w))
            .drop("__prev"))


def dyadic_ewma(df: DataFrame, partition_cols: list[str], ts_col: str,
                value_col: str, tie_col: str, depth: int = 8) -> DataFrame:
    """Exponentially weighted moving average with dyadic decay
    (W-family extension): trailing-``depth`` EWMA with α = 1/2, the
    geometric tail past the window folded into the oldest term so the
    weights sum to exactly 1:

        y_t · 2^(depth-1) = Σ_{k=0}^{depth-2} x_{t-k} · 2^(depth-2-k)
                            + x_{t-(depth-1)}

    Everything through the 6dp rounding is pure integer arithmetic on
    nano-quantized values (``floor(x·1e9 + 0.5)``), and every weight is
    a power of two — so the smoothed value is ONE exact BIGINT, and the
    emitted ``ewma`` rounds it to micros with the exact integer
    round-half division ``(2N + d) div (2d)`` (the q83 idiom — a dyadic
    quotient lands exactly ON the half-way 6dp boundary whenever
    ``y·1e6`` is an odd multiple of ``2^(depth-2)·1e9``, where Spark's
    BigDecimal HALF_UP and DuckDB's double round disagree; spelled via
    the ``pmod`` floor-div identity so negative series round
    half-toward-+∞ identically on both engines).  Rows whose trailing
    window is not yet full are dropped (the unbiased startup
    convention).

    Implementation is ``depth`` frameless ``lag`` taps over ONE window
    spec — one shuffle and one sort on the series key, state per task
    is ``depth`` rows.  Shape at 100 TB: many small series (the uniform
    grouped-window case); ``depth`` is a constant, never a per-row
    fan-out.
    """
    if depth < 2:
        raise ValueError("depth must be >= 2")
    w = Window.partitionBy(*partition_cols).orderBy(F.col(ts_col),
                                                    F.col(tie_col))
    vn = F.floor(F.col(value_col) * 1e9 + F.lit(0.5)).cast("long")
    out = df.withColumn("__vn", vn)
    acc = F.col("__vn") * F.lit(2 ** (depth - 2))
    for k in range(1, depth):
        wt = 2 ** (depth - 2 - k) if k < depth - 1 else 1
        acc = acc + F.lag("__vn", k).over(w) * F.lit(wt)
    d1000 = (2 ** (depth - 1)) * 1000
    micro = F.expr(f"(2*__y + {d1000} - pmod(2*__y + {d1000}, {2 * d1000}))"
                   f" div {2 * d1000}")
    return (out.withColumn("__oldest", F.lag("__vn", depth - 1).over(w))
            .withColumn("__y", acc)
            .filter(F.col("__oldest").isNotNull())
            .withColumn("ewma", micro.cast("double") / F.lit(1e6))
            .drop("__vn", "__oldest", "__y"))


def cusum_changepoints(df: DataFrame, partition_cols: list[str],
                       ts_col: str, value_col: str, tie_col: str,
                       k: float, h: float) -> DataFrame:
    """One-sided (upper) CUSUM drift detector per series (W-family
    extension): flag the rows where the cumulative positive drift above
    the allowance ``k`` exceeds the decision threshold ``h`` (Page
    1954).  The textbook recursion ``S_t = max(0, S_{t-1} + x_t − k)``
    is not window-expressible, but its closed form is:

        S_t = P_t − min(0, min_{j<=t} P_j),   P_t = Σ_{i<=t} (x_i − k)

    — a running sum and a running min over ONE ordered window spec, so
    the whole detector is two window expressions over a single shuffle
    and sort on the series key (many small series — the uniform
    grouped-window case; state per task is one running pair).

    Exactness: values and the constants quantize to nanos
    (``floor(x·1e9 + 0.5)``), so ``P`` and ``S`` are exact BIGINTs and
    the ``S > h`` decision is a pure integer compare — no FP anywhere
    in the detection path.  The emitted ``cusum`` is the single double
    division ``S_nanos / 1e9``, identical across engines.  Pick ``k``
    and ``h`` on the 1e-9 grid (dyadic constants are natural choices).
    """
    w = (Window.partitionBy(*partition_cols)
         .orderBy(F.col(ts_col), F.col(tie_col))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    kn = int(round(k * 1e9))
    hn = int(round(h * 1e9))
    vn = F.floor(F.col(value_col) * 1e9 + F.lit(0.5)).cast("long")
    out = (df.withColumn("__d", vn - F.lit(kn))
           .withColumn("__p", F.sum("__d").over(w))
           .withColumn("__m", F.least(F.lit(0).cast("long"),
                                      F.min("__p").over(w)))
           .withColumn("__s", F.col("__p") - F.col("__m")))
    return (out.filter(F.col("__s") > F.lit(hn))
            .withColumn("cusum", F.col("__s").cast("double") / F.lit(1e9))
            .drop("__d", "__p", "__m", "__s"))


def percentile_rank(df: DataFrame, order_col: str | Column,
                    tie_col: str, out_prefix: str = "pct"
                    ) -> DataFrame:
    """Global percentile rank WITHOUT a single-partition window (W-family
    extension; the calibration primitive behind cross-source score
    normalization): each row gets its exact BIGINT rank under
    ``(order, tie)`` and the percentile ``(rank − 1)/(N − 1)`` as ONE
    double division (deterministic — both operands exact integers).

    The rank rides :func:`ranged_cumsum` on a ``(order, tie)`` struct
    key — range-partitioned rank, no global sort into one task (the
    q108 vocab-rank idiom).  Single-row inputs emit percentile 0.
    """
    key = F.col(order_col) if isinstance(order_col, str) else order_col
    ordered = (df.withColumn("__ord", F.struct(key.alias("v"),
                                               F.col(tie_col).alias("i")))
               .withColumn("__one", F.lit(1).cast("long")))
    ranked = ranged_cumsum(ordered, "__ord", "__one",
                           cum_col=f"{out_prefix}_rank",
                           total_col="__n")
    pct = F.when(F.col("__n") > 1,
                 (F.col(f"{out_prefix}_rank") - 1).cast("double")
                 / (F.col("__n") - 1).cast("double")) \
        .otherwise(F.lit(0.0))
    return (ranked.withColumn(f"{out_prefix}_rank",
                              F.col(f"{out_prefix}_rank").cast("long"))
            .withColumn(out_prefix, pct)
            .drop("__ord", "__one", "__n"))

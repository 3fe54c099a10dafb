"""Statistical-analytics operators: regression/correlation aggregates,
quantiles, deterministic mode, fixed-width histograms, z-score anomaly
flags, and interval-overlap (sweep-line) concurrency.

The reference computes descriptive stats imperatively (NumPy means /
stds inside loops, e.g. Hidden_MarkovModels/brain_segmentation.py's
per-class statistics); here the same statistical machinery is exposed
as first-class distributed aggregates a reference user would reach for
on tabular data.

Determinism strategy (same as pricing_summary): every sufficient
statistic (sum, sum-of-squares, cross-sum) is accumulated in DECIMAL —
association-order independent — and only the final scalar formula runs
in DOUBLE, written with the identical expression shape in Spark and
the DuckDB oracle so both engines produce bit-equal doubles.

Scale notes: all aggregates here are partial+final hash aggregates
over small group cardinalities (map-side combine does the work); the
z-score query joins a broadcast 5-row stats table back to the fact
table; the sweep-line windows partition by nation so no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..sources import load_table

_DEC_Q = "decimal(12,2)"  # l_quantity
_DEC_P = "decimal(12,2)"  # l_extendedprice


@query(
    "regression_stats",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                    * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                    * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    -- NULLIF + GREATEST(.,0) guards mirror the Spark side: a
    -- constant-x/-y group yields NULL slope/corr in BOTH engines, and
    -- the clamp matters because n*sxx - sx*sx can land one ULP BELOW
    -- zero for zero-variance groups (confirmed) - an unclamped SQRT
    -- would hard-error in DuckDB while Spark returns NaN
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           ROUND((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 6) AS slope,
           ROUND((sy - ((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0)) * sx) / n, 6)
             AS intercept,
           ROUND((n * sxy - sx * sy)
                 / NULLIF(SQRT(GREATEST(n * sxx - sx * sx, 0) * GREATEST(n * syy - sy * sy, 0)), 0), 6) AS corr,
           ROUND(((n * sxy - sx * sy)
                  / NULLIF(SQRT(GREATEST(n * sxx - sx * sx, 0) * GREATEST(n * syy - sy * sy, 0)), 0))
                 * ((n * sxy - sx * sy)
                    / NULLIF(SQRT(GREATEST(n * sxx - sx * sx, 0) * GREATEST(n * syy - sy * sy, 0)), 0)), 6) AS r2
    FROM s
    """,
    bench=True, exchanges=1,
)
def q_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS slope/intercept + Pearson correlation + R² of
    extendedprice on quantity — the regr_*/corr/covar aggregate family
    computed from DECIMAL-exact sufficient statistics.

    One partial+final hash aggregate (6 sums over 3 groups); the
    closed-form solve is a scalar projection on the 3-row result, so
    the whole query is a single map-side-combined pass regardless of
    input size.  Built-in F.corr / F.regr_slope are asserted equal to
    this closed form (within float tolerance) in tests/test_semantics.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast(_DEC_Q)
    y = F.col("l_extendedprice").cast(_DEC_P)
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    # NULLIF guards: constant-x (or constant-y) groups yield NULL
    # slope/corr like the oracle, instead of an ANSI DIVIDE_BY_ZERO
    slope = (n * sxy - sx * sy) / F.nullif(n * sxx - sx * sx, F.lit(0.0))
    # GREATEST clamp: the variance numerator can land one ULP below
    # zero for a zero-variance group (confirmed experimentally), which
    # would NaN here and hard-error in the DuckDB oracle
    corr = (n * sxy - sx * sy) / F.nullif(
        F.sqrt(
            F.greatest(n * sxx - sx * sx, F.lit(0.0))
            * F.greatest(n * syy - sy * sy, F.lit(0.0))
        ),
        F.lit(0.0),
    )
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(corr, 6).alias("corr"),
        F.round(corr * corr, 6).alias("r2"),
    )


@query(
    "grouped_quantiles",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(quantile_cont(value, 0.25), 6) AS q1,
           ROUND(quantile_cont(value, 0.50), 6) AS median,
           ROUND(quantile_cont(value, 0.75), 6) AS q3,
           ROUND(quantile_cont(value, 0.75) - quantile_cont(value, 0.25), 6) AS iqr
    FROM events
    GROUP BY event_type
    """,
    exchanges=1,
)
def q_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quartiles + IQR per event type (the
    percentile family beyond request_metrics' p50/p95 on latencies).

    `percentile` is an exact order-statistic aggregate: fine at this
    group cardinality; at 100 TB swap to approx_percentile with a
    bounded error budget — exposed here exactly so the checked query
    stays deterministic.
    """
    ev = load_table(spark, sf_dir, "events")
    q1 = F.percentile("value", F.lit(0.25))
    q3 = F.percentile("value", F.lit(0.75))
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(q1, 6).alias("q1"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("median"),
        F.round(q3, 6).alias("q3"),
        F.round(q3 - q1, 6).alias("iqr"),
    )


@query(
    "mode_bucket",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, bucket, n,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY n DESC, bucket ASC) AS rk
      FROM c
    )
    SELECT event_type, bucket AS mode_bucket, n AS n_mode
    FROM r WHERE rk = 1
    """,
    exchanges=2,
)
def q_mode_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode over value buckets.

    The built-in `mode` aggregate is tie-ambiguous across engines, so
    the mode is computed as an explicit argmax with a total tiebreak
    (count DESC, bucket ASC) — same answer in Spark and DuckDB by
    construction.  Two shuffles: one hash-agg on (type, bucket), one
    tiny per-type window over group counts.
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        F.floor(F.col("value") / F.lit(50.0)).cast("bigint").alias("bucket"),
    ).groupBy("event_type", "bucket").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc(), F.col("bucket").asc())
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("event_type", F.col("bucket").alias("mode_bucket"), F.col("n").alias("n_mode"))
    )


@query(
    "histogram_totalprice",
    oracle="""
    SELECT LEAST(CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT), 9) AS bucket,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 3) AS DOUBLE)
             AS total
    FROM orders
    GROUP BY 1
    """,
    exchanges=1,
)
def q_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width 10-bucket histogram of order totals (the
    width_bucket pattern, written as explicit clamped floor division
    so both engines share one bucket rule).

    Pure map-side bucket + combine: the shuffle carries ≤10 rows per
    mapper no matter the input size — the correct 100 TB histogram
    shape (vs sorting or per-row exchange).
    """
    o = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / F.lit(50000.0)).cast("bigint"), F.lit(9)
    )
    return (
        o.select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 3)
            .cast("double")
            .alias("total"),
        )
    )


@query(
    "anomaly_zscore",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value AS DECIMAL(18,2))
                    * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx
      FROM events GROUP BY event_type
    ),
    z AS (
      SELECT e.event_type,
             ABS((e.value - s.sx / s.n)
                 / NULLIF(SQRT(GREATEST(s.n * s.sxx - s.sx * s.sx, 0)
                               / (s.n * (s.n - 1))), 0)) AS az
      FROM events e JOIN s ON e.event_type = s.event_type
    )
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN az > 2.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           ROUND(MAX(az), 4) AS max_abs_z
    FROM z GROUP BY event_type
    """,
    exchanges=2,
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier flagging: grouped mean/std from
    DECIMAL-exact sufficient statistics, joined back to the fact rows
    to count |z| > 2 and the max |z|.

    The per-type stats table is a handful of rows → broadcast join
    back to events, so the fact table is scanned twice but never
    shuffled on a data-dependent key.  Identical double formula both
    engines (see module docstring).
    """
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(v).cast("double").alias("sx"),
        F.sum(v * v).cast("double").alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    joined = ev.join(F.broadcast(s), "event_type")
    # NULLIF guard: a single-row or zero-variance group must yield a
    # NULL z-score (as the oracle does), not an ANSI DIVIDE_BY_ZERO
    az = F.abs(
        (F.col("value") - sx / n)
        / F.nullif(
            F.sqrt(
                F.greatest(n * sxx - sx * sx, F.lit(0.0)) / (n * (n - F.lit(1.0)))
            ),
            F.lit(0.0),
        )
    )
    return (
        joined.select("event_type", az.alias("az"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("az") > 2.0, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
            F.round(F.max("az"), 4).alias("max_abs_z"),
        )
    )


@query(
    "max_concurrent_orders",
    oracle="""
    WITH iv AS (
      SELECT n.n_name, o.o_orderdate AS t0,
             o.o_orderdate + INTERVAL 30 DAY AS t1
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    ),
    deltas AS (
      SELECT n_name, t0 AS t, 1 AS d FROM iv
      UNION ALL
      SELECT n_name, t1 AS t, -1 AS d FROM iv
    ),
    cum AS (
      SELECT n_name,
             SUM(d) OVER (PARTITION BY n_name ORDER BY t
                          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS open_now
      FROM deltas
    )
    SELECT n_name, CAST(MAX(open_now) AS BIGINT) AS peak_concurrent
    FROM cum GROUP BY n_name
    """,
    bench=True, exchanges=1,
)
def q_max_concurrent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval-overlap: peak number of simultaneously open
    orders (30-day fulfillment window) per nation.

    The classic +1/-1 event-endpoint trick: union starts and ends,
    running sum ordered by time.  The RANGE frame nets all endpoints
    at the same instant, making ties deterministic in both engines.
    Windows partition by nation — bounded per-group state, no global
    sort; at 100 TB add a coarse time-bucket pre-aggregation of deltas
    before the window (same math, smaller sort).
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    iv = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.col("o_orderdate").alias("t0"),
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("t1"),
        )
    )
    deltas = iv.select("n_name", F.col("t0").alias("t"), F.lit(1).alias("d")).unionAll(
        iv.select("n_name", F.col("t1").alias("t"), F.lit(-1).alias("d"))
    )
    w = (
        Window.partitionBy("n_name")
        .orderBy("t")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = deltas.select("n_name", F.sum("d").over(w).alias("open_now"))
    return cum.groupBy("n_name").agg(
        F.max("open_now").cast("bigint").alias("peak_concurrent")
    )


@query(
    "ewma_user_value",
    oracle="""
    WITH l AS (
      SELECT event_id, value,
             LAG(value, 1) OVER w AS l1,
             LAG(value, 2) OVER w AS l2,
             LAG(value, 3) OVER w AS l3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id,
           ROUND((value
                  + (CASE WHEN l1 IS NULL THEN 0.0 ELSE 0.5 * l1 END)
                  + (CASE WHEN l2 IS NULL THEN 0.0 ELSE 0.25 * l2 END)
                  + (CASE WHEN l3 IS NULL THEN 0.0 ELSE 0.125 * l3 END))
                 / (1.0
                    + (CASE WHEN l1 IS NULL THEN 0.0 ELSE 0.5 END)
                    + (CASE WHEN l2 IS NULL THEN 0.0 ELSE 0.25 END)
                    + (CASE WHEN l3 IS NULL THEN 0.0 ELSE 0.125 END)), 6)
             AS ewma
    FROM l
    """,
    bench=True, exchanges=1, order_sensitive=True,
)
def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing exponentially-weighted moving average (decay 0.5 over
    the last 4 observations) of each user's event values — the
    time-series smoothing primitive, as a pure lag-chain window.

    A truncated EWMA is a fixed linear combination of LAGs, so it runs
    entirely inside one per-user window pass (no recursion, no UDF,
    no state): partition by user_id bounds the sort.  Weights
    renormalize over the lags that exist so the series starts unbiased.
    Identical left-associated double arithmetic in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    l1, l2, l3 = (F.lag("value", i).over(w) for i in (1, 2, 3))
    num = (
        F.col("value")
        + F.when(l1.isNull(), 0.0).otherwise(F.lit(0.5) * l1)
        + F.when(l2.isNull(), 0.0).otherwise(F.lit(0.25) * l2)
        + F.when(l3.isNull(), 0.0).otherwise(F.lit(0.125) * l3)
    )
    den = (
        F.lit(1.0)
        + F.when(l1.isNull(), 0.0).otherwise(0.5)
        + F.when(l2.isNull(), 0.0).otherwise(0.25)
        + F.when(l3.isNull(), 0.0).otherwise(0.125)
    )
    return ev.select("event_id", "user_id", "ts", "value").select(
        "event_id", F.round(num / den, 6).alias("ewma")
    )


@query(
    "activity_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_idx
      FROM events
    ),
    isl AS (
      SELECT user_id, day_idx,
             day_idx - ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY day_idx) AS island
      FROM days
    ),
    runs AS (
      SELECT user_id, island, COUNT(*) AS streak
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(MAX(streak) AS BIGINT) AS longest_streak,
           CAST(SUM(streak) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM runs GROUP BY user_id
    """,
    exchanges=2, order_sensitive=True,
)
def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest run of consecutive active days per
    user (the engagement-streak computation).

    The classic island key — day_index minus its per-user row_number
    is constant exactly within a consecutive run — turns run detection
    into two hash aggregations around one per-user window; no self
    join, no iteration.  Day index is an integer (days since epoch) so
    the island arithmetic is exact in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("day_idx"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day_idx")
    isl = days.select(
        "user_id", "day_idx", (F.col("day_idx") - F.row_number().over(w)).alias("island")
    )
    runs = isl.groupBy("user_id", "island").agg(F.count(F.lit(1)).alias("streak"))
    return runs.groupBy("user_id").agg(
        F.max("streak").cast("bigint").alias("longest_streak"),
        F.sum("streak").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
    )


@query(
    "winsorize_values",
    oracle="""
    WITH b AS (
      SELECT event_type,
             ROUND(quantile_cont(value, 0.05), 6) AS lo,
             ROUND(quantile_cont(value, 0.95), 6) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           b.lo, b.hi,
           CAST(SUM(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_low,
           CAST(SUM(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_high,
           ROUND(MIN(GREATEST(LEAST(e.value, b.hi), b.lo)), 6) AS min_winsor,
           ROUND(MAX(GREATEST(LEAST(e.value, b.hi), b.lo)), 6) AS max_winsor
    FROM events e JOIN b USING (event_type)
    GROUP BY e.event_type, b.lo, b.hi
    """,
    bench=True, exchanges=2,
)
def q_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (percentile clipping) — the outlier-capping step
    of metric cleaning: clip each value into its group's [p05, p95]
    band and report the clip census.

    The 100 TB shape: boundaries are a tiny per-group aggregate
    broadcast back into the fact scan (exactly the curriculum_buckets
    pattern — never a global sort, never a per-row percentile
    window).  Clip statistics are counts/min/max against rounded
    boundaries, so the output is drift-free cross-engine.
    """
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.05)), 6).alias("lo"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("hi"),
    )
    e = ev.join(F.broadcast(b), "event_type")
    wv = F.greatest(F.least(F.col("value"), F.col("hi")), F.col("lo"))
    return e.groupBy("event_type", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value") < F.col("lo"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clip_low"),
        F.sum(F.when(F.col("value") > F.col("hi"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clip_high"),
        F.round(F.min(wv), 6).alias("min_winsor"),
        F.round(F.max(wv), 6).alias("max_winsor"),
    ).select("event_type", "n", "lo", "hi", "n_clip_low", "n_clip_high",
             "min_winsor", "max_winsor")


@query(
    "hll_distinct_audit",
    oracle="""
    -- The sketch estimate itself is implementation-defined, so the
    -- checked contract is (a) the exact distinct count and (b) the
    -- estimate landing inside the published error bound (5% >> the
    -- ~1.6% expected at lgConfigK=12) — stated as a literal TRUE.
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_nd,
           TRUE AS est_in_bounds
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT), TRUE FROM events
    """,
    # audit query: deliberately computes the exact AND the sketch paths
    exchanges=6,
)
def q_hll_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog sketch audit: per-type HLL estimates and their
    union (the mergeable-sketch property that makes HLL the 100 TB
    tool — partial sketches combine associatively across partitions
    and even across separately-computed tables) checked against exact
    distinct counts within the published error bound.

    The 'ALL' row estimates from the UNION of the per-type sketches —
    never re-scanning the data — which is exactly how a production
    rollup serves global cardinality from per-partition sketches.
    """
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk"),
        F.count_distinct("user_id").cast("bigint").alias("exact_nd"),
    )
    per_out = per.select(
        "event_type",
        "exact_nd",
        (
            F.abs(F.expr("hll_sketch_estimate(sk)") - F.col("exact_nd"))
            <= F.greatest((F.col("exact_nd") * 0.05), F.lit(1.0))
        ).alias("est_in_bounds"),
    )
    glob = (
        per.agg(
            F.expr("hll_union_agg(sk)").alias("sk"),
        )
        .crossJoin(
            F.broadcast(ev.agg(F.count_distinct("user_id").cast("bigint").alias("exact_nd")))
        )
        .select(
            F.lit("ALL").alias("event_type"),
            "exact_nd",
            (
                F.abs(F.expr("hll_sketch_estimate(sk)") - F.col("exact_nd"))
                <= F.greatest((F.col("exact_nd") * 0.05), F.lit(1.0))
            ).alias("est_in_bounds"),
        )
    )
    return per_out.unionByName(glob)


@query(
    "approx_topk_tokens",
    oracle="""
    -- the corpus has far fewer distinct tokens than the tracker
    -- capacity, so approx_top_k degenerates to EXACT counts — the
    -- oracle is the exact top-5 (count desc, token asc).
    WITH tok AS (
      SELECT UNNEST(str_split(text, ' ')) AS token FROM documents
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n
    FROM tok GROUP BY token
    ORDER BY n DESC, token
    LIMIT 5
    """,
    exchanges=1,
)
def q_approx_topk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via ``approx_top_k`` — the sketched frequent-items
    aggregate (Misra-Gries family).  Under capacity the sketch is
    exact, so the oracle pins exact counts; above capacity (the 100 TB
    case) the same plan degrades gracefully to approximate counts with
    bounded error instead of OOMing a full group-by.

    Re-sorted (count desc, token) after the sketch so tie order is
    engine-independent.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("token"))
    # ask the sketch for 20 and cut to 5 AFTER the deterministic
    # re-sort: a count tie at the 5/6 boundary is then resolved by the
    # same (count desc, token) rule as the oracle, not by whichever
    # item the sketch happened to surface (membership, not just order)
    res = tok.agg(F.expr("approx_top_k(token, 20, 10000)").alias("tk"))
    return (
        res.select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("token"), F.col("e.count").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(5)
    )


@query(
    "pandas_udaf_mad",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority, MEDIAN(CAST(o_totalprice AS DOUBLE)) AS med
      FROM orders GROUP BY o_orderpriority
    ),
    d AS (
      SELECT o.o_orderpriority,
             ABS(CAST(o.o_totalprice AS DOUBLE) - m.med) AS dev
      FROM orders o JOIN m USING (o_orderpriority)
    )
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MEDIAN(dev), 4) AS mad_price
    FROM d GROUP BY o_orderpriority
    """,
    bench=True, exchanges=1,  # one group-key shuffle into the UDAF
)
def q_pandas_udaf_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate Pandas UDF (the UDAF surface): per-priority
    median absolute deviation of order value — the robust spread
    statistic Spark has no built-in aggregate for (median exists, MAD
    does not: it needs a second median over per-group deviations).
    The UDF receives each group's values as ONE Arrow-backed Series
    and returns one scalar — the vectorized custom-aggregate shape
    for statistics a SQL rewrite would need two shuffles to express
    (and the oracle pays exactly those: median join + second median).

    Parity: both engines interpolate even-count medians as the mean
    of the middle two doubles; values are exact cents, and ROUND(4)
    absorbs any last-ulp noise in the halving.

    Scale: one shuffle on the group key; per-group state is the
    group's value vector inside an Arrow batch — fine for bounded
    groups (5 priorities x O(rows/5)); for unbounded group sizes the
    two-pass SQL form (the oracle's shape) is the fallback."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG: `from __future__ import annotations` turns
    # type hints into strings the UDF inspector can't resolve here
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def mad(v):
        med = v.median()
        return float((v - med).abs().median())

    # JVM aggregates can't share an agg with a GROUPED_AGG pandas UDF
    # (INVALID_PANDAS_UDF_PLACEMENT), so the count rides as a second
    # pandas aggregate over the same Arrow batch
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def cnt(v):
        return len(v)

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.col("o_totalprice").cast("double").alias("price")
    )
    return orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        cnt("price").alias("n"),
        F.round(mad("price"), 4).alias("mad_price"),
    )

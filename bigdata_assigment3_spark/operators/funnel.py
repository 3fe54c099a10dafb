"""Event-journey analytics over the ``events`` stream: ordered funnel
conversion and retention cohorts.

Extends the reference's event-analytics REST app (Rest_webservice
app/routers.py — segmentation + frequent-pair mining) with the two
canonical product-analytics queries every event warehouse serves.
All time math runs on integer epoch micros / midnight-truncated day
diffs, so both engines agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from ..sources import load_table

RETENTION_HORIZON = 7  # days tracked per cohort


@query(
    "funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t1
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click,
           (SELECT COUNT(*) FROM p) AS n_purchase,
           ROUND(CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
                 / (SELECT COUNT(*) FROM v), 6) AS view_to_click,
           ROUND(CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
                 / NULLIF((SELECT COUNT(*) FROM c), 0), 6) AS click_to_purchase
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked strictly after
    their first view, then purchased strictly after that first
    qualifying click — the sequence-respecting conversion query (a
    click before any view must NOT count).

    Scale shape: each step is a min-agg plus one join, all keyed on
    user_id — co-partitioned, so steps 2..k reuse the step-1 shuffle
    partitioning.  Event-time comparison is integer epoch micros.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    counts = (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase")))
    )
    return counts.select(
        "n_view",
        "n_click",
        "n_purchase",
        F.round(F.col("n_click").cast("double") / F.col("n_view"), 6).alias(
            "view_to_click"
        ),
        F.round(
            F.col("n_purchase").cast("double")
            / F.nullif(F.col("n_click"), F.lit(0)),
            6,
        ).alias("click_to_purchase"),
    )


@query(
    "retention_cohorts",
    oracle=f"""
    WITH f AS (
      SELECT user_id, MIN(date_trunc('day', ts)) AS cohort FROM events
      GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    )
    SELECT CAST(epoch(f.cohort) AS BIGINT) AS cohort_day,
           CAST(date_diff('day', f.cohort, a.day) AS BIGINT) AS day_offset,
           COUNT(*) AS n_active
    FROM a JOIN f USING (user_id)
    WHERE date_diff('day', f.cohort, a.day) <= {RETENTION_HORIZON}
    GROUP BY 1, 2
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort triangle: users bucketed by first-seen day,
    counted as active on each later day within a {RETENTION_HORIZON}-day
    horizon — the day-N retention table every growth dashboard plots.

    Scale shape: first-seen is one min-agg on user_id; activity is a
    distinct on (user, day); the join is again user_id-keyed, so the
    whole query rides a single partitioning.  Day arithmetic happens
    on midnight-truncated dates — integer-exact across engines.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    )
    f = ev.groupBy("user_id").agg(F.min("day").alias("cohort"))
    a = ev.distinct()
    off = F.datediff(F.col("day"), F.col("cohort")).cast("bigint")
    return (
        a.join(f, "user_id")
        .filter(off <= RETENTION_HORIZON)
        .groupBy(
            F.unix_timestamp("cohort").alias("cohort_day"),
            off.alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@query(
    "timeseries_gapfill",
    oracle="""
    WITH span AS (
      SELECT date_trunc('day', MIN(ts)) AS d0, date_trunc('day', MAX(ts)) AS d1
      FROM events
    ),
    grid AS (
      SELECT u.user_id, g.day
      FROM (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN span
      CROSS JOIN LATERAL (
        SELECT unnest(generate_series(span.d0, span.d1, INTERVAL 1 DAY)) AS day
      ) g
    ),
    daily AS (
      SELECT user_id, date_trunc('day', ts) AS day, COUNT(*) AS n,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 3) AS total
      FROM events GROUP BY 1, 2
    )
    SELECT g.user_id,
           CAST(epoch(g.day) AS BIGINT) AS day,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n,
           LAST_VALUE(d.total IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.day
             ROWS UNBOUNDED PRECEDING) AS carried_total,
           d.n IS NULL AS is_gap
    FROM grid g LEFT JOIN daily d USING (user_id, day)
    """,
)
def q_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: densify each user's activity onto
    the full daily calendar (missing days appear as zero-count gap
    rows) and forward-fill the last observed daily total — the
    resample + ffill step that precedes any windowed model over
    irregular event data.

    Scale shape: the calendar grid is users x days built by exploding
    a per-user `sequence` (the day span is a 1-row broadcast, the
    explode fans out ~3 orders of magnitude below the event count);
    the fill is one user-partitioned ordered window — a single
    shuffle, no iterative patching.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    span = ev.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    grid = (
        ev.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "user_id",
            F.explode(
                F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("v"), 3).cast("double").alias("total"),
    )
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    j = grid.join(daily, ["user_id", "day"], "left")
    return j.select(
        "user_id",
        F.unix_timestamp("day").alias("day"),
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        F.last("total", ignorenulls=True).over(w).alias("carried_total"),
        F.col("n").isNull().alias("is_gap"),
    )


@query(
    "funnel_time_to_convert",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t1
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
      GROUP BY e.user_id
    ),
    gaps AS (
      SELECT c.user_id, c.t2 - v.t1 AS gap_us
      FROM c JOIN v ON v.user_id = c.user_id
    )
    SELECT COUNT(*) AS n_converted,
           CAST(MIN(gap_us) AS BIGINT) AS min_us,
           ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY gap_us), 1) AS p50_us,
           ROUND(PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY gap_us), 1) AS p90_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_us
    FROM gaps
    """,
)
def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for the first funnel edge: per
    user, the gap between the first view and the first later click,
    summarized as min/median/p90/max — the latency histogram behind
    every conversion dashboard.

    Gaps are integer epoch-micro differences; the percentiles
    interpolate over identical integer inputs in both engines, so
    even the continuous quantiles hash-match (held exactly across the
    whole round-1 suite).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    gaps = c.join(v, "user_id").select((F.col("t2") - F.col("t1")).alias("gap_us"))
    return gaps.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("gap_us").cast("bigint").alias("min_us"),
        F.round(F.percentile("gap_us", 0.5), 1).alias("p50_us"),
        F.round(F.percentile("gap_us", 0.9), 1).alias("p90_us"),
        F.max("gap_us").cast("bigint").alias("max_us"),
    )


ATTR_WINDOW_US = 7 * 86400 * 10**6  # 7-day lookback


@query(
    "touch_attribution",
    oracle=f"""
    WITH p AS (
      SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, event_id AS e_id, event_type, epoch_us(ts) AS e_us
      FROM events WHERE event_type <> 'purchase'
    ),
    j AS (
      SELECT p.p_id, t.event_type, t.e_us, t.e_id
      FROM p JOIN t ON t.user_id = p.user_id
      WHERE t.e_us < p.p_us AND t.e_us >= p.p_us - {ATTR_WINDOW_US}
    ),
    ranked AS (
      SELECT p_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY e_us DESC, e_id DESC) AS rn_last,
             ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY e_us ASC, e_id ASC) AS rn_first
      FROM j
    ),
    attributed AS (
      SELECT 'last' AS touch, event_type FROM ranked WHERE rn_last = 1
      UNION ALL
      SELECT 'first', event_type FROM ranked WHERE rn_first = 1
    ),
    unattributed AS (
      SELECT COUNT(*) AS n FROM p
      WHERE p_id NOT IN (SELECT DISTINCT p_id FROM j)
    )
    SELECT touch, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM attributed GROUP BY touch, event_type
    UNION ALL
    SELECT 'none', '(none)', CAST(n AS BIGINT) FROM unattributed WHERE n > 0
    """,
)
def q_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch purchase attribution: for every
    purchase, credit the user's earliest and latest non-purchase event
    inside a 7-day lookback (ties broken by event_id so the answer is
    deterministic), plus a 'none' bucket for purchases with no touch —
    the channel-credit query every marketing warehouse serves.

    Scale shape: purchases join touches on user_id (co-partitioned
    with every other per-user query), the per-purchase argmin/argmax
    is one window over the purchase key, and the unattributed count is
    an anti-join — no per-user collect, no skew beyond the user key
    itself.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("us").alias("p_us")
    )
    t = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", F.col("event_id").alias("e_id"), "event_type", F.col("us").alias("e_us")
    )
    j = p.join(t, "user_id").filter(
        (F.col("e_us") < F.col("p_us"))
        & (F.col("e_us") >= F.col("p_us") - ATTR_WINDOW_US)
    )
    from pyspark.sql.window import Window

    w_last = Window.partitionBy("p_id").orderBy(F.desc("e_us"), F.desc("e_id"))
    w_first = Window.partitionBy("p_id").orderBy(F.asc("e_us"), F.asc("e_id"))
    ranked = j.select(
        "p_id",
        "event_type",
        F.row_number().over(w_last).alias("rn_last"),
        F.row_number().over(w_first).alias("rn_first"),
    )
    attributed = (
        ranked.filter(F.col("rn_last") == 1)
        .select(F.lit("last").alias("touch"), "event_type")
        .unionAll(
            ranked.filter(F.col("rn_first") == 1)
            .select(F.lit("first").alias("touch"), "event_type")
        )
    )
    out = attributed.groupBy("touch", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    none = (
        p.join(j.select("p_id").distinct(), "p_id", "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .filter(F.col("n") > 0)
        .select(F.lit("none").alias("touch"), F.lit("(none)").alias("event_type"), "n")
    )
    return out.unionAll(none)


@query(
    "event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id) AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type
    ),
    tot AS (SELECT prev_type, SUM(n) AS t FROM pairs GROUP BY prev_type)
    SELECT p.prev_type, p.next_type, CAST(p.n AS BIGINT) AS n,
           ROUND(CAST(p.n AS DOUBLE) / t.t, 6) AS p_next
    FROM pairs p JOIN tot t USING (prev_type)
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    stream: P(next event type | current type), ordered by event time
    with event_id tie-breaks — the sequence model behind next-action
    prediction and anomalous-flow detection.

    Scale shape: one lag window per user (the same user_id
    partitioning every journey query rides), one pair count, and a
    per-prev-type total joined back — the denominator table is
    #event-types wide, broadcast for free.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    pairs = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = pairs.groupBy("prev_type").agg(F.sum("n").alias("t"))
    return pairs.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n").cast("double") / F.col("t"), 6).alias("p_next"),
    )


@query(
    "timeseries_interpolate",
    oracle="""
    WITH span AS (
      SELECT date_trunc('day', MIN(ts)) AS d0, date_trunc('day', MAX(ts)) AS d1
      FROM events WHERE user_id < 40
    ),
    grid AS (
      SELECT u.user_id, g.day
      FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 40) u
      CROSS JOIN span
      CROSS JOIN LATERAL (
        SELECT unnest(generate_series(span.d0, span.d1, INTERVAL 1 DAY)) AS day
      ) g
    ),
    daily AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 3) AS total
      FROM events WHERE user_id < 40 GROUP BY 1, 2
    ),
    j AS (
      SELECT g.user_id, g.day, d.total,
             LAST_VALUE(d.total IGNORE NULLS) OVER
               (PARTITION BY g.user_id ORDER BY g.day
                ROWS UNBOUNDED PRECEDING) AS pv,
             LAST_VALUE(CASE WHEN d.total IS NOT NULL
                             THEN epoch(g.day) END IGNORE NULLS) OVER
               (PARTITION BY g.user_id ORDER BY g.day
                ROWS UNBOUNDED PRECEDING) AS pd,
             FIRST_VALUE(d.total IGNORE NULLS) OVER
               (PARTITION BY g.user_id ORDER BY g.day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(CASE WHEN d.total IS NOT NULL
                              THEN epoch(g.day) END IGNORE NULLS) OVER
               (PARTITION BY g.user_id ORDER BY g.day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM grid g LEFT JOIN daily d USING (user_id, day)
    )
    SELECT user_id,
           CAST(epoch(day) AS BIGINT) AS day,
           total IS NULL AS is_interpolated,
           ROUND(CASE
             WHEN total IS NOT NULL THEN total
             WHEN pv IS NOT NULL AND nv IS NOT NULL AND nd <> pd
               THEN pv + (nv - pv) * (CAST(epoch(day) - pd AS DOUBLE)
                                      / CAST(nd - pd AS DOUBLE))
             ELSE COALESCE(pv, nv)
           END, 4) AS value_interp
    FROM j
    """,
    bench=True, exchanges=3,
)
def q_timeseries_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over a densified daily series — the
    resample + interpolate('linear') step of time-series prep (the
    gapfill twin with a slope instead of a carry-forward).

    Each gap day takes prev + (next - prev) * elapsed/gap_width, where
    prev/next come from two IGNORE NULLS windows (one forward, one
    reversed) — still one shuffle on user_id, two ordered window
    passes, no self-join against the observation table.  Edge gaps
    (before first / after last observation) extend the nearest value.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 40).select(
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    span = ev.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    grid = (
        ev.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "user_id",
            F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
        )
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.round(F.sum("v"), 3).cast("double").alias("total")
    )
    j = grid.join(daily, ["user_id", "day"], "left").withColumn(
        "ep", F.unix_timestamp("day")
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bwd = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_ep = F.when(F.col("total").isNotNull(), F.col("ep"))
    j = j.select(
        "user_id",
        "day",
        "ep",
        "total",
        F.last("total", ignorenulls=True).over(fwd).alias("pv"),
        F.last(obs_ep, ignorenulls=True).over(fwd).alias("pd"),
        F.first("total", ignorenulls=True).over(bwd).alias("nv"),
        F.first(obs_ep, ignorenulls=True).over(bwd).alias("nd"),
    )
    interp = (
        F.when(F.col("total").isNotNull(), F.col("total"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull() & (F.col("nd") != F.col("pd")),
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * ((F.col("ep") - F.col("pd")).cast("double") / (F.col("nd") - F.col("pd")).cast("double")),
        )
        .otherwise(F.coalesce("pv", "nv"))
    )
    return j.select(
        "user_id",
        F.col("ep").cast("bigint").alias("day"),
        F.col("total").isNull().alias("is_interpolated"),
        F.round(interp, 4).alias("value_interp"),
    )

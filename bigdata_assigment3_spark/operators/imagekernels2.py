"""Second batch of relational image kernels + scale patterns:
bias-field correction (SURVEY U8), CLAHE-style tile histogram
equalization (U2), and the salted hot-key aggregation pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions.scalar import money_sum, unscaled
from ..registry import query
from ..sources import load_table
from .imagekernels import FRAME_FILTER
from .motion import FRAME_PIXELS_SQL

_BIAS_R = 4  # bias-blur radius -> (2r+1)^2 box

_OFFS_BIAS = f"""
offs AS (
  SELECT CAST(FLOOR(id / {2 * _BIAS_R + 1}) AS BIGINT) - {_BIAS_R} AS oy,
         id % {2 * _BIAS_R + 1} - {_BIAS_R} AS ox
  FROM range({(2 * _BIAS_R + 1) ** 2}) AS r(id)
)
"""


@query(
    "bias_field_correct",
    oracle=f"""
    WITH px AS ({FRAME_PIXELS_SQL}),
    f AS (SELECT y, x, v FROM px WHERE {FRAME_FILTER}),
    {_OFFS_BIAS},
    bias AS (
      SELECT a.y, a.x, a.v, SUM(b.v) AS s, COUNT(b.v) AS n
      FROM f a
      CROSS JOIN offs o
      JOIN f b ON b.y = a.y + o.oy AND b.x = a.x + o.ox
      GROUP BY a.y, a.x, a.v
    )
    SELECT y, x,
           ROUND(CAST(v AS DOUBLE) * n / s, 6) AS corrected
    FROM bias WHERE s > 0
    """,
)
def q_bias_field_correct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bias-field correction: divide each pixel by the local large-
    radius mean (SURVEY U8; ref brain_segmentation.py:75-81 divides by
    a large-sigma Gaussian blur — box blur here, same normalization
    semantics).  corrected = v * n / sum stays a rational of integers
    until one final division -> exact cross-engine."""
    px = spark.sql(FRAME_PIXELS_SQL).filter(F.expr(FRAME_FILTER)).select("y", "x", "v")
    offs = spark.sql(f"WITH {_OFFS_BIAS} SELECT * FROM offs")
    a, b = px.alias("a"), px.alias("b")
    bias = (
        a.crossJoin(F.broadcast(offs.alias("o")))
        .join(
            b,
            (F.col("b.y") == F.col("a.y") + F.col("o.oy"))
            & (F.col("b.x") == F.col("a.x") + F.col("o.ox")),
        )
        .groupBy(F.col("a.y").alias("y"), F.col("a.x").alias("x"), F.col("a.v").alias("v"))
        .agg(F.sum("b.v").alias("s"), F.count("b.v").alias("n"))
    )
    return bias.filter(F.col("s") > 0).select(
        "y",
        "x",
        F.round(F.col("v").cast("double") * F.col("n") / F.col("s"), 6).alias("corrected"),
    )


@query(
    "tile_hist_equalize",
    oracle=f"""
    WITH px AS ({FRAME_PIXELS_SQL}),
    f AS (
      SELECT CAST(FLOOR(y / 16) AS BIGINT) AS ty,
             CAST(FLOOR(x / 16) AS BIGINT) AS tx,
             y, x, v
      FROM px WHERE {FRAME_FILTER}
    ),
    ranked AS (
      SELECT ty, tx, y, x, v,
             CAST(COUNT(*) OVER (PARTITION BY ty, tx ORDER BY v
                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cdf,
             CAST(COUNT(*) OVER (PARTITION BY ty, tx) AS BIGINT) AS n
      FROM f
    )
    SELECT ty, tx, v,
           CAST(MIN(ROUND(255.0 * cdf / n)) AS BIGINT) AS equalized,
           COUNT(*) AS n_px
    FROM ranked
    GROUP BY ty, tx, v
    """,
)
def q_tile_hist_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLAHE-style per-tile histogram equalization (SURVEY U2; ref
    CLAHE at hough_heart_detector.py:90-99): within each 16x16 tile,
    remap v -> 255 * CDF(v).  The CDF is a RANGE-framed window count
    (ties share their cumulative rank, like the classic transform);
    output is the per-tile value mapping."""
    px = spark.sql(FRAME_PIXELS_SQL).filter(F.expr(FRAME_FILTER))
    f = px.select(
        F.floor(F.col("y") / 16).cast("bigint").alias("ty"),
        F.floor(F.col("x") / 16).cast("bigint").alias("tx"),
        "y",
        "x",
        "v",
    )
    wcdf = (
        Window.partitionBy("ty", "tx")
        .orderBy("v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("ty", "tx")
    ranked = f.select(
        "ty",
        "tx",
        "v",
        F.count(F.lit(1)).over(wcdf).cast("bigint").alias("cdf"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    )
    return ranked.groupBy("ty", "tx", "v").agg(
        F.min(F.round(255.0 * F.col("cdf") / F.col("n"))).cast("bigint").alias("equalized"),
        F.count(F.lit(1)).alias("n_px"),
    )


@query(
    "salted_hot_key_agg",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 3) AS DOUBLE) AS total
    FROM events
    GROUP BY event_type
    """,
)
def q_salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salting pattern for skewed keys, end-to-end checked against
    the direct aggregation: phase 1 aggregates on (key, salt) so a hot
    key spreads over 16 reducers; phase 2 merges the partials.  With
    decimal partials the two-phase result is bit-identical to the
    direct form — which is exactly what the oracle asserts.  (AQE
    skew-join handles joins; salting is the manual tool for skewed
    AGGREGATIONS with heavy per-key state.)  Phase 1 sums the exact
    unscaled longs (``functions/scalar.py``); phase 2 adds 16 decimal
    partials per key."""
    ev = load_table(spark, sf_dir, "events")
    salted = ev.selectExpr(
        "event_type",
        "CAST(event_id % 16 AS INT) AS salt",
        f"{unscaled('value', 18, 2)} AS value_u",
    )
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.expr(money_sum("value_u", 2)).alias("pt"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.round(F.sum("pt"), 3).cast("double").alias("total"),
    )


def skewed_hot_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skewed fact ⋈ dim join behind `skewed_join_hot_key`: 80% of
    fact rows share one hot key (the worst-case shuffle distribution).
    Exposed separately so the plan test can execute the bare join and
    assert AQE's skew split (`SortMergeJoin(skew=true)`) with
    scaled-down thresholds — at 100 TB the default 256 MB threshold
    triggers the same split with zero query changes.

    The MERGE hint pins a shuffle join: at real scale BOTH sides are
    large (the broadcast escape hatch doesn't exist), which is exactly
    when skew hurts.  The repartition gives the shuffle multiple map
    outputs — AQE splits a skewed reduce partition at mapper
    granularity, so a single-mapper toy input cannot be split."""
    ev = load_table(spark, sf_dir, "events").repartition(8)
    facts = ev.select(
        F.expr("CASE WHEN event_id % 10 < 8 THEN 0 ELSE event_id % 64 END").alias("hot_key"),
        "value",
    )
    dim = spark.range(64).select(
        F.col("id").alias("hot_key"),
        F.concat(F.lit("grp_"), (F.col("id") % 8).cast("string")).alias("grp"),
    )
    return facts.hint("MERGE").join(dim, "hot_key")


@query(
    "skewed_join_hot_key",
    oracle="""
    WITH facts AS (
      SELECT CASE WHEN event_id % 10 < 8 THEN 0 ELSE event_id % 64 END AS hot_key,
             value
      FROM events
    ),
    dim AS (
      SELECT id AS hot_key, 'grp_' || CAST(id % 8 AS VARCHAR) AS grp
      FROM range(64) AS r(id)
    )
    SELECT d.grp, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(f.value AS DECIMAL(18,2))), 3) AS DOUBLE) AS total
    FROM facts f JOIN dim d USING (hot_key)
    GROUP BY d.grp
    """,
    bench=True,
)
def q_skewed_join_hot_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed-key shuffle join, the AUTOMATIC counterpart of
    `salted_hot_key_agg`'s manual salting: AQE detects the oversized
    reduce partition at runtime and splits it across tasks
    (spark.sql.adaptive.skewJoin, on in session.py), so the hot key
    stops serializing one reducer.  Correctness is oracle-checked here;
    the skew split itself is plan-asserted in tests/test_plans.py with
    thresholds scaled to the test corpus.  The decimal sum runs on the
    exact unscaled longs (``functions/scalar.py``)."""
    return (
        skewed_hot_key_join(spark, sf_dir)
        .selectExpr("grp", f"{unscaled('value', 18, 2)} AS value_u")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"CAST(round({money_sum('value_u', 2)}, 3) AS DOUBLE) AS total"),
        )
    )

"""Bucketed-write co-located join (SURVEY §4.3 / task-brief shuffle
minimization): persist both fact tables bucketed + sorted on the join
key, then join them with ZERO exchanges — the plan a recurring 100 TB
join pipeline should run.

The one-time bucketed write pays the shuffle ONCE; every subsequent
join/groupBy on the bucket key reuses the on-disk distribution
(Spark's `outputPartitioning` from the bucket spec satisfies the
join's `requiredChildDistribution`).  At a 1000-executor scale this
turns the nightly orders-x-lineitem join from two full-table
exchanges into a local merge per bucket.

Plan-asserted in tests/test_plans.py: SortMergeJoin present,
Exchange count == 0 (including the groupBy, which reuses the bucket
distribution because it groups on the bucket key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from ..session import isolated, sf_tag, stage_dir, staged_fixture
from ..sources import load_table

N_BUCKETS = 8

_DEC_EXT = "decimal(12,2)"
_DEC_PCT = "decimal(6,4)"


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders/lineitem bucketed by orderkey (once per sf_dir per
    session) into a staging dir; return the catalog table names."""
    tag = sf_tag(sf_dir)
    t_orders, t_lineitem = f"orders_b_{tag}", f"lineitem_b_{tag}"
    if spark.catalog.tableExists(t_orders) and spark.catalog.tableExists(t_lineitem):
        return t_orders, t_lineitem
    base = stage_dir(spark, "bucketed", sf_dir)
    for name, table, key in (
        ("orders", t_orders, "o_orderkey"),
        ("lineitem", t_lineitem, "l_orderkey"),
    ):
        (
            load_table(spark, sf_dir, name)
            .write.mode("overwrite")
            .bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .option("path", f"{base}/{table}")
            .format("parquet")
            .saveAsTable(table)
        )
    return t_orders, t_lineitem


@query(
    "bucketed_colocated_join",
    oracle="""
    SELECT o.o_orderkey AS orderkey, o.o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(6,4)))), 3) AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 400000
    GROUP BY 1, 2
    """,
)
def q_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order revenue over the bucketed tables: scan -> merge ->
    aggregate with no Exchange anywhere.  The `merge` hint keeps the
    demo honest at test scale (small lineitem would otherwise
    broadcast, hiding the co-location); at 100 TB neither side
    broadcasts and this IS the chosen plan.
    """
    t_orders, t_lineitem = _bucketed_tables(spark, sf_dir)
    o = spark.table(t_orders).filter(F.col("o_totalprice") > 400000)
    li = spark.table(t_lineitem)
    rev = F.col("l_extendedprice").cast(_DEC_EXT) * (
        1 - F.col("l_discount").cast(_DEC_PCT)
    )
    return (
        o.hint("merge")
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderkey").alias("orderkey"), F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(rev), 3).cast("double").alias("revenue"),
        )
    )


@query(
    "partitioned_write_prune",
    oracle="""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS order_month,
           o_orderpriority AS priority, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 3) AS DOUBLE) AS total
    FROM orders
    WHERE date_trunc('month', o_orderdate) >= TIMESTAMP '1997-01-01'
      AND date_trunc('month', o_orderdate) < TIMESTAMP '1997-07-01'
    GROUP BY 1, 2
    """,
)
def q_partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition pruning (SURVEY §4.1
    'index hints' row — the 100 TB answer to the reference's
    ``index=True`` columns): orders land partitioned by month on
    disk, and a month-range query reads ONLY those directories — the
    scan's PartitionFilters prune at planning time, before any I/O
    (plan-asserted in tests).  At scale this is the difference
    between scanning 6/84 months and scanning everything."""

    def write_table(stage: str) -> None:
        (
            load_table(spark, sf_dir, "orders")
            .withColumn("order_month", F.date_format("o_orderdate", "yyyy-MM"))
            .write.partitionBy("order_month")
            .parquet(f"{stage}/orders_by_month")
        )

    base = staged_fixture(spark, "part", write_table, sf_dir)
    part = spark.read.parquet(f"{base}/orders_by_month")
    return (
        part.filter((F.col("order_month") >= "1997-01") & (F.col("order_month") < "1997-07"))
        .groupBy("order_month", F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(14,2)")), 3)
            .cast("double")
            .alias("total"),
        )
    )


@query(
    "runtime_bloom_filter_join",
    oracle="""
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag
    """,
    exchanges=2,
)
def q_runtime_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter semi-join reduction: lineitem ⋈ a
    selectively-filtered orders slice, with Catalyst's
    InjectRuntimeFilter rule pushing a bloom filter built from the
    filtered orders keys INTO the lineitem scan
    (``might_contain(bloom, xxhash64(l_orderkey))``), so ~80% of fact
    rows die before the shuffle instead of after it.

    On the tiny testdata the planner would rather broadcast the dim
    (and the application-side scan is below the 10 GiB threshold), so
    the query is built in a private session clone with the confs that
    gate the rule forced while its logical plan optimizes, then handed
    back the caller's values for physical planning — pinning exactly
    the plan a 100 TB fact table gets naturally, where the dim outgrows
    the broadcast threshold and the fact scan dwarfs the
    application-side floor.  A plan test asserts ``might_contain`` is
    really in the optimized plan; it relies on the lazy-val caching of
    QueryExecution.optimizedPlan, an implementation detail, and
    ``test_runtime_bloom_query_plan_pinned`` is the canary that fires if
    that caching ever changes.
    """
    scoped = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    clone = isolated(spark, scoped)
    lineitem = load_table(clone, sf_dir, "lineitem")
    orders = load_table(clone, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    out = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("sum_qty"),
        )
    )
    # force logical optimization NOW (lazy vals cache on the
    # DataFrame's QueryExecution, so later actions reuse this plan)
    out._jdf.queryExecution().optimizedPlan()
    for k in scoped:
        caller = spark.conf.get(k, None)
        if caller is None:
            clone.conf.unset(k)
        else:
            clone.conf.set(k, caller)
    return out

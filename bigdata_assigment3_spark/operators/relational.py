"""Relational proof queries over the TPC-H-ish star schema.

The reference has no real joins/windows/set-ops (SURVEY.md §2.3/2.5/2.7
"absent" rows) — single-table ORM queries only.  These queries prove
the engine covers those categories with idiomatic Spark plans:
broadcast joins for dims, sort-merge for facts, window specs, rollup/
cube, and set operations, all DuckDB-oracle-checked.

Cross-engine exactness: money math runs in DECIMAL (association-order
independent), final outputs are DOUBLE/BIGINT so schemas line up.
Money sums go through the integer kernel in ``functions/scalar.py``:
each query projects the exact unscaled longs of its DECIMAL casts once,
before the aggregate, and sums them with :func:`money_sum`, which
returns the same DECIMAL value as a decimal ``SUM`` without a per-row
BigDecimal update.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions.scalar import money_sum, unscaled
from ..registry import query
from ..sources import load_table, register_views

_DEC_EXT = "decimal(12,2)"
_DEC_PCT = "decimal(6,4)"
# ext·(1-disc) on the unscaled longs of _DEC_EXT and _DEC_PCT, at scale 6
_REV_U = "ext_u * (10000 - disc_u)"


def _u_ext(col: str, alias: str) -> str:
    """Projection of the unscaled long of ``CAST(col AS _DEC_EXT)``."""
    return f"{unscaled(col, 12, 2)} AS {alias}"


def _u_pct(col: str, alias: str) -> str:
    """Projection of the unscaled long of ``CAST(col AS _DEC_PCT)``."""
    return f"{unscaled(col, 6, 4)} AS {alias}"


_U_REV = (_u_ext("l_extendedprice", "ext_u"), _u_pct("l_discount", "disc_u"))


def _money(u: str, s: int, name: str) -> Column:
    """``ROUND(SUM(money), 3)`` as DOUBLE, from the unscaled long ``u``
    at scale ``s``."""
    return F.expr(f"CAST(round({money_sum(u, s)}, 3) AS DOUBLE) AS {name}")


def _money_avg(u: str, s: int, digits: int, name: str) -> Column:
    """Exact decimal sum / count, rounded to ``digits``: a float avg is
    association-order dependent and drifts 1 ulp across engines/runs."""
    return F.expr(f"round(CAST({money_sum(u, s)} AS DOUBLE) / count({u}), {digits}) AS {name}")


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 3) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 3) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(6,4)))), 3) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(6,4)))
                    * (1 + CAST(l_tax AS DECIMAL(6,4)))), 3) AS DOUBLE) AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                 / COUNT(l_quantity), 4) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                 / COUNT(l_extendedprice), 4) AS avg_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE)
                 / COUNT(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    bench=True, exchanges=1,  # one partial+final agg
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary — the canonical wide hash aggregate.

    Filter is pushed to the parquet scan; 8 aggregates run
    partial+final over a 2-column grouping key (a handful of groups,
    so the shuffle is tiny regardless of input size: the map-side
    combine is what makes this 100 TB-safe).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .selectExpr(
            "l_returnflag", "l_linestatus", _u_ext("l_quantity", "qty_u"), *_U_REV,
            _u_pct("l_tax", "tax_u"),
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _money("qty_u", 2, "sum_qty"),
            _money("ext_u", 2, "sum_base_price"),
            _money(_REV_U, 6, "sum_disc_price"),
            _money(f"{_REV_U} * (10000 + tax_u)", 10, "sum_charge"),
            _money_avg("qty_u", 2, 4, "avg_qty"),
            _money_avg("ext_u", 2, 4, "avg_price"),
            _money_avg("disc_u", 4, 6, "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "top_revenue_orders",
    oracle="""
    SELECT l.l_orderkey AS orderkey,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(6,4)))), 3) AS DOUBLE) AS revenue,
           strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
    bench=True, exchanges=1, order_sensitive=True,  # broadcast dims + one agg
)
def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: dim filter -> fact joins -> agg -> top-k.

    customer is filtered first; the planner broadcasts it while it
    fits (and AQE falls back to shuffle when it grows with SF) —
    orders⋈lineitem is the one always-wide shuffle, on orderkey.
    Top-10 runs as TakeOrdered, never a global sort.
    """
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .selectExpr("l_orderkey", "o_orderdate", *_U_REV)
        .groupBy(F.col("l_orderkey").alias("orderkey"), F.col("o_orderdate"))
        .agg(_money(_REV_U, 6, "revenue"))
        .select("orderkey", "revenue", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


@query(
    "region_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(6,4)))), 3) AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
    bench=True, exchanges=1,
)
def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join with a correlated supplier condition.

    region/nation are force-broadcast (constant-size); supplier and
    customer grow ~SF so their strategy is left to Catalyst/AQE.  The
    only always-wide shuffle is orders⋈lineitem on orderkey.
    """
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    return (
        o.join(l, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (s.s_suppkey == l.l_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .selectExpr("n_name", *_U_REV)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(_money(_REV_U, 6, "revenue"))
    )


@query(
    "product_type_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(6,4)))
                      - CAST(p.p_retailprice AS DECIMAL(12,2))
                        * CAST(l.l_quantity AS DECIMAL(12,2))
                        * CAST(0.8 AS DECIMAL(2,1))), 3) AS DOUBLE) AS sum_profit
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY n.n_name, EXTRACT(year FROM o.o_orderdate)
    """,
)
def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product type profit): a 5-way join where two
    fact tables (orders, lineitem) meet three dims, grouped by
    nation x order-year, with all money math in DECIMAL.

    part is filtered by the LIKE predicate *before* its join (pushed
    to the scan) and broadcast with supplier/nation; lineitem⋈orders
    on orderkey is the single big shuffle.  Profit mixes two decimal
    products — revenue minus cost-of-goods — summed exactly, rounded
    once at the end.
    """
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(p, p.p_partkey == li.l_partkey)
        .join(s, F.col("s_suppkey") == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .selectExpr(
            "n_name", "o_orderdate", *_U_REV,
            _u_ext("p_retailprice", "retail_u"), _u_ext("l_quantity", "qty_u"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        # revenue at scale 6 minus retail·qty·0.8 at scale 5, rescaled to 6
        .agg(_money(f"{_REV_U} - retail_u * qty_u * 80", 6, "sum_profit"))
    )


@query(
    "customers_with_orders",
    oracle="""
    SELECT c.c_mktsegment AS segment, COUNT(*) AS n
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    GROUP BY 1
    """,
)
def q_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (EXISTS) — the uniqueness-guard shape (ref app/routers.py:86-91)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "customers_without_orders",
    oracle="""
    SELECT c.c_custkey AS custkey, c.c_name AS name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (NOT EXISTS) — the delete shape (ref app/routers.py:152-153)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name")
    )


@query(
    "window_topk_orders",
    oracle="""
    SELECT custkey, orderkey, totalprice, rn FROM (
        SELECT o_custkey AS custkey, o_orderkey AS orderkey,
               CAST(o_totalprice AS DOUBLE) AS totalprice,
               CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
    bench=True, exchanges=1, order_sensitive=True,
)
def q_window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number (SURVEY W4; ref top-K=40 contours,
    hough_heart_detector2.py:306-308).

    One shuffle on the partition key; orderkey tie-break keeps rank
    deterministic.  At scale this beats groupBy+collect_list by never
    materializing a group in memory.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "window_running_total",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_total
    FROM orders
    """,
    bench=True,
)
def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per customer — frame-based window aggregate (SURVEY W2)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    )
    return o.selectExpr(
        "o_custkey", "o_orderkey", "o_orderdate", _u_ext("o_totalprice", "price_u"),
    ).selectExpr(
        "o_custkey AS custkey",
        "o_orderkey AS orderkey",
        f"CAST(round({money_sum('price_u', 2, over=w)}, 3) AS DOUBLE) AS running_total",
    )


@query(
    "window_order_gaps",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           CAST(date_diff('day',
                LAG(CAST(o_orderdate AS DATE)) OVER (
                    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_prev
    FROM orders
    """,
)
def q_window_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() offset window — the as-of/previous-row shape (SURVEY J2/W1;
    ref frames[i-1] access, motion_codec.py:243-245)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    d = F.to_date("o_orderdate")
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.datediff(d, F.lag(d).over(w)).cast("bigint").alias("days_since_prev"),
    )


@query(
    "set_operations",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM (
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         UNION
         SELECT o_custkey FROM orders WHERE o_totalprice > 150000)) AS union_n,
      (SELECT COUNT(*) FROM (
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_totalprice > 150000)) AS intersect_n,
      (SELECT COUNT(*) FROM (
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_totalprice > 150000)) AS except_n
    """,
)
def q_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION/INTERSECT/EXCEPT (SURVEY §2.7; ref set(codes) dedup,
    app/services.py:20).  Spark set-ops compile to aggregate/join plans."""
    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT
          (SELECT COUNT(*) FROM (
             SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
             UNION
             SELECT o_custkey FROM orders WHERE o_totalprice > 150000)) AS union_n,
          (SELECT COUNT(*) FROM (
             SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
             INTERSECT
             SELECT o_custkey FROM orders WHERE o_totalprice > 150000)) AS intersect_n,
          (SELECT COUNT(*) FROM (
             SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
             EXCEPT
             SELECT o_custkey FROM orders WHERE o_totalprice > 150000)) AS except_n
    """)


@query(
    "rollup_lineitem",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 3) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (SURVEY §2.4 'absent' row — free in Spark)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.selectExpr("l_returnflag", "l_linestatus", _u_ext("l_quantity", "qty_u"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), _money("qty_u", 2, "sum_qty"))
    )


@query(
    "cube_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status × priority (SURVEY §2.4 'absent' row)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("n"))


@query(
    "part_brand_stats",
    oracle="""
    SELECT p_brand AS brand,
           COUNT(*) AS n_parts,
           COUNT(DISTINCT p_type) AS n_types,
           CAST(MIN(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS min_price,
           CAST(MAX(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price,
           ROUND(CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE)
                 / COUNT(p_retailprice), 4) AS avg_price
    FROM part
    GROUP BY p_brand
    """,
)
def q_part_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate dimension profile (min/max/avg/count-distinct)."""
    p = load_table(spark, sf_dir, "part")
    price = F.col("p_retailprice")
    return (
        p.selectExpr("p_brand", "p_type", "p_retailprice", _u_ext("p_retailprice", "price_u"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.countDistinct("p_type").alias("n_types"),
            F.min(price.cast(_DEC_EXT)).cast("decimal(38,3)").cast("double").alias("min_price"),
            F.max(price.cast(_DEC_EXT)).cast("decimal(38,3)").cast("double").alias("max_price"),
            _money_avg("price_u", 2, 4, "avg_price"),
        )
    )


@query(
    "order_priority_check",
    oracle="""
    SELECT o_orderpriority AS priority, COUNT(*) AS n
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
    bench=True,
)
def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS -> left_semi with extra predicate."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(l, (l.l_orderkey == o.o_orderkey) & (l.l_shipdate > o.o_orderdate), "left_semi")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "forecast_revenue_change",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * CAST(l_discount AS DECIMAL(6,4))), 3) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter + scalar aggregate — the pushdown
    showcase.  All three predicates reach the parquet scan; the whole
    query is one map stage + a 1-row reduce (the shape that runs at
    disk bandwidth on 100 TB)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .selectExpr(*_U_REV)
        .agg(_money("ext_u * disc_u", 6, "revenue"))
    )


@query(
    "promo_revenue_share",
    oracle="""
    SELECT CAST(ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(6,4))) ELSE 0 END), 3) AS DOUBLE)
           / CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(6,4)))), 3) AS DOUBLE)
           AS promo_share_pct
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
    """,
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promotion revenue share — conditional aggregate over
    a broadcast dim join; both sums in decimal, single final double
    division so the ratio is bit-stable."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    j = li.join(p, p.p_partkey == li.l_partkey).selectExpr("p_type", *_U_REV)
    promo = money_sum(f"CASE WHEN p_type = 'PROMO' THEN {_REV_U} ELSE 0 END", 6)
    total = money_sum(_REV_U, 6)
    return j.agg(F.expr(
        f"CAST(round({promo} * 100, 3) AS DOUBLE) / CAST(round({total}, 3) AS DOUBLE) AS promo_share_pct"
    ))


@query(
    "disjunctive_predicate_revenue",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(6,4)))), 3) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 35)
       OR (p.p_brand = 'Brand#5' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
)
def q_disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides.  Catalyst
    splits the common join key out of the disjunction (no cartesian),
    then applies the residual predicate post-join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(p, p.p_partkey == li.l_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 35))
        | ((F.col("p_brand") == "Brand#5") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 50))
    )
    return j.filter(cond).selectExpr(*_U_REV).agg(
        _money(_REV_U, 6, "revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "full_outer_reconciliation",
    oracle="""
    WITH c AS (
      SELECT c_nationkey AS nk, COUNT(*) AS n_cust
      FROM customer WHERE c_acctbal < -800 GROUP BY 1
    ),
    s AS (
      SELECT s_nationkey AS nk, COUNT(*) AS n_supp
      FROM supplier WHERE s_acctbal < -400 GROUP BY 1
    )
    SELECT n.n_name AS nation,
           CAST(COALESCE(c.n_cust, 0) AS BIGINT) AS n_cust,
           CAST(COALESCE(s.n_supp, 0) AS BIGINT) AS n_supp,
           CASE WHEN c.nk IS NULL THEN 'supplier_only'
                WHEN s.nk IS NULL THEN 'customer_only'
                ELSE 'both' END AS status
    FROM c FULL JOIN s ON c.nk = s.nk
    JOIN nation n ON n.n_nationkey = COALESCE(c.nk, s.nk)
    """,
)
def q_full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — the reconciliation shape (which side is
    missing?) that completes the join-type coverage next to the
    semi/anti pair: negative-balance customers vs negative-balance
    suppliers per nation, with a status column naming the missing side.

    Scale shape: both inputs pre-aggregate to one row per nation
    BEFORE the outer join (the grouped sides are tiny regardless of
    fact size), and the nation dim broadcasts."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < -800)
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < -400)
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    nation = load_table(spark, sf_dir, "nation")
    j = cust.join(supp, cust.c_nk == supp.s_nk, "full_outer")
    status = (
        F.when(F.col("c_nk").isNull(), "supplier_only")
        .when(F.col("s_nk").isNull(), "customer_only")
        .otherwise("both")
    )
    return (
        j.withColumn("nk", F.coalesce("c_nk", "s_nk"))
        .withColumn("status", status)
        .join(F.broadcast(nation), F.col("nk") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.coalesce("n_cust", F.lit(0)).cast("bigint").alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).cast("bigint").alias("n_supp"),
            "status",
        )
    )


@query(
    "order_count_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    SELECT n_orders, COUNT(*) AS n_customers
    FROM per_cust GROUP BY n_orders
    """,
    exchanges=2,
)
def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count,
    including the zero-order customers that only a LEFT join can see.

    Two hash aggregations back to back — per-customer count (shuffle
    on c_custkey, which the join already partitioned by) then the tiny
    histogram.  COUNT(o_orderkey) counts non-null join matches, so the
    unmatched-customer bucket falls out of the same aggregate with no
    special case.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


@query(
    "nation_revenue_share",
    oracle="""
    WITH nrev AS (
      SELECT n.n_name,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(6,4)))) AS rev
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    )
    SELECT n_name,
           CAST(ROUND(rev, 3) AS DOUBLE) AS revenue,
           ROUND(CAST(rev AS DOUBLE) / CAST((SELECT SUM(rev) FROM nrev) AS DOUBLE), 6)
             AS share
    FROM nrev
    """,
    exchanges=2,
)
def q_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-nation revenue with its share of the
    global total — the scalar-subquery / percent-of-total pattern.

    The global total is an unpartitioned window SUM over the 25-row
    aggregate (NOT over the fact table): the expensive part stays a
    partial+final hash agg, and the percent-of-total costs one
    single-partition pass over 25 rows — the right place to put the
    global barrier.  Revenue sums run in DECIMAL end to end; only the
    final share division is DOUBLE, same expression both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    nrev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .selectExpr("n_name", *_U_REV)
        .groupBy("n_name")
        .agg(F.expr(f"{money_sum(_REV_U, 6)} AS rev"))
    )
    total = F.sum("rev").over(Window.partitionBy())
    return nrev.select(
        "n_name",
        F.round("rev", 3).cast("double").alias("revenue"),
        F.round(F.col("rev").cast("double") / total.cast("double"), 6).alias("share"),
    )


@query(
    "waiting_supplier_check",
    oracle="""
    WITH li AS (
      SELECT l.l_orderkey, l.l_suppkey,
             l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
    ),
    multi AS (
      SELECT l_orderkey FROM li GROUP BY l_orderkey
      HAVING COUNT(DISTINCT l_suppkey) > 1
    ),
    blame AS (
      SELECT a.l_orderkey, a.l_suppkey
      FROM li a JOIN multi USING (l_orderkey)
      WHERE a.late
        AND NOT EXISTS (
          SELECT 1 FROM li b
          WHERE b.l_orderkey = a.l_orderkey
            AND b.l_suppkey <> a.l_suppkey AND b.late
        )
    )
    SELECT s.s_name, COUNT(DISTINCT b.l_orderkey) AS numwait
    FROM blame b JOIN supplier s ON b.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    """,
    exchanges=3,
)
def q_waiting_supplier_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers SOLELY to blame for late multi-
    supplier orders — the correlated EXISTS + NOT EXISTS double
    pattern (schema-adapted: 'late' = shipped >60 days after order).

    The correlated subqueries become one per-order aggregate: count
    distinct suppliers, count late suppliers, and the late supplier
    set, computed in a single groupBy — the order is 'blameable' iff
    it has >1 supplier and exactly one distinct late supplier.  That
    turns two correlated semi/anti joins into one shuffle on
    l_orderkey plus an explode of the (tiny) blamed set.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    joined = li.join(
        o.filter(F.col("o_orderstatus") == "F"), li.l_orderkey == o.o_orderkey
    ).select(
        "l_orderkey",
        "l_suppkey",
        # timestamp + interval, NOT date_add: date_add truncates the
        # timestamp to a date first, which silently shifts the late
        # threshold for any non-midnight order timestamp
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias("late"),
    )
    per_order = joined.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.array_sort(
            F.array_distinct(F.collect_list(F.when(F.col("late"), F.col("l_suppkey"))))
        ).alias("late_supps"),
    )
    blame = (
        per_order.filter((F.col("n_supp") > 1) & (F.size("late_supps") == 1))
        .select("l_orderkey", F.element_at("late_supps", 1).alias("l_suppkey"))
    )
    return (
        blame.join(s, blame.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
    )


@query(
    "idle_customer_balance",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS numcust,
           CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))), 3) AS DOUBLE)
             AS totacctbal
    FROM customer c
    -- exact-rational threshold: bal > avg  <=>  bal * n > s with the
    -- DECIMAL sum s and count n (a float avg is association-order
    -- dependent and can differ between engines in the last ulps)
    WHERE CAST(c.c_acctbal AS DECIMAL(18,2))
            * (SELECT COUNT(*) FROM customer c2 WHERE c2.c_acctbal > 0.0)
          > (SELECT SUM(CAST(c2.c_acctbal AS DECIMAL(18,2)))
             FROM customer c2 WHERE c2.c_acctbal > 0.0)
      AND NOT EXISTS (
            SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
          )
    GROUP BY c.c_mktsegment
    """,
    exchanges=2,
)
def q_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers with no RECENT orders
    (none since 1999) — scalar aggregate subquery as threshold +
    NOT EXISTS as anti-join, grouped by market segment.

    The scalar stats are a 1-row broadcast (cross join), the NOT
    EXISTS a left_anti on c_custkey; both are the canonical Spark
    rewrites and neither shuffles the customer table more than once.
    The threshold comparison cross-multiplies by the count so it runs
    on exact DECIMAL/BIGINT values with identical results in both
    engines; the kept set is integer-keyed so the branch is
    hash-stable.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    # exact-rational threshold (see oracle comment): DECIMAL sum and
    # count are association-order independent, unlike a double avg
    stats = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    kept = (
        c.crossJoin(F.broadcast(stats))
        .filter(F.col("c_acctbal").cast("decimal(18,2)") * F.col("n") > F.col("s"))
        .join(
            o.filter(F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp")),
            c.c_custkey == o.o_custkey,
            "left_anti",
        )
    )
    return kept.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 3)
        .cast("double")
        .alias("totacctbal"),
    )


@query(
    "multi_count_distinct",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(DISTINCT event_type) AS n_types,
           COUNT(DISTINCT user_id * 8 + CASE event_type
                  WHEN 'click' THEN 0 WHEN 'view' THEN 1 WHEN 'purchase' THEN 2
                  WHEN 'signup' THEN 3 ELSE 4 END) AS n_user_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1
    """,
    exchanges=2,
)
def q_multi_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several COUNT(DISTINCT ...) over different keys in one
    aggregation — the Expand-based plan (each distinct spawns its own
    grouping replica) that engines must get right without multiplying
    scans.

    Spark compiles this to one scan + Expand(3 replicas) + two-level
    aggregate; the composite (user, type) key is packed into a BIGINT
    so all three distincts stay fixed-width through the shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    type_code = (
        F.when(F.col("event_type") == "click", 0)
        .when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "purchase", 2)
        .when(F.col("event_type") == "signup", 3)
        .otherwise(4)
    )
    return (
        ev.select(
            F.date_format("ts", "yyyy-MM-dd").alias("d"),
            "user_id",
            "event_type",
            (F.col("user_id") * 8 + type_code).alias("ut"),
        )
        .groupBy("d")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct("event_type").alias("n_types"),
            F.countDistinct("ut").alias("n_user_type"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "returned_item_ranking",
    oracle="""
    SELECT c.c_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(6,4)))), 3) AS DOUBLE)
             AS revenue,
           COUNT(DISTINCT o.o_orderkey) AS n_orders
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_name
    ORDER BY revenue DESC, c_name
    LIMIT 20
    """,
    exchanges=2, order_sensitive=True,
)
def q_returned_item_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: customers ranked by revenue lost to returned
    items — the churn-risk report.

    Returnflag filter pushes to the lineitem scan before the join;
    customer broadcasts; top-20 runs as TakeOrdered with a total
    ordering (revenue DESC, name) so the cut is deterministic.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .selectExpr("c_name", "o_orderkey", *_U_REV)
        .groupBy("c_name")
        .agg(
            _money(_REV_U, 6, "revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_name"))
        .limit(20)
    )


@query(
    "top_supplier_revenue",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(6,4)))) AS r
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_name,
           CAST(ROUND(rev.r, 3) AS DOUBLE) AS total_revenue
    FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
    WHERE rev.r = (SELECT MAX(r) FROM rev)
    """,
    exchanges=3,
)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) achieving the maximum quarterly
    revenue — the view-plus-scalar-max pattern.

    The revenue view is ONE aggregate over the date-pruned scan; the
    max is a 1-row broadcast joined back by exact DECIMAL equality
    (float equality here would be flaky — the DECIMAL sums make the
    max comparison well-defined), so ties all surface.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .selectExpr("l_suppkey", *_U_REV)
        .groupBy("l_suppkey")
        .agg(F.expr(f"{money_sum(_REV_U, 6)} AS r"))
    )
    mx = rev.agg(F.max("r").alias("mr"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("r") == F.col("mr"))
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_name", F.round("r", 3).cast("double").alias("total_revenue"))
    )


@query(
    "large_quantity_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250
    )
    SELECT c.c_name, o.o_orderkey,
           CAST(ROUND(b.sum_qty, 3) AS DOUBLE) AS sum_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY b.sum_qty DESC, o.o_orderkey
    LIMIT 20
    """,
    exchanges=1,
)
def q_large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers behind the largest-volume orders
    (the HAVING-on-aggregate semi-join back to the parents).

    The quantity rollup happens BEFORE any join — the HAVING prunes
    to a tiny 'big orders' set that then joins dimension-style (at
    scale: the rollup shuffles lineitem once on its natural join key;
    the survivors broadcast).  Total ordering pins the top-20 cut.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.selectExpr("l_orderkey", _u_ext("l_quantity", "qty_u"))
        .groupBy("l_orderkey")
        .agg(F.expr(f"{money_sum('qty_u', 2)} AS sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        big
        .join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "o_orderkey", F.round("sum_qty", 3).cast("double").alias("sum_qty"))
        .orderBy(F.desc("sum_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


@query(
    "scd2_customer_history",
    oracle="""
    -- SCD Type 2 built from the order stream: one row per customer x
    -- consecutive run of order priorities, with validity interval and
    -- version number.  Change detection: priority <> previous order's
    -- priority (ordered by date, orderkey).
    WITH seq AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             LAG(o_orderpriority) OVER w AS prev_p
      FROM orders
      WHERE o_custkey < 100
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    changes AS (
      SELECT o_custkey, o_orderpriority, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS version
      FROM seq
      WHERE prev_p IS NULL OR o_orderpriority <> prev_p
    )
    SELECT o_custkey AS custkey,
           o_orderpriority AS priority,
           CAST(version AS BIGINT) AS version,
           strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
           COALESCE(strftime(LEAD(o_orderdate) OVER
             (PARTITION BY o_custkey ORDER BY version), '%Y-%m-%d'), '9999-12-31')
             AS valid_to,
           LEAD(o_orderdate) OVER
             (PARTITION BY o_custkey ORDER BY version) IS NULL AS is_current
    FROM changes
    ORDER BY custkey, version
    """,
    exchanges=2,  # one customer shuffle + presentation sort
)
def q_scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 history build — the warehouse
    pattern for attribute tracking: collapse each customer's order
    stream into versioned validity intervals of its priority attribute
    (change rows via lag, interval close via lead, open intervals
    pinned to the 9999-12-31 sentinel).

    Two ordered windows over the same customer partitioning — one
    shuffle; no self-join against the history (the anti-pattern SCD
    builders fall into).  At 100 TB the change stream is a tiny
    fraction of the input and the output partitions by customer for
    the downstream point-in-time join.
    """
    # ONE change-detection pipeline (customer_priority_history) feeds
    # this query, the batch PIT join, and the streaming enrichment —
    # re-implementing the lag/filter/row_number/lead build here would
    # let the parity-critical change rule drift between them
    hist = customer_priority_history(spark, sf_dir)
    return hist.select(
        "custkey",
        "priority",
        "version",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.coalesce(F.date_format("valid_to", "yyyy-MM-dd"), F.lit("9999-12-31")).alias("valid_to"),
        F.col("valid_to").isNull().alias("is_current"),
    ).orderBy("custkey", "version")


# SCD2 history of each customer's order priority (change-detection
# windows), shared verbatim by the batch PIT oracle and the streaming
# enrichment oracle — one source of truth for the validity intervals.
SCD2_HIST_CTES = """
    seq AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             LAG(o_orderpriority) OVER w AS prev_p
      FROM orders
      WHERE o_custkey < 100
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    changes AS (
      SELECT o_custkey, o_orderpriority, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS version
      FROM seq
      WHERE prev_p IS NULL OR o_orderpriority <> prev_p
    ),
    hist AS (
      SELECT o_custkey AS custkey, o_orderpriority AS priority, version,
             o_orderdate AS valid_from,
             LEAD(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY version)
               AS valid_to
      FROM changes
    )
"""


def customer_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hist(custkey, priority, valid_from, valid_to) — the Spark twin
    of SCD2_HIST_CTES, shared by the batch PIT join and the streaming
    enrichment."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey",
        F.lag("o_orderpriority").over(w).alias("prev_p"),
    )
    changes = (
        seq.filter(F.col("prev_p").isNull() | (F.col("o_orderpriority") != F.col("prev_p")))
        .withColumn("version", F.row_number().over(w))
    )
    wv = Window.partitionBy("o_custkey").orderBy("version")
    return changes.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("version").cast("bigint").alias("version"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(wv).alias("valid_to"),
    )


@query(
    "point_in_time_join",
    oracle=f"""
    -- as-of join against the SCD2 history: each order picks the
    -- priority version valid at its order date.  The history is
    -- rebuilt inline with the same change-detection rule as
    -- scd2_customer_history, then matched on the half-open interval
    -- [valid_from, valid_to).
    WITH {SCD2_HIST_CTES}
    SELECT h.priority AS effective_priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN h.priority = o.o_orderpriority
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matching_actual
    FROM orders o
    JOIN hist h
      ON h.custkey = o.o_custkey
     AND o.o_orderdate >= h.valid_from
     AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)
    WHERE o.o_custkey < 100
    GROUP BY h.priority
    ORDER BY h.priority
    """,
    exchanges=3,  # history build + interval hash join + agg
)
def q_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join — the consumer side of SCD Type 2:
    each fact row joins the dimension VERSION that was valid at its
    event date (the ML-feature-store / audit-reporting lookup).

    Composes the scd2_customer_history build (same change-detection
    windows) and matches on the half-open validity interval.  A
    boundary-date order (exactly at valid_from of the next version)
    belongs to the NEW version — asserted by n_matching_actual: the
    change row itself always matches its own new priority.

    Scale shape: the interval join is an equi-join on custkey plus a
    range predicate — Spark executes it as a hash join with the range
    as a post-join filter; at 100 TB, bucketing both sides by custkey
    makes it co-partitioned, and the history side is change-rate-sized
    (tiny vs the facts).
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    hist = customer_priority_history(spark, sf_dir)
    j = o.join(
        hist,
        (o.o_custkey == hist.custkey)
        & (o.o_orderdate >= hist.valid_from)
        & (hist.valid_to.isNull() | (o.o_orderdate < hist.valid_to)),
    )
    return (
        j.groupBy(F.col("priority").alias("effective_priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.col("priority") == F.col("o_orderpriority"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_matching_actual"),
        )
        .orderBy("effective_priority")
    )


# ------------------------------------------------- grid interval-overlap join


# The testdata lacks l_receiptdate, so the transit leg is synthesized
# exactly the way TPC-H specifies it (receipt = ship + random(1..30),
# TPC-H v3 clause 4.2.3) but key-deterministically, so BOTH engines
# derive the identical interval: transit = 1 + (line key) % 28 days.
OVERLAP_CELL_DAYS = 32  # >= max interval width (29d) => each interval spans <= 2 cells

# Oracle twin of transit_intervals() below — shared by both interval ops.
TRANSIT_IT_SQL = """
    it AS (
      SELECT l_suppkey AS suppkey, l_orderkey * 8 + l_linenumber AS k,
             date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS s,
             date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
               + 1 + (l_orderkey * 8 + l_linenumber) % 28 AS r
      FROM lineitem
      WHERE l_quantity >= 45
    )
"""


@query(
    "interval_overlap_pairs",
    oracle=f"""
    WITH {TRANSIT_IT_SQL}
    SELECT a.suppkey, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(LEAST(a.r, b.r) - GREATEST(a.s, b.s) + 1) AS BIGINT) AS overlap_days
    FROM it a JOIN it b
      ON a.suppkey = b.suppkey AND a.k < b.k
     AND a.s <= b.r AND b.s <= a.r
    GROUP BY 1
    """,
    # 1 at test scale (the small side broadcasts); once BOTH explode
    # sides grow past the broadcast threshold the same plan becomes a
    # sort-merge join (3 exchanges), still with no quadratic group join
    bench=True, exchanges=1, order_sensitive=True,
)
def q_interval_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join via GRID BUCKETING — the scale-safe
    rewrite of an inequality join.  Per supplier, count pairs of
    heavy shipments (quantity >= 45) whose transit windows
    [shipdate, shipdate + transit] overlap, plus total overlap days.

    The naive plan is an equi-join on suppkey with the overlap range
    as a post-join filter: every supplier's group goes quadratic
    before the predicate prunes (at 100 TB a hot supplier's group is
    millions of rows -> 10^12 compared pairs).  The grid rewrite maps
    each interval onto the {OVERLAP_CELL_DAYS}-day cells it covers
    (<= 2, since transit <= 29d < cell) and equi-joins on
    (suppkey, cell): candidates are only pairs near each other in
    TIME, so the work scales with temporal density, not group size
    squared.  Dedup is FREE — instead of a distinct over pair keys, a
    pair is counted only in the one cell containing GREATEST(s_a, s_b)
    (the overlap start, which both intervals cover by definition), so
    no second shuffle.  DuckDB runs the naive quadratic form — same
    result, different physics — which is exactly the point.

    Reference parity: the reference has no interval join at all
    (SURVEY §2.3 'absent' row); this is the Spark-first pattern a
    shipment-concurrency query would need.
    """
    return grid_overlap_pairs(transit_intervals(spark, sf_dir))


def transit_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-shipment transit intervals (suppkey, k, s, r) shared by
    the grid-overlap join and the sweep-line union coverage — one
    definition so the two oracles can never disagree about the
    synthesized transit leg."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    k = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("bigint")
    s = F.datediff(F.col("l_shipdate"), F.lit("1992-01-01")).cast("bigint")
    return li.select(
        F.col("l_suppkey").alias("suppkey"),
        k.alias("k"),
        s.alias("s"),
        (s + 1 + k % 28).alias("r"),
    )


def grid_overlap_pairs(it: DataFrame) -> DataFrame:
    """Core grid-bucketed overlap pair count over (suppkey, k, s, r)
    interval rows — split out so the semantics test can feed planted
    intervals (incl. the pair whose two intervals BOTH span a cell
    boundary, which must still be counted exactly once)."""
    cells = it.select(
        "suppkey", "k", "s", "r",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / OVERLAP_CELL_DAYS),
                F.floor(F.col("r") / OVERLAP_CELL_DAYS),
            )
        ).alias("cell"),
    )
    a = cells.select(
        "suppkey", "cell",
        F.col("k").alias("ka"), F.col("s").alias("sa"), F.col("r").alias("ra"),
    )
    b = cells.select(
        "suppkey", "cell",
        F.col("k").alias("kb"), F.col("s").alias("sb"), F.col("r").alias("rb"),
    )
    pairs = (
        a.join(b, ["suppkey", "cell"])
        .filter(
            (F.col("ka") < F.col("kb"))
            & (F.col("sa") <= F.col("rb"))
            & (F.col("sb") <= F.col("ra"))
            # count each pair exactly once: only in the cell holding the
            # overlap start (no distinct -> no extra shuffle)
            & (F.col("cell") == F.floor(F.greatest("sa", "sb") / OVERLAP_CELL_DAYS))
        )
    )
    return pairs.groupBy("suppkey").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.least("ra", "rb") - F.greatest("sa", "sb") + 1
        ).cast("bigint").alias("overlap_days"),
    )


@query(
    "interval_union_coverage",
    oracle=f"""
    WITH {TRANSIT_IT_SQL},
    days AS (
      SELECT it.suppkey, d.d AS d
      FROM it, unnest(generate_series(it.s, it.r)) AS d(d)
    ),
    per_day AS (
      SELECT suppkey, d, COUNT(*) AS cov FROM days GROUP BY 1, 2
    )
    SELECT suppkey,
           CAST(COUNT(*) AS BIGINT) AS busy_days,
           CAST(MAX(cov) AS BIGINT) AS max_concurrent
    FROM per_day
    GROUP BY 1
    """,
    # sweep delta agg + suppkey window/agg
    bench=True, exchanges=2, order_sensitive=True,
)
def q_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-intervals per supplier via SWEEP LINE: busy days (days
    with >= 1 shipment in transit) and peak concurrency, over the same
    transit intervals as ``interval_overlap_pairs``.

    The naive plan explodes every interval into its days — O(n x
    width) rows, and width is data (a 1-year interval is 365 rows).
    The sweep is O(n) rows regardless of width: each interval
    contributes one +1 event at s and one -1 at r+1, a per-(supplier,
    day) delta aggregate collapses simultaneous events, a running sum
    per supplier ordered by day gives the coverage on [day, next_day),
    and busy days = sum of segment lengths where coverage > 0.  The
    DuckDB oracle IS the naive day-explode (exact same answer, safe at
    oracle scale because transit <= 29 days), which is the point: the
    sweep must reproduce brute-force day counting exactly.

    Scale shape: one shuffle to the (suppkey, day) delta agg, one
    suppkey-partitioned window — never a row per covered day, never an
    unpartitioned window.
    """
    return sweep_union_coverage(transit_intervals(spark, sf_dir))


def sweep_union_coverage(it: DataFrame) -> DataFrame:
    """Core sweep-line union over (suppkey, k, s, r) interval rows —
    split out so the semantics test can feed planted intervals
    (touching-but-not-overlapping, nested, disjoint)."""
    ev = it.select("suppkey", F.col("s").alias("day"), F.lit(1).alias("delta")).unionAll(
        it.select("suppkey", (F.col("r") + 1).alias("day"), F.lit(-1).alias("delta"))
    )
    deltas = ev.groupBy("suppkey", "day").agg(F.sum("delta").alias("delta"))
    w = Window.partitionBy("suppkey").orderBy("day")
    swept = deltas.select(
        "suppkey",
        "day",
        F.sum("delta").over(w).alias("cov"),
        F.lead("day").over(w).alias("next_day"),
    )
    return (
        swept.filter((F.col("cov") > 0) & F.col("next_day").isNotNull())
        .groupBy("suppkey")
        .agg(
            F.sum(F.col("next_day") - F.col("day")).cast("bigint").alias("busy_days"),
            F.max("cov").cast("bigint").alias("max_concurrent"),
        )
    )


@query(
    "pareto_skyline_parts",
    oracle="""
    WITH p AS (
      SELECT p_brand, p_partkey,
             CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_c, p_size
      FROM part
    )
    SELECT p_brand AS brand, p_partkey AS partkey, price_c,
           CAST(p_size AS BIGINT) AS size
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.p_brand = a.p_brand
        AND ((b.price_c < a.price_c AND b.p_size >= a.p_size)
          OR (b.price_c <= a.price_c AND b.p_size > a.p_size))
    )
    """,
    # one brand shuffle feeds both windows
    bench=True, exchanges=1, order_sensitive=True,
)
def q_pareto_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto frontier) per brand — cheapest-for-the-size
    parts (minimize price, maximize size), the multi-objective
    shortlist query (Borzsony/Kossmann/Stocker, ICDE'01).

    The definitional plan is a quadratic NOT EXISTS self-join per
    brand — exactly what the DuckDB oracle runs.  The engine instead
    uses the 2D sort trick: with prices as exact integer CENTS, two
    brand-partitioned RANGE windows give max(size) over strictly
    cheaper rows (frame ... AND 1 PRECEDING by value) and over
    cheaper-or-equal rows (peers included); a part is dominated iff
    the first is >= its size or the second exceeds it.  O(n log n)
    per brand, no self-join, and ties (identical price+size twins)
    survive together on the frontier in both formulations.

    Cents, not doubles: a RANGE offset of -1 is only 'strictly
    cheaper' when consecutive representable prices differ by >= 1,
    which money in cents guarantees and float prices do not.
    """
    p = load_table(spark, sf_dir, "part").select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("partkey"),
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("price_c"),
        F.col("p_size").cast("bigint").alias("size"),
    )
    return skyline_2d(p)


def skyline_2d(p: DataFrame) -> DataFrame:
    """Core per-brand 2D skyline over (brand, partkey, price_c, size)
    rows — split out so the semantics test can plant frontier twins,
    dominated points, and cross-brand decoys."""
    w_lt = (
        Window.partitionBy("brand").orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_le = (
        Window.partitionBy("brand").orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = p.select(
        "brand", "partkey", "price_c", "size",
        F.max("size").over(w_lt).alias("max_lt"),
        F.max("size").over(w_le).alias("max_le"),
    )
    return flagged.filter(
        ~(
            (F.col("max_lt").isNotNull() & (F.col("max_lt") >= F.col("size")))
            | (F.col("max_le") > F.col("size"))
        )
    ).select("brand", "partkey", "price_c", "size")

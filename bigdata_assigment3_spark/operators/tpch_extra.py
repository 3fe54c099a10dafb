"""Remaining TPC-H query anchors (Q2/Q7/Q8/Q12 shapes).

The reference (SURVEY.md §2.3/2.4) has no multi-table analytics at
all, so these — like relational.py — are coverage anchors proving the
engine handles the canonical warehouse join topologies the reference's
users would reach for next: nation-pair volume shipping (Q7), market
share with a conditional-numerator ratio (Q8), per-part argmin supplier
selection via a correlated minimum (Q2), and the late-shipment priority
count join (Q12, adapted: the testdata lineitem carries no
``l_shipmode``, so the priority split keys on ``o_orderpriority``).

Scale notes shared by all four: ``nation``/``region``/``part``/
``supplier`` are broadcast-sized dims even at 100 TB (nation/region
are constant-size; part/supplier grow ~SF but stay orders of magnitude
below the facts and AQE demotes to shuffle join if they outgrow the
threshold), while ``lineitem`` ⋈ ``orders`` is the one genuinely wide
join and runs sort-merge on the order key.  Money math is DECIMAL
(association-order independent) with DOUBLE only at the output edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..sources import load_table

_DEC_EXT = "decimal(12,2)"
_DEC_PCT = "decimal(6,4)"


@query(
    "volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(6,4)))), 3) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                           AND TIMESTAMP '1997-12-31 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
    bench=True, exchanges=4,
)
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 volume shipping: revenue between a nation pair by year.

    Plan shape: the nation filter broadcasts into supplier/customer
    BEFORE the fact joins, so only the two nations' rows reach the
    wide lineitem⋈orders sort-merge — a semi-join reduction Catalyst
    derives from the declarative plan (DynamicPruning at scale).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31 00:00:00")
    )
    orders = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("s_nk"),
    )
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("c_nk"),
    )
    vol = (
        F.col("l_extendedprice").cast(_DEC_EXT)
        * (F.lit(1) - F.col("l_discount").cast(_DEC_PCT))
    )
    # nation (25 rows) is force-broadcast above; the supplier/customer
    # slices are NOT — they grow ~SF, so the join strategy is left to
    # Catalyst/AQE (broadcast at test scale, shuffle at 100 TB).
    return (
        li.join(supp.select("s_suppkey", "supp_nation"), li.l_suppkey == F.col("s_suppkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust.select("c_custkey", "cust_nation"), orders.o_custkey == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("bigint").alias("l_year"))
        .agg(F.round(F.sum(vol), 3).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "market_share",
    oracle="""
    WITH vols AS (
        SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               CAST(l.l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(6,4))) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n1.n_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'AMERICA'
          AND p.p_type = 'PROMO'
          AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                                AND TIMESTAMP '1996-12-31 00:00:00'
    )
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_6' THEN volume
                               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM vols
    GROUP BY o_year
    ORDER BY o_year
    """,
    # static-plan count without forced broadcasts (the supplier/customer
    # slices grow ~SF); AQE re-broadcasts the small sides at runtime
    bench=True, exchanges=4,
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 market share: NATION_6's slice of AMERICA PROMO volume.

    Conditional-numerator ratio over one aggregation pass (no second
    scan for the denominator).  Both sums stay DECIMAL-exact until the
    final double division, so the ratio is bit-identical cross-engine.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1996-12-31 00:00:00")
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    supp = load_table(spark, sf_dir, "supplier")

    cust_in_region = cust.join(
        F.broadcast(
            nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .select(F.col("n_nationkey").alias("c_nk"))
        ),
        F.col("c_nationkey") == F.col("c_nk"),
    ).select("c_custkey")
    supp_nat = supp.join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("s_nk"),
    ).select("s_suppkey", "supp_nation")

    vol = (
        F.col("l_extendedprice").cast(_DEC_EXT)
        * (F.lit(1) - F.col("l_discount").cast(_DEC_PCT))
    )
    zero = F.lit(0).cast(_DEC_EXT)
    # part/customer/supplier slices grow ~SF: no forced broadcast —
    # AQE picks broadcast at test scale, shuffle semi-join at 100 TB.
    vols = (
        li.join(part.select("p_partkey"), li.l_partkey == F.col("p_partkey"), "leftsemi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_in_region, orders.o_custkey == F.col("c_custkey"), "leftsemi")
        .join(supp_nat, li.l_suppkey == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    target = F.when(F.col("supp_nation") == "NATION_6", F.col("volume")).otherwise(zero)
    return (
        vols.groupBy("o_year")
        .agg(
            F.round(
                F.sum(target).cast("double") / F.sum("volume").cast("double"), 6
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "min_cost_supplier",
    oracle="""
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               MIN(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT l_partkey, l_suppkey, unit_cost,
               ROW_NUMBER() OVER (PARTITION BY l_partkey
                                  ORDER BY unit_cost, l_suppkey) AS rn
        FROM cost
    )
    SELECT p.p_partkey, p.p_brand, s.s_name, n.n_name AS supp_nation,
           CAST(ROUND(r.unit_cost * 10000) AS BIGINT) / CAST(10000 AS DOUBLE) AS unit_cost
    FROM ranked r
    JOIN part p ON p.p_partkey = r.l_partkey
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE r.rn = 1 AND p.p_size < 10
    ORDER BY p.p_partkey
    """,
    bench=True, exchanges=3,
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest supplier per part (correlated minimum).

    The classic correlated ``= (SELECT MIN ...)`` collapses to one
    grouped aggregate + per-part ROW_NUMBER — one shuffle on
    (part, supp), one on part, never a self-join.  Unit cost is an
    IEEE double division of identical inputs, so MIN and the ordering
    are bit-identical cross-engine; ties break on suppkey.  The
    4-decimal presentation rounds to INTEGER deci-milli-units first
    and divides back (identical IEEE ops in both engines) — a direct
    ROUND(double, 4) straddles half-way boundaries differently per
    engine (5 parts at sf0.1).
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    cost = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_cost", "l_suppkey")
    best = cost.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    # only nation (constant 25 rows) is force-broadcast; part/supplier
    # grow ~SF, so their join strategy is left to AQE
    return (
        best.join(part, best.l_partkey == part.p_partkey)
        .join(supp, best.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            F.col("n_name").alias("supp_nation"),
            (F.round(F.col("unit_cost") * 10000).cast("bigint")
             / F.lit(10000).cast("double")).alias("unit_cost"),
        )
        .orderBy("p_partkey")
    )


@query(
    "late_shipment_priority",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
    exchanges=2,
)
def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: late-shipment lines split by order priority.

    Adapted to the testdata (no ``l_shipmode`` column): the split keys
    on ``o_orderpriority``.  The late predicate compares columns from
    both sides, so it evaluates post-join — the join itself is the
    wide orderkey sort-merge, then a tiny 3-group aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "supplier_part_variety",
    oracle="""
    -- Q16 shape (no partsupp table: the supplier-part relation is
    -- derived from lineitem).  Chronically-complained-about suppliers
    -- (above the MEDIAN per-supplier 'R'-line count, so the exclusion
    -- scales with the data instead of a fixed constant) are excluded
    -- via NOT IN, then distinct suppliers are counted per
    -- (brand, type) for small parts.
    WITH rcnt AS (
      SELECT l_suppkey, COUNT(*) AS n_r FROM lineitem
      WHERE l_returnflag = 'R' GROUP BY l_suppkey
    ),
    complained AS (
      SELECT l_suppkey FROM rcnt
      WHERE n_r > (SELECT quantile_cont(n_r, 0.5) FROM rcnt)
    ),
    rel AS (
      SELECT DISTINCT l.l_partkey, l.l_suppkey
      FROM lineitem l
      WHERE l.l_suppkey NOT IN (SELECT l_suppkey FROM complained)
    )
    SELECT p.p_brand, p.p_type,
           CAST(COUNT(DISTINCT r.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM rel r JOIN part p ON p.p_partkey = r.l_partkey
    WHERE p.p_size <= 15
    GROUP BY 1, 2
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type
    """,
    # Q16/Q20 shape: distinct + anti-join + count-distinct chains, +2 for
    # the data-relative (median) complaint cut
    bench=True, exchanges=7,
)
def q_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: supplier variety per (brand, type) with a
    NOT IN exclusion subquery.

    NOT IN compiles to a null-aware anti-join; the excluded-supplier
    set is a tiny distinct aggregate, so Catalyst broadcasts it.  The
    count-distinct runs on the deduplicated (part, supp) relation —
    dedup BEFORE the dimension join, so the wide join carries no
    duplicate pairs.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 15)
    rcnt = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_r"))
    )
    med = rcnt.agg(F.percentile("n_r", F.lit(0.5)).alias("m"))
    # chronic complainers: above the per-supplier median — a
    # data-relative cut that behaves identically at every SF
    complained = rcnt.crossJoin(F.broadcast(med)).filter(
        F.col("n_r") > F.col("m")
    ).select("l_suppkey")
    # the complained set and the filtered part dim both grow ~SF —
    # no forced broadcast (AQE decides; null-aware anti stays correct
    # under either strategy)
    rel = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .join(complained, "l_suppkey", "left_anti")
    )
    return (
        rel.join(part, rel.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type")
    )


@query(
    "excess_stock_suppliers",
    oracle="""
    -- Q20 shape: suppliers qualify when, for SOME small part, their
    -- shipped quantity in 1996 exceeds a fixed threshold — the nested
    -- IN (parts) inside IN (qualifying supplier set).
    WITH qualifying AS (
      SELECT l.l_suppkey
      FROM lineitem l
      WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_size < 10)
        AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING SUM(l.l_quantity) > 60
    )
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM qualifying)
    ORDER BY s.s_suppkey
    """,
    exchanges=3,  # Q16/Q20 shape: distinct + anti-join + count-distinct chain
)
def q_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested-IN supplier qualification (suppliers
    who shipped > 60 units of some small part in 1996).

    Both IN subqueries become semi-joins: the part filter broadcasts
    into the lineitem scan (partition-pruning-shaped reduction), the
    per-(supp, part) HAVING aggregate is the only wide shuffle, and
    the final qualification semi-joins into the supplier dim.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    qualifying = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .join(part.select("p_partkey"), li.l_partkey == F.col("p_partkey"), "leftsemi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 60)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(qualifying, supp.s_suppkey == F.col("l_suppkey"), "leftsemi")
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
        .orderBy("s_suppkey")
    )

"""Data-quality expectation audit — the constraint battery a pipeline
runs before promoting a batch (the Great-Expectations / dbt-test /
Deequ pattern, expressed as plain aggregates).

One output row per declared constraint: (check_name, n_checked,
n_violations, passed).  Three constraint kinds, each with the scan
shape it deserves at 100 TB:

- column constraints (not-null, value ranges):
  ONE pass per table — all the per-table checks ride the same scan as
  conditional aggregates, then unpivot via ``stack``;
- uniqueness: count(*) - count(distinct key) on the same pass (no
  self-join);
- referential integrity: LEFT ANTI join child->parent, counted —
  strategy left to Catalyst/AQE (the parent side grows with SF, so no
  forced broadcast).

The battery deliberately includes a constraint that FAILS on TPC-H
data (``orders_one_per_customer``) so a green run proves the detector
counts real violations rather than rubber-stamping; the remaining
constraints genuinely hold in TPC-H and their n_checked counts scale
with SF, which is what the audit certifies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from ..sources import load_table


@query(
    "dq_audit",
    oracle="""
    WITH o AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS pk_dup,
             CAST(COUNT(*) - COUNT(DISTINCT o_custkey) AS BIGINT) AS cust_dup,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS custkey_null,
             CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS price_nonpos
      FROM orders
    ),
    l AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS disc_oob,
             CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS qty_oob,
             CAST(SUM(CASE WHEN l_tax < 0 OR l_tax > 0.08 THEN 1 ELSE 0 END) AS BIGINT) AS tax_oob
      FROM lineitem
    ),
    fk_o AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS viol FROM orders
      WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    ),
    fk_l AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS viol FROM lineitem
      WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    )
    SELECT check_name, n_checked, n_violations, n_violations = 0 AS passed FROM (
      SELECT 'orders_pk_unique' AS check_name, o.n AS n_checked, o.pk_dup AS n_violations FROM o
      UNION ALL SELECT 'orders_one_per_customer', o.n, o.cust_dup FROM o
      UNION ALL SELECT 'orders_custkey_not_null', o.n, o.custkey_null FROM o
      UNION ALL SELECT 'orders_totalprice_positive', o.n, o.price_nonpos FROM o
      UNION ALL SELECT 'orders_fk_customer', o.n, fk_o.viol FROM o, fk_o
      UNION ALL SELECT 'lineitem_discount_range', l.n, l.disc_oob FROM l
      UNION ALL SELECT 'lineitem_quantity_range', l.n, l.qty_oob FROM l
      UNION ALL SELECT 'lineitem_tax_range', l.n, l.tax_oob FROM l
      UNION ALL SELECT 'lineitem_fk_orders', l.n, fk_l.viol FROM l, fk_l
    )
    """,
    # two FK anti-joins + per-table aggregate passes + union; every one
    # is an aggregate-sized exchange, no row-level shuffle
    bench=True, exchanges=7,
)
def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring.  Reference parity: the reference app
    enforces these same invariants imperatively at insert time
    (uniqueness guard, FK checks, value validation in its REST
    handlers); this is the batch-audit form that certifies a whole
    table at once."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")

    o = orders.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).cast("bigint").alias("pk_dup"),
        (F.count(F.lit(1)) - F.countDistinct("o_custkey")).cast("bigint").alias("cust_dup"),
        F.sum(F.col("o_custkey").isNull().cast("int")).cast("bigint").alias("custkey_null"),
        F.sum((F.col("o_totalprice") <= 0).cast("int")).cast("bigint").alias("price_nonpos"),
    )
    li = lineitem.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).cast("int"))
        .cast("bigint")
        .alias("disc_oob"),
        F.sum(((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).cast("int"))
        .cast("bigint")
        .alias("qty_oob"),
        F.sum(((F.col("l_tax") < 0) | (F.col("l_tax") > 0.08)).cast("int"))
        .cast("bigint")
        .alias("tax_oob"),
    )
    fk_o = (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("viol"))
    )
    fk_l = (
        lineitem.select("l_orderkey")
        .join(orders.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("viol"))
    )

    o_rows = o.selectExpr(
        """stack(4,
           'orders_pk_unique', n, pk_dup,
           'orders_one_per_customer', n, cust_dup,
           'orders_custkey_not_null', n, custkey_null,
           'orders_totalprice_positive', n, price_nonpos
        ) AS (check_name, n_checked, n_violations)"""
    )
    l_rows = li.selectExpr(
        """stack(3,
           'lineitem_discount_range', n, disc_oob,
           'lineitem_quantity_range', n, qty_oob,
           'lineitem_tax_range', n, tax_oob
        ) AS (check_name, n_checked, n_violations)"""
    )
    fko_row = o.crossJoin(fk_o).select(
        F.lit("orders_fk_customer").alias("check_name"),
        F.col("n").alias("n_checked"),
        F.col("viol").alias("n_violations"),
    )
    fkl_row = li.crossJoin(fk_l).select(
        F.lit("lineitem_fk_orders").alias("check_name"),
        F.col("n").alias("n_checked"),
        F.col("viol").alias("n_violations"),
    )
    return (
        o_rows.unionByName(l_rows)
        .unionByName(fko_row)
        .unionByName(fkl_row)
        .withColumn("passed", F.col("n_violations") == 0)
    )

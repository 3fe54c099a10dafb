"""Coverage closers for SURVEY §2 categories marked 'absent' in the
reference — exposed as first-class operators so a reference user has
every standard analytic available: ranking-function kinds, as-of
lookups, insert-with-uniqueness-guard, approximate aggregates, pivot,
and a parquet sink round-trip.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..session import stage_dir, staged_fixture
from ..sources import load_table, register_views
from ..sources.custom import SYNTH_PARTS, SYNTH_ROWS, register_synthtx


@query(
    "custom_source_scan",
    oracle=f"""
    WITH t AS (
      SELECT id % 97 AS user_id,
             ['a','b','c','d'][CAST(id % 4 AS INTEGER) + 1] AS kind,
             (id * 31) % 1000 AS amount
      FROM range({SYNTH_ROWS}) r(id)
    )
    SELECT kind,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(amount) AS BIGINT) AS total_amount,
           CAST(MAX(amount) AS BIGINT) AS max_amount
    FROM t GROUP BY kind
    """,
    exchanges=2,
)
def q_custom_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan through a CUSTOM Python DataSource (PySpark 4 DataSource
    API, sources/custom.py): the 'synthtx' format plans 8 independent
    InputPartitions (parallel scan with no input files — the connector
    pattern for systems without a native reader) and generates
    deterministic integer rows, so the aggregate is value-checked
    against a DuckDB range() oracle — the custom source itself is
    under the correctness gate, not just smoke-tested."""
    register_synthtx(spark)
    t = spark.read.format("synthtx").load()
    return t.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum("amount").cast("bigint").alias("total_amount"),
        F.max("amount").cast("bigint").alias("max_amount"),
    )


@query(
    "custom_sink_write",
    oracle=f"""
    WITH t AS (
      SELECT id AS tx_id, id % 97 AS user_id,
             (id * 31) % 1000 AS amount
      FROM range({SYNTH_ROWS}) r(id)
    )
    SELECT CAST({SYNTH_PARTS} AS BIGINT) AS n_files,
           COUNT(*) AS n_rows,
           CAST(SUM(amount) AS BIGINT) AS total_amount,
           CAST(bit_xor(tx_id * 31 + user_id) AS BIGINT) AS row_checksum
    FROM t
    """,
)
def q_custom_sink_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round trip through a CUSTOM Python DataSource WRITER
    (sources/custom.py 'synthtxsink'): the synthtx relation flows out
    through the two-phase commit protocol — per-task part files +
    WriterCommitMessages, manifest published only by driver-side
    commit() — and the read-back consults ONLY the manifest, so
    uncommitted or orphaned task output can never leak into results
    (the exactly-once batch-sink contract; abort() leaves zero
    visible rows).  The aggregate over the manifested files is
    value-checked against the same range() oracle as the source —
    write path and read path close the loop under the gate."""
    import json as _json

    from ..sources.custom import register_synthtx, register_synthtx_sink

    register_synthtx(spark)
    register_synthtx_sink(spark)
    out = stage_dir(spark, "synthtxsink")
    src = spark.read.format("synthtx").load().select("tx_id", "user_id", "amount")
    src.write.format("synthtxsink").option("path", out).mode("append").save()
    with open(os.path.join(out, "_manifest", "manifest.json")) as fh:
        manifest = _json.load(fh)
    back = spark.read.schema("tx_id BIGINT, user_id BIGINT, amount BIGINT").json(
        manifest["files"]
    )
    return back.agg(
        F.lit(len(manifest["files"])).cast("bigint").alias("n_files"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("amount").cast("bigint").alias("total_amount"),
        F.bit_xor(F.col("tx_id") * 31 + F.col("user_id")).cast("bigint").alias("row_checksum"),
    )


@query(
    "custom_stream_scan",
    oracle=f"""
    WITH t AS (
      SELECT id AS tx_id,
             ['a','b','c','d'][CAST(id % 4 AS INTEGER) + 1] AS kind,
             (id * 31) % 1000 AS amount
      FROM range({SYNTH_ROWS}) r(id)
    )
    SELECT kind,
           COUNT(*) AS n,
           CAST(SUM(amount) AS BIGINT) AS total_amount,
           CAST(MAX(tx_id) AS BIGINT) AS max_tx_id
    FROM t GROUP BY kind
    """,
)
def q_custom_stream_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream through the STREAMING side of the Python DataSource
    API (sources/custom.py 'synthtxstream', SimpleDataSourceStreamReader):
    the same deterministic relation as custom_source_scan arrives as
    four resumable micro-batches with JSON cursor offsets — the
    connector shape for offset-addressable systems (internal APIs,
    bespoke logs) that have no native Spark streaming source.

    availableNow can't drain a cursor source that extends its own
    available range batch by batch, so the query runs a default
    trigger and blocks on ``processAllAvailable`` (no more data =>
    cursor at end), then stops — the complete-mode aggregate at that
    point is batch-equal, which is the oracle."""
    from ..sources.custom import register_synthtx_stream
    from ..streaming.queries import start_memory_sink

    register_synthtx_stream(spark)
    stream = spark.readStream.format("synthtxstream").load()
    agg = stream.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("amount").cast("bigint").alias("total_amount"),
        F.max("tx_id").cast("bigint").alias("max_tx_id"),
    )
    # not _run_to_memory: a default trigger drained by processAllAvailable
    q, sink = start_memory_sink(agg, "custom_stream_scan")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return sink


@query(
    "table_profile",
    oracle="""
    SELECT 'o_orderkey' AS col_name,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_val,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_custkey',
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate',
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
           strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S'),
           strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S')
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
           CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
    FROM orders
    """,
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic data-quality profile of a table: per column, null
    count, exact distinct count, and min/max (rendered to strings with
    engine-portable formats: raw for ints/strings, fixed timestamp
    format, DECIMAL(18,2) for doubles so float repr differences can't
    leak into the compare) — the profiling pass every ingest pipeline
    runs before accepting a drop.

    Scale shape: ONE scan — all six columns' null counts, distinct
    counts and extrema compute in a single aggregate (Spark plans the
    multi-distinct via Expand, still one pass over the data), then an
    unpivot to rows.  The per-column UNION in the oracle is the
    semantic spec, not the plan."""
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
              "o_orderdate", "o_totalprice"):
        aggs.append(F.sum(F.col(c).isNull().cast("int")).cast("bigint").alias(f"{c}__nulls"))
        aggs.append(F.count_distinct(F.col(c)).cast("bigint").alias(f"{c}__nd"))
    for c in ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"):
        aggs.append(F.min(F.col(c)).cast("string").alias(f"{c}__min"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"{c}__max"))
    aggs.append(F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("o_orderdate__min"))
    aggs.append(F.date_format(F.max("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("o_orderdate__max"))
    aggs.append(F.min("o_totalprice").cast("decimal(18,2)").cast("string").alias("o_totalprice__min"))
    aggs.append(F.max("o_totalprice").cast("decimal(18,2)").cast("string").alias("o_totalprice__max"))
    one = o.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__nulls, {c}__nd, {c}__min, {c}__max"
        for c in ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
                  "o_orderdate", "o_totalprice")
    )
    return one.selectExpr(
        f"stack(6, {stack}) AS (col_name, n_nulls, n_distinct, min_val, max_val)"
    )


@query(
    "window_rank_kinds",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    order_sensitive=True,
)
def q_window_rank_kinds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile in one spec (SURVEY §2.5 'absent' row).
    One shuffle on the partition key serves all three functions."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "asof_last_error",
    oracle="""
    WITH m AS (
      SELECT user_id, event_id, ts, event_type,
             MAX(CASE WHEN event_type = 'error' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_err
      FROM events
    )
    SELECT user_id, COUNT(*) AS n_events,
           COUNT(last_err) AS n_with_prior_error,
           CAST(MAX(CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(last_err)) AS BIGINT))
                AS BIGINT) AS max_gap_s
    FROM m GROUP BY user_id
    """,
    order_sensitive=True,
)
def q_asof_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of lookup: for every event, the most recent PRIOR error of
    the same user (SURVEY J2 as-of join; guide 'as-of via window').
    Expressed as a conditional running MAX over an ordered frame —
    no join at all, one shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_err = F.max(F.when(F.col("event_type") == "error", F.col("ts"))).over(w)
    m = ev.select("user_id", "ts", last_err.alias("last_err"))
    return m.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("last_err").alias("n_with_prior_error"),
        F.max(F.unix_timestamp("ts") - F.unix_timestamp("last_err"))
        .cast("bigint")
        .alias("max_gap_s"),
    )


@query(
    "insert_unique_guard",
    oracle="""
    WITH staged AS (
      SELECT event_id + 5 AS event_id, user_id, event_type FROM events
      WHERE event_type = 'signup'
    ),
    novel AS (
      SELECT s.* FROM staged s
      WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.event_id = s.event_id)
    )
    SELECT (SELECT COUNT(*) FROM staged) AS n_staged,
           (SELECT COUNT(*) FROM novel) AS n_inserted,
           (SELECT COUNT(*) FROM staged) - (SELECT COUNT(*) FROM novel) AS n_rejected
    """,
)
def q_insert_unique_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT with uniqueness guard (SURVEY S3; ref app/routers.py:86-92
    IntegrityError handling): staged rows anti-join the target on the
    key; only novel keys insert.  The guard is a broadcast anti-join —
    no target rewrite until commit."""
    ev = load_table(spark, sf_dir, "events")
    staged = ev.filter(F.col("event_type") == "signup").select(
        (F.col("event_id") + 5).alias("event_id"), "user_id", "event_type"
    )
    # ONE job: left join + conditional counts (two separate .count()
    # actions would scan the events table three times)
    return (
        staged.join(
            # distinct() keeps anti-join semantics even if the target
            # key were non-unique; the sums coalesce to 0 so an empty
            # staged set reports 0/0/0 like the oracle, not NULLs
            ev.select("event_id").distinct().withColumn("_exists", F.lit(True)),
            "event_id",
            "left",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_staged"),
            F.coalesce(
                F.sum(F.when(F.col("_exists").isNull(), 1).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias("n_inserted"),
            F.coalesce(
                F.sum(F.when(F.col("_exists").isNotNull(), 1).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias("n_rejected"),
        )
    )


@query(
    "approx_stats",
    # the sketch VALUES are engine-specific, so the oracle checks the
    # exact side plus the sketch-accuracy CONTRACT: HLL++ within 10%
    # (deterministic hash sketch, sparse-mode near-exact at these
    # cardinalities), percentile_approx inside the exact p40..p60 /
    # p90..p99 value brackets (rank error 1/accuracy = 0.01%)
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact_users,
           TRUE AS hll_within_10pct,
           TRUE AS p50_in_bracket,
           TRUE AS p95_in_bracket
    FROM events GROUP BY event_type
    """,
)
def q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB forms of A3/A7: approx_count_distinct (HyperLogLog++)
    and percentile_approx (KLL-ish sketch) — single-pass, bounded
    memory, mergeable across partitions.  Sketch values are
    engine-specific, so the oracle pins the exact distinct count and
    the sketches' ACCURACY GUARANTEES as booleans: the HLL estimate
    within 10% of exact (2x its 5% design rsd; the sketch is a
    deterministic hash structure, not sampled), and each approximate
    percentile inside the exact value bracket its rank-error bound
    implies.  A sketch regression (or an engine swapping algorithms
    for something worse) flips a boolean and fails the value hash."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact_users"),
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", 0.5).alias("p50_approx"),
        F.percentile_approx("value", 0.95).alias("p95_approx"),
        F.expr("percentile(value, 0.40)").alias("p40"),
        F.expr("percentile(value, 0.60)").alias("p60"),
        F.expr("percentile(value, 0.90)").alias("p90"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )
    return agg.select(
        "event_type",
        "n_exact_users",
        (
            F.abs(F.col("approx_users") - F.col("n_exact_users")) * 10
            <= F.col("n_exact_users")
        ).alias("hll_within_10pct"),
        F.col("p50_approx").between(F.col("p40"), F.col("p60")).alias("p50_in_bracket"),
        F.col("p95_approx").between(F.col("p90"), F.col("p99")).alias("p95_in_bracket"),
    )


@query(
    "pivot_type_by_day",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'error') AS error,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS signup
    FROM events
    GROUP BY 1
    """,
)
def q_pivot_type_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: days x event types contingency (SURVEY 'pivot/unpivot';
    the explicit value list keeps the pivot single-pass — an unlisted
    pivot would need a distinct-values pre-job)."""
    ev = load_table(spark, sf_dir, "events")
    piv = (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .pivot("event_type", ["click", "view", "purchase", "error", "signup"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "d",
        *[F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c) for c in
          ["click", "view", "purchase", "error", "signup"]],
    )


_SINK_ROUNDTRIP_ORACLE = """
    SELECT event_type, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 3) AS DOUBLE) AS total
    FROM events GROUP BY event_type
    """


def _sink_roundtrip(spark, sf_dir, fmt, tag, partition_by=None):
    """Shared columnar-sink roundtrip: ONE aggregate + staging
    convention for every format, so the contract can't drift per
    format."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 3).cast("double").alias("total"),
    )
    out_dir = stage_dir(spark, tag, sf_dir)
    writer = agg.write
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.format(fmt).save(out_dir)
    return spark.read.format(fmt).load(out_dir).select("event_type", "n", "total")


@query(
    "parquet_sink_roundtrip",
    # partitioned write + read-back must preserve every value
    # bit-for-bit, partition-column round-tripping included
    oracle=_SINK_ROUNDTRIP_ORACLE,
)
def q_parquet_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink coverage (SURVEY S13/S14): write an aggregate partitioned
    by a key to parquet (Spark's atomic commit protocol = the
    reference's tmp+rename, demo_synthetic.py:25-40), read it back,
    verify identity.  Returns the read-back aggregate."""
    return _sink_roundtrip(
        spark, sf_dir, "parquet", "sink_roundtrip", partition_by="event_type"
    )


@query(
    "orc_sink_roundtrip",
    oracle=_SINK_ROUNDTRIP_ORACLE,
)
def q_orc_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source coverage: the same aggregate through Spark's
    second first-class columnar format (zlib by default, its own
    predicate-pushdown reader).  The DuckDB oracle checks the
    post-roundtrip values, so any encode/decode precision loss would
    fail the hash match."""
    return _sink_roundtrip(spark, sf_dir, "orc", "orc_roundtrip")


@query(
    "correlated_above_brand_avg",
    oracle="""
    SELECT p.p_partkey AS partkey, p.p_brand AS brand,
           CAST(p.p_retailprice AS DOUBLE) AS price
    FROM part p
    WHERE CAST(p.p_retailprice AS DECIMAL(12,2)) * 100 * (
        SELECT COUNT(*) FROM part p2 WHERE p2.p_brand = p.p_brand
    ) > 105 * (
        SELECT SUM(CAST(p3.p_retailprice AS DECIMAL(12,2)))
        FROM part p3 WHERE p3.p_brand = p.p_brand
    )
    """,
)
def q_correlated_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries (TPC-H Q2/Q17 shape): parts
    priced >5% above their brand average, written as the exact
    integer/decimal cross-multiplication (price*100*count > 105*sum)
    so the boundary never depends on float-avg association order.
    Catalyst decorrelates both subqueries into aggregates +
    equi-joins — the declarative form is enough."""
    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT p.p_partkey AS partkey, p.p_brand AS brand,
               CAST(p.p_retailprice AS DOUBLE) AS price
        FROM part p
        WHERE CAST(p.p_retailprice AS DECIMAL(12,2)) * 100 * (
            SELECT COUNT(*) FROM part p2 WHERE p2.p_brand = p.p_brand
        ) > 105 * (
            SELECT SUM(CAST(p3.p_retailprice AS DECIMAL(12,2)))
            FROM part p3 WHERE p3.p_brand = p.p_brand
        )
    """)


@query(
    "small_quantity_revenue",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))), 3) AS DOUBLE)
             / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated average over the fact table itself
    (decorrelated by Catalyst into a partial agg + join — the manual
    alternative would double-scan lineitem)."""
    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))), 3) AS DOUBLE)
                 / 7.0 AS avg_yearly
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < (
            SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = l.l_partkey
          )
    """)


@query(
    "csv_json_roundtrip",
    # the agree-join returns the full aggregate iff BOTH text-format
    # roundtrips preserved every (event_type, n) pair, so the batch
    # aggregate is the exact oracle — any drop/corruption loses rows.
    oracle="SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
)
def q_csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-format coverage (SURVEY S13 + sources table): the same
    aggregate written to CSV (header, explicit schema on read — never
    inferSchema in production) and JSON lines, read back and joined;
    returns rows where the two round-trips agree (must be all)."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    base = stage_dir(spark, "fmt_roundtrip", sf_dir)
    agg.write.option("header", True).csv(f"{base}/csv")
    agg.write.json(f"{base}/json")
    csv_back = spark.read.option("header", True).schema("event_type STRING, n BIGINT").csv(
        f"{base}/csv"
    )
    json_back = spark.read.schema("event_type STRING, n BIGINT").json(f"{base}/json")
    return (
        csv_back.alias("c")
        .join(json_back.alias("j"), "event_type")
        .filter(F.col("c.n") == F.col("j.n"))
        .select("event_type", F.col("c.n").alias("n"))
    )


@query(
    "math_functions",
    oracle="""
    SELECT k,
           ROUND(SQRT(CAST(k AS DOUBLE)), 6) AS sqrt_k,
           ROUND(LOG10(CAST(k + 1 AS DOUBLE)), 6) AS log10_k1,
           ROUND(EXP(CAST(-k AS DOUBLE) / 16), 6) AS exp_nk,
           ROUND(ATAN2(CAST(k AS DOUBLE), 8.0), 6) AS atan2_k8,
           CAST(FLOOR(CAST(k AS DOUBLE) / 3) AS BIGINT) AS floordiv3,
           ABS(8 - k) AS absdiff,
           GREATEST(k, 8) AS clip_lo,
           LEAST(k, 8) AS clip_hi
    FROM range(16) AS r(k)
    """,
)
def q_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar math surface (SURVEY F7: abs/clip/sqrt/log10/exp/atan2/
    floor/round — motion_codec.py:31-38, brain_segmentation.py:119-121).
    Round(6) absorbs the <=1-ulp libm differences between the JVM and
    DuckDB implementations of the transcendentals."""
    k = F.col("id").alias("k")
    kd = F.col("id").cast("double")
    return spark.range(16).select(
        k,
        F.round(F.sqrt(kd), 6).alias("sqrt_k"),
        F.round(F.log10(kd + 1), 6).alias("log10_k1"),
        F.round(F.exp(-kd / 16), 6).alias("exp_nk"),
        F.round(F.atan2(kd, F.lit(8.0)), 6).alias("atan2_k8"),
        F.floor(kd / 3).cast("bigint").alias("floordiv3"),
        F.abs(F.lit(8) - F.col("id")).alias("absdiff"),
        F.greatest(F.col("id"), F.lit(8)).alias("clip_lo"),
        F.least(F.col("id"), F.lit(8)).alias("clip_hi"),
    )


@query(
    "grouping_sets_revenue",
    oracle="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 3) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (SURVEY §2.4 'absent' row, alongside
    cube/rollup): three aggregation levels in ONE pass — Spark
    expands the sets with a single Expand node over one shuffle
    instead of three scans, exactly what a 100 TB reporting rollup
    wants.  GROUPING() flags disambiguate NULL-as-total from
    NULL-as-value in both engines."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql("""
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
               COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 3) AS DOUBLE) AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """)


@query(
    "datetime_functions",
    oracle="""
    SELECT o_orderkey AS orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS quarter,
           CAST(isodow(o_orderdate) AS BIGINT) AS iso_dow,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
           strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS due_date,
           CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT) AS epoch_day
    FROM orders WHERE o_orderkey % 100 = 0
    """,
)
def q_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar coverage (SURVEY F5/F6 family): trunc,
    extract, ISO weekday, last_day, interval arithmetic, epoch-day —
    all JVM-side expressions.  Cross-engine notes: Spark dayofweek is
    1=Sun..7=Sat while DuckDB isodow is 1=Mon..7=Sun, so the ISO form
    is derived explicitly; dates leave as strings (exactness rule)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    d = F.col("o_orderdate")
    return o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.date_format(d, "yyyy-MM-dd").alias("order_date"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.quarter(d).cast("bigint").alias("quarter"),
        (((F.dayofweek(d) + 5) % 7) + 1).cast("bigint").alias("iso_dow"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.date_add(d.cast("date"), 90), "yyyy-MM-dd").alias("due_date"),
        F.floor(F.unix_timestamp(d) / 86400).cast("bigint").alias("epoch_day"),
    )


# Shared fixture (runs verbatim on both engines): price bands as an
# inline VALUES table — the interval/range-join shape the reference
# lacks (SURVEY §2.3 'absent' row).
PRICE_BANDS_SQL = """
SELECT * FROM (VALUES
  (0, 100000, 'low'), (100000, 300000, 'mid'),
  (300000, 450000, 'high'), (450000, 10000000, 'top')
) AS b(lo, hi, band)
"""


@query(
    "range_band_join",
    oracle=f"""
    WITH bands AS ({PRICE_BANDS_SQL})
    SELECT b.band, COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))), 3) AS DOUBLE) AS total
    FROM orders o JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def q_range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: orders against price bands on
    lo <= price < hi.  The band table is tiny -> broadcast
    nested-loop with the range predicate, which is exactly the right
    physical plan (the fact side never shuffles for the join; the
    groupBy shuffles 4 rows per partition after partial agg)."""
    o = load_table(spark, sf_dir, "orders")
    bands = spark.sql(PRICE_BANDS_SQL)
    return (
        o.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(14,2)")), 3)
            .cast("double")
            .alias("total"),
        )
    )


@query(
    "window_trailing_range",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) AS epoch_s,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
               PARTITION BY o_custkey ORDER BY CAST(FLOOR(epoch(o_orderdate)) AS BIGINT)
               RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW
           ), 3) AS DOUBLE) AS trailing_90d
    FROM orders
    """,
)
def q_window_trailing_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (SURVEY §2.5 'sliding frames' absent row):
    trailing 90-day spend per customer — the frame is VALUE-based
    (epoch seconds), so same-timestamp rows always share a frame and
    the result is order-tie-proof, unlike a ROWS frame.  One shuffle
    on the partition key; the frame scan is a per-partition sliding
    sum."""
    o = load_table(spark, sf_dir, "orders")
    epoch_s = F.unix_timestamp("o_orderdate").cast("bigint")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch_s)
        .rangeBetween(-90 * 86400, Window.currentRow)
    )
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        epoch_s.alias("epoch_s"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(14,2)")).over(w), 3)
        .cast("double")
        .alias("trailing_90d"),
    )


@query(
    "window_edge_values",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           CAST(FIRST_VALUE(o_orderkey) OVER w AS BIGINT) AS first_order,
           CAST(LAST_VALUE(o_orderkey) OVER w AS BIGINT) AS last_order,
           CAST(NTH_VALUE(o_orderkey, 2) OVER w AS BIGINT) AS second_order
    FROM orders
    WINDOW w AS (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
)
def q_window_edge_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value with an explicit
    unbounded-both frame (the default frame would make last_value the
    current row — the classic window footgun, pinned here on purpose).
    Ordering carries the orderkey tie-break so both engines agree."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.first("o_orderkey").over(w).cast("bigint").alias("first_order"),
        F.last("o_orderkey").over(w).cast("bigint").alias("last_order"),
        F.nth_value("o_orderkey", 2).over(w).cast("bigint").alias("second_order"),
    )


@query(
    "unpivot_metrics",
    oracle="""
    WITH base AS (
      SELECT l_returnflag AS flag,
             CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 3) AS DOUBLE) AS qty,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 3) AS DOUBLE) AS price,
             CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(6,4))), 3) AS DOUBLE) AS disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT flag, 'qty' AS metric, qty AS value FROM base
    UNION ALL SELECT flag, 'price', price FROM base
    UNION ALL SELECT flag, 'disc', disc FROM base
    """,
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (the inverse of `pivot_type_by_day`): wide metric
    columns to (metric, value) rows via df.unpivot — an Expand node,
    no extra scan or shuffle beyond the aggregation's."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.round(F.sum(F.col("l_quantity").cast("decimal(12,2)")), 3).cast("double").alias("qty"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(12,2)")), 3)
        .cast("double")
        .alias("price"),
        F.round(F.sum(F.col("l_discount").cast("decimal(6,4)")), 3).cast("double").alias("disc"),
    )
    return base.unpivot("flag", ["qty", "price", "disc"], "metric", "value")


@query(
    "csv_malformed_handling",
    # The fixture is deterministic (100 good rows 0..99, one type
    # failure, one short row, one long row), so the oracle states the
    # quarantine contract literally — the same convention as
    # safe_arithmetic's stated-overflow oracle.
    oracle="""
    SELECT CAST(103 AS BIGINT) AS n_rows,
           CAST(100 AS BIGINT) AS n_good,
           CAST(3 AS BIGINT) AS n_quarantined,
           CAST(49500 AS BIGINT) AS good_amount_sum
    """,
)
def q_csv_malformed_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-enforced CSV ingestion with corrupt-record capture
    (SURVEY S13's read side, hardened): PERMISSIVE mode routes rows
    that fail the declared schema into _corrupt_record instead of
    failing the job or silently dropping — at 100 TB some malformed
    rows are a certainty, and quarantining them IS the pipeline
    contract.  Returns per-disposition counts plus the parsed sum
    (proving bad rows never pollute the aggregate)."""

    def write_input(stage: str) -> None:
        with open(os.path.join(stage, "input.csv"), "w") as f:
            f.write("id,amount\n")
            for i in range(100):
                f.write(f"{i},{i * 10}\n")
            f.write("oops,not_a_number\n")
            f.write("42\n")  # too few columns
            f.write("7,77,extra\n")  # too many columns

    path = os.path.join(staged_fixture(spark, "badcsv", write_input), "input.csv")
    schema = "id BIGINT, amount BIGINT, _corrupt_record STRING"
    df = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .cache()  # required: corrupt-record column + derived filters
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0)).alias("n_good"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)).alias("n_quarantined"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("amount"))).alias("good_amount_sum"),
    )


@query(
    "array_map_functions",
    # The oracle computes the same values with DuckDB's list algebra
    # (different construction, identical results), so every array/map
    # scalar below is value-checked, not just smoke-tested.
    oracle="""
    WITH g AS (
      SELECT l_orderkey AS orderkey,
             list_sort(list(CAST(l_quantity AS BIGINT))) AS arr,
             MIN(CASE WHEN l_linenumber = 1
                      THEN CAST(l_quantity AS BIGINT) END) AS qty_line1
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT orderkey,
           CAST(len(arr) AS BIGINT) AS n_items,
           CAST(len(list_distinct(arr)) AS BIGINT) AS n_distinct_qty,
           CAST(list_max(arr) AS BIGINT) AS max_qty,
           CAST(list_sum(arr[1:3]) AS BIGINT) AS sum_first3,
           list_contains(arr, 1) AS has_unit_qty,
           qty_line1
    FROM g
    """,
)
def q_array_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/map scalar-function coverage (SURVEY §2.8's array+map
    rows) exercised as one JVM-side pipeline: collect_list ->
    sort_array (deterministic order), array_distinct, array_max,
    slice + aggregate (higher-order fold), array_contains, and a
    map built with map_from_entries then probed with element_at.

    Everything stays in whole-stage codegen; collect_list order
    instability is neutralized by sorting or by order-independent
    map lookup, so results are engine- and partitioning-stable."""
    li = load_table(spark, sf_dir, "lineitem")
    # the synthetic lineitem repeats l_linenumber within an order, so
    # map keys are made unique with a per-(order, line) pre-agg (MIN)
    lines = li.groupBy("l_orderkey", "l_linenumber").agg(
        F.min(F.col("l_quantity").cast("bigint")).alias("line_qty")
    )
    qmap = lines.groupBy("l_orderkey").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(F.col("l_linenumber").cast("int"), F.col("line_qty"))
            )
        ).alias("qty_by_line")
    )
    g = (
        li.groupBy(F.col("l_orderkey").alias("orderkey"))
        .agg(
            F.sort_array(
                F.collect_list(F.col("l_quantity").cast("bigint"))
            ).alias("arr")
        )
        .join(qmap, F.col("orderkey") == qmap.l_orderkey)
    )
    return g.select(
        "orderkey",
        F.size("arr").cast("bigint").alias("n_items"),
        F.size(F.array_distinct("arr")).cast("bigint").alias("n_distinct_qty"),
        F.array_max("arr").cast("bigint").alias("max_qty"),
        F.expr("aggregate(slice(arr, 1, 3), 0L, (a, x) -> a + x)").alias("sum_first3"),
        F.array_contains("arr", F.lit(1).cast("bigint")).alias("has_unit_qty"),
        F.element_at("qty_by_line", F.lit(1)).alias("qty_line1"),
    )


@query(
    "asof_nearest_event",
    oracle="""
    WITH s AS (
      SELECT event_id AS sig_id, user_id, epoch_us(ts) AS us
      FROM events WHERE event_type = 'signup'
    ),
    er AS (
      SELECT event_id AS err_id, user_id, epoch_us(ts) AS us
      FROM events WHERE event_type = 'error'
    ),
    cand AS (
      SELECT s.sig_id, er.err_id, er.us - s.us AS delta_us,
             ROW_NUMBER() OVER (
               PARTITION BY s.sig_id
               ORDER BY ABS(er.us - s.us), er.us - s.us, er.err_id
             ) AS rk
      FROM s JOIN er
        ON s.user_id = er.user_id
       AND ABS(er.us - s.us) <= 86400000000
    )
    SELECT s.sig_id, c.err_id, c.delta_us
    FROM s LEFT JOIN (SELECT sig_id, err_id, delta_us FROM cand WHERE rk = 1) c
      USING (sig_id)
    """,
    exchanges=2, order_sensitive=True,
)
def q_asof_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-match as-of join with tolerance: for every signup, the
    temporally CLOSEST error by the same user within ±1 day — the
    bidirectional generalization of asof_last_error's backward-only
    lookup, with unmatched signups preserved (LEFT semantics).

    Shape: equi-join on user_id with a banded time predicate (the
    tolerance bounds per-user fan-out), then a per-signup argmin via
    row_number with a total tiebreak (abs delta, signed delta — earlier
    error wins ties — then event_id).  At scale this shuffles once on
    user_id; the tolerance band is what keeps the pair count linear in
    events-per-user-per-day rather than quadratic.
    """
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("sig_id"),
        F.col("user_id").alias("s_user"),
        F.unix_micros("ts").alias("s_us"),
    )
    er = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("e_user"),
        F.unix_micros("ts").alias("e_us"),
    )
    cand = s.join(
        er,
        (F.col("s_user") == F.col("e_user"))
        & (F.abs(F.col("e_us") - F.col("s_us")) <= F.lit(86400000000)),
    ).select(
        "sig_id", "err_id", (F.col("e_us") - F.col("s_us")).alias("delta_us")
    )
    w = Window.partitionBy("sig_id").orderBy(
        F.abs(F.col("delta_us")), F.col("delta_us"), F.col("err_id")
    )
    best = (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("sig_id", "err_id", "delta_us")
    )
    return s.select("sig_id").join(best, "sig_id", "left")


@query(
    "parquet_schema_evolution",
    # full value oracle: the merged-schema read must reconstruct
    # exactly what a direct query over the source table computes,
    # with NULLs where the old-schema file lacks the new column.
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing_price,
           CAST(ROUND(SUM(CASE WHEN o_orderkey % 2 = 0
                                THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 3)
                AS DOUBLE) AS total_v2
    FROM (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice END AS o_totalprice
      FROM orders
    )
    GROUP BY o_orderstatus
    """,
)
def q_parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution source coverage: two parquet generations — v1
    written WITHOUT o_totalprice (odd keys), v2 WITH it (even keys) —
    read back through mergeSchema, which must union the schemas and
    null-fill the missing column for v1 rows.

    This is the long-lived-dataset reality at 100 TB: columns get
    added over time and the reader must reconcile generations without
    rewriting petabytes.  The DuckDB oracle restates the expected
    merged relation from the source table, so null-filling and value
    preservation are both under the hash check.
    """
    o = load_table(spark, sf_dir, "orders")
    out_dir = stage_dir(spark, "schema_evo", sf_dir)
    v1 = o.filter(F.col("o_orderkey") % 2 == 1).select("o_orderkey", "o_orderstatus")
    v2 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v1.write.parquet(f"{out_dir}/gen=1")
    v2.write.parquet(f"{out_dir}/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{out_dir}/gen=1", f"{out_dir}/gen=2"
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_missing_price"),
        F.round(
            F.sum(
                F.when(
                    F.col("o_orderkey") % 2 == 0,
                    F.col("o_totalprice").cast("decimal(18,2)"),
                )
            ),
            3,
        )
        .cast("double")
        .alias("total_v2"),
    )


@query(
    "argmax_functions",
    oracle="""
    SELECT event_type,
           arg_max(event_id, value * 10000000 + event_id) AS max_value_event,
           arg_min(event_id, value * 10000000 + event_id) AS min_value_event,
           CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_over_100,
           bool_or(value > 400) AS any_over_400,
           bool_and(value > 0) AS all_positive
    FROM events
    GROUP BY event_type
    """,
    exchanges=1,
)
def q_argmax_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/argmax aggregate battery: max_by/min_by, count_if,
    bool_or/bool_and — the SQL:2023 aggregate additions.

    max_by's tie behavior is engine-defined, so the ordering key is
    made strictly unique (value scaled + event_id; exact in doubles up
    to 2^53) — determinism by construction rather than by luck.  All
    partial+final hash aggregates, one shuffle on the 5-value key.
    """
    ev = load_table(spark, sf_dir, "events")
    key = F.col("value") * F.lit(10000000.0) + F.col("event_id")
    return ev.groupBy("event_type").agg(
        F.max_by("event_id", key).alias("max_value_event"),
        F.min_by("event_id", key).alias("min_value_event"),
        F.count_if(F.col("value") > 100).cast("bigint").alias("n_over_100"),
        F.bool_or(F.col("value") > 400).alias("any_over_400"),
        F.bool_and(F.col("value") > 0).alias("all_positive"),
    )


@query(
    "variant_extract",
    oracle="""
    SELECT event_type,
           COUNT(k) AS n_with_k,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k,
           COUNT(DISTINCT k) AS n_distinct_k
    FROM (
      -- TRUNC, not a rounding cast: Spark's variant_get(..., 'bigint')
      -- truncates a non-integer JSON number while DuckDB's
      -- string->BIGINT cast rounds — state the truncation explicitly
      SELECT event_type,
             CAST(TRUNC(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE))
               AS BIGINT) AS k
      FROM events
    )
    GROUP BY event_type
    """,
    exchanges=2,
)
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VARIANT type:
    parse_json once into the binary variant encoding, then typed
    variant_get extraction — the open-schema path that replaces
    per-query string re-parsing (json_extract covers the classic
    get_json_object form; this is its typed successor).

    Parse + extract both run JVM-side in one projection; the
    aggregate is an ordinary partial+final hash agg.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
    )


@query(
    "lateral_topk_per_nation",
    oracle="""
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n,
         LATERAL (
           SELECT c.c_name, c.c_acctbal
           FROM customer c
           WHERE c.c_nationkey = n.n_nationkey
           ORDER BY c.c_acctbal DESC, c.c_custkey
           LIMIT 2
         ) t
    """,
    exchanges=2, order_sensitive=True,
)
def q_lateral_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: top-2 customers by balance per
    nation, written as SQL LATERAL (the per-row subquery form) rather
    than a window — the SQL:1999 feature Spark executes as a
    rewritten ranked join.

    Catalyst de-correlates the LATERAL into a partitioned rank under
    the hood, so the physical plan is the same bounded per-group
    top-k as window_topk_orders — no per-row re-execution.  Total
    ordering (acctbal DESC, custkey) pins the cut deterministically.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation n,
             LATERAL (
               SELECT c.c_name, c.c_acctbal
               FROM customer c
               WHERE c.c_nationkey = n.n_nationkey
               ORDER BY c.c_acctbal DESC, c.c_custkey
               LIMIT 2
             ) t
        """
    )


@query(
    "asof_merge_cogroup",
    # Correlated-subquery oracle: for each purchase, the latest
    # strictly-earlier view by the same user (merge_asof backward,
    # allow_exact_matches=False).
    oracle="""
    WITH p AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT p.user_id, p.ts,
             (SELECT MAX(v.ts) FROM events v
              WHERE v.user_id = p.user_id AND v.event_type = 'view'
                AND v.ts < p.ts) AS last_view
      FROM p
    )
    SELECT user_id,
           COUNT(*) AS n_purchases,
           COUNT(last_view) AS n_matched,
           CAST(MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)
                    - CAST(FLOOR(epoch(last_view)) AS BIGINT)) AS BIGINT)
             AS max_gap_s
    FROM m GROUP BY user_id
    """,
)
def q_asof_merge_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-relation backward as-of join via cogroup().applyInPandas —
    the Arrow-batched escape hatch for per-key ordered merges the
    built-in operators can't express (here they can, which is the
    point: the pandas merge_asof result is fully oracle-checked
    against the correlated-subquery semantics).

    Scale shape: cogroup shuffles both sides ONCE on user_id and
    hands each key's two sorted frames to one pandas.merge_asof call
    — per-key state is bounded by that user's events, and the Arrow
    transfer is columnar (no row-at-a-time Python).  U-coverage for
    the cogroup API next to applyInPandas (slabs) and mapInPandas
    (decode).
    """
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    # v_ts alias: both children derive from the same events frame, so
    # an un-aliased 'ts' would share its attribute id across the two
    # cogroup children and the right child gets mis-pruned to the key
    # column only.  A fresh alias gives the right child its own id.
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(
                {"user_id": pd.Series(dtype="int64"),
                 "n_purchases": pd.Series(dtype="int64"),
                 "n_matched": pd.Series(dtype="int64"),
                 "max_gap_s": pd.Series(dtype="float64")}
            )
        uid = int(left["user_id"].iloc[0])
        left = left.sort_values(["ts", "event_id"]).reset_index(drop=True)
        if right.empty:
            matched = pd.Series([pd.NaT] * len(left))
        else:
            right = right.sort_values("v_ts").reset_index(drop=True)
            merged = pd.merge_asof(
                left[["ts"]], right[["v_ts"]],
                left_on="ts", right_on="v_ts",
                direction="backward", allow_exact_matches=False,
            )
            matched = merged["v_ts"]
        # unit-safe epoch seconds (Arrow may deliver us- or ns-unit)
        p_s = left["ts"].astype("datetime64[ns]").astype("int64") // 1_000_000_000
        ok = matched.notna()
        v_s = matched[ok].astype("datetime64[ns]").astype("int64") // 1_000_000_000
        gaps = p_s[ok] - v_s
        return pd.DataFrame(
            {"user_id": [uid],
             "n_purchases": [len(left)],
             "n_matched": [int(ok.sum())],
             "max_gap_s": [float(gaps.max()) if ok.any() else None]}
        )

    out = purchases.groupBy("user_id").cogroup(views.groupBy("user_id")).applyInPandas(
        merge,
        schema="user_id long, n_purchases long, n_matched long, max_gap_s double",
    )
    return out.select(
        "user_id", "n_purchases", "n_matched",
        F.col("max_gap_s").cast("bigint").alias("max_gap_s"),
    )


@query(
    "json_schema_parse",
    oracle="""
    -- from_json('k BIGINT') is STRICT: a non-integer k parses to NULL
    -- (DuckDB's plain string->BIGINT cast would round it instead), so
    -- the oracle admits only integer-literal strings
    WITH x AS (
      SELECT event_type,
             CASE WHEN regexp_matches(json_extract_string(props, '$.k'),
                                      '^-?[0-9]+$')
                  THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
             END AS k
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_k
    FROM x
    GROUP BY event_type
    """,
)
def q_json_schema_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-declared JSON parsing: from_json with an explicit struct
    schema (the typed, vectorized path — one parse per row into a
    struct, vs per-field get_json_object re-parsing in json_extract,
    vs open-schema VARIANT in variant_extract: all three JSON access
    idioms are now covered and cross-checked on the same column).

    Malformed/missing fields become NULLs (PERMISSIVE), counted
    explicitly so silent parse failures would shift an oracle-checked
    number.
    """
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type", F.from_json("props", "k BIGINT").alias("p")
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("p.k")).cast("bigint").alias("sum_k"),
        F.sum(F.col("p.k").isNull().cast("int")).cast("bigint").alias("n_null_k"),
    )


@query(
    "array_set_functions",
    oracle="""
    WITH b AS (
      SELECT o.o_custkey,
             list_sort(list(DISTINCT CASE WHEN o.o_orderkey % 2 = 0
                                          THEN o.o_orderpriority END)) AS even_p,
             list_sort(list(DISTINCT CASE WHEN o.o_orderkey % 2 = 1
                                          THEN o.o_orderpriority END)) AS odd_p
      FROM orders o GROUP BY o.o_custkey
    )
    SELECT o_custkey,
           CAST(len(list_intersect(even_p, odd_p)) AS INTEGER) AS n_both,
           CAST(len(list_filter(even_p, x -> NOT list_contains(odd_p, x)))
                AS INTEGER) AS n_even_only,
           CAST(len(list_distinct(list_concat(even_p, odd_p))) AS INTEGER)
             AS n_union
    FROM b
    WHERE o_custkey % 17 = 0
    """,
)
def q_array_set_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra (intersect / except / distinct-union) over
    per-customer order-priority sets split by order parity — the
    collect-then-set-op pattern for basket comparisons.

    One shuffle builds both arrays in a single grouped aggregation
    (conditional collect_set), then the set ops run element-wise in
    codegen; output is the integer cardinalities so the oracle hash is
    exact regardless of engine-internal array ordering.
    """
    o = load_table(spark, sf_dir, "orders")
    b = o.groupBy("o_custkey").agg(
        F.sort_array(
            F.array_distinct(
                F.collect_list(
                    F.when(F.col("o_orderkey") % 2 == 0, F.col("o_orderpriority"))
                )
            )
        ).alias("even_p"),
        F.sort_array(
            F.array_distinct(
                F.collect_list(
                    F.when(F.col("o_orderkey") % 2 == 1, F.col("o_orderpriority"))
                )
            )
        ).alias("odd_p"),
    )
    return b.filter(F.col("o_custkey") % 17 == 0).select(
        "o_custkey",
        F.size(F.array_intersect("even_p", "odd_p")).alias("n_both"),
        F.size(F.array_except("even_p", "odd_p")).alias("n_even_only"),
        F.size(F.array_distinct(F.array_union("even_p", "odd_p"))).alias("n_union"),
    )


@query(
    "bitwise_functions",
    oracle="""
    SELECT event_type,
           CAST(bit_or(user_id % 256) AS BIGINT) AS flags_or,
           CAST(bit_and(user_id % 256 + 256) AS BIGINT) AS flags_and,
           CAST(bit_xor(user_id) AS BIGINT) AS checksum_xor,
           CAST(SUM(CASE WHEN (user_id & 7) = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_aligned8
    FROM events
    GROUP BY event_type
    """,
)
def q_bitwise_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate battery: bit_or/bit_and accumulate flag
    masks, bit_xor is the order-independent checksum (the cheap
    content-drift detector for replication audits), plus a mask-test
    predicate count.

    All are commutative-associative integer aggregates — partial+final
    safe, order-independent by algebra (no DECIMAL trick needed).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.bit_or(F.col("user_id") % 256).cast("bigint").alias("flags_or"),
        F.bit_and(F.col("user_id") % 256 + 256).cast("bigint").alias("flags_and"),
        F.bit_xor("user_id").cast("bigint").alias("checksum_xor"),
        F.sum(F.when(F.col("user_id").bitwiseAND(7) == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_aligned8"),
    )


@query(
    "dynamic_partition_overwrite",
    # After the second (dynamic) write, ONLY the 1996/1997 partitions
    # hold the doubled counts; every other year keeps its original
    # values — the oracle states that end state from the base tables.
    oracle="""
    WITH base AS (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             o_orderpriority,
             COUNT(*) AS n0
      FROM orders GROUP BY 1, 2
    )
    SELECT yr, o_orderpriority,
           CAST(CASE WHEN yr IN (1996, 1997) THEN 2 * n0 ELSE n0 END AS BIGINT) AS n
    FROM base
    ORDER BY 1, 2
    """,
    exchanges=1,
)
def q_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (SURVEY S4/S13 depth): the
    incremental-reload contract — rewriting two partitions must leave
    every other partition untouched.

    Write 1 lands the full per-year aggregate partitioned by year;
    write 2 uses ``partitionOverwriteMode=dynamic`` with ONLY
    1996/1997 rows (doubled counts).  Static overwrite mode would
    truncate the whole table first — exactly the production incident
    this mode exists to prevent; at 100 TB the daily reload touches
    one date partition out of thousands.
    """
    out_dir = stage_dir(spark, "dyn_overwrite", sf_dir)
    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            "o_orderpriority",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    agg.write.partitionBy("yr").parquet(out_dir)
    patch = agg.filter(F.col("yr").isin(1996, 1997)).withColumn(
        "n", (F.col("n") * 2).cast("bigint")
    )
    (
        patch.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("yr")
        .parquet(out_dir)
    )
    back = spark.read.parquet(out_dir)
    return back.select(
        F.col("yr").cast("int").alias("yr"), "o_orderpriority", F.col("n").cast("bigint").alias("n")
    ).orderBy("yr", "o_orderpriority")


@query(
    "sql_udf_battery",
    oracle="""
    SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
                WHEN o_totalprice < 250000 THEN 'mid'
                ELSE 'high' END AS band,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT)) AS BIGINT) AS prio_sum,
           CAST(SUM((month(o_orderdate) * (month(o_orderdate) + 1)) // 2) AS BIGINT) AS lateral_msum
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-01'
    GROUP BY 1
    """,
    bench=True, exchanges=3,  # inlined SQL UDFs + lateral TVF + band agg
)
def q_sql_udf_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL user-defined functions — logic shipped as CATALOG
    objects instead of client code, so every SQL client shares one
    definition: a scalar SQL UDF (``price_band``), a scalar UDF
    parsing a code out of a string (``prio_num``), and a SQL TABLE
    function (``month_seq``) consumed through a correlated LATERAL
    aggregate.  The final SELECT also binds its date cutoff as a
    NAMED PARAMETER (``spark.sql(..., args=...)``) — the
    injection-safe parameterized-query API.

    All three functions are pure SQL expressions, so Catalyst inlines
    them into the plan (no Python boundary, full codegen) — the oracle
    states the same math inline, which is exactly what the optimizer
    sees after inlining."""
    register_views(spark, sf_dir)
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE) RETURNS STRING
           RETURN CASE WHEN p < 100000 THEN 'low'
                       WHEN p < 250000 THEN 'mid' ELSE 'high' END"""
    )
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION prio_num(p STRING) RETURNS BIGINT
           RETURN CAST(SUBSTRING(p, 1, 1) AS BIGINT)"""
    )
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION month_seq(d DATE) RETURNS TABLE (m BIGINT)
           RETURN SELECT explode(sequence(1, month(d))) AS m"""
    )
    return spark.sql(
        """
        SELECT price_band(o.o_totalprice) AS band,
               COUNT(*) AS n_orders,
               SUM(prio_num(o.o_orderpriority)) AS prio_sum,
               SUM(s.msum) AS lateral_msum
        FROM orders o,
             LATERAL (SELECT SUM(m) AS msum FROM month_seq(o.o_orderdate)) s
        WHERE o.o_orderdate >= CAST(:min_date AS DATE)
        GROUP BY 1
        """,
        args={"min_date": "1995-01-01"},
    )


@query(
    "observed_metrics_single_pass",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_scanned,
           CAST(SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(ROUND(SUM(CASE WHEN o_totalprice > 150000
                               THEN CAST(o_totalprice AS DECIMAL(14,2)) END), 3) AS DOUBLE)
             AS kept_revenue
    FROM orders
    """,
    exchanges=0,  # one eager pass; literal result row
)
def q_observed_metrics_single_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch `df.observe` (the Observation API): pipeline accounting
    metrics — rows scanned, rows surviving the gate — ride the SAME
    job as the aggregate instead of a second scan.  A quality-gate
    pipeline at 100 TB cannot afford `count()` before and after every
    filter (each is a full pass); observe() attaches the counters to
    the one pass that already runs.  The observed values are then
    cross-checked by the oracle's recompute, proving the metric
    pipeline reports the truth."""
    from pyspark.sql import Observation

    orders = load_table(spark, sf_dir, "orders")
    obs = Observation("gate_metrics")
    gated = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_scanned"),
        F.sum((F.col("o_totalprice") > 150000).cast("int")).alias("n_kept"),
    ).filter(F.col("o_totalprice") > 150000)
    agg = gated.agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(14,2)")), 3)
        .cast("double")
        .alias("kept_revenue")
    )
    # ONE action: collecting the 1-row aggregate both yields the
    # revenue and populates the observation; the returned frame is
    # literal, so the harness's collect doesn't re-run the scan
    revenue = agg.collect()[0]["kept_revenue"]
    m = obs.get
    return spark.range(1).select(
        F.lit(m["n_scanned"]).cast("bigint").alias("n_scanned"),
        F.lit(m["n_kept"]).cast("bigint").alias("n_kept"),
        F.lit(revenue).cast("double").alias("kept_revenue"),
    )

"""Physical-layout operators: space-filling-curve (Z-order)
clustering for multi-dimensional data skipping.

``partitioned_write_prune`` (coverage) and ``bucketed_colocated_join``
(bucketing) cover 1-D partition pruning and co-located joins; this
module adds the third layout tool a 100 TB table needs: clustering on
a bit-interleaved Z-value so per-file min/max statistics prune scans
on BOTH dimensions of a 2-D predicate (the layout behind
Delta/Iceberg ``OPTIMIZE ZORDER BY``).

The Z-value is a pure projection (quantize each dim to 8 bits against
the domain max, interleave the bits) computed scan-side; at scale the
write is ``repartitionByRange(zval)`` + parquet, and the query below
IS the resulting per-file skipping index: for every Z-run ("file") it
reports the min/max envelope of both dimensions.  The envelopes are
narrow in BOTH dims — a 1-D sort gives span ~= whole domain on the
other dim — which is the entire point, and what the spans in the
result rows demonstrate.

Everything is integer arithmetic (quantize = scaled integer division,
interleave = shift/mask), so the oracle matches bit-for-bit.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.hashing import md5_int56_duck, md5_int56_spark
from ..registry import query
from ..session import sf_tag, stage_dir, staged_fixture
from ..sources import load_table

Z_BITS = 8          # bits per dimension -> 16-bit Z value
FILE_SHIFT = 10     # zval >> 10 -> 64 logical files
_EPOCH = "1992-01-01"  # TPC-H order dates start here


def _interleave_spark(x: str, y: str) -> str:
    """Spark SQL expr: bit-interleave two {Z_BITS}-bit ints (x even
    bits, y odd bits)."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})")
        terms.append(f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})")
    return " + ".join(terms)


def _interleave_duck(x: str, y: str) -> str:
    """DuckDB SQL expr: same interleave, operator syntax."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@query(
    "zorder_layout_stats",
    oracle=f"""
    WITH d AS (
      SELECT o_custkey AS ck,
             date_diff('day', DATE '{_EPOCH}', o_orderdate) AS dd
      FROM orders
    ),
    r AS (SELECT MAX(ck) AS mck, MAX(dd) AS mdd FROM d),
    q AS (
      SELECT ck, dd,
             (ck * {1 << Z_BITS}) // (mck + 1) AS xq,
             (dd * {1 << Z_BITS}) // (mdd + 1) AS yq
      FROM d, r
    ),
    z AS (
      SELECT ck, dd, ({_interleave_duck("xq", "yq")}) >> {FILE_SHIFT} AS file_id
      FROM q
    )
    SELECT CAST(file_id AS BIGINT) AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(ck) AS BIGINT) AS min_custkey,
           CAST(MAX(ck) AS BIGINT) AS max_custkey,
           CAST(MIN(dd) AS BIGINT) AS min_day,
           CAST(MAX(dd) AS BIGINT) AS max_day,
           CAST(MAX(ck) - MIN(ck) AS BIGINT) AS custkey_span,
           CAST(MAX(dd) - MIN(dd) AS BIGINT) AS day_span
    FROM z GROUP BY file_id
    """,
    # 1-row max broadcast + final 64-group agg
    bench=True, exchanges=2, order_sensitive=True,
)
def q_zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering index over orders on (o_custkey,
    o_orderdate): quantize both dims to {Z_BITS} bits, interleave into
    a Z-value, cut the curve into 64 logical files, and report each
    file's row count + min/max envelope of BOTH dimensions.

    The envelope spans are the data-skipping index a lakehouse writes
    per file: a predicate box on (custkey range x date range) only
    touches files whose envelope intersects it — in both dims at once,
    which a single-column sort cannot give.  The Z-value is a
    scan-side projection (no shuffle until the final 64-group agg);
    the production write adds one range shuffle on zval, exactly the
    distributed-sort shape.
    """
    d = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.datediff("o_orderdate", F.lit(_EPOCH)).alias("dd"),
    )
    # domain maxes: 1-row broadcast (same shape as the oracle's r CTE)
    r = d.agg(F.max("ck").alias("mck"), F.max("dd").alias("mdd"))
    q = d.crossJoin(F.broadcast(r)).select(
        "ck",
        "dd",
        F.expr(f"(ck * {1 << Z_BITS}) div (mck + 1)").alias("xq"),
        F.expr(f"(dd * {1 << Z_BITS}) div (mdd + 1)").alias("yq"),
    )
    z = q.select(
        "ck",
        "dd",
        F.expr(f"shiftright({_interleave_spark('xq', 'yq')}, {FILE_SHIFT})").alias("file_id"),
    )
    return z.groupBy(F.col("file_id").cast("bigint").alias("file_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("ck").cast("bigint").alias("min_custkey"),
        F.max("ck").cast("bigint").alias("max_custkey"),
        F.min("dd").cast("bigint").alias("min_day"),
        F.max("dd").cast("bigint").alias("max_day"),
        (F.max("ck") - F.min("ck")).cast("bigint").alias("custkey_span"),
        (F.max("dd") - F.min("dd")).cast("bigint").alias("day_span"),
    )


N_SMALL = 16   # fragmented write
N_COMPACT = 2  # target file count


@query(
    "compact_small_files",
    oracle=f"""
    SELECT CAST({N_SMALL} AS BIGINT) AS n_files_before,
           CAST({N_COMPACT} AS BIGINT) AS n_files_after,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_orderkey AS BIGINT)) AS BIGINT) AS sum_orderkeys,
           TRUE AS ranges_disjoint
    FROM orders
    """,
    exchanges=1,  # final agg over the compacted read-back
)
def q_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the lakehouse maintenance op a
    streaming-ingest table needs nightly: a fragmented {N_SMALL}-file
    write is rewritten as {N_COMPACT} range-sorted files
    (``repartitionByRange`` on the key = the OPTIMIZE pattern), and
    the result row PROVES the contract from the actual output files:
    file counts measured from disk, row count and key checksum
    preserved, and the compacted files' key ranges disjoint (read
    back per file via the _metadata path), which is what makes
    min/max skipping effective after compaction.

    At scale this is the same job with target file size instead of a
    count; the range shuffle is the only cost and it amortizes every
    subsequent scan."""
    import os

    orders = load_table(spark, sf_dir, "orders")
    base = stage_dir(spark, "compact", sf_dir)
    small, compact = f"{base}/small", f"{base}/compact"
    orders.repartition(N_SMALL).write.parquet(small)
    n_before = len([f for f in os.listdir(small) if f.endswith(".parquet")])
    spark.read.parquet(small).repartitionByRange(
        N_COMPACT, "o_orderkey"
    ).sortWithinPartitions("o_orderkey").write.parquet(compact)
    n_after = len([f for f in os.listdir(compact) if f.endswith(".parquet")])
    back = spark.read.parquet(compact)
    per_file = back.groupBy(F.col("_metadata.file_path").alias("f")).agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    )
    a, b = per_file.alias("a"), per_file.alias("b")
    overlaps = (
        a.join(b, F.col("a.f") < F.col("b.f"))
        .filter(
            (F.col("a.lo") <= F.col("b.hi")) & (F.col("b.lo") <= F.col("a.hi"))
        )
        .count()
    )
    return back.agg(
        F.lit(n_before).cast("bigint").alias("n_files_before"),
        F.lit(n_after).cast("bigint").alias("n_files_after"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_orderkey").cast("bigint")).cast("bigint").alias("sum_orderkeys"),
        F.lit(overlaps == 0).alias("ranges_disjoint"),
    )


# ------------------------------------------- dynamic partition pruning

def _dpp_paths(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Stage (once per session and sf_dir) the month-partitioned orders
    fact and a tiny month->fiscal-quarter dim as parquet; return both
    paths.

    The dim must come back from DISK: a local-relation dim constant-
    folds into a static IN-list at planning time, which tests static
    pruning, not the runtime kind."""

    def write_tables(stage: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        (
            orders.withColumn("order_month", F.date_format("o_orderdate", "yyyy-MM"))
            .write.partitionBy("order_month")
            .parquet(f"{stage}/orders_by_month")
        )
        (
            orders.select(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
            .distinct()
            .withColumn(
                "fiscal_quarter",
                F.concat(
                    F.substring("order_month", 1, 4),
                    F.lit("-Q"),
                    F.expr("CAST((CAST(SUBSTRING(order_month, 6, 2) AS INT) + 2) DIV 3 AS STRING)"),
                ),
            )
            .coalesce(1)
            .write.parquet(f"{stage}/month_dim")
        )

    base = staged_fixture(spark, "dpp", write_tables, sf_dir)
    return f"{base}/orders_by_month", f"{base}/month_dim"


@query(
    "dpp_partitioned_join",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS order_month,
             substr(strftime(o_orderdate, '%Y-%m'), 1, 4) || '-Q'
               || CAST((CAST(substr(strftime(o_orderdate, '%Y-%m'), 6, 2) AS INT) + 2) // 3 AS VARCHAR)
               AS fiscal_quarter
      FROM orders
    ),
    f AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS order_month, o_custkey, o_totalprice
      FROM orders
    )
    SELECT f.order_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT f.o_custkey) AS BIGINT) AS n_customers,
           CAST(ROUND(SUM(CAST(f.o_totalprice AS DECIMAL(14,2))), 3) AS DOUBLE) AS total_price
    FROM f JOIN dim USING (order_month)
    WHERE dim.fiscal_quarter = '1997-Q1'
    GROUP BY 1
    """,
    # join + count-distinct agg; fact I/O pruned by DPP
    bench=True, exchanges=2,
)
def q_dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is partitioned by
    month on disk, the filter lives on the DIM side (fiscal quarter),
    and Catalyst injects a runtime subquery
    (``dynamicpruningexpression`` in the fact scan's PartitionFilters)
    that reads the filtered dim FIRST and prunes fact partitions
    before any fact I/O — the star-schema pattern where the predicate
    that saves the scan isn't written against the fact table at all.

    Plan-asserted in tests (``dynamicpruning`` present in the fact
    scan).  At 100 TB this is the difference between scanning 3 and 84
    months when the user filters on an attribute only the calendar dim
    knows."""
    fact_path, dim_path = _dpp_paths(spark, sf_dir)
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(F.col("fiscal_quarter") == "1997-Q1")
    return (
        fact.join(dim, "order_month")
        .groupBy("order_month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(14,2)")), 3)
            .cast("double")
            .alias("total_price"),
        )
    )


# ------------------------------------------- surrogate key assignment

@query(
    "surrogate_keys",
    oracle=f"""
    WITH r AS (
      SELECT ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS sid,
             o_orderkey
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(sid) AS BIGINT) AS min_sid,
           CAST(MAX(sid) AS BIGINT) AS max_sid,
           CAST(SUM(sid) AS BIGINT) AS sid_sum,
           CAST(bit_xor({md5_int56_duck("CAST(sid AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)")}) AS BIGINT)
             AS assignment_checksum
    FROM r
    """,
    # rank+agg run eagerly inside fn; the returned proof row is literal
    bench=True, exchanges=0, order_sensitive=True,
)
def q_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense surrogate-key assignment (sid = 1..N in (o_orderdate,
    o_orderkey) order) WITHOUT the single-task global window that
    ``ROW_NUMBER() OVER (ORDER BY ...)`` plans naively — the standard
    distributed total-order rank: range-repartition on the sort key,
    per-range-partition row_number (widest window = one partition),
    per-partition counts collected once (O(#partitions) rows) and
    cumsum'd into offsets, global sid = offset[pid] + local rank.

    The result row PROVES density and exact placement: sid_sum must be
    N(N+1)/2 (no gap, no dup) and the checksum binds every sid to the
    business key it was assigned to, order-independently (bit_xor of a
    portable md5-56 of 'sid:key') — so the oracle's ROW_NUMBER and the
    distributed rank must agree on every single assignment.

    At 100 TB this is one range shuffle — the same cost class as a
    distributed sort, and the pattern behind monotonic ID backfills
    that zipWithIndex (an RDD action + a second pass) pays twice for."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_orderkey")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (
        orders.repartitionByRange(n_part, "o_orderdate", "o_orderkey")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    counts = {
        r.pid: r.n
        for r in ranged.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_map = F.create_map(*[F.lit(x) for kv in sorted(offsets.items()) for x in kv])
    local = Window.partitionBy("pid").orderBy("o_orderdate", "o_orderkey")
    keyed = ranged.select(
        (off_map[F.col("pid")] + F.row_number().over(local)).cast("bigint").alias("sid"),
        "o_orderkey",
    )
    chk = F.expr(
        md5_int56_spark("CONCAT(CAST(sid AS STRING), ':', CAST(o_orderkey AS STRING))")
    )
    agg = keyed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("sid").cast("bigint").alias("min_sid"),
        F.max("sid").cast("bigint").alias("max_sid"),
        F.sum("sid").cast("bigint").alias("sid_sum"),
        F.bit_xor(chk).cast("bigint").alias("assignment_checksum"),
    )
    # materialize the 1-row proof eagerly so the pinned range copy can
    # be released — repeated invocations (bench) must not accumulate
    # cached copies of orders
    rows = agg.collect()
    ranged.unpersist()
    return spark.createDataFrame(rows, agg.schema)


# ------------------------------------------------- partition retention

RETAIN_FROM = "1996-01"  # keep months >= this; drop everything older


@query(
    "retention_vacuum",
    oracle=f"""
    WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS order_month, o_orderkey FROM orders)
    SELECT CAST((SELECT COUNT(DISTINCT order_month) FROM m) AS BIGINT) AS n_parts_before,
           CAST((SELECT COUNT(DISTINCT order_month) FROM m WHERE order_month < '{RETAIN_FROM}') AS BIGINT) AS n_parts_dropped,
           CAST(COUNT(*) AS BIGINT) AS n_rows_kept,
           MIN(order_month) AS oldest_kept,
           CAST(bit_xor(o_orderkey) AS BIGINT) AS kept_checksum
    FROM m WHERE order_month >= '{RETAIN_FROM}'
    """,
    exchanges=1,  # final agg over the surviving partitions
)
def q_retention_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-retention vacuum — the data-lifecycle job that ages
    out cold partitions: orders land month-partitioned on disk, every
    partition directory older than the retention horizon is dropped at
    the FILESYSTEM level (a metadata/directory operation — zero rows
    are read or rewritten, which is the whole point of partitioning
    the table on the retention key), and the result row proves the
    contract from the surviving files: partition counts from the
    directory listing, row count + order-key checksum of what remains,
    oldest surviving month.

    At 100 TB this is `ALTER TABLE DROP PARTITION` / Delta `VACUUM`
    economics: retention on a partition column costs O(#partitions)
    metadata ops; retention on a non-partition column would cost a
    full rewrite.  Vacuum mutates the layout, so every call stages
    afresh."""
    import os
    import shutil

    base = stage_dir(spark, "vacuum", sf_dir)
    (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .write.partitionBy("order_month")
        .parquet(base)
    )
    parts = sorted(
        d.split("=", 1)[1] for d in os.listdir(base) if d.startswith("order_month=")
    )
    dropped = [m for m in parts if m < RETAIN_FROM]
    for m in dropped:
        shutil.rmtree(os.path.join(base, f"order_month={m}"))
    kept = spark.read.parquet(base)
    return kept.agg(
        F.lit(len(parts)).cast("bigint").alias("n_parts_before"),
        F.lit(len(dropped)).cast("bigint").alias("n_parts_dropped"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows_kept"),
        F.min("order_month").alias("oldest_kept"),
        F.bit_xor("o_orderkey").cast("bigint").alias("kept_checksum"),
    )


# --------------------------------- transaction log + time travel

@query(
    "txn_log_time_travel",
    oracle="""
    WITH cuts AS (
      SELECT MAX(o_orderkey) // 3 AS m1, 2 * (MAX(o_orderkey) // 3) AS m2 FROM orders
    )
    SELECT v.version,
           v.n_files,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(o_orderkey) AS BIGINT) AS key_checksum
    FROM orders, cuts,
         (VALUES (CAST(0 AS BIGINT), CAST(2 AS BIGINT)),
                 (CAST(1 AS BIGINT), CAST(3 AS BIGINT)),
                 (CAST(2 AS BIGINT), CAST(2 AS BIGINT))) AS v(version, n_files)
    WHERE v.version >= 1 OR o_orderkey <= m2
    GROUP BY 1, 2
    """,
    exchanges=3,  # one per-version snapshot aggregate
)
def q_txn_log_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A minimal ACID table format: an append-only JSON transaction
    log of (version, action, path) file operations, snapshots resolved
    by REPLAYING the log — the Delta/Iceberg core, built from
    primitives:

      v0  add a, add b            (initial write: two files)
      v1  add c                   (append — old files untouched)
      v2  remove a, remove b, add d   (compaction: d = rewrite of a∪b)

    A reader pinned at version V lists live files as (adds ≤ V) minus
    (removes ≤ V) — an O(#log-entries) metadata aggregation, never a
    data scan — then reads exactly those parquet files.  The result
    reports every version's (n_files, n_rows, key_checksum): v1 sees
    the append, v2 sees FEWER files with IDENTICAL rows+checksum,
    which is the whole compaction-under-snapshot-isolation contract
    (readers of any version never observe a half-applied rewrite).

    At 100 TB the log IS the scaling trick: commits are one appended
    JSON line + atomically-visible files, and time travel costs a log
    replay, not a table copy.  The fixture mutates across versions, so
    every call stages afresh."""
    import json as _json
    import os

    base = stage_dir(spark, "txnlog", sf_dir)
    os.makedirs(os.path.join(base, "_log"))
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    mx = orders.agg(F.max("o_orderkey")).collect()[0][0]
    m1, m2 = mx // 3, 2 * (mx // 3)

    def write_file(name: str, df) -> str:
        path = os.path.join(base, name)
        df.coalesce(1).write.parquet(path)
        return path

    pa = write_file("a", orders.filter(F.col("o_orderkey") <= m1))
    pb = write_file("b", orders.filter((F.col("o_orderkey") > m1) & (F.col("o_orderkey") <= m2)))
    pc = write_file("c", orders.filter(F.col("o_orderkey") > m2))
    pd_ = write_file("d", spark.read.parquet(pa, pb))  # compaction rewrite
    log = [
        {"version": 0, "action": "add", "path": pa},
        {"version": 0, "action": "add", "path": pb},
        {"version": 1, "action": "add", "path": pc},
        {"version": 2, "action": "remove", "path": pa},
        {"version": 2, "action": "remove", "path": pb},
        {"version": 2, "action": "add", "path": pd_},
    ]
    with open(os.path.join(base, "_log", "log.json"), "w") as fh:
        fh.write("\n".join(_json.dumps(e) for e in log))

    log_df = spark.read.json(os.path.join(base, "_log"))
    out = None
    for v in (0, 1, 2):
        live = (
            log_df.filter(F.col("version") <= v)
            .groupBy("path")
            .agg(F.max(F.when(F.col("action") == "remove", 1).otherwise(0)).alias("removed"))
            .filter(F.col("removed") == 0)
            .select("path")
            .collect()
        )
        paths = sorted(r.path for r in live)
        snap = spark.read.parquet(*paths).agg(
            F.lit(v).cast("bigint").alias("version"),
            F.lit(len(paths)).cast("bigint").alias("n_files"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.bit_xor("o_orderkey").cast("bigint").alias("key_checksum"),
        )
        out = snap if out is None else out.unionByName(snap)
    return out


# --------------------------------- catalog statistics (ANALYZE/CBO)

_STATS_COLS = ("o_orderkey", "o_custkey", "o_totalprice")


@query(
    "catalog_stats_cbo",
    oracle="""
    SELECT col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS num_nulls,
           CAST(MIN(CASE col_name WHEN 'o_orderkey' THEN o_orderkey
                                  WHEN 'o_custkey' THEN o_custkey
                                  ELSE o_totalprice END) AS DOUBLE) AS min_val,
           CAST(MAX(CASE col_name WHEN 'o_orderkey' THEN o_orderkey
                                  WHEN 'o_custkey' THEN o_custkey
                                  ELSE o_totalprice END) AS DOUBLE) AS max_val,
           TRUE AS ndv_within_10pct
    FROM orders, (VALUES ('o_orderkey'), ('o_custkey'), ('o_totalprice')) AS c(col_name)
    GROUP BY col_name
    """,
    # the one-pass stats scan runs eagerly inside fn; the result is
    # literal rows
    exchanges=0,
)
def q_catalog_stats_cbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog statistics collection — the `ANALYZE TABLE ... COMPUTE
    STATISTICS FOR COLUMNS` pass a CBO deployment runs after every
    load, surfaced as data: one row per analyzed column whose
    n_rows / num_nulls / min / max come FROM THE CATALOG STATS (not a
    recompute), so the oracle's exact aggregates passing the value
    hash proves the stats pipeline records exact row counts, null
    counts and min/max envelopes; the HLL-approximated NDV is held to
    a 10% contract like `approx_stats`.

    At 100 TB these stats are what let the optimizer pick broadcast
    sides, reorder joins, and size shuffle partitions without
    scanning — and min/max envelopes are the same machinery file
    skipping uses (see zorder_layout_stats).  The ANALYZE scan itself
    is one pass, amortized over every subsequent plan."""
    # The table name is keyed by sf_dir and applicationId like its
    # path: a repeat invocation within one session (bench runs 3×)
    # skips the rewrite+ANALYZE entirely — the catalog already holds
    # the stats.
    app = re.sub(r"\W", "_", spark.sparkContext.applicationId)
    tname = f"orders_stats_{sf_tag(sf_dir)}_{app}"

    def _stats_present() -> bool:
        # gate on the stats ACTUALLY being in the catalog, not on mere
        # table existence: a prior attempt interrupted between
        # saveAsTable and ANALYZE leaves a stats-less table that would
        # otherwise be trusted forever
        if not spark.catalog.tableExists(tname):
            return False
        probe = {
            r.info_name: r.info_value
            for r in spark.sql(
                f"DESCRIBE EXTENDED {tname} {_STATS_COLS[0]}"
            ).collect()
        }
        return probe.get("num_nulls", "NULL") != "NULL"

    if not _stats_present():
        if not spark.catalog.tableExists(tname):
            (
                load_table(spark, sf_dir, "orders")
                .write.mode("overwrite")
                .option("path", stage_dir(spark, "stats", sf_dir))
                .format("parquet")
                .saveAsTable(tname)
            )
        spark.sql(
            f"ANALYZE TABLE {tname} COMPUTE STATISTICS FOR COLUMNS {', '.join(_STATS_COLS)}"
        )

    def col_stats(c: str) -> dict[str, str]:
        rows = spark.sql(f"DESCRIBE EXTENDED {tname} {c}").collect()
        return {r.info_name: r.info_value for r in rows}

    tbl_stats = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE EXTENDED {tname}").collect()
    }
    # "N bytes, M rows" — the table-level stat CBO sizes plans with
    stat_rows = int(tbl_stats["Statistics"].split(",")[1].strip().split(" ")[0])

    orders = spark.table(tname)
    # ONE scan computes every exact NDV (the per-column loop would
    # re-scan the table once per column)
    exact = orders.agg(
        *[F.countDistinct(c).alias(c) for c in _STATS_COLS]
    ).collect()[0]
    rows = []
    for c in _STATS_COLS:
        st = col_stats(c)
        # catalog-reported values; the oracle recomputes them exactly,
        # so the hash compare IS the stats-accuracy proof
        rows.append(
            (
                c,
                stat_rows,
                int(st["num_nulls"]),
                float(st["min"]),
                float(st["max"]),
                abs(int(st["distinct_count"]) - exact[c]) <= 0.1 * exact[c],
            )
        )
    return spark.createDataFrame(
        rows,
        "col_name STRING, n_rows BIGINT, num_nulls BIGINT, "
        "min_val DOUBLE, max_val DOUBLE, ndv_within_10pct BOOLEAN",
    )

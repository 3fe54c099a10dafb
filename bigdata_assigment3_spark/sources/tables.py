"""Parquet table loaders for the driver-provided testdata.

Scale notes: ``spark.read.parquet`` gives Catalyst full pushdown
(filters reach row-group stats, unused columns are never read), and
partition sizing is governed by ``spark.sql.files.maxPartitionBytes``
— on a 1000-executor cluster the same code splits 100 TB into
input-sized tasks with no changes here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import ensure_session_conf

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to session-zoned TimestampType.

    The driver's testdata has shipped three physical forms across
    rounds, and any of them may come back:

    - parquet TIMESTAMP(NANOS) → Spark reads BIGINT under
      ``nanosAsLong``; convert with integer division (``/`` on BIGINT
      is DOUBLE and epoch-nanos exceed 2^53, so float rounding could
      shift boundary events by ±1µs).
    - parquet timestamp[us] without timezone → TIMESTAMP_NTZ, which
      ``withWatermark`` / ``unix_micros`` reject; cast to TIMESTAMP
      (session is pinned UTC, so the instant is unchanged).
    - timestamp[us] with timezone → already TimestampType; no-op.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing physical quirks (see
    :func:`normalize_events_ts` for the ``events.ts`` forms)."""
    ensure_session_conf(spark)
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    return df


def load_table_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """:func:`load_table` + a small-file scan-width guard: a testdata
    table is ONE parquet file with one row group, so every stage
    computing heavy per-row work directly on the scan (shingle-hash
    explodes, quantization HOFs, SRP/argmin expressions, Arrow
    kernels) runs SINGLE-TASK regardless of core count — measured at
    the 10x audit fixture: ann_ivf_probe spent 9.9s of task time
    across 7 one-task stages (util 0.03).  Repartition the scan up to
    the cluster's parallelism BEFORE the heavy expressions; at real
    corpus scale the scan already has >= defaultParallelism splits
    and this is a no-op."""
    df = load_table(spark, sf_dir, name)
    want = spark.sparkContext.defaultParallelism
    # File count is the cheap proxy for scan width (no .rdd conversion,
    # which would build a whole RDD lineage just to read a number): a
    # real corpus has >= want files and skips the shuffle entirely.
    if len(df.inputFiles()) < want:
        df = df.repartition(want)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all testdata tables as temp views (used by SQL-form queries)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)

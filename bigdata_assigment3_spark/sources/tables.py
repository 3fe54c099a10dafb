"""Parquet table loaders for the driver-provided testdata.

Scale notes: ``spark.read.parquet`` gives Catalyst full pushdown
(filters reach row-group stats, unused columns are never read), and
partition sizing is governed by ``spark.sql.files.maxPartitionBytes``
— on a 1000-executor cluster the same code splits 100 TB into
input-sized tasks with no changes here.

Schema memo: a plain ``spark.read.parquet(path)`` infers the schema
with a Spark job that reads a parquet footer — on small tables most of
a reader's cost, paid again by every query that loads the table.  Each
table's inferred schema is memoized per session (through
:func:`~bigdata_assigment3_spark.session.session_memo`), keyed on the
path and its file identity (``st_mtime_ns``, ``st_size``, ``st_ino`` of
the file, or of every file under a directory), and every call reads
with the memoized schema.  A table rewritten in place misses and is
inferred again; a path ``os.stat`` cannot resolve (an object-store URI)
is inferred on every call, unmemoized.  The memo holds the schema, never the
DataFrame: each call still returns a fresh relation with fresh
attribute ids, so a query that loads one table twice and self-joins it
keeps its two sides apart — a shared DataFrame would alias them and
break the join.  The schema-affecting confs (``nanosAsLong``,
``inferTimestampNTZ``) are re-pinned by
:func:`~bigdata_assigment3_spark.session.ensure_session_conf` before
every lookup, so a schema is always inferred and read under the same
values.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..session import ensure_session_conf, session_memo

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


def _file_identity(path: str) -> tuple | None:
    """``(relpath, st_mtime_ns, st_size, st_ino)`` of ``path``, or of
    every file under it when it is a directory; ``None`` when
    ``os.stat`` cannot resolve it."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (("", st.st_mtime_ns, st.st_size, st.st_ino),)
        ident = []
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for f in sorted(files):
                full = os.path.join(root, f)
                st = os.stat(full)
                ident.append((os.path.relpath(full, path), st.st_mtime_ns, st.st_size, st.st_ino))
        return tuple(ident)
    except OSError:
        return None


@session_memo
def _parquet_schema(spark: SparkSession, path: str, identity: tuple) -> StructType:
    """The schema ``spark.read.parquet`` infers for ``path`` (one footer
    job).  ``identity`` is only part of the memo key."""
    return spark.read.parquet(path).schema


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The inferred schema of the parquet table at ``path``, memoized per
    session and file identity (see the module docstring).  The caller
    has run :func:`ensure_session_conf`."""
    identity = _file_identity(path)
    if identity is None:
        return _parquet_schema.__wrapped__(spark, path, identity)  # unmemoized
    return _parquet_schema(spark, path, identity)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing physical quirks (see
    :func:`normalize_events_ts` for the ``events.ts`` forms).  The
    reader takes the session's memoized schema, so only the first call
    per table runs the footer-inference job."""
    ensure_session_conf(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
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

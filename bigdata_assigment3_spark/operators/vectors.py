"""Exact integer vector arithmetic over the ``embeddings`` table, shared
by the similarity-search queries and the semantic dedup.

Elements are quantized to integer milli-units (``round(x * 1000)``,
half away from zero, as SQL ROUND does in Spark and DuckDB), so dot
products and squared norms are exact BIGINTs in both engines; the only
floating-point step of a cosine is the final divide and square root,
on identical inputs.

This module registers no queries: ``dedup`` imports it, and a module
that registered queries would move the ``queries()`` order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..sources import load_table_parallel

QUANT_ELEM = "CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)"
QUANT_SPARK = f"transform(embedding, x -> {QUANT_ELEM})"


def int_dot(a: str, b: str) -> str:
    """Exact BIGINT dot product of two integer arrays (SQL text)."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (s, v) -> s + v)"


def int_cosine(a: str, na2: str, b: str, nb2: str) -> Column:
    """Cosine of integer arrays ``a`` and ``b`` from their exact dot and
    their squared norms ``na2``/``nb2``.  Both norms must be nonzero:
    under the session's ANSI mode a division by zero throws."""
    return F.expr(int_dot(a, b)).cast("double") / F.sqrt(F.col(na2).cast("double") * F.col(nb2))


def _quantize(emb: DataFrame) -> DataFrame:
    return emb.select("vec_id", F.expr(QUANT_SPARK).alias("e")).withColumn(
        "n2", F.expr("aggregate(transform(e, x -> x * x), 0L, (a, b) -> a + b)")
    )


def quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e, n2): every embedding quantized to milli-units, with
    its exact squared norm."""
    return _quantize(load_table_parallel(spark, sf_dir, "embeddings"))


def nonzero_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``quantized`` without the zero-norm vectors, which have no
    cosine; every cosine-ranked query reads this frame.

    The test runs on the raw rows as ``exists`` (some element quantizes
    to nonzero): it stops at the first nonzero element and runs before
    any other filter on the frame, where ``n2 > 0`` would quantize,
    square and sum every element of every row first.  The two agree
    exactly when no element is null; a null element makes n2 NULL
    while ``exists`` may still hold on another element."""
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    return _quantize(emb.filter(F.expr(f"exists(embedding, x -> {QUANT_ELEM} != 0)")))

"""The integer money kernel in ``functions/scalar.py`` against the
decimal path it replaces.

``unscaled`` must equal ``CAST(CAST(x AS DECIMAL(p,s)) * 10^s AS
BIGINT)`` on every double the cast accepts, and return NULL or raise the
cast's error where the cast does; ``money_sum`` must equal the decimal ``SUM`` in
value and type.  The doubles are adversarial: exact cents, x.xx5 half
boundaries and their neighbours, values on both sides of the fast
path's 2^31 and DECIMAL-range guards, tiny values, negatives, -0.0 and
NULLs.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from bigdata_assigment3_spark.functions.scalar import money_sum, unscaled

CASTS = ((12, 2), (6, 4), (18, 2))
N_CHECKED = 10 ** 6


def _adversarial_doubles(seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    parts = []
    for s in (2, 4):
        scale = 10.0 ** s
        # exact cents / basis points, small and large
        parts.append(rng.integers(-10 ** 4, 10 ** 4, 100_000) / scale)
        parts.append(rng.integers(-10 ** 6, 10 ** 6, 100_000) / scale)
        parts.append(rng.integers(-10 ** 12, 10 ** 12, 50_000) / scale)
        # x.xx5 half boundaries (round-to-nearest puts most of them a
        # hair below or above the half) and their 1-2 ulp neighbours
        halves = (rng.integers(-10 ** 6, 10 ** 6, 100_000) + 0.5) / scale
        parts += [halves, np.nextafter(halves, np.inf), np.nextafter(halves, -np.inf),
                  np.nextafter(np.nextafter(halves, np.inf), np.inf)]
        # within a few 1e-6 of a half-integer after scaling (the guard band)
        parts.append((rng.integers(-10 ** 6, 10 ** 6, 50_000) + 0.5
                      + rng.uniform(-3e-6, 3e-6, 50_000)) / scale)
        # both sides of the 2^31 fast-path bound on x·10^s
        edge = (2.0 ** 31 + rng.uniform(-4, 4, 40_000)) / scale
        parts += [edge, -edge, np.nextafter(edge, np.inf)]
    # both sides of the DECIMAL(6,4) range guard, |x·10^4| near 10^6 - 1
    near_range = 99.9999 + rng.uniform(-3e-4, 1e-4, 20_000)
    parts += [near_range, -near_range]
    # plain doubles in the DECIMAL(6,4) range
    parts.append(rng.uniform(-100, 100, 150_000))
    # log-uniform magnitudes from 1e-12 to 1e17, both signs
    mags = 10.0 ** rng.uniform(-12, 17, 200_000)
    parts.append(mags * rng.choice([-1.0, 1.0], mags.size))
    parts.append(np.array([
        1.005, 2.675, -1.005, -2.675, 0.005, -0.005, 0.015, 1.115, 0.125, 1.0e-300, -1.0e-300,
        5e-324, -5e-324, 4.9999999e-3, 0.0, -0.0, 21474836.47, 21474836.48, 21474836.49,
        -21474836.48, 9999999999.99, 9999999999.995, 99.99995, 99.9999, 99.99994999,
        9.999999999999998e15, 9.9e15,
    ]))
    return np.concatenate(parts)


@pytest.fixture(scope="module")
def doubles(spark, tmp_path_factory):
    x = _adversarial_doubles()
    nulls = np.zeros(x.size, dtype=bool)
    nulls[::97] = True
    path = str(tmp_path_factory.mktemp("money") / "x.parquet")
    pq.write_table(pa.table({"x": pa.array(x, mask=nulls)}), path)
    return spark.read.parquet(path)


def test_adversarial_set_has_the_required_cases():
    x = _adversarial_doubles()
    assert x.size >= 1.4 * N_CHECKED
    for v in (1.005, 2.675, -0.0, 5e-324):
        assert (x == v).any(), v
    assert np.signbit(x[x == 0]).any() and (x < 0).sum() > 0.3 * x.size
    y = np.abs(x * 100)
    assert ((y > 2 ** 31) & (y < 2 ** 31 + 4)).sum() > 1000
    assert ((y < 2 ** 31) & (y > 2 ** 31 - 4)).sum() > 1000


@pytest.mark.parametrize("p,s", CASTS, ids=[f"{p}_{s}" for p, s in CASTS])
def test_unscaled_equals_the_decimal_cast(doubles, p, s):
    got = doubles.where(
        f"x IS NULL OR try_cast(x AS DECIMAL({p},{s})) IS NOT NULL"
    ).selectExpr(
        f"{unscaled('x', p, s)} AS got",
        f"CAST(CAST(x AS DECIMAL({p},{s})) * {10 ** s} AS BIGINT) AS want",
        "x",
    )
    stats = got.selectExpr(
        "count(*) AS n", "count_if(x IS NULL) AS nulls", "count_if(NOT (got <=> want)) AS bad",
    ).first()
    assert stats.n >= N_CHECKED and stats.nulls > 0, stats
    if stats.bad:
        sample = got.where("NOT (got <=> want)").limit(5).collect()
        pytest.fail(f"{stats.bad} mismatches, e.g. {sample}")
    assert got.schema["got"].dataType.simpleString() == "bigint"


def _outcome(spark, sql: str, x: float) -> tuple:
    """``("value", v)`` or ``("error", condition)`` of ``sql`` on one row."""
    df = spark.createDataFrame([(x,)], "x double")
    try:
        return "value", df.selectExpr(f"{sql} AS v").first().v
    except PySparkException as e:
        return "error", e.getCondition()


_NON_FINITE = (float("nan"), float("inf"), float("-inf"))
_REJECTED = [
    (p, s, x) for p, s in CASTS for x in (*_NON_FINITE, 10.0 ** (p - s), -1.5 * 10.0 ** (p - s))
] + [(6, 4, -99.99995), (12, 2, 9999999999.995)]


@pytest.mark.parametrize("p,s,x", _REJECTED, ids=[f"{p}_{s}_{x!r}" for p, s, x in _REJECTED])
def test_unscaled_fails_as_the_cast_does(spark, p, s, x):
    """Outside DECIMAL(p,s) the ANSI cast raises; NaN and ±Inf it casts
    to NULL.  ``unscaled`` must do exactly the same."""
    want = _outcome(spark, f"CAST(CAST(x AS DECIMAL({p},{s})) * {10 ** s} AS BIGINT)", x)
    if math.isfinite(x):
        assert want == ("error", "NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION")
    else:
        assert want == ("value", None)
    assert _outcome(spark, unscaled("x", p, s), x) == want


# ----------------------------------------------------------------- money_sum


def _compare(df, s: int):
    """``money_sum`` of ``CAST(x AS DECIMAL(18,s))`` per group next to the
    decimal ``SUM`` of the same cast widened to DECIMAL(38,s), whose SUM
    is typed DECIMAL(38,s) as ``money_sum`` is."""
    src = df.selectExpr("g", f"{unscaled('x', 18, s)} AS u", f"CAST(x AS DECIMAL(38,{s})) AS d")
    out = src.groupBy("g").agg(F.expr(f"{money_sum('u', s)} AS got"), F.expr("sum(d) AS want"))
    assert dict(out.dtypes)["got"] == dict(out.dtypes)["want"] == f"decimal(38,{s})"
    rows = out.collect()
    assert rows and all(r.got == r.want for r in rows), [r for r in rows if r.got != r.want]
    return {r.g: r.got for r in rows}


def test_money_sum_past_2_pow_63_and_mixed_signs(spark):
    big = 9.0e15  # unscaled 9e17 at scale 2: twenty of them pass 2^63
    rows = [("pos", big)] * 20 + [("neg", -big)] * 20
    rows += [("mixed", big), ("mixed", -big), ("mixed", 0.01), ("mixed", -123.45), ("mixed", big)]
    rows += [("mixed", v) for v in (-0.0, 1.005, -2.675, 0.015, -7.5e14)]
    rows += [("nulls", None), ("nulls", None), ("some_null", None), ("some_null", 3.25)]
    df = spark.createDataFrame(rows, "g string, x double")
    got = _compare(df, 2)
    assert got["pos"] > 2 ** 63 / 100 and got["neg"] < -(2 ** 63) / 100
    assert got["nulls"] is None


def test_money_sum_of_an_empty_global_aggregate_is_null(spark):
    df = spark.createDataFrame([(1.5,)], "x double").where("x < 0").selectExpr(
        f"{unscaled('x', 12, 2)} AS u", "CAST(x AS DECIMAL(12,2)) AS d"
    )
    row = df.agg(F.expr(f"{money_sum('u', 2)} AS got"), F.expr("sum(d) AS want")).first()
    assert row.got is None and row.want is None


def test_money_sum_many_rows_of_large_longs(spark):
    """2^22 rows of unscaled values near 1.5·2^62 in one group: each limb
    sum stays inside a long only because the top limb holds 21 bits (a
    42-bit top limb would overflow past 2^63)."""
    df = spark.range(1 << 22).selectExpr("(6917529027641081856 - id * 977) AS u")
    out = df.agg(
        F.expr(f"{money_sum('u', 4)} AS got"),
        F.expr("sum(CAST(CAST(u AS DECIMAL(20,0)) * 0.0001BD AS DECIMAL(38,4))) AS want"),
    )
    assert dict(out.dtypes)["got"] == dict(out.dtypes)["want"] == "decimal(38,4)"
    row = out.first()
    assert row.got == row.want and row.got > 2 ** 63 * 2 ** 20 / 10 ** 4, row


def test_money_sum_of_the_charge_product_equals_decimal_sum(spark):
    """The pricing-summary charge ``ext·(1-disc)·(1+tax)`` in longs at
    scale 10 against the decimal product's SUM, same DECIMAL(38,10)
    type, including a negative discount and tax."""
    rng = np.random.default_rng(3)
    n = 20_000
    rows = list(zip(
        (f"g{i % 7}" for i in range(n)),
        (rng.integers(-10 ** 7, 10 ** 7, n) / 100).tolist(),
        (rng.integers(-1000, 1000, n) / 10 ** 4).tolist(),
        (rng.integers(-800, 800, n) / 10 ** 4).tolist(),
    ))
    rows += [("g0", 1.005, 0.0005, 0.0805), ("g1", 2.675, -0.0001, 0.9999), ("g2", None, 0.05, 0.01)]
    df = spark.createDataFrame(rows, "g string, e double, d double, t double")
    ext = F.col("e").cast("decimal(12,2)")
    disc, tax = F.col("d").cast("decimal(6,4)"), F.col("t").cast("decimal(6,4)")
    want = df.groupBy("g").agg(F.sum(ext * (F.lit(1) - disc) * (F.lit(1) + tax)).alias("want"))
    got = df.selectExpr(
        "g", f"{unscaled('e', 12, 2)} AS ext_u", f"{unscaled('d', 6, 4)} AS disc_u",
        f"{unscaled('t', 6, 4)} AS tax_u",
    ).groupBy("g").agg(F.expr(f"{money_sum('ext_u * (10000 - disc_u) * (10000 + tax_u)', 10)} AS got"))
    out = got.join(want, "g")
    assert dict(out.dtypes)["got"] == dict(out.dtypes)["want"] == "decimal(38,10)"
    rows = out.collect()
    assert len(rows) == 7 and all(r.got == r.want for r in rows), rows


def test_windowed_money_sum_equals_decimal_running_sum(spark):
    rows = [(i % 3, i, v) for i, v in enumerate([9.0e15, 1.005, -2.675, None, 9.0e15, 0.01] * 8)]
    df = spark.createDataFrame(rows, "g int, o int, x double")
    w = "PARTITION BY g ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    out = df.selectExpr("g", "o", "x", f"{unscaled('x', 18, 2)} AS u").selectExpr(
        f"{money_sum('u', 2, over=w)} AS got",
        f"sum(CAST(x AS DECIMAL(38,2))) OVER ({w}) AS want",
    )
    assert dict(out.dtypes)["got"] == dict(out.dtypes)["want"]
    assert all(r.got == r.want for r in out.collect())


def test_money_sum_rejects_a_scale_it_cannot_keep():
    with pytest.raises(ValueError):
        money_sum("u", 16)

"""Partition-invariance gate: results must not depend on parallelism.

On a 1000-executor cluster nothing about the answer may change with
`spark.sql.shuffle.partitions` or the scan split size — any query
whose output shifts under a different partitioning has an order- or
placement-dependent expression hiding in it (unstable tie-break,
first/last without order, id assignment, float reduce order) that the
fixed-parallelism oracle suite cannot see: DuckDB agreement at ONE
partitioning proves nothing about another.

The gate re-runs the tie-break- and ordering-sensitive queries, those
registered with ``order_sensitive=True`` (windows/ranks, top-k,
distributed id assignment, sampling splits, argmin/argmax votes, as-of
joins, iterative models, LSH banding, state diffs), under a hostile
configuration — 5 shuffle partitions and 256 KB scan splits — and
requires the row multiset to be IDENTICAL to the default run.
"""

from __future__ import annotations

import os

import pytest

from bigdata_assigment3_spark.registry import REGISTRY, _load_all
from bigdata_assigment3_spark.session import isolated
from tests.conftest import SF_ORACLE

_load_all()

# The queries declared ``@query(..., order_sensitive=True)``.  The
# opt-in full sweep SPARK_GRAFT_INVARIANCE_ALL=1 runs EVERY registered
# query through the gate (a per-round audit habit like the 10x scale
# run), not just the order-sensitive ones.
if os.environ.get("SPARK_GRAFT_INVARIANCE_ALL"):
    GATED = sorted(REGISTRY)
else:
    GATED = [name for name, spec in REGISTRY.items() if spec.order_sensitive]

_HOSTILE = {
    # initial shuffle parallelism off the default...
    "spark.sql.shuffle.partitions": "5",
    # ...and a tiny AQE advisory size so coalescing lands on a
    # DIFFERENT post-shuffle partition count than the default run
    # (with the 64 MB default, AQE coalesces both runs of this small
    # data to 1 partition and the shuffle knob is neutralized)
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(64 * 1024),
    # many scan splits instead of one per file
    "spark.sql.files.maxPartitionBytes": str(256 * 1024),
    "spark.sql.files.openCostInBytes": "0",
}


def _rows(spark, name):
    df = REGISTRY[name].fn(spark, SF_ORACLE)
    return sorted(tuple((c, str(r[c])) for c in sorted(df.columns)) for r in df.collect())


def _clear_memo_caches():
    """Drop every session-memoized artifact so the hostile-conf rerun
    really re-executes the full build chain.  Without this the second
    run of a memoized query (minhash pair table, canonical labels,
    semantic assignment, PQ index, KM/PQ training sample, ranged
    layout) reuses what was built under the DEFAULT partitioning and
    the gate silently stops testing the part most likely to be
    order-sensitive.  Memo values are local checkpoints, which
    ``unpersist`` would not free: dropping the entries is what forces
    the rebuild."""
    from bigdata_assigment3_spark import session

    session._MEMO.clear()


@pytest.mark.parametrize("name", GATED)
def test_partition_invariance(spark, name):
    base = _rows(spark, name)
    assert base, f"{name}: empty result at oracle SF"
    _clear_memo_caches()
    try:
        alt = _rows(isolated(spark, _HOSTILE), name)
    finally:
        # don't leak hostile-built memo values into later tests
        _clear_memo_caches()
    assert alt == base, (
        f"{name}: result depends on partitioning "
        f"({len(base)} rows default vs {len(alt)} hostile)"
    )


def test_hostile_conf_actually_changes_partitioning(spark):
    """Teeth check: the hostile configuration must really alter the
    physical partitioning, and a deliberately placement-dependent
    expression must be CAUGHT by the same compare the gate uses —
    otherwise the green results above could be a silent no-op."""
    from pyspark.sql import functions as F

    from bigdata_assigment3_spark.sources import load_table

    def mono_rows(spark):
        # placement-dependent on purpose: monotonically_increasing_id
        # encodes the SCAN partition index in the high bits, so its sum
        # changes whenever the split layout does
        df = (
            load_table(spark, SF_ORACLE, "orders")
            .withColumn("id", F.monotonically_increasing_id())
            .groupBy()
            .agg(F.sum("id").alias("s"))
        )
        return sorted(tuple(str(r[c]) for c in sorted(df.columns)) for r in df.collect())

    base_parts = load_table(spark, SF_ORACLE, "orders").rdd.getNumPartitions()
    base = mono_rows(spark)
    hostile = isolated(spark, _HOSTILE)
    # the scan split layout really changed under the hostile conf...
    n_parts = load_table(hostile, SF_ORACLE, "orders").rdd.getNumPartitions()
    assert n_parts > base_parts, (n_parts, base_parts)
    alt = mono_rows(hostile)
    # ...and the placement-dependent id sum diverges, so the gate's
    # compare would flag a real violation
    assert alt != base

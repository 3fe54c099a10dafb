"""Partition-invariance gate: results must not depend on parallelism.

On a 1000-executor cluster nothing about the answer may change with
`spark.sql.shuffle.partitions` or the scan split size — any query
whose output shifts under a different partitioning has an order- or
placement-dependent expression hiding in it (unstable tie-break,
first/last without order, id assignment, float reduce order) that the
fixed-parallelism oracle suite cannot see: DuckDB agreement at ONE
partitioning proves nothing about another.

The gate re-runs the tie-break- and ordering-sensitive query families
(windows/ranks, top-k, distributed id assignment, sampling splits,
argmin/argmax votes, iterative models, LSH banding) under a hostile
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

# Families chosen for order/tie sensitivity, one representative each
# where a family has twins (the twin shares the same plan shape).
INVARIANCE_QUERIES = [
    # windows / ranks / top-k (row_number ties, frame ordering)
    "window_topk_orders",
    "window_rank_kinds",
    "lateral_topk_per_nation",
    "top_revenue_orders",
    "returned_item_ranking",
    "curriculum_buckets",
    "offset_pagination",
    "ewma_user_value",
    "activity_streaks",
    # distributed id / layout (total-order rank across partitions)
    "surrogate_keys",
    "zorder_layout_stats",
    # sampling membership (must be value-hash-, not placement-, based)
    "train_test_split",
    "stratified_sample",
    "kfold_assignment",
    "temperature_sample",
    "mixture_token_budget",
    # argmin/argmax vote peaks (cost ties across partitions)
    "hough_peak",
    "block_match_full",
    "mstep_class_stats",
    # as-of joins (nearest-event ties)
    "asof_last_error",
    "asof_nearest_event",
    # iterative / model state (reduce order, init selection) — the
    # round-8 full sweep caught pyspark.ml KMeans's partition-dependent
    # k-means|| init in the two quantizer queries; both now train
    # driver-side on a bounded sorted sample and stay in the list
    "pagerank",
    # integer power-iteration trajectory (reduce-order-sensitive if
    # any step leaked float; must be bit-stable under repartitioning)
    "embedding_power_iteration",
    "kmeans_init",
    "embedding_kmeans_purity",
    "ann_ivf_probe",
    # LSH banding + sparse similarity (collect_list ordering)
    "dedup_minhash_lsh",
    "lsh_band_tuning_audit",
    "ann_cosine_topk",
    "ann_srp_bucketed",
    "ann_ivf_deterministic",
    "ann_pq_deterministic",
    # recall eval composes two rank-tie-sensitive pipelines
    "ann_recall_eval",
    # RRF fusion (float score ties broken by cand_id)
    "ann_rrf_fusion",
    # banding trade-off table (exact-topk ties + decimal miss-sum fold)
    "ann_band_recall_tradeoff",
    # hashed-trigram NB (float log-prob sums rounded before the argmax)
    "langid_char_ngram",
    # BM25 top-k (TakeOrdered ties on integer scores + doc_id)
    "bm25_topk_docs",
    # integer prefix-sum membership (stratum window order)
    "systematic_weighted_sample",
    # grid interval join (exact-once cell-ownership rule)
    "interval_overlap_pairs",
    # sweep-line running sum + lead; skyline RANGE-frame maxes
    "interval_union_coverage",
    "pareto_skyline_parts",
    # one-step-Lloyd semantic dedup (LIMIT seed selection + rank ties)
    "dedup_semantic_clustered",
    # NB classifier (float log-prob sums rounded before the argmax)
    "langid_nb_classifier",
    # keep-longest survivor rule (rank ties on equal-length twins)
    "dedup_keep_longest",
    # state diffs (hash-wide row compares)
    "snapshot_cdc_extract",
    "incremental_view_maintenance",
]

# Opt-in full sweep: SPARK_GRAFT_INVARIANCE_ALL=1 runs EVERY registered
# query through the gate (a per-round audit habit like the 10x scale
# run), not just the curated order-sensitive families.
if os.environ.get("SPARK_GRAFT_INVARIANCE_ALL"):
    INVARIANCE_QUERIES = sorted(REGISTRY)

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


@pytest.mark.parametrize("name", INVARIANCE_QUERIES)
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
    otherwise the 26 green results above could be a silent no-op."""
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

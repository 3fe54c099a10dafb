"""Physical-plan assertions: correctness tests prove the rows; these
prove the rows are produced by a plan that survives a 100x scale-up
(SURVEY §4.3 / task brief 'explain and iterate')."""

from __future__ import annotations

import pytest

from bigdata_assigment3_spark.plans.explain import formatted_plan, has_pushed_filter, plan_summary
from bigdata_assigment3_spark.registry import REGISTRY, _load_all
from tests.conftest import SF_ORACLE

_load_all()


def _plan(spark, name):
    return REGISTRY[name].fn(spark, SF_ORACLE)


def test_point_lookup_pushes_predicate(spark):
    """The PK equality must reach the parquet scan (row-group skipping)."""
    assert has_pushed_filter(_plan(spark, "point_lookup"), "EqualTo(event_id,123)")


def test_pricing_summary_pushes_date_filter(spark):
    df = _plan(spark, "pricing_summary")
    assert has_pushed_filter(df, "l_shipdate")


def test_dim_joins_broadcast(spark):
    """Q3/Q5 shapes: dimension sides must broadcast — a shuffled dim
    join at 100 TB wastes a full fact-table exchange."""
    for name in ("top_revenue_orders", "region_revenue", "upsert_merge", "delete_anti_join"):
        s = plan_summary(_plan(spark, name))
        assert s["broadcast_joins"] >= 1, (name, s)
        assert s["cartesian"] == 0, (name, s)


@pytest.fixture(scope="module")
def registered_plans(spark):
    """One walk over every registered query's plan, shared by the two
    tests below so the 147 exchange counts do not rebuild the plans.
    Maps name -> (plan_summary, global_windows, planned exchanges or
    None when the spec declares no ``exchanges``)."""
    from bigdata_assigment3_spark.plans.explain import global_windows, shuffle_exchanges

    walked = {}
    for name, spec in REGISTRY.items():
        if name in ("hmrf_em_segmentation",
                    "stream_window_counts", "stream_type_totals",
                    "multimodal_decode", "multimodal_features", "binary_dir_scan"):
            continue  # iterative/streaming/UDF paths checked elsewhere
        df = spec.fn(spark, SF_ORACLE)
        got = None if spec.exchanges is None else shuffle_exchanges(df)
        walked[name] = (plan_summary(df), global_windows(df), got)
    return walked


def test_no_cartesian_anywhere(registered_plans):
    """No relational query may degrade to CartesianProduct (broadcast
    nested-loop against a tiny generator table is fine), and none may
    plan an unpartitioned total-order window over unbounded input (the
    single-task sort that dies at 100 TB)."""
    # Global windows over provably bounded inputs (fine at any scale):
    # otsu_threshold scans a <=256-row grayscale histogram;
    # largest_component_3d ranks a LIMIT-10 result;
    # token_zipf_slope ranks a LIMIT-200 TakeOrdered result.
    # ann_pq_deterministic densely ranks the LIMIT-16 seed codebook.
    bounded_window_ok = {"otsu_threshold", "largest_component_3d", "token_zipf_slope",
                         "ann_pq_deterministic"}
    for name, (s, windows, _) in registered_plans.items():
        assert s["cartesian"] == 0, (name, s)
        if name not in bounded_window_ok:
            assert windows == 0, name


def test_shuffle_exchange_budgets(spark, registered_plans):
    """Every query that declares ``exchanges`` on its ``@query`` must
    plan exactly that many shuffle exchanges: an extra Exchange is a
    new 100 TB cost class (a lost broadcast, a re-partition regression)
    and fails review rather than shipping silently.  A count that
    changes is an edit of the query's decorator, named in CHANGES.md."""
    assert spark.sparkContext.defaultParallelism > 1, (
        "the pinned exchange counts include the scan-width guard's "
        "round-robin exchanges, which fire only when a one-file test "
        "table has fewer files than cores"
    )
    wrong_exchanges = {
        name: (got, REGISTRY[name].exchanges)
        for name, (_, _, got) in registered_plans.items()
        if got != REGISTRY[name].exchanges
    }
    assert wrong_exchanges == {}, wrong_exchanges  # name: (planned, declared)


def test_topk_uses_take_ordered(spark):
    """orderBy+limit must compile to TakeOrderedAndProject, not a
    global sort."""
    plan = formatted_plan(_plan(spark, "features_topk"))
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_aggregates_are_partial(spark):
    """Hash aggregates must run partial+final (map-side combine):
    two HashAggregate nodes per aggregation."""
    plan = formatted_plan(_plan(spark, "pricing_summary"))
    assert plan.count("HashAggregate") >= 2, plan[:2000]


def test_text_hot_path_stays_jvm_side(spark):
    """Text analytics must not fall back to Python eval — higher-order
    functions keep it in codegen."""
    for name in ("text_quality", "token_counts", "doc_fingerprint", "dedup_simhash",
                 "lm_bigram_score", "span_dedup_ratio", "quality_filter_chain",
                 "pack_sequences", "decontamination_overlap", "pagerank",
                 "triangle_count", "funnel_conversion", "timeseries_gapfill"):
        s = plan_summary(_plan(spark, name))
        assert s["python_eval"] == 0, (name, s)


def test_projection_prunes_scan(spark):
    """A 4-column projection must not read all 6 event columns."""
    plan = formatted_plan(_plan(spark, "point_lookup"))
    scan = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "props" not in scan and "ts" not in scan, scan


def test_bucketed_join_has_no_exchange(spark):
    """The bucketed-write co-located join must run end-to-end without
    a single Exchange: bucket spec satisfies both the join and the
    groupBy-on-bucket-key distribution."""
    s = plan_summary(_plan(spark, "bucketed_colocated_join"))
    assert s["sortmerge_joins"] >= 1, s
    assert s["shuffles"] == 0, s


def test_partitioned_write_prunes_partitions(spark):
    """The month-range filter must appear as PartitionFilters on the
    scan (directory-level pruning, zero I/O for other months)."""
    plan = formatted_plan(_plan(spark, "partitioned_write_prune"))
    for frag in plan.split("PartitionFilters: [")[1:]:
        if "order_month" in frag.split("]", 1)[0]:
            break
    else:
        raise AssertionError(plan[:3000])


def test_dynamic_partition_pruning_fires(spark):
    """The fiscal-quarter filter lives on the DIM side only; Catalyst
    must inject a runtime subquery into the fact scan's
    PartitionFilters (dynamicpruningexpression) so fact partitions are
    pruned before any fact I/O."""
    plan = formatted_plan(_plan(spark, "dpp_partitioned_join"))
    assert "dynamicpruning" in plan.lower(), plan[:3000]


def test_runtime_bloom_filter_injection(spark):
    """A selective dim filter on a shuffle join must inject a runtime
    bloom filter on the fact side (Spark's runtime row-group skipping:
    the fact scan drops rows that can't join before the exchange).
    Thresholds are scaled to the test corpus; at 100 TB the default
    10 MB creation-side threshold fires on the same shape."""
    from bigdata_assigment3_spark.sources import load_table
    from pyspark.sql import functions as F

    from bigdata_assigment3_spark.session import isolated

    scoped = isolated(spark, {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    })
    part = load_table(scoped, SF_ORACLE, "part").filter(F.col("p_name").like("%red%"))
    li = load_table(scoped, SF_ORACLE, "lineitem")
    j = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = j._jdf.queryExecution().optimizedPlan().toString()
    assert "bloom_filter_agg" in plan, plan[:2000]
    assert "might_contain" in plan, plan[:2000]


def test_runtime_bloom_query_plan_pinned(spark):
    """The registered runtime_bloom_filter_join query must return a
    DataFrame whose ALREADY-OPTIMIZED plan carries the bloom filter
    (the query scopes the gating confs around plan optimization and
    restores them — the pin must survive the restore)."""
    df = _plan(spark, "runtime_bloom_filter_join")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in plan, plan[:2000]
    assert "bloom_filter_agg" in plan, plan[:2000]


def test_aqe_splits_skewed_join_partition(spark):
    """With thresholds scaled to the test corpus, AQE must detect the
    hot-key partition (80% of fact rows) and split it: the executed
    plan shows SortMergeJoin(skew=true) + a skewed AQEShuffleRead.
    At 100 TB the default 256 MB threshold fires the same way."""
    from bigdata_assigment3_spark.operators.imagekernels2 import skewed_hot_key_join
    from bigdata_assigment3_spark.session import isolated

    scoped = isolated(spark, {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    })
    j = skewed_hot_key_join(scoped, SF_ORACLE)
    j.collect()  # AQE finalizes the plan only on execution
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, plan[:2000]
    assert "skewed" in plan, plan[:2000]


def test_curriculum_buckets_no_global_window(spark):
    """Equal-frequency bucketing must not plan a single-partition
    total-order window (round-2/3 weakness): the rank comes from a
    range repartition + per-range-partition row_number, so every
    window spec keeps a partition column.  The range repartition runs
    once, in the memoized range copy the query reads: its partition
    ids must ascend with (mean_nll, doc_id), every key of one range
    below every key of the next."""
    from pyspark.sql import functions as F

    from bigdata_assigment3_spark.operators.curation import _ranged_lm_scores
    from bigdata_assigment3_spark.plans.explain import global_windows

    df = _plan(spark, "curriculum_buckets")
    assert global_windows(df) == 0
    key = F.struct("mean_nll", "doc_id")
    ranges = (
        _ranged_lm_scores(spark, SF_ORACLE)
        .groupBy("pid")
        .agg(F.min(key).alias("lo"), F.max(key).alias("hi"))
        .orderBy("pid")
        .collect()
    )
    assert len(ranges) > 1
    for a, b in zip(ranges, ranges[1:]):
        assert tuple(a.hi) < tuple(b.lo), (a, b)


def test_global_window_detector_fires_on_bad_plan(spark):
    """The detector itself must flag an unpartitioned window."""
    from pyspark.sql import Window, functions as F

    from bigdata_assigment3_spark.plans.explain import global_windows
    from bigdata_assigment3_spark.sources import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    bad = docs.select("doc_id", F.ntile(4).over(Window.orderBy("doc_id")).alias("b"))
    assert global_windows(bad) >= 1


def test_warm_memo_read_is_one_leaf(spark):
    """A memo value is a lineage-truncated checkpoint: the warm read of
    the memoized minhash pair table plans one ``LogicalRDD`` leaf with
    no exchange, where a persisted value re-planned its whole LSH build
    against the cache (66 exchanges in 13 nested ``InMemoryRelation``s
    when memo values were persisted frames).  The leaf reports its
    measured size, so joins against it can still broadcast."""
    from bigdata_assigment3_spark.plans.explain import shuffle_exchanges

    fn = REGISTRY["dedup_minhash_lsh"].fn
    fn(spark, SF_ORACLE)
    warm = fn(spark, SF_ORACLE)
    plan = warm._jdf.queryExecution().optimizedPlan()
    assert "InMemoryRelation" not in plan.toString()
    assert plan.nodeName() == "LogicalRDD"
    assert plan.children().size() == 0
    assert shuffle_exchanges(warm) == 0
    assert plan.stats().sizeInBytes() < 1 << 20


def test_ann_ivf_wide_takes_arrow_kernel(spark):
    """The large-k assignment path must actually RUN in production
    (round-13 verdict #3: the mapInArrow kernel existed but only tests
    took the branch): ann_ivf_wide's k = 64 sits above K_LITERAL_MAX,
    so its executed plan must contain the Arrow kernel and must NOT
    contain the O(k * dim) literal expression tree — the plan stays
    O(1) in k at a realistic IVF nlist."""
    from bigdata_assigment3_spark.operators.similarity import (
        K_LITERAL_MAX,
        WIDE_K,
    )

    assert WIDE_K > K_LITERAL_MAX
    df = _plan(spark, "ann_ivf_wide")
    plan = formatted_plan(df)
    assert "MapInArrow" in plan, plan[:2000]
    # the literal path inlines ~k*dim integer literals into one
    # zip_with chain per centroid; its formatted plan at k=64 would be
    # hundreds of KB — bound the whole plan text well below that
    assert len(plan) < 50_000, len(plan)


def test_cbo_stats_flip_join_strategy(spark):
    """ANALYZE stats must actually CHANGE the physical plan, not just
    sit in the catalog: without CBO a Filter passes its child's
    file-size estimate through unchanged, so the filtered side of the
    join stays over the broadcast threshold -> SortMergeJoin; with
    spark.sql.cbo.enabled the min/max column stats give the range
    predicate a ~1% selectivity estimate, shrinking the side under the
    threshold -> BroadcastHashJoin.  This pins that catalog_stats_cbo
    (operators/layout.py) feeds the optimizer, closing the loop the
    value oracle can't see."""
    import os
    import re as _re

    from pyspark.sql import functions as F

    from bigdata_assigment3_spark.plans.explain import formatted_plan

    # ensure the ANALYZEd catalog table exists (same one the query uses)
    REGISTRY["catalog_stats_cbo"].fn(spark, SF_ORACLE).collect()
    from bigdata_assigment3_spark.session import isolated, sf_tag

    tag = sf_tag(SF_ORACLE)
    app = _re.sub(r"\W", "_", spark.sparkContext.applicationId)
    tname = f"orders_stats_{tag}_{app}"

    lo, hi = spark.table(tname).agg(
        F.min("o_orderkey"), F.max("o_orderkey")
    ).first()
    cut = lo + max(1, (hi - lo) // 100)  # ~1% of the key range
    sub = f"SELECT o_custkey FROM {tname} WHERE o_orderkey <= {cut}"
    q = (
        f"SELECT a.o_custkey FROM {tname} a JOIN ({sub}) f "
        f"ON a.o_custkey = f.o_custkey"
    )

    # Measure the size-only (non-CBO) estimate of the filtered side
    # as the optimizer will see it (incl. its column-pruning ratio),
    # then pin the threshold just under it: the only thing that can
    # move the estimate below the threshold is CBO's selectivity.
    cbo_off = isolated(spark, {"spark.sql.cbo.enabled": "false"})
    est_off = int(
        str(cbo_off.sql(sub)._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    threshold = {"spark.sql.autoBroadcastJoinThreshold": str(max(1024, est_off // 2))}
    plan_off = formatted_plan(isolated(cbo_off, threshold).sql(q))
    assert "SortMergeJoin" in plan_off and "BroadcastHashJoin" not in plan_off, plan_off

    cbo_on = isolated(spark, {"spark.sql.cbo.enabled": "true", **threshold})
    plan_on = formatted_plan(cbo_on.sql(q))
    assert "BroadcastHashJoin" in plan_on, plan_on


def test_pagerank_iteration_single_exchange(spark):
    """Round-16 (round-15 verdict #3): the loop-invariant checkpoints
    must genuinely preserve their HashPartitioning(v, n) so each
    PageRank iteration plans exactly ONE shuffle (the inflow hash agg)
    — under AQE the checkpointed LogicalRDD read UnknownPartitioning
    and every iteration silently re-exchanged both join inputs (4
    exchanges/iteration).  Builds one iteration the way q_pagerank
    does, in an AQE-off clone, and pins the exchange count and the
    preserved partitioning."""
    from pyspark.sql import functions as F

    from bigdata_assigment3_spark.operators.graph import _AQE_OFF, PR_SCALE, _edges
    from bigdata_assigment3_spark.plans.explain import shuffle_exchanges
    from bigdata_assigment3_spark.session import isolated, lineage_checkpoint

    aqe_off = isolated(spark, _AQE_OFF)
    edges = _edges(aqe_off, SF_ORACLE)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    verts = (
        edges.select(F.col("src").alias("v"))
        .unionAll(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    edges_deg = edges.join(deg, "src").select(F.col("src").alias("v"), "dst", "deg")
    n_part = int(aqe_off.conf.get("spark.sql.shuffle.partitions"))
    edges_deg = lineage_checkpoint(edges_deg.repartition(n_part, "v"), big=True)
    verts = lineage_checkpoint(verts.repartition(n_part, "v"), big=True)
    rank = verts.select("v", F.lit(PR_SCALE).cast("bigint").alias("rank_i"))
    inflow = (
        edges_deg.join(rank, "v")
        .select(F.col("dst").alias("v"), F.expr("rank_i div deg").alias("c"))
        .groupBy("v")
        .agg(F.sum("c").alias("inflow"))
    )
    rank1 = verts.join(inflow, "v", "left").select("v", "inflow")
    assert shuffle_exchanges(rank1) == 1, formatted_plan(rank1)
    # the checkpointed scans carry the explicit hash partitioning
    plan = formatted_plan(rank1)
    assert "UnknownPartitioning" not in plan, plan
    # the clone never wrote the caller's conf
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

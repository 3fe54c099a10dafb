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


def test_no_cartesian_anywhere(spark):
    """No registered relational query may degrade to CartesianProduct
    (broadcast nested-loop against a tiny generator table is fine),
    and none may plan an unpartitioned total-order window over
    unbounded input — the single-task sort that dies at 100 TB."""
    from bigdata_assigment3_spark.plans.explain import global_windows

    # Global windows over provably bounded inputs (fine at any scale):
    # otsu_threshold scans a <=256-row grayscale histogram;
    # largest_component_3d ranks a LIMIT-10 result;
    # token_zipf_slope ranks a LIMIT-200 TakeOrdered result.
    # ann_pq_deterministic densely ranks the LIMIT-16 seed codebook.
    bounded_window_ok = {"otsu_threshold", "largest_component_3d", "token_zipf_slope",
                         "ann_pq_deterministic"}
    for name, spec in REGISTRY.items():
        if name in ("hmrf_em_segmentation",
                    "stream_window_counts", "stream_type_totals",
                    "multimodal_decode", "multimodal_features", "binary_dir_scan"):
            continue  # iterative/streaming/UDF paths checked elsewhere
        df = spec.fn(spark, SF_ORACLE)
        s = plan_summary(df)
        assert s["cartesian"] == 0, (name, s)
        if name not in bounded_window_ok:
            assert global_windows(df) == 0, name


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


def test_shuffle_exchange_budgets(spark):
    """Pin the shuffle-exchange count of headline queries: an extra
    Exchange is a new 100 TB cost class (a lost broadcast, a
    re-partition regression), and should fail review rather than ship
    silently.  Budgets are the current plans' counts — tighten them
    when a plan improves, never loosen without a scale argument."""
    from bigdata_assigment3_spark.plans.explain import shuffle_exchanges

    budgets = {
        "point_lookup": 0,        # scan + pushed filter only
        "text_quality": 0,        # pure projection
        "pricing_summary": 1,     # one partial+final agg
        "top_revenue_orders": 1,  # broadcast dims + one agg
        "region_revenue": 1,
        "rate_limit_window": 1,
        "window_topk_orders": 1,
        "train_test_split": 1,
        "ann_cosine_topk": 3,
        "event_totals": 2,
        "dedup_exact": 2,
        "quality_filter_chain": 2,
        "block_match_full": 2,
        "custom_source_scan": 2,
        "frequent_pairs": 3,
        # round-16: skew-safe decomposition (n_shared = n_spans −
        # df==1 spans routed to their owner) over the checkpointed
        # span table — two constant-buffer hash aggs, no posting
        # lists, no join (was 3; r14: 5)
        "span_dedup_ratio": 2,
        "hough_peak": 6,
        "temperature_sample": 7,
        "lm_bigram_score": 9,
        # round-4 additions (counts at time of landing; tighten, don't loosen)
        "regression_stats": 1,
        "grouped_quantiles": 1,
        "histogram_totalprice": 1,
        "max_concurrent_orders": 1,
        # fuzzy_part_match traded its 1-exchange row-level self-join for
        # the weighted distinct-name rewrite: 5 exchanges, but all over
        # the (brand, name, count) table (64 distinct names), and the
        # levenshtein count drops ~160x — 7.9s -> ~1.0s at sf0.1.
        "fuzzy_part_match": 5,
        "ewma_user_value": 1,
        # round-6 additions: codecs are pure per-file scans (0); ingest
        # queries pay exactly the one final-agg shuffle; the sketches'
        # counter/register builds are map-side-combined single shuffles
        # plus tiny broadcast probe joins
        "image_png_decode": 0,
        "image_jpeg_decode": 0,
        "gif_frames_decode": 0,
        "security_hash_battery": 0,
        "figure_heatmap_sink": 0,
        "volume_nifti_export": 1,
        "embedding_int8_quantize": 1,
        "compressed_text_ingest": 1,
        "multiformat_text_ingest": 1,
        "arrow_ipc_ingest": 1,
        "avro_ocf_ingest": 1,
        "sqlite_db_ingest": 1,
        "protobuf_stream_ingest": 1,
        "webdataset_tar_ingest": 1,
        "bloom_filter_audit": 1,  # ship-the-filter: zero probe-side joins
        # round-15: sketch built from checkpointed per-key counts — one
        # corpus scan, keyspace-sized exchanges only (was 3)
        "cms_heavy_hitters": 2,
        "hll_registers_portable": 4,
        "large_quantity_orders": 1,
        "langid_pr_curve": 1,
        "argmax_functions": 1,
        "string_functions": 0,
        "regexp_functions": 0,
        "mode_bucket": 2,
        "anomaly_zscore": 2,
        "frequent_triples": 2,
        "activity_streaks": 2,
        "order_count_distribution": 2,
        "nation_revenue_share": 2,
        "multi_count_distinct": 2,
        "idle_customer_balance": 2,
        "returned_item_ranking": 2,
        "variant_extract": 2,
        "lateral_topk_per_nation": 2,
        "asof_nearest_event": 2,
        "waiting_supplier_check": 3,
        "top_supplier_revenue": 3,
        "degree_distribution": 4,
        # TPC-H anchor batch (Q2/Q7/Q8/Q12 shapes)
        "late_shipment_priority": 2,
        # 4 static-plan exchanges after dropping the forced broadcasts
        # (supplier/customer slices grow ~SF); AQE re-broadcasts the
        # small sides at runtime, so the test-scale cost is unchanged
        "market_share": 4,
        "min_cost_supplier": 3,
        "volume_shipping": 4,
        # function-battery batch
        "url_functions": 1,
        "null_semantics": 2,
        "posexplode_tokens": 1,
        "offset_pagination": 0,   # TakeOrderedAndProject w/ offset, no exchange
        "filtered_aggregates": 3,  # Expand-based filtered count-distinct + sort
        "chunk_documents": 1,
        "collation_group": 2,
        "timeseries_interpolate": 3,
        "winsorize_values": 2,
        "dynamic_partition_overwrite": 1,
        "udtf_chunk_spans": 1,
        "map_functions": 1,
        # audit query: deliberately computes exact AND sketch paths
        "hll_distinct_audit": 6,
        "approx_topk_tokens": 1,
        "higher_order_functions": 1,
        # Q16/Q20 shapes: distinct + anti-join + count-distinct chains
        # +2 exchanges for the data-relative (median) complaint cut —
        # the fixed-constant version returned 0 rows at sf0.1
        "supplier_part_variety": 7,
        "excess_stock_suppliers": 3,
        "xml_functions": 1,
        "csv_column_parse": 1,
        "rag_chunk_index": 3,
        "not_in_null_trap": 3,  # three scalar subqueries over dim tables
        # +2 exchanges for the data-relative midpoint split (the scalar
        # cut aggregate feeds both sides); fixed doc_id<250 went empty
        # at small SFs
        "incremental_dedup": 6,
        "pipe_syntax_query": 2,
        "sql_variables_query": 2,
        "scd2_customer_history": 2,  # one customer shuffle + presentation sort
        "point_in_time_join": 3,     # history build + interval hash join + agg
        # fifth-session batch
        "zorder_layout_stats": 2,    # 1-row max broadcast + final 64-group agg
        "importance_weighted_sample": 1,  # pure projection filter + report agg
        "arrow_batch_norm": 1,       # Arrow kernel is map-side; one label agg
        "runtime_bloom_filter_join": 2,
        # pair agg + two size joins over the checkpointed index
        "dedup_containment": 3,
        "token_zipf_slope": 1,       # token count agg; rank over LIMIT-200
        "sql_scripting_query": 0,    # final SELECT is scalar subqueries
        "pandas_udaf_mad": 1,        # one group-key shuffle into the UDAF
        # operational/layout closers
        "compact_small_files": 1,    # final agg over the compacted read-back
        "dpp_partitioned_join": 2,   # join + count-distinct agg; fact I/O pruned by DPP
        # rank+agg run eagerly inside fn (then the range copy unpersists);
        # the returned proof row is literal
        "surrogate_keys": 0,
        # 7 = two FK anti-joins + per-table aggregate passes + union;
        # every one is an aggregate-sized exchange, no row-level shuffle
        "dq_audit": 7,
        "retention_vacuum": 1,       # final agg over the surviving partitions
        # 8 = the four delta-algebra join terms' partial aggregates +
        # the merge re-aggregation; each term is delta-sized at scale
        "incremental_view_maintenance": 8,
        "txn_log_time_travel": 3,    # one per-version snapshot aggregate
        "snapshot_cdc_extract": 4,   # full-outer diff join + final op agg
        # stats scan (one pass, eager) happens inside fn; result is literal rows
        "catalog_stats_cbo": 0,
        "sql_udf_battery": 3,        # inlined SQL UDFs + lateral TVF + band agg
        "observed_metrics_single_pass": 0,  # one eager pass; literal result row
        "mask_npy_join": 1,          # broadcast mask join + final group agg
        "volume_npy_export": 1,      # read-back label agg (export runs eagerly)
        "image_pgm_decode": 0,       # pure per-file kernel, no shuffle
        "audio_wav_energy": 0,       # pure per-file kernel, no shuffle
        "video_y4m_frames": 0,       # single-pass demux kernel, no shuffle
        "dicom_decode_rescale": 0,   # per-file element-walk kernel, no shuffle
        "dicom_series_sort": 0,      # tag-parse kernel, no shuffle
        "stream_pit_enrich": 0,      # broadcast history into each micro-batch
        # round-8 continuation (counts at landing; tighten, don't loosen)
        "dedup_semantic_clustered": 2,   # cluster pair join + verdict join over the checkpointed assignment
        # MapReduce-NB: wc/tokc/vocab aggs over the checkpointed
        # (doc, word) counts + scoring joins; tokenize runs once
        "langid_nb_classifier": 12,
        "dedup_cascade_attrition": 12,   # exact groupBy + checkpointed canonical + funnel aggs
        "dedup_keep_longest": 2,         # checkpointed canonical join + rank window
        "mixture_token_budget": 7,       # enum-keyed aggs + rate join-back
        "ann_srp_bucketed": 6,           # bucket equi-join + rerank window (+guard exchanges, see note below)
        "ann_ivf_deterministic": 1,      # per-query rerank window over the checkpointed assignment
        "ann_pq_deterministic": 9,       # encode agg + code argmin + ADC agg + top-k (+guard)
        # 1 at test scale (small side broadcasts); 3 allows the SMJ the
        # same plan becomes when BOTH explode sides grow past the
        # broadcast threshold — still no quadratic group join either way
        "interval_overlap_pairs": 3,
        # exact pipeline (1) + SRP bucket join/rerank (2) + eval
        # join/agg over probe-sized sides (3)
        "ann_recall_eval": 12,
        "html_text_extract": 0,          # pure codegen string projection
        "bitmap_distinct_users": 2,      # (type,word) bit_or agg + popcount agg
        "interval_union_coverage": 2,    # sweep delta agg + suppkey window/agg
        "pareto_skyline_parts": 1,       # one brand shuffle feeds both windows
        "systematic_weighted_sample": 1,  # one stratum-window shuffle
        # 3 probe-sized hash exchanges (SRP and IVF reranks, fusion)
        # + 4 scan-width guards; IVF reads the checkpointed assignment
        "ann_rrf_fusion": 7,
        # round-16 single-position sweep (was 78): one bucket shuffle
        # + bounded pair agg + config agg + the single-row report, over
        # the checkpointed signatures and truth
        "lsh_band_tuning_audit": 4,
        # one bitmap build shuffled 3 ways (sizes, pair-join sides) +
        # matrix aggs — all word-compressed, no per-user rows
        "bitmap_audience_overlap": 8,
        # the corpus-sized Gram agg (1 exchange) runs eagerly at the
        # bounded dim^2 collect; the 20 integer iterations run
        # driver-side (MLlib-PCA split) and the result is a
        # LocalRelation — 0 exchanges in the returned plan
        "embedding_power_iteration": 0,
        # round-12 deterministic (oracle-backed) index paths — hashing
        # and list assignment are STATELESS per row, so the only
        # exchanges are candidate distincts / final aggs.  Round 16:
        # every embeddings scan also carries the small-file scan-width
        # guard (sources.load_table_parallel — round-robin repartition,
        # file-count no-op at a real corpus), which the static counts
        # below include once per scan occurrence:
        # E2LSH: candidate-pair distinct + per-query agg
        "ann_lsh_bucketed": 6,
        # IVF: candidate-pair distinct + per-query top-k window
        "ann_ivf_probe": 6,
        # PQ: ADC agg + shortlist/rerank windows over the checkpointed
        # frame and codes (the bounded LUT/codebook sides all broadcast)
        "ann_pq_rerank": 2,
        # spherical k-means purity: (cluster,label) agg + majority agg
        # (training runs driver-side on the bounded sorted sample)
        "embedding_kmeans_purity": 3,
        # 1-D histogram k-means: the histogram agg runs eagerly inside
        # the bounded collect; the returned frame is a LocalRelation
        "kmeans_init": 0,
        # 3 = candidate-pair distinct + the two 5-row config aggs; the
        # corpus-sized signature table only STREAMS (truth/probe sides
        # are waivered broadcasts), and the signature build + truth
        # top-k run once at lineage-checkpoint time
        "ann_band_recall_tradeoff": 3,
        # hashed-feature NB: model-build aggs over the checkpointed
        # (doc, bucket) counts + doc-score agg + argmax window;
        # INFERENCE joins the broadcast model (no vocab-keyed postings
        # shuffle, unlike the word model's 15); the corpus-sized
        # explode+md5 pass runs once at lineage-checkpoint time
        "langid_char_ngram": 10,
        # 5 = dft term agg over the checkpointed postings + stats
        # SinglePartition agg + (query_id, doc_id) score agg + per-query
        # WindowGroupLimit exchange + the small-file-guard round-robin
        # repartition (round 13: fires ONLY when the docs scan has
        # fewer splits than cores — a single giant row group serialized
        # the 100x tokenize into one task; a real corpus skips it);
        # the vocab-pruned postings build (one more exchange) runs once
        # at lineage-checkpoint time and is shared by dft and contrib
        "bm25_topk_docs": 5,
        # wide assignment: the mapInArrow kernel is map-side; the only
        # exchange is the final 64-group aggregate
        "ann_ivf_wide": 2,
    }
    for name, budget in budgets.items():
        got = shuffle_exchanges(_plan(spark, name))
        assert got <= budget, (name, got, budget)


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

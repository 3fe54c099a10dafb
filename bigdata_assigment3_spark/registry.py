"""Query registry: one named entry per operator from SURVEY.md §2.

Each query is a function ``(spark, sf_dir) -> DataFrame`` registered
together with (when SQL-expressible) its DuckDB oracle SQL, so
``__spark_entry__.queries()`` / ``oracle_sql()`` are generated from a
single source of truth.  The registry is the only list of queries:
every other set of queries is derived from these ``@query`` fields.

- ``bench``: the query is in ``bench.py``'s headline set, timed in
  registry order.
- ``exchanges``: the exact ``plans.explain.shuffle_exchanges`` count of
  the query's plan at sf0.01 in the test session.
  ``tests/test_plans.py`` asserts equality, so a new exchange (a lost
  broadcast, a re-partition regression) fails review instead of
  shipping silently.  The count includes the scan-width guard's
  round-robin exchange (``sources.load_table_parallel``) once per
  guarded scan; the guard fires because the one-file test tables have
  fewer files than cores.  A count that changes is a reviewed edit of
  the decorator, named in CHANGES.md.
- ``order_sensitive``: the query has a tie-break, ordering or placement
  dependence worth re-running under a hostile partitioning;
  ``tests/test_invariance.py`` runs each such query under it.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL over the pre-registered views; None => rows-only check
    doc: str
    bench: bool = False
    exchanges: int | None = None
    order_sensitive: bool = False


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str, oracle: str | None = None, *, bench: bool = False,
    exchanges: int | None = None, order_sensitive: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as query ``name`` with optional DuckDB oracle SQL
    and the facts the module docstring lists."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "",
                                   bench=bench, exchanges=exchanges,
                                   order_sensitive=order_sensitive)
        return fn

    return deco


def _load_all() -> None:
    """Import every operator module so decorators run."""
    from .operators import (  # noqa: F401
        bucketing,
        coverage,
        curation,
        dedup,
        dq,
        functions2,
        funnel,
        graph,
        hmrf,
        hough,
        imagekernels,
        imagekernels2,
        layout,
        motion,
        motion_adaptive,
        multimodal,
        pipeline,
        relational,
        sampling,
        sketches,
        stats,
        strings,
        similarity,
        text,
        tpch_extra,
        webservice,
    )
    from .streaming import queries as streaming_queries  # noqa: F401


# The driver's correctness gate samples the FIRST 50 entries of
# ``queries()``, so ordering is part of the contract: this list pins
# the flagship query plus at least one high-value (oracle-backed where
# possible) representative of every operator family into that window.
# Everything not listed follows in registration order and is still
# covered by the local oracle test suite.
PRIORITY: tuple[str, ...] = (
    # flagship + webservice analytics (REST reference app)
    "frequent_pairs",
    "features_topk",
    "event_totals",
    "segment_derive",
    "point_lookup",
    "delete_anti_join",
    "upsert_merge",
    "rate_limit_window",
    "request_metrics",
    "json_extract",
    # TPC-H-style relational anchors (joins/aggs/windows/set ops);
    # top_revenue_orders rotated out round 12 (second TPC-H join
    # shape — region_revenue/customers_with_orders cover the family;
    # still locally tested) for ann_band_recall_tradeoff
    "pricing_summary",
    "region_revenue",
    # (customers_with_orders rotated out round 13 — region_revenue and
    # dq_audit's FK semi/anti checks keep the TPC-H join family
    # in-window; still locally tested — for ann_ivf_probe)
    # (customers_without_orders moved out of the window: dq_audit's FK
    # checks exercise the same LEFT ANTI shape; still locally tested)
    "dq_audit",
    "window_topk_orders",
    "set_operations",
    "rollup_lineitem",
    # image kernels (bias_field_correct rotated out round 12 for
    # langid_char_ngram; sobel_edges rotated out round 13 — the U8
    # neighborhood-kernel family keeps gaussian_denoise in-window;
    # both still locally tested — for hmrf_em_segmentation)
    # structured streaming (stream_stream_join rotated out round 12 —
    # four stream reps stay in-window; still locally tested — for
    # stream_bitmap_overlap)
    "stream_window_counts",
    "sessionize",
    "stream_stateful_rate_limit",
    "stream_bitmap_overlap",
    # text analysis (langid_heuristic moved out for the F12 security
    # battery; still locally tested) + the round-11 char-trigram
    # language-ID flagship (rotated in round 12)
    "text_quality",
    "langid_char_ngram",
    "security_hash_battery",
    # event-journey analytics
    "funnel_conversion",
    # corpus curation + sampling (LLM-pipeline north star)
    "decontamination_overlap",
    "pack_sequences",
    "quality_filter_chain",
    "train_test_split",
    "lm_bigram_score",
    "span_dedup_ratio",
    # graph analytics
    "pagerank",
    # similarity search + embedding PCA (round-10 flagship: the
    # mapInArrow partial-Gram kernel plan, oracle-backed by its
    # relational twin's SQL).  Round-14 rotation per the round-13
    # verdict: ann_cosine_topk (driver-green since r10, brute-force
    # family also exercised inside ann_band_recall_tradeoff's truth
    # side) and ann_band_recall_tradeoff (driver-green r12+r13) move
    # out — both still locally oracle-tested — for bm25_topk_docs (the
    # 100x-fixed text-retrieval flagship, verdict #6) and ann_ivf_wide
    # (the large-k mapInArrow assignment path, verdict #3)
    "bm25_topk_docs",
    "embedding_power_iteration",
    "ann_ivf_wide",
    # deterministic IVF with multi-assignment (round-12 flagship,
    # rotated in round 13)
    "ann_ivf_probe",
    # (ann_cosine_topk_vec is the int64-matmul twin of the slot above;
    # moved out for the runtime-pruned star join, still locally tested)
    "dpp_partitioned_join",
    # dedup
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    # multimodal: real PNG codec (S8 closure; multimodal_frame_sample
    # moved out, still locally tested) + perceptual-hash dedup
    "image_png_decode",
    "image_phash_dedup",
    # physical-layout patterns
    "bucketed_colocated_join",
    # figure sink (S16 closure; datetime_functions moved out, still
    # locally tested) + as-of coverage
    "figure_heatmap_sink",
    "asof_last_error",
    # HMRF volume analytics + NIfTI-1 artifact export (S15 closure;
    # posterior_softmax moved out round 10, mstep_class_stats rotated
    # out round 13 — the oracled EM loop runs the same exact-integer
    # M-step inside every iteration's CTE chain, so A9 stays
    # driver-verified through the capstone; still locally tested).
    # Round-13 rotation: the round-12 flagships whose oracles that
    # round created get driver-verified rows.
    "hmrf_em_segmentation",
    "kmeans_init",
    "volume_nifti_export",
    "gaussian_denoise",
    # Hough image analytics
    "hough_peak",
    "ellipse_candidate_score",
    # motion estimation (full relational search; the routed
    # full-search and adaptive-walk variants sit outside the driver's
    # 50-slot oracle window — same J4/A12 family, still locally
    # oracle-tested — rotated out for embedding_power_iteration)
    "block_match_full",
)


def _ordered() -> dict[str, QuerySpec]:
    _load_all()
    missing = [n for n in PRIORITY if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"PRIORITY names not in registry: {missing}")
    out = {n: REGISTRY[n] for n in PRIORITY}
    for name, spec in REGISTRY.items():
        if name not in out:
            out[name] = spec
    return out


def query_fns() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in _ordered().items()}


def oracle_sqls() -> dict[str, str]:
    return {name: spec.oracle for name, spec in _ordered().items() if spec.oracle is not None}

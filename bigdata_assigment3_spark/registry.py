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
    """Import every query module so decorators run: the operator
    package, which imports its modules in one fixed order, then the
    streaming queries (whose module imports operators first)."""
    from . import operators  # noqa: F401
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
    # TPC-H-style relational anchors: joins, aggregates, windows, set
    # ops; dq_audit's FK semi/anti checks cover the LEFT ANTI shape
    "pricing_summary",
    "region_revenue",
    "dq_audit",
    "window_topk_orders",
    "set_operations",
    "rollup_lineitem",
    # structured streaming: windows, sessions, state, bitmaps
    "stream_window_counts",
    "sessionize",
    "stream_stateful_rate_limit",
    "stream_bitmap_overlap",
    # text analysis: quality, char-trigram language ID, hash battery
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
    # retrieval and similarity search: BM25, the mapInArrow
    # partial-Gram power iteration, large-k IVF assignment, IVF with
    # multi-assignment
    "bm25_topk_docs",
    "embedding_power_iteration",
    "ann_ivf_wide",
    "ann_ivf_probe",
    # runtime-pruned star join
    "dpp_partitioned_join",
    # dedup
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    # multimodal: a real PNG codec + perceptual-hash dedup
    "image_png_decode",
    "image_phash_dedup",
    # physical-layout patterns
    "bucketed_colocated_join",
    # figure sink + as-of coverage
    "figure_heatmap_sink",
    "asof_last_error",
    # HMRF volume analytics (the oracled EM loop runs the exact-integer
    # M-step in every iteration) + NIfTI-1 export, k-means seeding and
    # the neighborhood-kernel image family
    "hmrf_em_segmentation",
    "kmeans_init",
    "volume_nifti_export",
    "gaussian_denoise",
    # Hough image analytics
    "hough_peak",
    "ellipse_candidate_score",
    # motion estimation (full relational search)
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

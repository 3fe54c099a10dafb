"""The benchmark's workloads: which registered queries run on which input.

Every workload runs on the engine's sf0.01 test tables (``inputs.BASE``);
``copies`` replicates them by key offsets.  The workload seed given on the
command line permutes the query order of every pass.  Why each workload
exists, and which layer metrics it should move, is recorded in
``perfbench/README.md``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    copies: int  # 1 = the base tables; n = n key-offset copies of them
    queries: tuple[str, ...]
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="interactive",
            copies=1,
            queries=(
                "region_revenue",
                "dedup_minhash_lsh",
                "pandas_udaf_mad",
                "arrow_batch_norm",
                "stream_window_counts",
            ),
            why="fixed-overhead bound: readers, eager memo jobs, Python/Arrow "
            "UDFs and micro-batch streams on small tables",
        ),
        Workload(
            name="scan_x10",
            copies=10,
            queries=(
                "pricing_summary",
                "region_revenue",
                "skewed_join_hot_key",
            ),
            why="data bound: TPC-H style scans, joins and aggregates on ten "
            "key-offset copies of the base tables",
        ),
    )
}


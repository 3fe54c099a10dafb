#!/usr/bin/env python
"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

The headline set is the registered queries declared ``@query(...,
bench=True)``: the flagship and the heaviest representatives of each
operator family, timed in registry order (``queries()`` order).

Each query is forced end-to-end with the noop sink (full execution, no
driver collect) N_RUNS times after a shared warm-up.  Wall time includes
building and planning; the session build is excluded (it's amortized in
any real deployment).

``python bench.py`` prints ONE JSON line, kept under 1500 bytes (the
driver captures only a ~2 KB output tail):
    metric, value (sum of per-query medians, sec), unit, sf, n_queries,
    n_runs, value_min (sum of per-query mins: the noise floor),
    spread_sec (value - value_min), shared_setup_sec (one-time build of
    the session's shared dedup artifacts), host_steal_frac, queries (the
    medians of the slowest queries, slowest first) and full_results.
The full record is written to BENCH_LOCAL.json next to this script:
the same totals, every query's median (queries) and min (queries_min),
and queries_split, the job split of each query's fastest sample read
from Spark's status store (no extra execution): jobs, stages, tasks,
task_s, shuffle_read_mb, shuffle_write_mb, spill_mb, input_mb,
input_rows, gc_s, driver_gap_s (wall minus the union of the sample's job
intervals: building, planning and driver work between jobs) and util
(task_s / (wall x cores)).

``python bench.py --floors DIR QUERY ...`` times the named queries at DIR
(a scaled fixture from tests/make_scale_fixture.py) the same way and
prints one JSON line: metric, dir, unit, n_runs, value_min, queries_min,
queries_times, host_steal_frac.  Any other argument prints the usage
lines and exits non-zero without running anything.

host_steal_frac is the share of all CPU time during the timed passes that
the hypervisor gave this VM's vCPUs to other guests (the steal field of
the first line of /proc/stat).  It labels how loaded the host was; the
script does not adjust or re-time anything by it.  Compare runs only
with runs taken at a similar steal.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigdata_assigment3_spark import REGISTRY, get_spark, query_fns  # noqa: E402
from perfbench.stats import covered  # noqa: E402
from perfbench.tracing import SparkCounters  # noqa: E402

# Median and min of N_RUNS samples per query: single-run numbers swing
# 2-3x on a shared box.
N_RUNS = 3

USAGE = "usage: bench.py\n       bench.py --floors DIR QUERY [QUERY ...]"


def parse_args(argv: list[str]) -> tuple[str, list[str]] | None:
    """The run ``argv`` (the arguments after the script name) asks for:
    None for the headline run (no argument), ``(DIR, QUERIES)`` for a
    floors pass.  Anything else, a floors pass without a query or with a
    name that is not a registered query included, exits non-zero with
    the usage lines before any session is built, so a bad invocation
    never starts a run or prints a record."""
    if not argv:
        return None
    if argv[0] != "--floors" or len(argv) < 3:
        sys.exit(USAGE)
    dir_path, names = argv[1], argv[2:]
    fns = query_fns()
    unknown = [n for n in names if n not in fns]
    if unknown:
        sys.exit(f"{USAGE}\nunknown queries: {' '.join(unknown)}")
    return dir_path, names


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warm(spark, fns, sf_dir: str) -> None:
    """Warm the JVM/codegen on the cheapest query, then the streaming
    machinery: the first streaming query in a session pays a separate,
    much larger JIT curve (a fresh-session loop of one streaming query
    measured 71s -> 23s -> ... -> 6s over nine runs with zero code
    change), which would otherwise land on whichever streaming query is
    timed first."""
    _noop(fns["features_topk"](spark, sf_dir))
    _noop(fns["stream_type_totals"](spark, sf_dir))


def _steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, with the field arithmetic of
    perfbench/run.py:cpu_ticks (which cannot be imported: run.py imports
    its siblings as top-level modules)."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _steal_frac(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return round((t1[0] - t0[0]) / max(1, t1[1] - t0[1]), 4)


def _time(spark, fn, sf_dir: str, n: int) -> tuple[list[float], dict]:
    """The n noop-sink wall times of ``fn`` and the job split of the
    fastest sample, read from the status store after the samples ran.
    Job ids come from the scheduler's counter, so jobs a query runs from
    other threads (streams, thread pools) count too."""
    counters = SparkCounters(spark)
    times: list[float] = []
    for _ in range(n):
        j0, lo, t0 = counters.next_job_id(), time.time(), time.perf_counter()
        _noop(fn(spark, sf_dir))
        wall = time.perf_counter() - t0
        if not times or wall < min(times):
            fastest = (j0, counters.next_job_id(), lo, time.time(), wall)
        times.append(wall)
    counters.flush()
    j0, j1, lo, hi, wall = fastest
    split = counters.jobs(j0, j1)
    # job times in the status store are epoch ms; the union, not the
    # sum, so concurrent jobs are not counted twice
    split["driver_gap_s"] = (hi - lo) - covered(split.pop("intervals"), lo, hi)
    split["util"] = split["task_s"] / (wall * spark.sparkContext.defaultParallelism)
    return times, {k: round(v, 3) for k, v in split.items()}


def floors_pass(dir_path: str, names: list[str]) -> dict:
    """Scaled-fixture floor pass: the sf0.1 suite is fixed-overhead
    bound, so a scaled fixture is where compute changes show up.  A
    separate invocation; the default contract line is untouched."""
    spark = get_spark("bench-floors")
    fns = query_fns()
    _warm(spark, fns, dir_path)
    ticks0 = _steal_ticks()
    times = {name: _time(spark, fns[name], dir_path, N_RUNS)[0] for name in names}
    qmin = {name: round(min(ts), 3) for name, ts in times.items()}
    return {
        "metric": "floors_wall_seconds",
        "dir": dir_path,
        "unit": "sec",
        "n_runs": N_RUNS,
        "value_min": round(sum(qmin.values()), 3),
        "queries_min": qmin,
        "queries_times": {name: [round(t, 3) for t in ts] for name, ts in times.items()},
        "host_steal_frac": _steal_frac(ticks0, _steal_ticks()),
    }


def compact_line(record: dict) -> str:
    """The stdout line of a full record: its totals and as many of its
    slowest queries (by median, slowest first, at most 10) as fit under
    1500 bytes."""
    ranked = sorted(record["queries"].items(), key=lambda kv: -kv[1])
    for top_n in range(10, -1, -1):
        line = json.dumps({
            "metric": record["metric"],
            "value": record["value"],
            "unit": record["unit"],
            "sf": record["sf"],
            "n_queries": len(ranked),
            "n_runs": record["n_runs"],
            "value_min": record["value_min"],
            "spread_sec": record["spread_sec"],
            "shared_setup_sec": record["shared_setup_sec"],
            "host_steal_frac": record["host_steal_frac"],
            "queries": dict(ranked[:top_n]),
            "full_results": "BENCH_LOCAL.json",
        })
        if len(line) < 1500:
            break
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    spark = get_spark("bench")
    fns = query_fns()
    names = [n for n in fns if REGISTRY[n].bench]
    _warm(spark, fns, sf_dir)

    # The session-scoped dedup artifacts (inverted index, verified
    # MinHash pair table) are built here, so their one-time cost lands
    # in setup, not on whichever dedup query the suite runs first.
    t0 = time.perf_counter()
    _noop(fns["dedup_minhash_lsh"](spark, sf_dir))
    shared_setup = round(time.perf_counter() - t0, 3)

    ticks0 = _steal_ticks()
    times, splits = {}, {}
    for name in names:
        times[name], splits[name] = _time(spark, fns[name], sf_dir, N_RUNS)
    steal = _steal_frac(ticks0, _steal_ticks())
    per_query = {n: round(sorted(ts)[len(ts) // 2], 3) for n, ts in times.items()}
    per_query_min = {n: round(min(ts), 3) for n, ts in times.items()}
    total = round(sum(per_query.values()), 3)
    total_min = round(sum(per_query_min.values()), 3)
    record = {
        "metric": "headline_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_runs": N_RUNS,
        "value_min": total_min,
        "spread_sec": round(total - total_min, 3),
        "shared_setup_sec": shared_setup,
        "host_steal_frac": steal,
        "queries": per_query,
        "queries_min": per_query_min,
        "queries_split": splits,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    print(compact_line(record))


if __name__ == "__main__":
    floors = parse_args(sys.argv[1:])
    if floors is None:
        main()
    else:
        print(json.dumps(floors_pass(*floors)))

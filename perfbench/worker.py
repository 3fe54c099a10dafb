"""One fresh Spark process of a benchmark run.

``run.py`` starts this file as a child process, with the environment already
pinned.  With ``--probe`` it only sets up (import, ``get_spark``,
``query_fns()``) and exits; otherwise it also runs the cold pass, checks
every answer against the oracle, runs the warm passes and writes its raw
samples as JSON to ``--out``.  Numbers are turned into metrics by ``run.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import re
import sys
import time

import stats
from workloads import WORKLOADS

# warm passes a run makes at least, however short --seconds is: warm_pass_s
# is the fastest of them, and more passes make it likelier that one ran while
# the host was quiet
MIN_WARM_PASSES = 4


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--probe", action="store_true")
    ap.add_argument("--root")
    ap.add_argument("--data")
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--deadline", type=float, help="epoch seconds after which no pass starts")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expected", help="JSON file of canonical oracle answers")
    ap.add_argument("--spans-out")
    return ap.parse_args()


_PLAN_NODE = re.compile(r"^[\s:|+*-]*(?:\(\d+\)\s*)?(\w+)", re.MULTILINE)
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


def python_nodes(plan: str) -> int:
    """Physical-plan nodes that run Python: ArrowEvalPython,
    ArrowAggregatePython, MapInPandas, MapInArrow, FlatMapGroupsInPandas..."""
    return sum(1 for name in _PLAN_NODE.findall(plan) if _PYTHON_NODE.search(name))


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_traced(fn, spark, data: str, tracer, counters, listener) -> dict:
    """One execution split into build / plan / exec spans plus counters."""
    from bigdata_assigment3_spark.plans.explain import shuffle_exchanges

    with tracer.span("query") as q:
        j0 = counters.next_job_id()
        with tracer.span("operators.build") as b:
            df = fn(spark, data)
        j1 = counters.next_job_id()
        with tracer.span("plans.plan") as p:
            plan = df._jdf.queryExecution().executedPlan().toString()
        census = {
            "shuffle_exchanges": shuffle_exchanges(df),
            "python_eval_nodes": python_nodes(plan),
        }
        j2 = counters.next_job_id()
        with tracer.span("exec") as e:
            e_lo = time.time()  # job times in the status store are epoch ms
            noop_write(df)
            e_hi = time.time()
        j3 = counters.next_job_id()
        counters.flush()
    span = tracer.spans
    readers = [s for s in tracer.children(b) if s["name"] == "sources.reader"]
    ex = counters.jobs(j2, j3)
    exec_s = span[e]["end"] - span[e]["start"]
    return {
        "query_s": span[q]["end"] - span[q]["start"],
        "sources.reader_calls": len(readers),
        "sources.reader_s": sum(s["end"] - s["start"] for s in readers),
        "operators.build_s": stats.self_time(span[b], readers),
        "operators.build_jobs": j1 - j0,
        "plans.plan_s": span[p]["end"] - span[p]["start"],
        "plans.shuffle_exchanges": census["shuffle_exchanges"],
        "plans.python_eval_nodes": census["python_eval_nodes"],
        "exec.s": exec_s,
        "exec.driver_gap_s": exec_s - stats.covered(ex.pop("intervals"), e_lo, e_hi),
        **{f"exec.{k}": v for k, v in ex.items()},
        **{f"functions.{k}": v for k, v in counters.python_metrics().items()},
        **{f"streaming.{k}": v for k, v in listener.take().items()},
    }


def gate(fns, names, spark, data: str, expected: dict, root: str) -> dict[str, list[str]]:
    """Compare every query's answer with its oracle; returns the problems."""
    import oracle

    normalize = oracle.load_oracle_utils(root).normalize
    problems = {}
    for q in names:
        try:
            got = oracle.canonical(fns[q](spark, data).toPandas(), normalize)
            problems[q] = oracle.check(got, expected[q])
        except Exception as ex:  # a failing query is a result, not a crash
            problems[q] = [f"error: {type(ex).__name__}: {str(ex)[:300]}"]
    return problems


def main() -> None:
    a = parse_args()
    t = time.perf_counter()
    import bigdata_assigment3_spark as pkg

    import_s = time.perf_counter() - t
    t = time.perf_counter()
    spark = pkg.get_spark("perfbench")
    session_s = time.perf_counter() - t
    t = time.perf_counter()
    fns = pkg.query_fns()
    registry_s = time.perf_counter() - t
    setup = {
        "setup_s": time.time() - a.spawned_at,
        "import_s": import_s, "session.start_s": session_s, "registry.load_s": registry_s,
    }
    if a.probe:
        finish(a.out, {"setup": setup})

    w = WORKLOADS[a.workload]
    from tracing import SparkCounters, StreamCounters, Tracer, trace_readers

    counters = SparkCounters(spark)
    if a.trace:
        tracer, listener = Tracer(), StreamCounters()
        spark.streams.addListener(listener)
        untrace = trace_readers(tracer)
    with open(a.expected) as f:
        expected = json.load(f)
    passes = []
    warm_start = None
    while True:
        idx = len(passes)
        rec = {"order": stats.pass_order(list(w.queries), a.seed, idx),
               "times": {}, "errors": {}, "layers": {}}
        t0 = time.perf_counter()
        for q in rec["order"]:
            t = time.perf_counter()
            try:
                if a.trace:
                    tracer.exec_id = f"{w.name}/{idx}/{q}"
                    rec["layers"][q] = run_traced(fns[q], spark, a.data, tracer, counters, listener)
                else:
                    noop_write(fns[q](spark, a.data))
            except Exception as ex:  # counted in failed_frac, the run goes on
                rec["errors"][q] = f"{type(ex).__name__}: {str(ex)[:300]}"
                continue
            rec["times"][q] = time.perf_counter() - t
        rec["wall"] = time.perf_counter() - t0
        if a.trace:
            rec["cached_mb"] = counters.cached_mb()
        passes.append(rec)
        if warm_start is None:
            # the correctness gate runs between the cold and the warm passes:
            # outside the timed passes, and one more execution of every query
            # before the warm passes, which start past the steepest part of
            # the JIT warm-up
            if a.trace:
                tracer.exec_id = f"{w.name}/gate"
            problems = gate(fns, list(w.queries), spark, a.data, expected, a.root)
            if a.trace:  # drop the gate's streaming and Python counters
                counters.flush()
                listener.take()
                counters.python_metrics()
            warm_start = time.perf_counter()
            continue
        warm = len(passes) - 1
        done = warm >= MIN_WARM_PASSES and time.perf_counter() - warm_start >= a.seconds
        if done or time.time() > a.deadline:
            break
    rss_mb = counters.jvm_peak_rss_mb()
    if a.trace:
        untrace()
        spark.streams.removeListener(listener)
    import pyarrow

    env = {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cpus": spark.sparkContext.defaultParallelism,
        "spark": spark.version,
        "java": spark._jvm.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }
    if a.trace:
        with open(a.spans_out, "w") as f:
            json.dump(tracer.spans, f)
    finish(a.out, {"setup": setup, "passes": passes, "gate": problems,
                   "jvm_peak_rss_mb": rss_mb, "env": env})


def finish(out: str, result: dict) -> None:
    """Write the result and leave at once: ``run.py`` kills this process
    group, the JVM included, which is faster than ``spark.stop()``."""
    with open(out, "w") as f:
        json.dump(result, f)
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


if __name__ == "__main__":
    main()

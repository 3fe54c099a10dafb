#!/usr/bin/env python3
"""Benchmark of the registered analytics queries.

Usage (from the repository root):

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 8 --trace 0

One run builds (or reuses) the workload's input tables and oracle answers
under ``.perfbench/``, then starts fresh Spark processes with a pinned
environment: with ``--trace 0`` a set-up probe and one measured process,
with ``--trace 1`` one traced process.  The measured process runs a cold pass
over the workload's queries, checks every answer against its DuckDB oracle,
then runs warm passes: one client submitting one query after another, each
pass in an order drawn from ``--seed``, each query forced by a noop-sink
write.  The last line of stdout is the JSON result; the full record goes to
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import inputs
import oracle
import stats
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "bigdata_assigment3_spark"
RUN_BUDGET_S = 150  # the whole run, set-up probes included, ends well inside 180 s
# extra fresh processes timed for setup_s besides the measured one; each costs
# a JVM start, 6-10 s on a shared 4-vCPU VM, and a run must stay near a minute
SETUP_PROBES = 1

# BENCHMARK.json's end-to-end metrics: the JSON result of an untraced run
END_TO_END_UNITS = {"setup_s": "s", "warm_pass_s": "s", "query_geomean_s": "s"}
# printed and recorded beside them; too noisy between runs to gate on
REPORTED_UNITS = {
    "cold_pass_s": "s", "query_p50_s": "s", "query_tail_s": "s", "jvm_peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s", "registry.load_s": "s",
    "sources.reader_calls": "count", "sources.reader_s": "s",
    "operators.build_s": "s", "operators.build_jobs": "count", "operators.cached_mb": "MB",
    "operators.build_share": "ratio",
    "plans.plan_s": "s", "plans.shuffle_exchanges": "count", "plans.python_eval_nodes": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.task_share": "ratio", "exec.util": "ratio",
    "exec.driver_gap_s": "s", "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.input_mb": "MB", "exec.input_rows": "count", "exec.gc_s": "s",
    "functions.py_boot_s": "s", "functions.py_init_s": "s", "functions.py_total_s": "s",
    "functions.py_sent_mb": "MB", "functions.py_recv_mb": "MB",
    "streaming.batches": "count", "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s", "streaming.state_commit_s": "s",
    "streaming.state_rows": "count", "streaming.state_partitions": "count",
    "trace.pass_s": "s", "trace.query_s": "s", "jvm.peak_rss_mb": "MB",
}


def pinned_env() -> dict[str, str]:
    """The environment every Spark process of the run gets: all cores, all
    scratch inside the checkout, the checkout on the Python workers' path."""
    scratch = os.path.join(WORK, "scratch")
    tmp = os.path.join(WORK, "tmp")
    for d in (scratch, tmp):
        shutil.rmtree(d, ignore_errors=True)  # left by the killed JVMs of earlier runs
        os.makedirs(d)
    env = dict(os.environ)
    env.pop("SPARK_MASTER", None)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_SCRATCH": scratch,
        "SPARK_LOCAL_DIRS": scratch,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
    })
    return env


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: time the hypervisor gave this VM's
    vCPUs to someone else, against all time."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _sources_sha256(paths: list[str]) -> str:
    h = hashlib.sha256()
    for path in sorted(paths):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def source_identity() -> dict:
    """The commit when the checkout is a git repository, and always hashes
    of the package's and the benchmark's sources."""
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "commit": commit,
        "source_sha256": _sources_sha256(
            glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)),
        "bench_sha256": _sources_sha256(glob.glob(os.path.join(HERE, "*.py"))),
    }


def kill_group(proc: subprocess.Popen) -> None:
    """SIGKILL the process group led by ``proc`` and wait until it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(200):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    raise RuntimeError(f"process group {proc.pid} survived SIGKILL")


def spawn_worker(args: list[str], env: dict, log: str, deadline: float) -> dict:
    """Run worker.py in its own process group; kill the whole group (JVM and
    Python workers too) when it ends or overruns, and wait for it."""
    out = os.path.join(WORK, "run", f"worker-{os.getpid()}-{time.monotonic_ns()}.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--spawned-at", repr(time.time()), "--out", out, *args]
    with open(log, "ab") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=lf, stderr=lf,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            kill_group(proc)
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"worker {'timed out' if code is None else f'exited {code}'}; see {log}")
    with open(out) as f:
        res = json.load(f)
    os.remove(out)
    return res


def end_to_end(setups: list[float], res: dict) -> tuple[dict, dict]:
    """The end-to-end metrics and the context the record keeps beside them.
    A metric without samples (no warm pass, or every warm execution failed)
    is None; such a run is reported as not correct."""
    passes = res["passes"]
    warm = passes[1:]
    samples = [t for p in warm for t in p["times"].values()]
    per_query = {}
    for p in warm:
        for q, t in p["times"].items():
            per_query.setdefault(q, []).append(t)
    tail, pct, n = stats.tail(samples) if samples else (None, None, 0)
    metrics = {
        "setup_s": statistics.median(setups),
        "cold_pass_s": passes[0]["wall"],
        # fastest warm pass and fastest warm time per query: the host only
        # ever adds time, so the minimum of a run is its least disturbed sample
        "warm_pass_s": min(p["wall"] for p in warm) if warm else None,
        "query_geomean_s": (stats.geomean([min(v) for v in per_query.values()])
                            if per_query else None),
        "query_p50_s": statistics.median(samples) if samples else None,
        "query_tail_s": tail,
        "jvm_peak_rss_mb": res["jvm_peak_rss_mb"],
    }
    context = {
        "setup_samples_s": setups, "warm_passes": len(warm), "samples": n,
        "query_tail_percentile": pct,
        "cold_query_s": passes[0]["times"],
        "warm_pass_walls_s": [p["wall"] for p in warm],
        "query_samples_s": {q: v for q, v in sorted(per_query.items())},
    }
    return metrics, context


def per_layer(res: dict) -> dict:
    """Per-layer metrics: each counter summed over the queries of a warm
    pass, then the median over warm passes."""
    warm = res["passes"][1:]
    cores = res["env"]["spark_cpus"]
    sums = []
    for p in warm:
        s: dict[str, float] = {}
        for layers in p["layers"].values():
            for k, v in layers.items():
                s[k] = s.get(k, 0.0) + v
        s["operators.cached_mb"] = p["cached_mb"]
        s["trace.pass_s"] = p["wall"]
        q = s.get("query_s", 0.0)
        s["trace.query_s"] = q
        s["operators.build_share"] = s.get("operators.build_s", 0.0) / q if q else 0.0
        s["exec.task_share"] = s.get("exec.task_s", 0.0) / q if q else 0.0
        es = s.get("exec.s", 0.0)
        s["exec.util"] = s.get("exec.task_s", 0.0) / (es * cores) if es else 0.0
        sums.append(s)
    out = {k: statistics.median([s.get(k, 0.0) for s in sums]) if sums else None
           for k in LAYER_UNITS}
    for k in ("session.start_s", "registry.load_s"):
        out[k] = res["setup"][k]
    out["jvm.peak_rss_mb"] = res["jvm_peak_rss_mb"]
    return out


def tracing_overhead(record: dict) -> float | None:
    """Traced minus untraced warm_pass_s, against the untraced records of the
    same workload, package sources and benchmark sources already in this
    checkout."""
    untraced = []
    for path in glob.glob(os.path.join(WORK, "results", f"{record['workload']}-trace0-*.json")):
        with open(path) as f:
            r = json.load(f)
        same = all(r["env"].get(k) == record["env"][k] for k in ("source_sha256", "bench_sha256"))
        if r["queries"] == record["queries"] and same:
            untraced.append(r["metrics"]["warm_pass_s"])
    untraced = [u for u in untraced if u is not None]
    traced = record["metrics"]["warm_pass_s"]
    return traced - statistics.median(untraced) if untraced and traced is not None else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    ticks0 = cpu_ticks()
    deadline = start + RUN_BUDGET_S
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "registry.py")):
        print(f"perfbench: no {PACKAGE} package next to {HERE}", file=sys.stderr)
        return 2
    w = WORKLOADS[a.workload]
    for d in ("run", "results", "traces", "oracle"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    log = os.path.join(WORK, "run", f"{w.name}-trace{a.trace}-seed{a.seed}.log")
    open(log, "w").close()

    # inputs and oracle answers: built once per checkout, kept out of setup_s
    t = time.perf_counter()
    data = inputs.BASE
    if w.copies > 1:
        with open(log, "ab") as lf:
            data = inputs.scaled(ROOT, w.copies, os.path.join(WORK, "data", f"x{w.copies}"), lf)
    fixture_s = time.perf_counter() - t
    t = time.perf_counter()
    sys.path.insert(0, ROOT)
    from bigdata_assigment3_spark import oracle_sqls

    sqls = oracle_sqls()
    expected = oracle.expected(ROOT, data, {q: sqls[q] for q in w.queries},
                               os.path.join(WORK, "oracle"))
    expected_path = os.path.join(WORK, "run", f"expected-{os.getpid()}.json")
    with open(expected_path, "w") as f:
        json.dump(expected, f)
    oracle_s = time.perf_counter() - t

    env = pinned_env()
    setups = []
    if not a.trace:
        for _ in range(SETUP_PROBES):
            setups.append(spawn_worker(["--probe"], env, log, deadline)["setup"]["setup_s"])
    spans_out = os.path.join(WORK, "traces", f"{w.name}-seed{a.seed}.json")
    res = spawn_worker([
        "--root", ROOT, "--data", data, "--workload", w.name, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--deadline", repr(deadline - 40),
        "--trace", str(a.trace), "--expected", expected_path, "--spans-out", spans_out,
    ], env, log, deadline)
    os.remove(expected_path)
    setups.append(res["setup"]["setup_s"])

    attempted = sum(len(p["order"]) for p in res["passes"]) + len(res["gate"])
    errors = sum(len(p["errors"]) for p in res["passes"])
    mismatches = sum(1 for probs in res["gate"].values() if probs)
    e2e, context = end_to_end(setups, res)
    ticks1 = cpu_ticks()
    context["host_steal_frac"] = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    frac = stats.failed_frac(errors, mismatches, attempted)
    record = {
        "workload": w.name, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "queries": list(w.queries), "why": w.why, "metrics": e2e,
        "failed_frac": frac, "attempted": attempted, "errors": errors, "mismatches": mismatches,
        "context": {**context, "fixture_s": fixture_s, "oracle_s": oracle_s,
                    "run_s": time.time() - start},
        "env": {**res["env"], **source_identity()},
        "gate": {q: p for q, p in res["gate"].items() if p},
        "pass_errors": [p["errors"] for p in res["passes"] if p["errors"]],
    }
    if a.trace:
        record["layers"] = per_layer(res)
        record["tracing_overhead_s"] = tracing_overhead(record)
        record["spans"] = os.path.relpath(spans_out, ROOT)
        shown = {k: (record["layers"][k], u) for k, u in LAYER_UNITS.items()}
        extra = {}
    else:
        shown = {k: (e2e[k], u) for k, u in END_TO_END_UNITS.items()}
        extra = {k: (e2e[k], u) for k, u in REPORTED_UNITS.items()}
    with open(os.path.join(WORK, "results", f"{w.name}-trace{a.trace}-seed{a.seed}.json"), "w") as f:
        json.dump(record, f, indent=1)

    print(f"workload {w.name}  seed {a.seed}  trace {a.trace}  "
          f"nproc {res['env']['nproc']}  spark {res['env']['spark']}  java {res['env']['java']}")
    for k, (v, u) in {**shown, **extra}.items():
        print(f"  {k:28s} {'-' if v is None else f'{v:.4f}':>12s} {u}")
    print(f"  {'failed_frac':28s} {frac:12.4f} ratio  ({errors + mismatches}/{attempted})")
    print(f"  query_tail_s is p{context['query_tail_percentile'] or 0:.0f} of "
          f"{context['samples']} warm executions; {context['warm_passes']} warm passes; "
          f"host CPU steal {100 * context['host_steal_frac']:.1f} %")
    if a.trace and record["tracing_overhead_s"] is not None:
        print(f"  tracing overhead (traced - untraced warm_pass_s): "
              f"{record['tracing_overhead_s']:.3f} s")
    for q, probs in record["gate"].items():
        print(f"  MISMATCH {q}: {probs}")
    for errs in record["pass_errors"]:
        for q, msg in errs.items():
            print(f"  ERROR {q}: {msg}")
    missing = [k for k, (v, _) in shown.items() if v is None]
    if missing:
        print(f"  NO SAMPLES for {' '.join(missing)}")
    print(json.dumps({
        "correct": errors + mismatches == 0 and not missing,
        "attempted": attempted,
        "failed": errors + mismatches,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

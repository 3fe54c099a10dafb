"""Contracts for the bench harness itself.

Two round-14 findings motivated these: (a) `env_shift_sec` is only a
valid box-noise estimator while the sentinel queries stay untouched —
nothing enforced that invariant; (b) apparent bench regressions
(committed min 3x the fresh-session floor) burned a manual adjudication
cycle two rounds running, so the trip condition that now triggers an
automatic fresh-session re-time must be unit-pinned.

No SparkSession needed here — these are source/logic gates.
"""

from __future__ import annotations

import hashlib
import importlib.util
import inspect
import os
import pathlib
import subprocess
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent


def _load_bench():
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


bench = _load_bench()


# ---------------------------------------------------------------- sentinels

# Pinned source hashes of the never-touched environment-shift sentinel
# queries.  If this test fails you have two legal moves, both
# deliberate: rotate the changed query OUT of bench.ENV_SENTINELS (it
# is no longer "never touched"), or — for a pure-comment/docstring edit
# that provably cannot change the plan — re-pin the hash in the same
# commit and say so in the commit message.
SENTINEL_SRC_SHA256 = {
    "order_priority_check": "7737c25234ad409c1b55bb9454591730ae2ec3957701fec8e642771e84c86f9d",
    "json_extract": "31cfbb26aca521a629fbceb3cfc78e8b10a25d727263974f8e3ca8710e21d72d",
    "window_topk_orders": "0d6dbf3e1192344eecab51a7c379fc964cb75dc0f1170cb5e7c6e8a43545eff6",
    "rate_limit_window": "e0d7c486dc46d1783e7e952dafdd63a8edbb816ed6cdbf70748cc76ac2210ac4",
    "segment_derive": "3616c2d80d7acfa9087f7cba7d464b262f676fdb8d5a840071914f7435e2ae8a",
}


def test_sentinel_list_matches_pins():
    assert set(bench.ENV_SENTINELS) == set(SENTINEL_SRC_SHA256)


def test_sentinel_sources_unchanged():
    from bigdata_assigment3_spark import query_fns

    fns = query_fns()
    drift = {}
    for name, pinned in SENTINEL_SRC_SHA256.items():
        src = inspect.getsource(fns[name])
        got = hashlib.sha256(src.encode()).hexdigest()
        if got != pinned:
            drift[name] = got
    assert not drift, (
        f"env-shift sentinel source changed: {drift} — rotate the query out "
        f"of bench.ENV_SENTINELS or consciously re-pin (see module docstring)"
    )


# ---------------------------------------------------- regression flag logic


def test_regression_flag_trips_on_slowed_query():
    # a deliberately-slowed query: floor went 0.5s -> 1.6s with zero
    # environment shift — must trip (the round-14 verdict's scenario)
    flags = bench.compute_regression_flags(
        delta_min={"slowed": 1.1, "steady": 0.02},
        prev_qmin={"slowed": 0.5, "steady": 2.0},
        env_shift=0.0,
    )
    assert flags == {"slowed": 1.1}


def test_regression_flag_subtracts_env_shift():
    # the whole box slowed 0.6s: the sentinel-median shift absorbs it
    flags = bench.compute_regression_flags(
        delta_min={"q": 0.7},
        prev_qmin={"q": 1.0},
        env_shift=0.6,
    )
    assert flags == {}


def test_regression_flag_needs_both_thresholds():
    # +0.6s on a 10s query is 6% — inside run-to-run noise for a heavy
    # query, must NOT trip the 25% relative bound
    assert (
        bench.compute_regression_flags(
            delta_min={"heavy": 0.6}, prev_qmin={"heavy": 10.0}, env_shift=0.0
        )
        == {}
    )
    # +0.3s on a 0.2s query is 150% but under the 0.5s absolute bound
    assert (
        bench.compute_regression_flags(
            delta_min={"tiny": 0.3}, prev_qmin={"tiny": 0.2}, env_shift=0.0
        )
        == {}
    )


def test_regression_flag_new_query_uses_abs_bound():
    # a query with no previous floor can still trip on the absolute
    # bound (prev_qmin missing -> relative bound is vacuous)
    flags = bench.compute_regression_flags(
        delta_min={"fresh": 0.8}, prev_qmin={}, env_shift=0.0
    )
    assert flags == {"fresh": 0.8}


# ------------------------------------------------- CPU-sentinel adjudication


def test_adjudicate_retime_confirms_real_regression_on_calm_box():
    # fresh floor still 1.1s over prev, retime CPU sentinel at the calm
    # reference: a real, trustworthy confirmation
    confirmed, suspect = bench.adjudicate_retime(
        retimed_min=1.6, prev_min=0.5, env_shift=0.0,
        retime_cpu=bench.CPU_SENTINEL_REF_SEC,
    )
    assert confirmed is True and suspect is False


def test_adjudicate_retime_labels_loaded_box_confirmation_suspect():
    # the round-15 false-confirmation scenario: the fresh-session floor
    # "confirms" the regression, but the retime's own CPU sentinel sat
    # 2x the calm reference — the confirmation is box-mode evidence
    confirmed, suspect = bench.adjudicate_retime(
        retimed_min=1.6, prev_min=0.5, env_shift=0.0,
        retime_cpu=2.0 * bench.CPU_SENTINEL_REF_SEC,
    )
    assert confirmed is True and suspect is True


def test_adjudicate_retime_refutes_when_fresh_floor_recovers():
    confirmed, suspect = bench.adjudicate_retime(
        retimed_min=0.55, prev_min=0.5, env_shift=0.0,
        retime_cpu=bench.CPU_SENTINEL_REF_SEC,
    )
    assert confirmed is False and suspect is False


def test_adjudicate_retime_no_sentinel_means_unknown_load():
    confirmed, suspect = bench.adjudicate_retime(
        retimed_min=1.6, prev_min=0.5, env_shift=0.0, retime_cpu=None
    )
    assert confirmed is True and suspect is None


def test_cpu_sentinel_constants_sane():
    assert bench.CPU_SENTINEL_ROWS > 0
    assert bench.CPU_SENTINEL_REF_SEC > 0
    assert bench.CPU_SENTINEL_DEGRADED_FACTOR > 1.0


# ------------------------------------------------------------- scratch_dir


def test_scratch_dir_env_override_wins(monkeypatch):
    from bigdata_assigment3_spark import session

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", "/tmp/bd3_test_scratch")
    assert session.scratch_dir() == "/tmp/bd3_test_scratch"


def test_scratch_dir_rejects_small_tmpfs(monkeypatch):
    """A 64 MB /dev/shm (the Docker default) must NOT be chosen for
    spark.local.dir — shuffle spill through it ENOSPCs or converts
    spill into memory pressure (round-14 advice, medium)."""
    from bigdata_assigment3_spark import session

    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)

    class TinyVfs:
        f_bavail = 16384  # 64 MB in 4k blocks
        f_frsize = 4096

    real_statvfs = os.statvfs
    monkeypatch.setattr(
        session.os,
        "statvfs",
        lambda p: TinyVfs() if p == "/dev/shm" else real_statvfs(p),
    )
    got = session.scratch_dir()
    assert not got.startswith("/dev/shm"), got


def test_scratch_dir_accepts_roomy_tmpfs(monkeypatch):
    from bigdata_assigment3_spark import session

    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    if not (os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)):
        pytest.skip("no writable /dev/shm on this box")

    class BigVfs:
        f_bavail = 2**25  # 128 GB in 4k blocks
        f_frsize = 4096

    real_statvfs = os.statvfs
    monkeypatch.setattr(
        session.os,
        "statvfs",
        lambda p: BigVfs() if p == "/dev/shm" else real_statvfs(p),
    )
    assert session.scratch_dir().startswith("/dev/shm")


# ------------------------------------------------------------ --floors CLI


@pytest.mark.parametrize(
    "args",
    [
        pytest.param(["--floors", "fixture_dir"], id="no-query"),
        pytest.param(["--floors"], id="no-dir"),
        pytest.param(["--floors", "fixture_dir", "region_revenue", "no_such_query"], id="unknown"),
    ],
)
def test_floors_without_valid_queries_is_a_usage_error(args):
    """A floors pass with nothing (or something unknown) to time must
    fail up front, not print an empty or partial floors record."""
    proc = subprocess.run(
        [sys.executable, str(REPO / "bench.py"), *args],
        capture_output=True, text=True, timeout=120, cwd=REPO,
    )
    assert proc.returncode != 0
    assert "usage: bench.py --floors DIR QUERY" in proc.stderr
    assert "floors_wall_seconds" not in proc.stdout and proc.stdout.strip() == ""

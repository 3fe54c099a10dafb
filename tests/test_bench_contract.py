"""Contracts for the bench harness itself: the compact stdout line, the
``--floors`` CLI (usage errors and one end-to-end pass) and the scratch
dir that staging and spill go to.
"""

from __future__ import annotations

import importlib.util
import json
import os
import pathlib
import subprocess
import sys

import pytest
from conftest import SF_SMOKE

REPO = pathlib.Path(__file__).resolve().parent.parent


def _load_bench():
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


bench = _load_bench()


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
        pytest.param(["--help"], id="help"),
        pytest.param(["--no-such-flag", "fixture_dir", "region_revenue"], id="unknown-flag"),
    ],
)
def test_floors_without_valid_queries_is_a_usage_error(args, capsys):
    """An invocation that is neither the headline run (no argument) nor
    a floors pass with registered queries must fail up front with the
    usage lines: never start a run, print a record or rewrite
    BENCH_LOCAL.json.  Checked in-process, so a regression cannot
    launch a benchmark."""
    with pytest.raises(SystemExit) as exc:
        bench.parse_args(args)
    assert exc.value.code not in (0, None)
    assert str(exc.value.code).startswith(bench.USAGE)
    assert capsys.readouterr().out == ""


def test_no_argument_is_the_headline_run():
    assert bench.parse_args([]) is None


def test_floors_pass_end_to_end():
    """One real floors pass: the shared timing helper and the steal
    reader run, and the line carries exactly the floors record."""
    proc = subprocess.run(
        [sys.executable, str(REPO / "bench.py"), "--floors", SF_SMOKE, "region_revenue"],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    assert len(lines) == 1
    rec = json.loads(lines[0])
    assert set(rec) == {
        "metric", "dir", "unit", "n_runs", "value_min", "queries_min",
        "queries_times", "host_steal_frac",
    }
    assert list(rec["queries_min"]) == ["region_revenue"]
    assert len(rec["queries_times"]["region_revenue"]) == rec["n_runs"]
    assert 0 <= rec["host_steal_frac"] <= 1


# ------------------------------------------------------------ compact line


def test_compact_line_fits_and_ranks_slowest_first():
    """93 queries with long names still give one parseable line under the
    driver's 1500-byte budget, slowest queries first."""
    long_name = "a_rather_long_headline_query_name_" * 2
    queries = {f"{long_name}{i:03d}": round(0.1 + (i * 37 % 93) / 10, 3) for i in range(93)}
    record = {
        "metric": "headline_suite_wall_seconds", "value": round(sum(queries.values()), 3),
        "unit": "sec", "sf": 0.1, "n_runs": 3, "value_min": 1.0, "spread_sec": 0.5,
        "shared_setup_sec": 2.0, "host_steal_frac": 0.01, "queries": queries,
        "queries_min": queries, "queries_split": {q: {"jobs": 1} for q in queries},
    }
    line = bench.compact_line(record)
    assert len(line.encode()) < 1500
    out = json.loads(line)
    assert set(out) == {
        "metric", "value", "unit", "sf", "n_queries", "n_runs", "value_min",
        "spread_sec", "shared_setup_sec", "host_steal_frac", "queries", "full_results",
    }
    assert out["n_queries"] == 93
    ranked = sorted(queries, key=queries.get, reverse=True)
    assert out["queries"] and list(out["queries"]) == ranked[: len(out["queries"])]
    assert out["queries"] == {q: queries[q] for q in out["queries"]}

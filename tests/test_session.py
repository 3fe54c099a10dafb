"""What ``session.py`` shares between queries: the
per-session memo behind every index-like intermediate (and its hit/miss
counts), the private session clone behind every query that needs
another conf, and the staging dirs behind every query that writes files
to read back."""

from __future__ import annotations

import os
import re
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import pytest

from bigdata_assigment3_spark import session
from bigdata_assigment3_spark.session import (
    isolated,
    session_memo,
    stage_dir,
    staged_fixture,
)

SET_KEY = "spark.sql.shuffle.partitions"  # always set on the test session
UNSET_KEY = "bd3.test.isolated_probe"  # never set outside these tests


def _fake_spark(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def memo(monkeypatch):
    """An empty memo for the test, so fake sessions never evict (or see)
    the real session's entries."""
    store: dict = {}
    monkeypatch.setattr(session, "_MEMO", store)
    return store


CALLS: list = []


@session_memo
def _build_a(spark, sf_dir):
    app = spark.sparkContext.applicationId
    CALLS.append(("a", app, sf_dir))
    return object()


@session_memo
def _build_b(spark, sf_dir):
    app = spark.sparkContext.applicationId
    CALLS.append(("b", app, sf_dir))
    return object()


def test_memo_builds_once_per_session_builder_and_sf_dir(memo):
    CALLS.clear()
    spark = _fake_spark("app-1")
    x1, x2 = _build_a(spark, "sf1"), _build_a(spark, "sf2")
    assert _build_a(spark, "sf1") is x1 and _build_a(spark, "sf2") is x2
    assert x1 is not x2
    # a second builder keys apart from the first on the same sf_dir
    y1 = _build_b(spark, "sf1")
    assert y1 is not x1 and _build_b(spark, "sf1") is y1
    assert CALLS == [("a", "app-1", "sf1"), ("a", "app-1", "sf2"), ("b", "app-1", "sf1")]
    assert sorted(memo) == [
        ("app-1", f"{__name__}._build_a", "sf1"),
        ("app-1", f"{__name__}._build_a", "sf2"),
        ("app-1", f"{__name__}._build_b", "sf1"),
    ]


@session_memo
def _build_c(spark, path, identity):
    CALLS.append(("c", path, identity))
    return object()


def test_memo_keys_on_every_argument(memo):
    CALLS.clear()
    spark = _fake_spark("app-1")
    x = _build_c(spark, "p", (1, 2))
    assert _build_c(spark, "p", (1, 2)) is x
    y, z = _build_c(spark, "p", (1, 3)), _build_c(spark, "q", (1, 2))
    assert len({id(x), id(y), id(z)}) == 3
    assert _build_c(spark, "p", (1, 3)) is y and _build_c(spark, "q", (1, 2)) is z
    assert CALLS == [("c", "p", (1, 2)), ("c", "p", (1, 3)), ("c", "q", (1, 2))]
    assert sorted(memo) == [
        ("app-1", f"{__name__}._build_c", "p", (1, 2)),
        ("app-1", f"{__name__}._build_c", "p", (1, 3)),
        ("app-1", f"{__name__}._build_c", "q", (1, 2)),
    ]


def test_memo_counts_hits_and_misses_per_builder(memo, monkeypatch):
    monkeypatch.setattr(session, "_MEMO_STATS", {})
    spark = _fake_spark("app-1")
    for sf_dir in ("sf1", "sf1", "sf2"):
        _build_a(spark, sf_dir)
    _build_c(spark, "p", ())
    stats = session.memo_stats()
    assert stats == {
        f"{__name__}._build_a": {"hits": 1, "misses": 2},
        f"{__name__}._build_c": {"hits": 0, "misses": 1},
    }
    # a copy: the caller cannot change the counts
    stats[f"{__name__}._build_a"]["hits"] = 99
    assert session.memo_stats()[f"{__name__}._build_a"]["hits"] == 1


def test_memo_counts_survive_concurrent_callers(memo, monkeypatch):
    """Query builders call memoized builders from thread pools; the
    counts are read-modify-write, so a lost update would show here."""
    monkeypatch.setattr(session, "_MEMO_STATS", {})
    spark, n_threads, n_calls = _fake_spark("app-1"), 16, 2000

    def hammer():
        for j in range(n_calls):
            _build_c(spark, "p", j % 4)

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hammer) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    counts = session.memo_stats()[f"{__name__}._build_c"]
    assert counts["hits"] + counts["misses"] == n_threads * n_calls
    assert counts["misses"] >= 4


def test_memo_new_session_rebuilds_and_drops_dead_keys(memo):
    CALLS.clear()
    old = _build_a(_fake_spark("app-1"), "sf1")
    _build_a(_fake_spark("app-1"), "sf2")
    _build_b(_fake_spark("app-1"), "sf1")
    new = _build_a(_fake_spark("app-2"), "sf1")
    assert new is not old
    assert CALLS[-1] == ("a", "app-2", "sf1") and len(CALLS) == 4
    assert list(memo) == [("app-2", f"{__name__}._build_a", "sf1")]


def test_memoized_query_keeps_its_doc():
    from bigdata_assigment3_spark.registry import REGISTRY, _load_all

    _load_all()
    for name in ("dedup_minhash_lsh", "dedup_canonical_docs"):
        spec = REGISTRY[name]
        assert spec.fn.__name__ == f"q_{name}"
        assert spec.doc and spec.doc == spec.fn.__wrapped__.__doc__


def _snapshot(spark):
    return spark.conf.get(SET_KEY), spark.conf.get(UNSET_KEY, None)


def test_isolated_never_writes_the_caller_conf(spark):
    before = _snapshot(spark)
    assert before[1] is None
    clone = isolated(spark, {SET_KEY: "3", UNSET_KEY: "x"})
    assert _snapshot(clone) == ("3", "x")
    assert _snapshot(spark) == before
    assert spark.conf.get(session._ISOLATED_KEY, None) is None


def test_isolated_conf_survives_hardening(spark):
    """``load_table`` hardens the session it reads with; a clone's own
    value of a hardened key (AQE, for pagerank) must survive it."""
    from bigdata_assigment3_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    aqe = "spark.sql.adaptive.enabled"
    clone = isolated(spark, {aqe: "false"})
    load_table(clone, SF_SMOKE, "region")
    assert clone.conf.get(aqe) == "false"
    assert isolated(clone, {}).conf.get(aqe) == "false"
    assert spark.conf.get(aqe) == "true"


def test_isolated_inherits_runtime_conf_and_temp_views(spark):
    spark.conf.set(UNSET_KEY, "caller")
    spark.range(3).createOrReplaceTempView("isolated_probe_view")
    try:
        clone = isolated(spark, {SET_KEY: "3"})
    finally:
        spark.conf.unset(UNSET_KEY)
    assert _snapshot(clone) == ("3", "caller")
    assert clone.table("isolated_probe_view").count() == 3
    assert clone.sparkContext is spark.sparkContext


def test_nested_isolated_sessions_see_their_own_conf(spark):
    before = _snapshot(spark)
    outer = isolated(spark, {SET_KEY: "3"})
    inner = isolated(outer, {UNSET_KEY: "x"})
    assert _snapshot(inner) == ("3", "x")
    assert _snapshot(outer) == ("3", None)
    assert _snapshot(spark) == before


def test_concurrent_isolated_sessions_see_their_own_conf(spark):
    before = _snapshot(spark)
    n_threads = 2 * (os.cpu_count() or 4)
    barrier = threading.Barrier(n_threads)

    def run(i: int):
        clone = isolated(spark, {SET_KEY: str(i + 2), UNSET_KEY: f"t{i}"})
        barrier.wait(60)
        # each thread plans while every other clone exists
        plan = clone.range(100).repartition("id")._jdf.queryExecution().sparkPlan()
        n = re.search(r"hashpartitioning\(\S+, (\d+)\)", plan.toString())[1]
        return _snapshot(clone), int(n)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(n_threads) as pool:
            got = list(pool.map(run, range(n_threads), timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert got == [((str(i + 2), f"t{i}"), i + 2) for i in range(n_threads)]
    assert _snapshot(spark) == before


@pytest.fixture
def scratch(monkeypatch, tmp_path):
    """``scratch_dir()`` pointed at a fresh dir for the test."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    return str(tmp_path)


def test_stage_dir_is_fresh_and_session_scoped(scratch):
    path = stage_dir(_fake_spark("app-1"), "sink", "/data/sf0.01")
    assert not os.path.exists(path)
    assert os.path.dirname(path) == scratch
    assert os.path.basename(path).startswith("bd3_sink_sf0_01_")
    assert path.endswith("_app-1")
    assert stage_dir(_fake_spark("app-2"), "sink", "/data/sf0.01") != path
    assert stage_dir(_fake_spark("app-1"), "sink") == os.path.join(
        scratch, "bd3_sink_app-1"
    )


def test_stage_dir_keeps_same_basename_sf_dirs_apart(scratch):
    spark = _fake_spark("app-1")
    a = stage_dir(spark, "sink", "/a/sf0.01")
    b = stage_dir(spark, "sink", "/b/sf0.01")
    assert a != b
    assert stage_dir(spark, "sink", "/a/./sf0.01/") == a


def test_stage_dir_second_call_empties_the_first(scratch):
    spark = _fake_spark("app-1")
    path = stage_dir(spark, "sink", "/a/sf0.01")
    os.makedirs(os.path.join(path, "part"))
    open(os.path.join(path, "part", "f.parquet"), "w").close()
    assert stage_dir(spark, "sink", "/a/sf0.01") == path
    assert not os.path.exists(path)


def test_staged_fixture_writes_once_per_session_tag_and_sf_dir(scratch):
    calls = []

    def write(stage):
        calls.append(stage)
        open(os.path.join(stage, "f.bin"), "w").close()

    s1, s2 = _fake_spark("app-1"), _fake_spark("app-2")
    first = staged_fixture(s1, "fx", write, "/a/sf0.01")
    for _ in range(2):
        assert staged_fixture(s1, "fx", write, "/a/sf0.01") == first
    others = [
        staged_fixture(s1, "fx", write, "/b/sf0.01"),
        staged_fixture(s1, "fx", write),
        staged_fixture(s1, "fy", write, "/a/sf0.01"),
        staged_fixture(s2, "fx", write, "/a/sf0.01"),
    ]
    assert calls == [first, *others]
    assert len(set(calls)) == 5
    assert all(os.path.exists(os.path.join(c, "f.bin")) for c in calls)


def test_staged_fixture_rewrites_after_a_failed_write(scratch):
    spark = _fake_spark("app-1")

    def crash(stage):
        open(os.path.join(stage, "partial.bin"), "w").close()
        raise OSError("disk full")

    with pytest.raises(OSError, match="disk full"):
        staged_fixture(spark, "fx", crash)
    path = os.path.join(scratch, "bd3_fx_app-1")
    assert os.listdir(path) == ["partial.bin"]  # no _DONE marker
    calls = []

    def write(stage):
        calls.append(sorted(os.listdir(stage)))
        open(os.path.join(stage, "f.bin"), "w").close()

    assert staged_fixture(spark, "fx", write) == path
    assert calls == [[]]  # rewritten into an emptied dir, not reused
    assert sorted(os.listdir(path)) == ["_DONE", "f.bin"]


def test_sink_roundtrip_results_of_two_same_basename_sf_dirs_coexist(
    spark, tmp_path
):
    """A lazy ``parquet_sink_roundtrip`` result must still read after
    the same query ran on another data dir with the same basename: the
    two calls stage into different dirs, so the second cannot empty the
    first's files."""
    import duckdb

    from bigdata_assigment3_spark.registry import REGISTRY, _load_all
    from bigdata_assigment3_spark.sources import load_table
    from tests.conftest import SF_ORACLE
    from tests.oracle_utils import compare

    _load_all()
    spec = REGISTRY["parquet_sink_roundtrip"]
    events = load_table(spark, SF_ORACLE, "events")
    a, b = str(tmp_path / "a" / "sf0.01"), str(tmp_path / "b" / "sf0.01")
    events.filter("event_id % 2 = 0").write.parquet(f"{a}/events.parquet")
    events.filter("event_id % 2 = 1").write.parquet(f"{b}/events.parquet")

    held = spec.fn(spark, a)
    spec.fn(spark, b).collect()
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{a}/events.parquet/*.parquet')"
        )
        assert compare(held, con.sql(spec.oracle), spec.name) == []
    finally:
        con.close()

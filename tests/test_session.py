"""The two pieces of session-global state in ``session.py``: the
per-session memo behind every index-like intermediate (and its hit/miss
counts), and the conf pin behind every scoped conf override."""

from __future__ import annotations

import sys
import threading
from types import SimpleNamespace

import pytest

from bigdata_assigment3_spark import session
from bigdata_assigment3_spark.session import conf_pin, session_memo

SET_KEY = "spark.sql.shuffle.partitions"  # always set on the test session
UNSET_KEY = "bd3.test.conf_pin_probe"  # never set outside these tests


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


def test_conf_pin_restores_set_and_unset_keys(spark):
    before = _snapshot(spark)
    assert before[1] is None
    with conf_pin(spark, {SET_KEY: "3", UNSET_KEY: "x"}):
        assert _snapshot(spark) == ("3", "x")
    assert _snapshot(spark) == before
    with pytest.raises(ValueError, match="boom"):
        with conf_pin(spark, {SET_KEY: "3", UNSET_KEY: "x"}):
            assert _snapshot(spark) == ("3", "x")
            raise ValueError("boom")
    assert _snapshot(spark) == before


def test_nested_conf_pin_raises(spark):
    before = _snapshot(spark)
    with conf_pin(spark, {SET_KEY: "3"}):
        with pytest.raises(RuntimeError, match="overlaps an active pin"):
            with conf_pin(spark, {UNSET_KEY: "x"}):
                pass
        assert _snapshot(spark) == ("3", None)
    assert _snapshot(spark) == before
    # the failed pin did not leave the lock held
    with conf_pin(spark, {UNSET_KEY: "x"}):
        pass
    assert _snapshot(spark) == before


def test_conf_pin_from_second_thread_raises(spark):
    before = _snapshot(spark)
    entered, release = threading.Event(), threading.Event()

    def hold():
        with conf_pin(spark, {SET_KEY: "3"}):
            entered.set()
            release.wait(60)

    holder = threading.Thread(target=hold)
    holder.start()
    try:
        assert entered.wait(60)
        with pytest.raises(RuntimeError, match="overlaps an active pin"):
            with conf_pin(spark, {UNSET_KEY: "x"}):
                pass
        assert _snapshot(spark) == ("3", None)
    finally:
        release.set()
        holder.join()
    assert _snapshot(spark) == before

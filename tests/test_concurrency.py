"""Concurrent callers on one session: the queries that need a conf other
than their caller's (pagerank's AQE-off checkpoints, keyspace-sized
stream state, the runtime bloom-filter gates, SQL scripting, the
RocksDB state store) and stream queries that drain into a memory sink
in the caller's own session run 2-4 at a time from threads on the
shared test session.  Each answer must match its oracle, and the
caller's conf must be what it was before.  Every memory sink is named
per call, and no sink's temp view outlives the call that drained it.

Stream queries that stage files are left out: calls that share a
session and a data dir share one staging dir, which every call empties.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import pytest

from bigdata_assigment3_spark.registry import REGISTRY, _load_all
from bigdata_assigment3_spark.streaming.queries import _tws_available
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_utils import compare

_load_all()

GROUPS = [
    ("pagerank", "pagerank"),
    ("stream_type_totals", "pagerank"),
    ("stream_type_totals", "stream_type_totals", "stream_sliding_window"),
    ("runtime_bloom_filter_join", "sql_scripting_query", "stream_sliding_window", "pagerank"),
    ("runtime_bloom_filter_join", "runtime_bloom_filter_join", "sql_scripting_query"),
    ("stream_window_counts", "stream_window_counts"),
    ("stream_window_counts", "stream_session_window", "stream_stream_join"),
]
if _tws_available():
    GROUPS.append(("stream_transform_with_state", "stream_type_totals", "pagerank"))


def _answer(spark, name):
    """``name``'s result, computed and fetched on the calling thread."""
    return REGISTRY[name].fn(spark, SF_ORACLE).toPandas()


@pytest.mark.parametrize("group", GROUPS, ids="+".join)
def test_concurrent_callers_match_oracle(spark, duck, group):
    before = dict(spark.conf.getAll)
    with ThreadPoolExecutor(len(group)) as pool:
        futures = [pool.submit(_answer, spark, name) for name in group]
        answers = [f.result(timeout=900) for f in futures]
    problems = []
    for name, pdf in zip(group, answers):
        assert len(pdf), f"{name}: 0 rows at oracle SF"
        got = SimpleNamespace(toPandas=lambda pdf=pdf: pdf)
        problems += compare(got, duck.sql(REGISTRY[name].oracle), name)
    assert not problems, "\n".join(problems)
    assert dict(spark.conf.getAll) == before


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.parametrize(
    "name",
    # one per drain: caller session, private clone, a stopped and
    # restarted pair, a default trigger stopped after processAllAvailable
    ["stream_window_counts", "stream_type_totals", "stream_restart_recovery",
     "custom_stream_scan"],
)
def test_no_sink_view_outlives_its_call(spark, name):
    # a fresh session of its own: other tests leave views in the shared one
    caller = spark.newSession()
    assert len(REGISTRY[name].fn(caller, SF_SMOKE).collect())
    assert not {v for v in _temp_views(caller) if "_sink" in v}


def test_caller_session_drain_reports_progress_to_callers_listener(spark):
    """A stream drained in the caller's session reports its progress to
    a StreamingQueryListener the caller added (a stream drained in a
    private clone would not)."""
    from pyspark.sql.streaming import StreamingQueryListener

    seen = []

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            seen.append(event.progress.name)

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    try:
        REGISTRY["stream_window_counts"].fn(spark, SF_SMOKE).collect()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert any(n.startswith("stream_window_counts_sink_") for n in seen), seen

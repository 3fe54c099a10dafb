"""Concurrent callers on one session: the queries that need a conf other
than their caller's (pagerank's AQE-off checkpoints, keyspace-sized
stream state, the runtime bloom-filter gates, SQL scripting, the
RocksDB state store) run 2-4 at a time from threads on the shared test
session.  Each answer must match its oracle, and the caller's conf must
be what it was before.

Stream queries that stage files are left out: calls that share a
session and a data dir share one staging dir, which every call empties.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import pytest

from bigdata_assigment3_spark.registry import REGISTRY, _load_all
from bigdata_assigment3_spark.streaming.queries import _tws_available
from tests.conftest import SF_ORACLE
from tests.oracle_utils import compare

_load_all()

GROUPS = [
    ("pagerank", "pagerank"),
    ("stream_type_totals", "pagerank"),
    ("stream_type_totals", "stream_type_totals", "stream_sliding_window"),
    ("runtime_bloom_filter_join", "sql_scripting_query", "stream_sliding_window", "pagerank"),
    ("runtime_bloom_filter_join", "runtime_bloom_filter_join", "sql_scripting_query"),
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

"""The per-session parquet schema memo behind ``load_table``.

``load_table`` memoizes each table's inferred schema per (session, path,
file identity) and reads with it, so only the first load of a table
runs the footer-inference job.  These tests pin that contract: no job
on a repeat load, the same schema and plan as a plain read, a rewritten
file re-inferred, and a fresh relation (fresh attribute ids) per call.
"""

from __future__ import annotations

import re
import shutil
import uuid

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata_assigment3_spark.session import memo_stats
from bigdata_assigment3_spark.sources import TABLES, load_table, normalize_events_ts

from tests.conftest import SF_ORACLE
from tests.test_schema_drift import _INSTANTS_US, _write_events

SCHEMA_BUILDER = "bigdata_assigment3_spark.sources.tables._parquet_schema"


def _jobs_started(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` starts on this thread, read from
    ``sc.statusTracker()`` under a job group of its own."""
    sc = spark.sparkContext
    group = f"test-sources-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "load_table job probe")
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # the status tracker is fed by the listener bus; drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df) -> str:
    return re.sub(r"#\d+L?", "#N", df._jdf.queryExecution().optimizedPlan().toString())


def _expr_ids(df) -> set[int]:
    out = df._jdf.queryExecution().analyzed().output()
    return {out.apply(i).exprId().id() for i in range(out.size())}


@pytest.mark.parametrize("name", TABLES)
def test_second_load_starts_no_jobs(spark, name):
    load_table(spark, SF_ORACLE, name)
    assert _jobs_started(spark, lambda: load_table(spark, SF_ORACLE, name)) == []


def test_first_load_of_a_new_file_infers_once(spark, tmp_path):
    """The job probe does see the footer job: a file no session has
    read yet starts it on the first load only."""
    shutil.copy(f"{SF_ORACLE}/nation.parquet", tmp_path / "nation.parquet")
    assert len(_jobs_started(spark, lambda: load_table(spark, str(tmp_path), "nation"))) >= 1
    assert _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "nation")) == []


def test_second_load_counts_one_memo_hit(spark):
    load_table(spark, SF_ORACLE, "orders")
    before = memo_stats()[SCHEMA_BUILDER]
    load_table(spark, SF_ORACLE, "orders")
    after = memo_stats()[SCHEMA_BUILDER]
    assert after == {"hits": before["hits"] + 1, "misses": before["misses"]}


@pytest.mark.parametrize("name", TABLES)
def test_same_schema_and_plan_as_plain_read(spark, name):
    got = load_table(spark, SF_ORACLE, name)
    want = spark.read.parquet(f"{SF_ORACLE}/{name}.parquet")
    if name == "events":
        want = normalize_events_ts(want)
    assert got.schema == want.schema
    assert _plan(got) == _plan(want)


def test_rewritten_file_is_reinferred(spark, tmp_path):
    """One session, one path, three physical ``ts`` forms written in
    turn: a schema memo that ignored file identity would read the
    second and third forms with the first form's schema."""
    for ts_type in (pa.timestamp("ns"), pa.timestamp("us"), pa.timestamp("us", tz="UTC")):
        sf_dir = _write_events(str(tmp_path), ts_type)
        df = load_table(spark, sf_dir, "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType), (ts_type, df.dtypes)
        got = sorted(r.us for r in df.selectExpr("unix_micros(ts) AS us").collect())
        assert got == _INSTANTS_US, ts_type


def test_self_join_keeps_sides_apart(spark, duck):
    a = load_table(spark, SF_ORACLE, "nation")
    b = load_table(spark, SF_ORACLE, "nation")
    assert not _expr_ids(a) & _expr_ids(b)
    n = a.join(b, a["n_regionkey"] == b["n_regionkey"]).select(F.lit(1)).count()
    want = duck.execute(
        "SELECT count(*) FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey"
    ).fetchone()[0]
    assert n == want

"""t2 mirror: every oracle-declared query must match DuckDB exactly at
the oracle scale factor (driver uses sf0.01)."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

from bigdata_assigment3_spark.registry import REGISTRY, _load_all
from tests.conftest import SF_ORACLE
from tests.oracle_utils import compare

REPO = Path(__file__).resolve().parent.parent

_load_all()
ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is None)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(spark, duck, name):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, SF_ORACLE)
    problems = compare(sdf, duck.sql(spec.oracle), name)
    assert not problems, "\n".join(problems)
    # an empty result matches an empty oracle trivially — require rows
    # so a dead predicate can't silently pass the gate
    assert sdf.limit(1).count() == 1, f"{name}: 0 rows at oracle SF"


def test_no_rows_only_queries():
    """Round 12 closed the last oracle gaps (EM loops, deterministic
    k-means/LSH/IVF/PQ): every registered query must carry a DuckDB
    value oracle — a regression here means a new query shipped without
    one, which the driver would record as a weaker rows-only check."""
    assert ROWS_ONLY_QUERIES == [], ROWS_ONLY_QUERIES


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_contract_alignment():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) == len(REGISTRY)


# sha256 of "\n".join(queries()).  After PRIORITY the order is
# registration order, which follows the import order in
# registry._load_all: reordering those imports, or adding, renaming or
# moving a query, changes it.  Such a change re-pins this value and
# names the new order in CHANGES.md.
CONTRACT_ORDER_SHA256 = "ab97ee7b75dd31bd9a132b0242a2d2620cc3971efc509809525971f2998b6648"

_ORDER = textwrap.dedent(
    """
    import importlib.util, json, sys

    spec = importlib.util.spec_from_file_location("__spark_entry__", sys.argv[1])
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    from bigdata_assigment3_spark.registry import PRIORITY

    print(json.dumps([list(entry.queries()), list(entry.oracle_sql()), list(PRIORITY)]))
    """
)


def test_contract_order_pinned(tmp_path):
    """The order of queries() is part of the driver contract: its first
    50 names are PRIORITY (the driver's window), oracle_sql() keys
    follow the same order, and the whole order is pinned.  It is read
    the way the driver reads it, from a fresh process that loads
    ``__spark_entry__.py`` by path: in this process, test modules that
    import an operator module before the registry loads register its
    queries first."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _ORDER, str(REPO / "__spark_entry__.py")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    names, oracles, priority = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len(names) == 299
    assert names[:50] == priority
    assert oracles == [n for n in names if n in oracles]
    assert hashlib.sha256("\n".join(names).encode()).hexdigest() == CONTRACT_ORDER_SHA256


def test_driver_window_fully_oracle_backed():
    """The driver's correctness gate samples the FIRST 50 entries of
    queries(); every one of them must carry a value oracle — a
    rows-only query drifting into the window silently weakens the
    gate."""
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    window = list(qs)[:50]
    missing = [n for n in window if n not in os_]
    assert not missing, f"rows-only queries inside the driver window: {missing}"

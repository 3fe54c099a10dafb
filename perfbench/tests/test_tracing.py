"""Unit tests for the traced run's parsing of Spark's plan and metric text."""

from __future__ import annotations

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tracing import MB, Tracer, parse_metric  # noqa: E402
from worker import python_nodes  # noqa: E402


def test_parse_metric_reads_single_values():
    assert parse_metric("776 ms") == pytest.approx(0.776)
    assert parse_metric("1.3 s") == pytest.approx(1.3)
    assert parse_metric("2.0 m") == pytest.approx(120.0)
    assert parse_metric("119.8 KiB") == pytest.approx(119.8 / 1024)
    assert parse_metric("1040.0 B") == pytest.approx(1040 / MB)


def test_parse_metric_reads_the_total_of_the_summary_form():
    text = "total (min, med, max (stageId: taskId))\n2.5 s (0.5 s, 1.0 s, 1.0 s (stage 3.0: task 7))"
    assert parse_metric(text) == pytest.approx(2.5)


def test_python_nodes_counts_only_nodes_that_run_python():
    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=false",
        "+- ArrowAggregatePython [k#1], [mad(v#2)]",
        "   +- Sort [k#1 ASC NULLS FIRST], false, 0",
        "      +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS",
        "         :- MapInArrow norm(x#3), [x#4]",
        "         :  +- FileScan parquet [x#3] PythonUDF-looking text",
        "         +- Project [k#1, v#2]",
    ])
    assert python_nodes(plan) == 2


def test_tracer_keeps_every_span_begun_from_many_threads():
    tracer = Tracer()
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with tracer.span("operators.build") as build:
            def readers():
                for _ in range(200):
                    tracer.end(tracer.begin("sources.reader"))

            threads = [threading.Thread(target=readers) for _ in range(16)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=30)
            assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    ids = [s["id"] for s in tracer.spans]
    assert ids == list(range(len(ids))) and len(ids) == 1 + 16 * 200
    kids = tracer.children(build)
    assert len(kids) == 16 * 200 and all(s["end"] >= s["start"] for s in kids)

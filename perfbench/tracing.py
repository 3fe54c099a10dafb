"""Spans and Spark-side counters for the traced run.

Spans are recorded from the benchmark's side of each layer boundary: around
the query-function call (``operators.build``), around every
``DataFrameReader.parquet`` call that ``sources.load_table`` makes
(``sources.reader``), around forcing the physical plan (``plans.plan``) and
around the noop-sink write (``exec``).  Counters come from Spark's own
stores: jobs and stages by job-id range from the status store, the Python
exec nodes' SQL metrics from the SQL status store, micro-batch progress
from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import re
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrameReader
from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024


class Tracer:
    """Spans kept in memory: name, start, end, parent index, execution id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.exec_id = ""
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def begin(self, name: str) -> int:
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            self.spans.append({
                "id": len(self.spans), "exec": self.exec_id, "name": name,
                "parent": parent, "start": time.perf_counter(), "end": None,
            })
            return len(self.spans) - 1

    def end(self, idx: int) -> dict:
        span = self.spans[idx]
        span["end"] = time.perf_counter()
        return span

    @contextmanager
    def span(self, name: str):
        """A span that encloses every span begun while it is open."""
        idx = self.begin(name)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.end(idx)

    def children(self, idx: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == idx]


def trace_readers(tracer: Tracer):
    """Wrap ``DataFrameReader.parquet`` so each call is a ``sources.reader``
    span under whatever span is open; returns the undo function."""
    orig = DataFrameReader.parquet

    def parquet(self, *paths, **options):
        idx = tracer.begin("sources.reader")
        try:
            return orig(self, *paths, **options)
        finally:
            tracer.end(idx)

    DataFrameReader.parquet = parquet

    def undo() -> None:
        DataFrameReader.parquet = orig

    return undo


class StreamCounters(StreamingQueryListener):
    """Sums micro-batch progress into ``self.totals`` (reset per query)."""

    FIELDS = (
        "batches", "trigger_s", "add_batch_s", "wal_commit_s",
        "state_commit_s", "state_rows", "state_partitions",
    )

    def __init__(self) -> None:
        self.totals = dict.fromkeys(self.FIELDS, 0.0)
        self._lock = threading.Lock()

    def take(self) -> dict:
        with self._lock:
            out, self.totals = self.totals, dict.fromkeys(self.FIELDS, 0.0)
        return out

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs or {}
        ops = p.stateOperators or []
        with self._lock:
            t = self.totals
            t["batches"] += 1
            t["trigger_s"] += d.get("triggerExecution", 0) / 1000
            t["add_batch_s"] += d.get("addBatch", 0) / 1000
            t["wal_commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000
            t["state_commit_s"] += sum(o.commitTimeMs for o in ops) / 1000
            t["state_rows"] += sum(o.numRowsTotal for o in ops)
            t["state_partitions"] += sum(o.numShufflePartitions for o in ops)


_PY_METRICS = {
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_total_s",
    "data sent to Python workers": "py_sent_mb",
    "data returned from Python workers": "py_recv_mb",
}
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1 / MB, "KiB": 1 / 1024, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0 ** 2,
}
_VALUE = re.compile(r"([0-9][0-9.,]*)\s*(ns|ms|min|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric ('1.3 s', '119.8 KiB', or the
    'total (min, med, max ...)' form whose last line starts with the total),
    in seconds or MiB."""
    m = _VALUE.search(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class SparkCounters:
    """Reads Spark's status stores for job-id ranges and SQL executions."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._stage_args = [getattr(self.store, f"stageData$default${i}")() for i in (2, 3, 4, 5)]
        self._sql_seen = self._last_execution()

    def next_job_id(self) -> int:
        return self.sc.dagScheduler().nextJobId()

    def flush(self) -> None:
        """Wait until every listener, the status store's and the streaming
        one's, has seen every event posted so far."""
        self.sc.listenerBus().waitUntilEmpty()

    def _last_execution(self) -> int:
        el = self.sql_store.executionsList()
        return max((el.apply(i).executionId() for i in range(el.size())), default=-1)

    @staticmethod
    def _ms(opt) -> float | None:
        return opt.get().getTime() / 1000 if opt.isDefined() else None

    def jobs(self, lo: int, hi: int) -> dict:
        """Counts and task metrics of jobs with id in [lo, hi); job ids come
        from the scheduler's counter, so the status store's retention limit
        cannot make a count negative."""
        out = {
            "jobs": hi - lo, "stages": 0, "tasks": 0, "task_s": 0.0, "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "input_mb": 0.0, "input_rows": 0, "gc_s": 0.0,
        }
        intervals, stage_ids = [], set()
        for jid in range(lo, hi):
            try:
                jd = self.store.job(jid)
            except Py4JJavaError:  # no longer in the store
                continue
            sub, comp = self._ms(jd.submissionTime()), self._ms(jd.completionTime())
            if sub is not None and comp is not None:
                intervals.append((sub, comp))
            sids = jd.stageIds()
            stage_ids.update(sids.apply(i) for i in range(sids.size()))
        for sid in stage_ids:
            sdl = self.store.stageData(sid, *self._stage_args)
            for i in range(sdl.size()):
                sd = sdl.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["task_s"] += sd.executorRunTime() / 1000
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
                out["input_mb"] += sd.inputBytes() / MB
                out["input_rows"] += sd.inputRecords()
                out["gc_s"] += sd.jvmGcTime() / 1000
        out["intervals"] = intervals
        return out

    def python_metrics(self) -> dict:
        """Python exec-node SQL metrics of the SQL executions since the last
        call, summed."""
        out = dict.fromkeys(_PY_METRICS.values(), 0.0)
        el = self.sql_store.executionsList()
        last = self._sql_seen
        for i in range(el.size()):
            e = el.apply(i)
            eid = e.executionId()
            if eid <= self._sql_seen:
                continue
            last = max(last, eid)
            values = self.sql_store.executionMetrics(eid)
            ms, seen = e.metrics(), set()
            for k in range(ms.size()):
                m = ms.apply(k)
                key = _PY_METRICS.get(m.name())
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[key] += parse_metric(v.get())
        self._sql_seen = last
        return out

    def cached_mb(self) -> float:
        infos = self.sc.getRDDStorageInfo()
        return sum((i.memSize() + i.diskSize()) / MB for i in infos)

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")

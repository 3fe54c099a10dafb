"""Custom Python DataSource (PySpark 4 DataSource API): a
deterministic synthetic transaction source with real partition
planning.

This exercises the S-category from the SOURCE side of the API: where
the other sources adapt files the driver hands us, this one IS a
source implementation — ``partitions()`` plans N independent splits
(the scan parallelizes without any input files), ``read(partition)``
generates rows per split, and the whole thing registers under a
format name like any built-in (``spark.read.format("synthtx")``).

Rows are pure integer arithmetic on the row id, so a DuckDB oracle
reproduces the exact relation from ``range()`` — the custom source is
value-checked end to end, not just smoke-tested.

At scale this pattern is how Spark ingests from systems without a
native connector (internal APIs, bespoke storage): one InputPartition
per remote shard, arrow-batched rows out.

Spark pickles the DataSource class to the Python workers; like every
kernel of this package it ships by value (see the package docstring).
"""

from __future__ import annotations

SYNTH_ROWS = 100_000
SYNTH_PARTS = 8

# Row derivation (shared text so the DuckDB oracle states the same math):
#   user_id = id % 97
#   kind    = ('a','b','c','d')[id % 4]
#   amount  = (id * 31) % 1000
SYNTH_SCHEMA = "tx_id BIGINT, user_id BIGINT, kind STRING, amount BIGINT"


def register_synthtx(spark) -> None:
    """Idempotent 'synthtx' format registration (re-register is harmless)."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    default_rows, default_parts, schema_str = SYNTH_ROWS, SYNTH_PARTS, SYNTH_SCHEMA

    class _RangePartition(InputPartition):
        def __init__(self, start: int, end: int):
            self.start = start
            self.end = end

    class SyntheticTxReader(DataSourceReader):
        def __init__(self, options):
            self.n_rows = int(options.get("rows", default_rows))
            self.n_parts = int(options.get("partitions", default_parts))

        def partitions(self):
            step = -(-self.n_rows // self.n_parts)  # ceil div
            return [
                _RangePartition(lo, min(lo + step, self.n_rows))
                for lo in range(0, self.n_rows, step)
            ]

        def read(self, partition):
            kinds = ("a", "b", "c", "d")
            for i in range(partition.start, partition.end):
                yield (i, i % 97, kinds[i % 4], (i * 31) % 1000)

    class SyntheticTxDataSource(DataSource):
        @classmethod
        def name(cls):
            return "synthtx"

        def schema(self):
            return schema_str

        def reader(self, schema):
            return SyntheticTxReader(self.options)

    spark.dataSource.register(SyntheticTxDataSource)


SYNTH_STREAM_BATCH = 25_000


def register_synthtx_stream(spark) -> None:
    """Idempotent 'synthtxstream' registration: the STREAMING side of
    the Python DataSource API (SimpleDataSourceStreamReader).  Same
    deterministic relation as 'synthtx', delivered as resumable
    micro-batches with JSON offsets ({"pos": n}) — the shape of a
    connector for an offset-addressable system without a native Spark
    source (an internal API with a cursor, a bespoke log).

    API contracts found the hard way (kept here so they aren't
    re-discovered): ``read`` must return a COPYABLE iterator
    (``iter(list)``) — the engine's prefetch cache copy.copy()s it, so
    a bare generator dies on pickling and a bare list on iteration;
    offsets must be plain JSON-able dicts."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    default_rows, default_batch = SYNTH_ROWS, SYNTH_STREAM_BATCH
    schema_str = SYNTH_SCHEMA

    class SyntheticTxStreamReader(SimpleDataSourceStreamReader):
        def __init__(self, options):
            self.n_rows = int(options.get("rows", default_rows))
            self.batch = int(options.get("batchRows", default_batch))

        def initialOffset(self):
            return {"pos": 0}

        def _rows(self, lo: int, hi: int):
            kinds = ("a", "b", "c", "d")
            return [(i, i % 97, kinds[i % 4], (i * 31) % 1000) for i in range(lo, hi)]

        def read(self, start):
            pos = start["pos"]
            end = min(pos + self.batch, self.n_rows)
            return (iter(self._rows(pos, end)), {"pos": end})

        def readBetweenOffsets(self, start, end):
            return iter(self._rows(start["pos"], end["pos"]))

    class SyntheticTxStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "synthtxstream"

        def schema(self):
            return schema_str

        def simpleStreamReader(self, schema):
            return SyntheticTxStreamReader(self.options)

    spark.dataSource.register(SyntheticTxStreamSource)


def register_synthtx_sink(spark) -> None:
    """Idempotent 'synthtxsink' registration: the WRITE side of the
    Python DataSource API — the two-phase commit protocol every
    exactly-once batch sink implements.  Each task writes its
    partition to a private part file and returns a WriterCommitMessage
    naming it; only the driver-side ``commit(messages)`` publishes the
    manifest listing exactly the acknowledged files.  A reader that
    honors the manifest never sees uncommitted/orphaned task output —
    task retries and speculative duplicates die silently, which is the
    entire point of the protocol (same contract as Hadoop
    FileOutputCommitter v2 / Delta's transaction log).

    ``abort(messages)`` removes any part files that did land, so a
    failed job leaves no partial manifest and no visible rows."""
    import dataclasses

    from pyspark.sql.datasource import DataSource, DataSourceWriter, WriterCommitMessage

    @dataclasses.dataclass
    class _Committed(WriterCommitMessage):
        file: str
        n_rows: int

    class SyntheticTxWriter(DataSourceWriter):
        def __init__(self, options):
            self.path = options["path"]

        def write(self, iterator):
            import json as _json
            import os
            from pyspark import TaskContext

            # attempt-unique file name: a retried or speculative
            # duplicate attempt writes its OWN file, and only the
            # attempt whose commit message the driver acknowledges is
            # published — concurrent attempts can never corrupt the
            # committed file
            ctx = TaskContext.get()
            pid, attempt = ctx.partitionId(), ctx.taskAttemptId()
            os.makedirs(self.path, exist_ok=True)
            fname = os.path.join(self.path, f"part-{pid:05d}-{attempt}.json")
            n = 0
            with open(fname, "w") as fh:
                for row in iterator:
                    fh.write(_json.dumps(row.asDict()) + "\n")
                    n += 1
            return _Committed(file=fname, n_rows=n)

        def commit(self, messages):
            import json as _json
            import os

            manifest = {
                "files": sorted(m.file for m in messages),
                "n_rows": sum(m.n_rows for m in messages),
            }
            os.makedirs(os.path.join(self.path, "_manifest"), exist_ok=True)
            with open(os.path.join(self.path, "_manifest", "manifest.json"), "w") as fh:
                fh.write(_json.dumps(manifest))

        def abort(self, messages):
            import os

            # failed tasks contribute None messages — skip them
            for m in messages:
                if m is not None and os.path.exists(m.file):
                    os.remove(m.file)

    class SyntheticTxSink(DataSource):
        @classmethod
        def name(cls):
            return "synthtxsink"

        def writer(self, schema, overwrite):
            return SyntheticTxWriter(self.options)

    spark.dataSource.register(SyntheticTxSink)

"""Staged-file round trips: the one decode kernel over a ``binaryFile``
frame and the one distributed shard writer.

Queries that export a table as files (codec containers, compressed
shards, volume artifacts) and read them back write only the per-file
parts: ``write_one`` turns one shard's rows into a file, ``decode_one``
turns one file back into rows.  Spark plumbing — the grouped writer
task, the Arrow batch loop over ``binaryFile`` rows, the output frame
built from the declared schema — lives here once.

Scale shape: the writer is one bounded task per shard (a shard must fit
one task, as a per-patient volume or a corpus shard does); the reader
splits by file, so one file is one unit of work and a 100 TB drop is
decoded in parallel without a driver-side listing loop.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator, Mapping, Sequence

import pandas as pd
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructType

# a file's rows: tuples in schema order, or equal-length columns by name
Decoded = Sequence[tuple] | Mapping[str, Sequence]


def staged_files(spark: SparkSession, stage: str, glob: str) -> DataFrame:
    """The batch ``binaryFile`` frame of the files in ``stage`` whose
    names match ``glob``."""
    return spark.read.format("binaryFile").option("pathGlobFilter", glob).load(stage)


def _frame(rows: Decoded, names: list[str]) -> pd.DataFrame:
    if isinstance(rows, Mapping):
        return pd.DataFrame({n: rows[n] for n in names})
    return pd.DataFrame(list(rows), columns=names)


def decode_files(
    files: DataFrame,
    decode_one: Callable[[str, bytes], Decoded],
    schema: str | StructType,
) -> DataFrame:
    """Decode each file of a batch or streaming ``binaryFile`` frame.

    ``decode_one(path, content)`` runs on the worker once per file and
    returns that file's rows, either as a list of tuples in ``schema``
    order or as a dict of equal-length columns keyed by the schema's
    field names.  A file may yield no rows.  The column names come from
    ``schema`` (a DDL string or a ``StructType``), so they are written
    once per query."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.names

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parts = [
                _frame(decode_one(path, bytes(blob)), names)
                for path, blob in zip(pdf["path"], pdf["content"])
            ]
            # an empty column has no dtype Arrow can convert to every
            # Spark type (DATE, ARRAY, ...), so empty files add no frame
            parts = [p for p in parts if len(p)]
            if parts:
                yield pd.concat(parts, ignore_index=True)

    return files.select("path", "content").mapInPandas(kernel, schema)


def write_shards(
    df: DataFrame,
    key: str,
    write_one: Callable[[int, pd.DataFrame], tuple[str, bytes]],
    stage: str,
) -> list[Row]:
    """Write ``df`` as one file per distinct integer ``key`` under
    ``stage``, one ``groupBy(key).applyInPandas`` task per shard.

    ``write_one(k, rows)`` gets shard ``k``'s rows as a pandas frame and
    returns ``(file_name, file_bytes)``.  Returns the manifest: one
    ``Row(key, n)`` per shard, ``n`` its row count."""
    os.makedirs(stage, exist_ok=True)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        k = int(pdf[key].iloc[0])
        name, payload = write_one(k, pdf)
        with open(os.path.join(stage, name), "wb") as fh:
            fh.write(payload)
        return pd.DataFrame({key: [k], "n": [len(pdf)]})

    return df.groupBy(key).applyInPandas(kernel, f"{key} BIGINT, n BIGINT").collect()

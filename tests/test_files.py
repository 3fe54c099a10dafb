"""sources/files.py: the one binaryFile decode kernel and the one shard
writer, on the cases no codec query covers — files that decode to no
rows, both row shapes ``decode_one`` may return, and the manifest."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql.types import StructType

from bigdata_assigment3_spark.sources.files import decode_files, staged_files, write_shards

SCHEMA = "name STRING, k BIGINT, v DOUBLE"


def _stage(tmp_path, files: dict[str, bytes]) -> str:
    for name, payload in files.items():
        (tmp_path / name).write_bytes(payload)
    return str(tmp_path)


@pytest.mark.parametrize("empty", [[], {"name": [], "day": [], "ks": []}], ids=["tuples", "columns"])
def test_files_with_no_rows_give_an_empty_typed_frame(spark, tmp_path, empty):
    # an empty pandas column has no type; for DATE or ARRAY<BIGINT>
    # Arrow cannot convert it, so empty files must yield no frame at all
    ddl = "name STRING, day DATE, ks ARRAY<BIGINT>"
    stage = _stage(tmp_path, {"a.bin": b"", "b.bin": b"xyz"})
    out = decode_files(staged_files(spark, stage, "*.bin"), lambda _p, _b: empty, ddl)
    assert out.schema == StructType.fromDDL(ddl)
    assert out.collect() == []


def test_rows_from_some_files_only(spark, tmp_path):
    stage = _stage(tmp_path, {"a.bin": b"", "b.bin": b"xyz"})

    def decode_one(path: str, blob: bytes) -> list[tuple]:
        return [(os.path.basename(path), i, float(c)) for i, c in enumerate(blob)]

    rows = decode_files(staged_files(spark, stage, "*.bin"), decode_one, SCHEMA).collect()
    assert sorted(tuple(r) for r in rows) == [
        ("b.bin", 0, 120.0), ("b.bin", 1, 121.0), ("b.bin", 2, 122.0),
    ]


def test_tuples_and_column_dicts_are_both_accepted(spark, tmp_path):
    stage = _stage(tmp_path, {"t.bin": b"ab", "d.bin": b"cde", "e.bin": b""})

    def decode_one(path: str, blob: bytes):
        name = os.path.basename(path)
        if name.startswith("t"):
            return [(name, len(blob), 0.5)]
        # columns keyed by schema name, in any order, equal length
        return {"v": [float(c) for c in blob], "k": list(range(len(blob))), "name": [name] * len(blob)}

    out = decode_files(staged_files(spark, stage, "*.bin"), decode_one, StructType.fromDDL(SCHEMA))
    assert out.dtypes == [("name", "string"), ("k", "bigint"), ("v", "double")]
    assert sorted(tuple(r) for r in out.collect()) == [
        ("d.bin", 0, 99.0), ("d.bin", 1, 100.0), ("d.bin", 2, 101.0), ("t.bin", 2, 0.5),
    ]


def test_write_shards_returns_one_manifest_row_per_key(spark, tmp_path):
    df = spark.range(0, 100).selectExpr("id", "id % 7 AS shard")
    stage = str(tmp_path / "out")  # created by write_shards

    def write_one(shard: int, pdf: pd.DataFrame) -> tuple[str, bytes]:
        return f"s-{shard}.txt", ",".join(str(i) for i in sorted(pdf["id"])).encode()

    manifest = write_shards(df, "shard", write_one, stage)
    assert sorted((r.shard, r.n) for r in manifest) == [
        (k, len(range(k, 100, 7))) for k in range(7)
    ]
    assert sorted(os.listdir(stage)) == [f"s-{k}.txt" for k in range(7)]
    assert (tmp_path / "out" / "s-3.txt").read_text() == ",".join(str(i) for i in range(3, 100, 7))

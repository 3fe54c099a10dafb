"""Multimodal-column operators: opaque binary payloads + typed
metadata, decode / feature-extract as Arrow-batched pandas UDFs over
``mapInPandas`` (BASELINE.json north star; SURVEY S7/S8/U1-U4).

The container has no image/audio codec LIBRARIES, but the codecs are
hand-rolled from their published specs and bit-exact under value
oracles: P5 PGM, PNG (zlib IDAT + all five scanline filters,
functions/png.py), baseline JPEG (Annex-K tables + Huffman + DCT,
functions/jpeg.py), RIFF/WAVE PCM16, Y4M, DICOM Part-10, NIfTI-1,
.npy.  Only containers genuinely out of scope (MP4/H.264, progressive
or chroma-subsampled JPEG) keep a clearly-marked deterministic STUB
(_fake_decode) — and even there the Spark-side plumbing is real and
tested: binaryFile directory scan with glob
filter + path exclusion + ordering (the reference's folder scan,
hough_heart_detector.py:227-236), BinaryType columns with metadata
structs, Arrow batch iteration, and partition-parallel feature
extraction.  Swapping _fake_decode for cv2/pydicom is a one-function
change (ref hough_heart_detector.py:34-84 raster/DICOM decode).

Scale notes: binaryFile splits by file; mapInPandas streams Arrow
batches so a 10 TB image corpus never materializes per-executor; the
feature aggregation is an ordinary groupBy afterwards.
"""

from __future__ import annotations

import bz2
import gzip
import hashlib
import io
import lzma
import os
import re
import sqlite3
import struct
import tarfile
import wave
from collections.abc import Iterator
from contextlib import closing

import numpy as np
import pandas as pd
import pyarrow as pa
from pyarrow import ipc
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.avro import avro_ocf_bytes, read_avro_ocf
from ..functions.gif import gif_decode_gray, gif_encode_gray
from ..functions.jpeg import QTABLE_Q100, SIG44, jpeg_decode_gray, jpeg_encode_gray
from ..functions.png import png_decode, png_encode
from ..functions.protowire import _varint, decode_stream, encode_doc, fixed64_field
from ..registry import query
from ..session import staged_fixture
from ..sources import load_table
from ..sources.files import decode_files, staged_files, write_shards


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """STUB decoder: derives deterministic (height, width, channels)
    from the payload hash.  Replace with cv2.imdecode / pydicom
    (ref hough_heart_detector.py:36-80) in a codec-equipped image.
    """
    h = hashlib.md5(payload).digest()
    return 16 + h[0] % 48, 16 + h[1] % 48, (1, 3)[h[2] % 2]


def _file_id(path: str) -> int:
    """The number in a staged file's name (``img-0007.png`` -> 7)."""
    return int(re.search(r"-(\d+)\.\w+$", path).group(1))


def _pixel_stats(px: np.ndarray, mul: int = 1024) -> tuple[int, int, int]:
    """(sum, max, xor of ``v * mul + flat position``) of a decoded
    raster — the per-image stats the codec oracles pin."""
    v = px.reshape(-1).astype(np.int64)
    pos = np.arange(v.size, dtype=np.int64)
    return int(v.sum()), int(v.max()), int(np.bitwise_xor.reduce(v * mul + pos))


def _md5_bits(raw: bytes, n_hex: int) -> int:
    """The first ``n_hex`` hex digits of md5(raw) as an int, as the
    oracles replay it with ``('0x' || substr(md5(...), 1, n_hex))``."""
    return int(hashlib.md5(raw).hexdigest()[:n_hex], 16)


_IMAGE_STATS = (
    "image_id BIGINT, width INTEGER, height INTEGER, "
    "pixel_sum BIGINT, pixel_max BIGINT, pixel_checksum BIGINT"
)


_DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("height", IntegerType()),
        StructField("width", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("content_hash", StringType()),
    ]
)


@query(
    "multimodal_decode",
    # the stub decoder is pure md5 arithmetic, so DuckDB can replay it
    # exactly: digest byte k = hex chars 2k+1..2k+2 (md5 of a VARCHAR
    # hashes its UTF-8 bytes = the Spark-side encoded payload)
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT) AS n_bytes,
           CAST(16 + ('0x' || substr(md5(COALESCE(text, '')), 1, 2))::BIGINT % 48
                AS INTEGER) AS height,
           CAST(16 + ('0x' || substr(md5(COALESCE(text, '')), 3, 2))::BIGINT % 48
                AS INTEGER) AS width,
           CAST(CASE WHEN ('0x' || substr(md5(COALESCE(text, '')), 5, 2))::BIGINT % 2 = 0
                     THEN 1 ELSE 3 END AS INTEGER) AS channels,
           substr(md5(COALESCE(text, '')), 1, 16) AS content_hash
    FROM documents
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary ingestion + batch decode: documents' text re-encoded as
    an opaque BinaryType payload (stand-in for image bytes), decoded
    per Arrow batch via mapInPandas into typed metadata (SURVEY S8/U1).

    Value-oracled: the stub decoder is deterministic md5 arithmetic,
    so the whole mapInPandas pipeline — binary encode, Arrow batch
    iteration, per-payload decode, schema — is checked bit-for-bit
    against a declarative replay, proving the UDF plumbing (not just
    the stub) preserves every row and byte.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").cast(BinaryType()).alias("payload")
    )

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [_fake_decode(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                    "height": [m[0] for m in metas],
                    "width": [m[1] for m in metas],
                    "channels": [m[2] for m in metas],
                    "content_hash": [
                        hashlib.md5(bytes(p)).hexdigest()[:16] for p in pdf["payload"]
                    ],
                }
            )

    return docs.mapInPandas(decode_batches, _DECODE_SCHEMA)


@query(
    "multimodal_features",
    # byte-exact declarative replay of the UDF's byte histogram: the
    # payload's hex dump unnested into 2-char chunks IS the byte
    # sequence, engine-independent for any encoding
    oracle="""
    WITH b AS (
      SELECT doc_id, source,
             hex(encode(COALESCE(text, ''))) AS hx,
             octet_length(encode(COALESCE(text, ''))) AS nb
      FROM documents
    ),
    freq AS (
      SELECT b.doc_id, substr(b.hx, 1 + 2 * CAST(t.i AS INTEGER), 2) AS byte,
             COUNT(*) AS cnt
      FROM b, unnest(range(b.nb)) AS t(i)
      GROUP BY 1, 2
    ),
    per_doc AS (
      SELECT b.doc_id, b.source,
             CAST(COALESCE(COUNT(f.byte), 0) AS INTEGER) AS n_distinct_bytes,
             CAST(COALESCE(MAX(f.cnt), 0) AS INTEGER) AS max_byte_freq
      FROM b LEFT JOIN freq f ON f.doc_id = b.doc_id
      GROUP BY 1, 2
    )
    SELECT source,
           COUNT(*) AS n_docs,
           ROUND(CAST(SUM(n_distinct_bytes) AS DOUBLE) / COUNT(*), 4) AS avg_distinct_bytes,
           MAX(max_byte_freq) AS max_byte_freq
    FROM per_doc GROUP BY source
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payload feature extraction (byte-histogram entropy-ish
    stats, the stand-in for resize/embed), then relational
    aggregation per source — UDF only where SQL can't reach, agg
    stays JVM-side (SURVEY U2-U4 shape).

    Value-oracled via a hex-dump byte-histogram replay in DuckDB, so
    the Arrow-batched histogram kernel is checked end to end."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").cast(BinaryType()).alias("payload")
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
            StructField("n_distinct_bytes", IntegerType()),
            StructField("max_byte_freq", IntegerType()),
        ]
    )

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, source, p in zip(pdf["doc_id"], pdf["source"], pdf["payload"]):
                b = bytes(p)
                counts: dict[int, int] = {}
                for ch in b:
                    counts[ch] = counts.get(ch, 0) + 1
                rows.append(
                    (int(doc_id), source, len(counts), max(counts.values()) if counts else 0)
                )
            yield pd.DataFrame(rows, columns=["doc_id", "source", "n_distinct_bytes", "max_byte_freq"])

    f = docs.mapInPandas(feats, schema)
    return f.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_distinct_bytes"), 4).alias("avg_distinct_bytes"),
        F.max("max_byte_freq").alias("max_byte_freq"),
    )


_ORACLE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR",
    f"{os.environ.get('SPARK_GRAFT_TESTDATA', '/root/testdata')}/sf0.01",
)


@query(
    "binary_dir_scan",
    # DuckDB reads the same directory with read_blob, so the dir-scan
    # source is value-checked end to end (names + byte sizes).  The
    # oracle is composed against the oracle SF dir (same env overrides
    # as tests/conftest.py) since read_blob cannot use the views.
    oracle=f"""
    SELECT regexp_extract(filename, '[^/]+$') AS file_name,
           CAST(octet_length(content) AS BIGINT) AS n_bytes,
           CAST(octet_length(content) AS BIGINT) AS content_len
    FROM read_blob('{_ORACLE_SF_DIR}/*.parquet')
    ORDER BY 1
    """,
)
def q_binary_dir_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory scan as a source: binaryFile over the sf_dir parquet
    files with glob filter, name-token exclusion, and path ordering —
    the reference's folder-scan semantics (SURVEY S7;
    hough_heart_detector.py:227-236) on a real filesystem."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
        .filter(~F.col("path").rlike("panel|bestsofar|overlay"))  # ref's skip tokens
        .orderBy("path")
    )
    return files.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("length").alias("n_bytes"),
        F.length(F.col("content")).cast("bigint").alias("content_len"),
    )


@query(
    "multimodal_resize",
    # The stub decode is deterministic md5 math, so the pandas-UDF
    # pipeline is fully oracle-checkable: the SQL replays the stub.
    oracle="""
    WITH m AS (
      SELECT doc_id,
             16 + (('0x' || substr(md5(COALESCE(text, '')), 1, 2))::BIGINT % 48) AS h,
             16 + (('0x' || substr(md5(COALESCE(text, '')), 3, 2))::BIGINT % 48) AS w,
             CASE WHEN ('0x' || substr(md5(COALESCE(text, '')), 5, 2))::BIGINT % 2 = 0
                  THEN 1 ELSE 3 END AS c
      FROM documents
    )
    SELECT doc_id, CAST(h AS INT) AS height, CAST(w AS INT) AS width,
           CAST(GREATEST(1, h * 32 // GREATEST(h, w)) AS INT) AS out_h,
           CAST(GREATEST(1, w * 32 // GREATEST(h, w)) AS INT) AS out_w,
           CAST(GREATEST(1, h * 32 // GREATEST(h, w))
                * GREATEST(1, w * 32 // GREATEST(h, w)) * c AS BIGINT) AS out_bytes
    FROM m
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing (the reference's downscale-to-max_side,
    hough_heart_detector.py:249-253): decode metadata, compute the
    aspect-preserving target geometry with integer math, and emit the
    resized payload size.  The pixel resample itself is the
    clearly-marked stub (no codecs in this container) — swapping in
    cv2.resize touches only the inner function; schema, batching and
    partitioning are the real, tested surface."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").cast(BinaryType()).alias("payload")
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("height", IntegerType()),
            StructField("width", IntegerType()),
            StructField("out_h", IntegerType()),
            StructField("out_w", IntegerType()),
            StructField("out_bytes", LongType()),
        ]
    )
    max_side = 32

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def fake_resize(payload: bytes, oh: int, ow: int, c: int) -> int:
            # STUB: cv2.resize(img, (ow, oh)) would go here; the fake
            # returns the exact byte size the real one would produce.
            return oh * ow * c

        for pdf in batches:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p)
                h, w, c = _fake_decode(b)
                scale_num, scale_den = max_side, max(h, w)
                oh = max(1, h * scale_num // scale_den)
                ow = max(1, w * scale_num // scale_den)
                rows.append((int(doc_id), h, w, oh, ow, fake_resize(b, oh, ow, c)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "height", "width", "out_h", "out_w", "out_bytes"]
            )

    return docs.mapInPandas(resize_batches, schema)


@query(
    "multimodal_frame_sample",
    # n_frames/stride math of the stub replayed in SQL; asserting
    # n_distinct_frames == n_sampled also checks hash distinctness.
    oracle="""
    WITH m AS (
      SELECT doc_id,
             LEAST(8 + strlen(COALESCE(text, '')) % 56, 64) AS n_eff  -- strlen = BYTES, matching the utf-8 payload
      FROM documents
    )
    SELECT doc_id,
           CAST((n_eff + 3) // 4 AS BIGINT) AS n_sampled,
           CAST(((n_eff + 3) // 4 - 1) * 4 AS INT) AS last_frame,
           CAST((n_eff + 3) // 4 AS BIGINT) AS n_distinct_frames
    FROM m
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling plumbing (the reference's VideoCapture loop with
    max_frames, motion_codec.py:11-29): each payload plays a 'video'
    whose frame count derives from its length; every k-th frame is
    emitted as its own row — the UDTF shape (one input row -> N
    output rows) that video pipelines need, with the frame decode
    stubbed to a deterministic hash.  Downstream per-video stats are
    an ordinary JVM-side aggregation."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").cast(BinaryType()).alias("payload")
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("frame_hash", StringType()),
        ]
    )
    stride, max_frames = 4, 16

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_id, out_idx, out_hash = [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p)
                n_frames = 8 + len(b) % 56
                for i in range(0, min(n_frames, max_frames * stride), stride):
                    # STUB: cap.read() + decode would land here.
                    out_id.append(int(doc_id))
                    out_idx.append(i)
                    out_hash.append(hashlib.md5(b + i.to_bytes(4, "big")).hexdigest()[:12])
            yield pd.DataFrame(
                {"doc_id": out_id, "frame_idx": out_idx, "frame_hash": out_hash}
            )

    frames = docs.mapInPandas(sample_batches, schema)
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.max("frame_idx").alias("last_frame"),
        F.countDistinct("frame_hash").cast("bigint").alias("n_distinct_frames"),
    )


@query(
    "image_phash_dedup",
    # Thumbnail pixels are md5 digest bytes (replayable in SQL); the
    # planted variants perturb 3 pixels, so the whole perceptual-hash
    # pipeline — decode, average-hash, banding, candidate join,
    # hamming verify — is oracle-checked end to end.
    oracle="""
    WITH imgs AS (
      SELECT doc_id AS img_id, text, 0 AS variant FROM documents
      UNION ALL
      SELECT -(doc_id + 1), text, 1 FROM documents WHERE doc_id % 10 = 0
    ),
    px AS (
      SELECT img_id, j.j AS j,
             CASE WHEN variant = 1 AND j.j % 29 = 1
                  THEN (('0x' || substr(md5(COALESCE(text, '') || CAST(j.j // 16 AS VARCHAR)),
                                        (j.j % 16) * 2 + 1, 2))::BIGINT + 8) % 256
                  ELSE ('0x' || substr(md5(COALESCE(text, '') || CAST(j.j // 16 AS VARCHAR)),
                                       (j.j % 16) * 2 + 1, 2))::BIGINT
             END AS p
      FROM imgs, range(0, 64) AS j(j)
    ),
    tot AS (SELECT img_id, SUM(p) AS total FROM px GROUP BY img_id),
    bands AS (
      SELECT px.img_id, j // 16 AS band_idx,
             SUM((CASE WHEN p * 64 >= total THEN 1 ELSE 0 END)::BIGINT
                 * (1 << (j % 16))) AS band_val
      FROM px JOIN tot USING (img_id) GROUP BY 1, 2
    ),
    bw AS (
      SELECT img_id,
             MAX(CASE WHEN band_idx = 0 THEN band_val END) AS b0,
             MAX(CASE WHEN band_idx = 1 THEN band_val END) AS b1,
             MAX(CASE WHEN band_idx = 2 THEN band_val END) AS b2,
             MAX(CASE WHEN band_idx = 3 THEN band_val END) AS b3
      FROM bands GROUP BY img_id
    ),
    cand AS (
      SELECT DISTINCT a.img_id AS img_a, b.img_id AS img_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.img_id < b.img_id
    )
    SELECT img_a, img_b,
           CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
              + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
             AS BIGINT) AS hamming
    FROM cand
    JOIN bw x ON x.img_id = img_a
    JOIN bw y ON y.img_id = img_b
    WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
        + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) <= 6
    """,
    bench=True,
)
def q_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate image detection: decode each
    payload to an 8x8 grayscale thumbnail (STUB — cv2 decode+resize
    would land here; the fake derives pixels from payload digests),
    compute the average-hash (bit = pixel >= image mean, in exact
    integer form ``p * 64 >= total``) inside the UDF, then find
    near-duplicates relationally: split the 64-bit hash into 4
    16-bit bands, bucket-join on band equality (pigeonhole: any pair
    within hamming distance 3 shares an identical band), and verify
    candidates with a popcount hamming distance <= 6.

    Ground truth is planted: every 10th document also emits a
    re-encoded variant (3 pixels perturbed), so the pipeline must
    recover exactly those pairs — random thumbnails sit ~32 bits
    apart and the 4 accidental band collisions at sf0.01 are all
    >= 20 bits, so the margin is wide.

    Scale shape: the band join is the sub-quadratic LSH pattern
    (candidates ~ bucket collisions, never corpus^2), the hash is 4
    BIGINTs per image (constant state), and verification touches only
    candidate pairs — the same plan pHash dedup runs over a billion
    images.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").cast(BinaryType()).alias("payload")
    )
    schema = StructType(
        [
            StructField("img_id", LongType()),
            StructField("b0", LongType()),
            StructField("b1", LongType()),
            StructField("b2", LongType()),
            StructField("b3", LongType()),
        ]
    )

    def phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def thumb(payload: bytes) -> list[int]:
            # STUB decode+resize: cv2.imdecode + cv2.resize((8, 8))
            # would land here; the fake derives the 64 pixels from
            # rolling md5 digests of the payload.
            return [
                hashlib.md5(payload + str(j // 16).encode()).digest()[j % 16]
                for j in range(64)
            ]

        def bands(px: list[int]) -> tuple[int, int, int, int]:
            tot = sum(px)
            bits = [1 if p * 64 >= tot else 0 for p in px]
            return tuple(
                sum(bits[16 * b + k] << k for k in range(16)) for b in range(4)
            )

        for pdf in batches:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p)
                px = thumb(b)
                rows.append((int(doc_id),) + bands(px))
                if doc_id % 10 == 0:
                    # planted near-dup: the re-encoded variant of the
                    # same image (3 pixels shifted by +8).
                    pv = [
                        (v + 8) % 256 if j % 29 == 1 else v
                        for j, v in enumerate(px)
                    ]
                    rows.append((-(int(doc_id) + 1),) + bands(pv))
            yield pd.DataFrame(rows, columns=["img_id", "b0", "b1", "b2", "b3"])

    bw = docs.mapInPandas(phash_batches, schema)
    # Materialize the decode+hash pass ONCE (round 15): `bw` feeds the
    # band explode twice (join build/probe) and the verify step twice
    # (x and y), and the verify-side exchanges (img keys) can never
    # reuse the band-side exchanges — so without the checkpoint the
    # opaque Python pass over every payload ran up to 4x.  This is the
    # §8 "decode once, move decisions on small rows" rule: at a
    # billion images the decode is the dominant cost and must be a
    # single pass; the checkpoint is 5 BIGINTs per image.
    from ..session import lineage_checkpoint

    bw = lineage_checkpoint(bw, big=True)
    bands_long = bw.select(
        "img_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band_idx"), F.col(f"b{i}").alias("band_val"))
                    for i in range(4)
                ]
            )
        ).alias("s"),
    ).select("img_id", "s.band_idx", "s.band_val")
    a = bands_long.select(
        F.col("img_id").alias("img_a"), "band_idx", "band_val"
    )
    b = bands_long.select(
        F.col("img_id").alias("img_b"), "band_idx", "band_val"
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("img_a") < F.col("img_b"))
        .select("img_a", "img_b")
        .distinct()
    )
    x = bw.select(*[F.col(c).alias(f"x_{c}") for c in bw.columns])
    y = bw.select(*[F.col(c).alias(f"y_{c}") for c in bw.columns])
    hamming = sum(
        F.expr(f"bit_count(x_b{i} ^ y_b{i})") for i in range(4)
    ).cast("bigint")
    return (
        cand.join(x, cand.img_a == x.x_img_id)
        .join(y, cand.img_b == y.y_img_id)
        .select("img_a", "img_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 6)
    )


@query(
    "audio_frame_energy",
    # The waveform stub is md5 digest bytes, replayed exactly in SQL
    # (('0x'||substr(md5(...)))::BIGINT == digest[j] — see README
    # exactness rules), so the audio pipeline is fully oracle-checked.
    oracle="""
    WITH m AS (SELECT doc_id, text, 64 + strlen(COALESCE(text, '')) % 192 AS n_samples FROM documents),  -- strlen = BYTES
    samples AS (
      SELECT doc_id,
             s.i AS idx,
             ('0x' || substr(md5(COALESCE(text, '') || CAST(s.i // 16 AS VARCHAR)),
                             (s.i % 16) * 2 + 1, 2))::BIGINT - 128 AS v
      FROM m, unnest(range(0, n_samples)) AS s(i)
    ),
    win AS (
      SELECT doc_id, idx // 32 AS win_idx, SUM(v * v) AS win_energy
      FROM samples GROUP BY 1, 2
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(win_energy) AS BIGINT) AS total_energy,
           CAST(MAX(win_energy) AS BIGINT) AS peak_window_energy
    FROM win GROUP BY doc_id
    """,
)
def q_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-column plumbing (the third modality next to image and
    video): each payload plays a waveform whose samples derive from
    the payload hash (STUB — soundfile/librosa decode would replace
    the inner function), windowed into 32-sample frames whose energy
    is computed in the UDF; per-track aggregation stays JVM-side.
    The shape is the standard audio featurizer: 1 track -> N frame
    rows -> per-track stats (VAD, loudness normalization, silence
    trimming all start exactly like this).

    Scale shape: mapInPandas streams Arrow batches (a 10 TB audio
    corpus never materializes per-executor); the frame rows are
    narrow (doc_id, win_idx, energy) and aggregate with map-side
    combine."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").cast(BinaryType()).alias("payload")
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("win_idx", IntegerType()),
            StructField("win_energy", LongType()),
        ]
    )

    def frame_energy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_id, out_win, out_e = [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p)
                n = 64 + len(b) % 192
                # STUB decode: real soundfile.read() lands here; the fake
                # derives sample bytes from rolling md5 digests.
                energies: dict[int, int] = {}
                for i in range(n):
                    d = hashlib.md5(b + str(i // 16).encode()).digest()
                    v = d[i % 16] - 128
                    energies[i // 32] = energies.get(i // 32, 0) + v * v
                for w, e in energies.items():
                    out_id.append(int(doc_id))
                    out_win.append(w)
                    out_e.append(e)
            yield pd.DataFrame(
                {"doc_id": out_id, "win_idx": out_win, "win_energy": out_e}
            )

    frames = docs.mapInPandas(frame_energy, schema)
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("win_energy").cast("bigint").alias("total_energy"),
        F.max("win_energy").cast("bigint").alias("peak_window_energy"),
    )


# ----------------------------------------------- REAL codecs (no cv2)

N_PGM, PGM_W, PGM_H = 64, 32, 24


@query(
    "image_pgm_decode",
    oracle=f"""
    WITH px AS (
      SELECT img, y, x, (x * 7 + y * 13 + img * 31) % 256 AS v
      FROM range({N_PGM}) i(img), range({PGM_H}) r(y), range({PGM_W}) c(x)
    )
    SELECT img AS image_id,
           CAST({PGM_W} AS INTEGER) AS width,
           CAST({PGM_H} AS INTEGER) AS height,
           CAST(SUM(v) AS BIGINT) AS pixel_sum,
           CAST(MAX(v) AS BIGINT) AS pixel_max,
           CAST(bit_xor(v * 1024 + y * {PGM_W} + x) AS BIGINT) AS pixel_checksum
    FROM px GROUP BY img
    """,
    bench=True, exchanges=0,  # pure per-file kernel
)
def q_image_pgm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL image codec, no cv2 required: {N_PGM} genuine binary P5
    PGM files are staged (header + raw grayscale bytes — an actual
    interchange format netpbm/ImageMagick/OpenCV all read), then
    decoded DISTRIBUTED by a mapInPandas kernel that parses the header
    tokens and np.frombuffers the pixel plane.  Per-image stats are
    computed from the DECODED PIXELS, while the oracle replays the
    generator arithmetic from range() — equality proves the encoder,
    the real parser, and the batch plumbing agree on every pixel.

    This is the S8 shape with the codec REAL (the cv2/JPEG variant
    stays a stub until the sandbox grows a codec lib); at scale the
    per-file kernel is the same one that wraps cv2.imdecode."""
    def write_pgms(stage: str) -> None:
        yy, xx = np.mgrid[0:PGM_H, 0:PGM_W]
        for img in range(N_PGM):
            arr = ((xx * 7 + yy * 13 + img * 31) % 256).astype(np.uint8)
            with open(os.path.join(stage, f"img-{img:04d}.pgm"), "wb") as fh:
                fh.write(b"P5\n%d %d\n255\n" % (PGM_W, PGM_H) + arr.tobytes())

    stage = staged_fixture(spark, "pgm", write_pgms)

    def decode_one(path: str, b: bytes) -> list[tuple]:
        # real P5 parse: magic, 3 ASCII tokens, single ws, raster
        m = re.match(rb"P5\s+(\d+)\s+(\d+)\s+(\d+)\s", b)
        w, h, maxval = (int(g) for g in m.groups())
        assert maxval == 255
        px = np.frombuffer(b[m.end():], dtype=np.uint8, count=w * h)
        return [(_file_id(path), w, h, *_pixel_stats(px))]

    return decode_files(staged_files(spark, stage, "*.pgm"), decode_one, _IMAGE_STATS)


N_WAV, WAV_SAMPLES, WAV_FRAME = 16, 2048, 256


@query(
    "audio_wav_energy",
    oracle=f"""
    WITH s AS (
      SELECT f, i, ((i * i * 37 + f * 101) % 4096) - 2048 AS amp,
             i // {WAV_FRAME} AS frame
      FROM range({N_WAV}) a(f), range({WAV_SAMPLES}) b(i)
    ),
    fr AS (
      SELECT f, frame, SUM(amp * amp) AS energy
      FROM s GROUP BY f, frame
    )
    SELECT f AS audio_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(energy) AS BIGINT) AS total_energy,
           CAST(MAX(energy) AS BIGINT) AS peak_frame_energy
    FROM fr GROUP BY f
    """,
    exchanges=0,  # pure per-file kernel
)
def q_audio_wav_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL audio codec via the stdlib: {N_WAV} genuine RIFF/WAVE
    PCM16 files written with the `wave` module, decoded DISTRIBUTED by
    a kernel that re-opens each blob with `wave` and np.frombuffers
    the PCM samples; per-{WAV_FRAME}-sample frame energies come from
    the DECODED samples, the oracle replays the sample formula — the
    container, the 16-bit little-endian codec, and the framing are all
    under the value gate.  (`audio_frame_energy` keeps the SQL-fixture
    twin; this one exercises an actual file format end to end.)"""
    def write_wavs(stage: str) -> None:
        i = np.arange(WAV_SAMPLES, dtype=np.int64)
        for f in range(N_WAV):
            samples = (((i * i * 37 + f * 101) % 4096) - 2048).astype(np.int16)
            with wave.open(os.path.join(stage, f"audio-{f:03d}.wav"), "wb") as wf:
                wf.setnchannels(1)
                wf.setsampwidth(2)
                wf.setframerate(16000)
                wf.writeframes(samples.tobytes())

    stage = staged_fixture(spark, "wav", write_wavs)

    def decode_one(path: str, b: bytes) -> list[tuple]:
        with wave.open(io.BytesIO(b), "rb") as wf:
            assert wf.getsampwidth() == 2 and wf.getnchannels() == 1
            pcm = np.frombuffer(wf.readframes(wf.getnframes()), dtype="<i2").astype(np.int64)
        e = (pcm * pcm).reshape(-1, WAV_FRAME).sum(axis=1)
        return [(_file_id(path), len(e), int(e.sum()), int(e.max()))]

    return decode_files(
        staged_files(spark, stage, "*.wav"),
        decode_one,
        "audio_id BIGINT, n_frames BIGINT, total_energy BIGINT, peak_frame_energy BIGINT",
    )


Y4M_W, Y4M_H, Y4M_FRAMES = 32, 24, 20


@query(
    "video_y4m_frames",
    oracle=f"""
    WITH y AS (
      SELECT i, yy, xx, (xx * 3 + yy * 5 + i * 17) % 256 AS v
      FROM range({Y4M_FRAMES}) f(i), range({Y4M_H}) r(yy), range({Y4M_W}) c(xx)
    ),
    fr AS (
      SELECT i, SUM(v) AS luma_sum FROM y GROUP BY i
    ),
    d AS (
      SELECT a.i,
             (SELECT SUM(ABS(b.v - a2.v))
              FROM y b JOIN y a2 ON b.yy = a2.yy AND b.xx = a2.xx
              WHERE b.i = a.i AND a2.i = a.i - 1) AS sad_prev
      FROM fr a
    )
    SELECT fr.i AS frame_id,
           CAST(fr.luma_sum AS BIGINT) AS luma_sum,
           CAST(COALESCE(d.sad_prev, 0) AS BIGINT) AS sad_vs_prev
    FROM fr JOIN d ON d.i = fr.i
    """,
    exchanges=0,  # single-pass demux kernel
)
def q_video_y4m_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL video container, no cv2: one genuine YUV4MPEG2 (.y4m)
    stream — ASCII stream header, per-frame FRAME markers, raw C420
    planes (the uncompressed interchange format ffmpeg/mjpegtools
    read) — is staged, and a mapInPandas kernel does the actual
    demux: parse the header geometry, split on FRAME markers, slice
    each frame's Y plane with np.frombuffer.  Per-frame luma sums and
    the frame-vs-previous SAD (the motion-estimation front end, S10)
    are computed from DECODED planes; the oracle replays the generator
    arithmetic, so header parse, frame segmentation, and plane layout
    are all under the value gate.

    One file ships as one binaryFile row here; at scale each row is a
    clip/segment and the same kernel demuxes them in parallel — the
    frame-diff then feeds `motion_decision_counts` exactly as the
    reference's calibration pass does."""
    def write_clip(stage: str) -> None:
        yy, xx = np.mgrid[0:Y4M_H, 0:Y4M_W]
        with open(os.path.join(stage, "clip.y4m"), "wb") as fh:
            fh.write(b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C420\n" % (Y4M_W, Y4M_H))
            for i in range(Y4M_FRAMES):
                yp = ((xx * 3 + yy * 5 + i * 17) % 256).astype(np.uint8)
                u = np.full((Y4M_H // 2, Y4M_W // 2), 128, np.uint8)
                fh.write(b"FRAME\n" + yp.tobytes() + u.tobytes() + u.tobytes())

    stage = staged_fixture(spark, "y4m", write_clip)

    def demux(_path: str, b: bytes) -> list[tuple]:
        nl = b.index(b"\n")
        header = b[:nl].decode("ascii")
        w = int(re.search(r"W(\d+)", header).group(1))
        h = int(re.search(r"H(\d+)", header).group(1))
        assert "C420" in header
        fsz = w * h + 2 * (w // 2) * (h // 2)
        body = b[nl + 1:]
        rows, prev, pos = [], None, 0
        while pos < len(body):
            assert body[pos:pos + 6] == b"FRAME\n"
            pos += 6
            yplane = np.frombuffer(body, np.uint8, count=w * h, offset=pos).astype(np.int64)
            sad = int(np.abs(yplane - prev).sum()) if prev is not None else 0
            rows.append((len(rows), int(yplane.sum()), sad))
            prev = yplane
            pos += fsz
        return rows

    return decode_files(
        staged_files(spark, stage, "*.y4m"),
        demux,
        "frame_id BIGINT, luma_sum BIGINT, sad_vs_prev BIGINT",
    )


DCM_N, DCM_W, DCM_H = 12, 32, 24
DCM_SLOPE, DCM_INTERCEPT = 2, -1024


def _stage_dicom(spark: SparkSession) -> str:
    """Write the {DCM_N} DICOM Part-10 slices once per session and
    return the staging dir (shared by decode_rescale and series_sort).

    Conformance notes: DS values are PADDED TO EVEN LENGTH with a
    trailing space (the standard's padding rule — odd-length elements
    are rejected by strict readers), and the file meta group carries
    the mandatory FileMetaInformationGroupLength (0002,0000)."""
    def _ds(val: int) -> bytes:
        b = b"%d" % val
        return b + b" " if len(b) % 2 else b

    def _el_short(group: int, elem: int, vr: bytes, val: bytes) -> bytes:
        return struct.pack("<HH", group, elem) + vr + struct.pack("<H", len(val)) + val

    def _el_ow(group: int, elem: int, val: bytes) -> bytes:
        return (
            struct.pack("<HH", group, elem)
            + b"OW\x00\x00"
            + struct.pack("<I", len(val))
            + val
        )

    def write_slices(stage: str) -> None:
        yy, xx = np.mgrid[0:DCM_H, 0:DCM_W]
        for s in range(DCM_N):
            raw = ((xx * 11 + yy * 19 + s * 23) % 4096).astype("<u2")
            meta = _el_short(0x0002, 0x0010, b"UI", b"1.2.840.10008.1.2.1\x00")
            body = (
                _el_short(0x0002, 0x0000, b"UL", struct.pack("<I", len(meta)))
                + meta
                + _el_short(0x0020, 0x0013, b"DS", _ds((s * 7) % DCM_N))
                + _el_short(0x0028, 0x0010, b"US", struct.pack("<H", DCM_H))
                + _el_short(0x0028, 0x0011, b"US", struct.pack("<H", DCM_W))
                + _el_short(0x0028, 0x0100, b"US", struct.pack("<H", 16))
                + _el_short(0x0028, 0x1052, b"DS", _ds(DCM_INTERCEPT))
                + _el_short(0x0028, 0x1053, b"DS", _ds(DCM_SLOPE))
                + _el_ow(0x7FE0, 0x0010, raw.tobytes())
            )
            with open(os.path.join(stage, f"slice-{s:03d}.dcm"), "wb") as fh:
                fh.write(b"\x00" * 128 + b"DICM" + body)

    return staged_fixture(spark, "dcm", write_slices)


_LONG_VRS = {b"OB", b"OW", b"OF", b"SQ", b"UT", b"UN"}


def _dicom_elements(b: bytes) -> dict[tuple[int, int], bytes]:
    """Walk a Part-10 file's explicit-VR little-endian element stream
    (after the 128-byte preamble and 'DICM' magic) into
    ``{(group, elem): value bytes}`` — a real tag/VR/length parser,
    long-form 4-byte lengths for the OB/OW/OF/SQ/UT/UN VRs."""
    assert b[128:132] == b"DICM"
    pos, tags = 132, {}
    while pos < len(b):
        group, elem = struct.unpack_from("<HH", b, pos)
        if b[pos + 4:pos + 6] in _LONG_VRS:
            (ln,) = struct.unpack_from("<I", b, pos + 8)
            start = pos + 12
        else:
            (ln,) = struct.unpack_from("<H", b, pos + 6)
            start = pos + 8
        tags[(group, elem)] = b[start:start + ln]
        pos = start + ln
    return tags


@query(
    "dicom_decode_rescale",
    oracle=f"""
    WITH px AS (
      SELECT s, yy, xx, (xx * 11 + yy * 19 + s * 23) % 4096 AS raw
      FROM range({DCM_N}) a(s), range({DCM_H}) r(yy), range({DCM_W}) c(xx)
    )
    SELECT s AS slice_id,
           CAST({DCM_H} AS INTEGER) AS rows_,
           CAST({DCM_W} AS INTEGER) AS cols_,
           CAST(SUM(raw * {DCM_SLOPE} + {DCM_INTERCEPT}) AS BIGINT) AS hu_sum,
           CAST(MAX(raw * {DCM_SLOPE} + {DCM_INTERCEPT}) AS BIGINT) AS hu_max,
           CAST(bit_xor(raw * 1024 + yy * {DCM_W} + xx) AS BIGINT) AS raw_checksum
    FROM px GROUP BY s
    """,
    exchanges=0,  # per-file element-walk kernel
)
def q_dicom_decode_rescale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL DICOM bytes, no pydicom: {DCM_N} genuine Part-10 files are
    staged — 128-byte preamble, 'DICM' magic, explicit-VR
    little-endian elements (TransferSyntaxUID, Rows, Columns,
    BitsAllocated, RescaleSlope/Intercept as DS strings, OW PixelData
    with the 4-byte long-form length) — and a mapInPandas kernel walks
    the element stream with a real tag/VR/length parser, pulls the
    geometry and rescale tags, np.frombuffers the uint16 plane and
    applies HU = slope*raw + intercept (S9's modality rescale,
    `brain_segmentation.py:25-64`).  Per-slice HU stats come from the
    PARSED file; the oracle replays the pixel formula — magic, element
    walk, DS string parse, and pixel layout are all value-gated.

    Slope/intercept are integers here so HU stays integer-exact; a
    fractional slope would move the oracle to the DECIMAL idiom."""
    def decode_one(path: str, b: bytes) -> list[tuple]:
        tags = _dicom_elements(b)
        (h,) = struct.unpack("<H", tags[(0x0028, 0x0010)])
        (w,) = struct.unpack("<H", tags[(0x0028, 0x0011)])
        intercept = int(tags[(0x0028, 0x1052)].decode().strip())
        slope = int(tags[(0x0028, 0x1053)].decode().strip())
        raw = np.frombuffer(tags[(0x7FE0, 0x0010)], dtype="<u2", count=w * h)
        hu = raw.astype(np.int64) * slope + intercept
        checksum = _pixel_stats(raw)[2]
        return [(_file_id(path), h, w, int(hu.sum()), int(hu.max()), checksum)]

    return decode_files(
        staged_files(spark, _stage_dicom(spark), "*.dcm"),
        decode_one,
        "slice_id BIGINT, rows_ INTEGER, cols_ INTEGER, "
        "hu_sum BIGINT, hu_max BIGINT, raw_checksum BIGINT",
    )


@query(
    "dicom_series_sort",
    oracle=f"""
    WITH px AS (
      SELECT s, SUM((xx * 11 + yy * 19 + s * 23) % 4096) AS raw_sum
      FROM range({DCM_N}) a(s), range({DCM_H}) r(yy), range({DCM_W}) c(xx)
      GROUP BY s
    )
    SELECT s AS slice_id,
           CAST((s * 7) % {DCM_N} AS BIGINT) AS instance_no,
           CAST(raw_sum AS BIGINT) AS raw_sum
    FROM px
    """,
    exchanges=0,  # tag-parse kernel
)
def q_dicom_series_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 — DICOM series assembly: slice order comes from the PARSED
    InstanceNumber tag (0020,0013), NOT the file name (the staged
    files carry a bijectively shuffled instance mapping, so trusting
    filename order would scramble the volume — exactly the bug the
    reference's series sort guards against,
    `brain_segmentation.py` slice sort).  The kernel walks each
    file's element stream, extracts InstanceNumber alongside the
    pixel sum, and the oracle replays the shuffle formula — a wrong
    or filename-derived sort key cannot pass the value gate.

    Downstream, ORDER BY instance_no assembles the volume; the z-axis
    neighbor joins (icm_step) then rely on this order being right."""
    def decode_one(path: str, b: bytes) -> list[tuple]:
        tags = _dicom_elements(b)
        instance = int(tags[(0x0020, 0x0013)].decode().strip())
        raw = np.frombuffer(tags[(0x7FE0, 0x0010)], dtype="<u2").astype(np.int64)
        return [(_file_id(path), instance, int(raw.sum()))]

    return decode_files(
        staged_files(spark, _stage_dicom(spark), "*.dcm"),
        decode_one,
        "slice_id BIGINT, instance_no BIGINT, raw_sum BIGINT",
    )


N_PNG, PNG_W, PNG_H = 40, 32, 25


@query(
    "image_png_decode",
    oracle=f"""
    WITH px AS (
      SELECT img, y, x, (x * 11 + y * 17 + img * 53) % 256 AS v
      FROM range({N_PNG}) i(img), range({PNG_H}) r(y), range({PNG_W}) c(x)
    )
    SELECT img AS image_id,
           CAST({PNG_W} AS INTEGER) AS width,
           CAST({PNG_H} AS INTEGER) AS height,
           CAST(5 AS BIGINT) AS n_filter_types,
           CAST(SUM(v) AS BIGINT) AS pixel_sum,
           CAST(MAX(v) AS BIGINT) AS pixel_max,
           CAST(bit_xor(v * 1024 + y * {PNG_W} + x) AS BIGINT) AS pixel_checksum
    FROM px GROUP BY img
    """,
    bench=True, exchanges=0,  # pure per-file scan
)
def q_image_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL compressed raster codec with zero image libraries: {N_PNG}
    genuine PNG files (zlib-deflated IDAT, CRC-32 chunk framing,
    functions/png.py) are staged with the scanline filter ROTATING
    through all five spec filters (None/Sub/Up/Average/Paeth — row y of
    image i uses filter (y+i)%5), then decoded DISTRIBUTED by a
    mapInPandas kernel that validates CRCs, inflates, and reconstructs
    every scanline.  Per-image stats come from the DECODED PIXELS and
    ``n_filter_types`` from the DECODED filter bytes; the oracle
    replays the generator arithmetic and pins n_filter_types=5 —
    equality proves the deflate round trip and all five filter
    reconstructions are pixel-exact.  This closes the compressed-image
    half of S8: the reference's ``cv2.imdecode``
    (`HOUGH Transform/hough_heart_detector.py:36-40`) with the codec
    hand-rolled from the published spec instead of stubbed.

    Scale shape: identical to image_pgm_decode — binaryFile splits by
    file, the kernel is batch-columnar per blob, stats aggregate
    JVM-side."""
    def write_pngs(stage: str) -> None:
        yy, xx = np.mgrid[0:PNG_H, 0:PNG_W]
        for img in range(N_PNG):
            arr = ((xx * 11 + yy * 17 + img * 53) % 256).astype(np.uint8)
            blob = png_encode(arr, filter_for_row=lambda y, i=img: (y + i) % 5)
            with open(os.path.join(stage, f"img-{img:04d}.png"), "wb") as fh:
                fh.write(blob)

    stage = staged_fixture(spark, "png", write_pngs)

    def decode_one(path: str, b: bytes) -> list[tuple]:
        arr, filters = png_decode(b, with_filters=True)
        h, w = arr.shape
        return [(_file_id(path), w, h, int(np.unique(filters).size), *_pixel_stats(arr))]

    return decode_files(
        staged_files(spark, stage, "*.png"),
        decode_one,
        "image_id BIGINT, width INTEGER, height INTEGER, "
        "n_filter_types BIGINT, pixel_sum BIGINT, pixel_max BIGINT, "
        "pixel_checksum BIGINT",
    )


# --------------------------------------------- figure / QA-image sink

HEAT_CELL = 8  # pixel block per heatmap cell


@query(
    "figure_heatmap_sink",
    oracle=f"""
    WITH cnt AS (
      SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS h, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    types AS (
      SELECT event_type,
             CAST(DENSE_RANK() OVER (ORDER BY event_type) - 1 AS BIGINT) AS row_idx
      FROM (SELECT DISTINCT event_type FROM cnt)
    ),
    grid AS (
      SELECT t.row_idx, hh.h,
             CAST(COALESCE(cnt.c, 0) * 255 // (SELECT MAX(c) FROM cnt) AS BIGINT) AS v
      FROM types t
      CROSS JOIN (SELECT CAST(r.id AS INT) AS h FROM range(24) r(id)) hh
      LEFT JOIN cnt ON cnt.event_type = t.event_type AND cnt.h = hh.h
    )
    SELECT row_idx,
           CAST(COUNT(*) AS BIGINT) AS n_cols,
           CAST(SUM(v) AS BIGINT) AS intensity_sum,
           CAST(bit_xor(v * 32 + h) AS BIGINT) AS intensity_checksum
    FROM grid GROUP BY row_idx
    """,
    bench=True, exchanges=0,
)
def q_figure_heatmap_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16 made real: the QA-figure sink (reference renders heatmap /
    overlay QA panels with matplotlib, `brain_segmentation.py:247-270`,
    `motion_codec.py:300-319`) re-expressed engine-side — the
    (event_type x hour-of-day) activity heatmap is aggregated
    DISTRIBUTED, rendered into a genuine grayscale PNG figure
    ({HEAT_CELL}x{HEAT_CELL}-pixel cells, functions/png.py), written as
    an artifact, then read BACK through binaryFile + png_decode, and
    the returned per-row intensity stats are recomputed FROM THE
    DECODED PIXELS.  The oracle replays the aggregation and the
    integer intensity scaling (v = c*255 DIV max) arithmetically, so
    the figure's pixel content — not just its existence — is under the
    value gate.

    Scale shape: the heavy part (the groupBy over the events fact) is
    fully distributed; the render itself is O(grid) on a BOUNDED
    aggregate (n_types x 24 cells) — the one place a driver-side
    collect is the honest plan, because a figure IS a small-data sink.
    A 100 TB deployment renders one such QA panel per partition/day the
    same way."""
    cnt = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.hour("ts").cast("int").alias("h"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )  # bounded: n_event_types x 24 cells
    types = sorted({r.event_type for r in cnt})
    row_of = {t: i for i, t in enumerate(types)}
    maxc = max(r.c for r in cnt)
    grid = np.zeros((len(types), 24), dtype=np.int64)
    for r in cnt:
        grid[row_of[r.event_type], r.h] = r.c * 255 // maxc

    def write_figure(stage: str) -> None:
        img = np.kron(grid.astype(np.uint8), np.ones((HEAT_CELL, HEAT_CELL), np.uint8))
        with open(os.path.join(stage, "heatmap.png"), "wb") as fh:
            fh.write(png_encode(img, filter_for_row=lambda y: y % 5))

    # artifact keyed by data dir AND grid content: a different sf_dir
    # (or regenerated events) must produce a fresh figure
    fp = hashlib.md5(grid.tobytes()).hexdigest()[:10]
    stage = staged_fixture(spark, f"heatmap_{fp}", write_figure, sf_dir)

    def decode_one(_path: str, b: bytes) -> list[tuple]:
        arr = png_decode(b)
        n_rows, n_cols = arr.shape[0] // HEAT_CELL, arr.shape[1] // HEAT_CELL
        blocks = arr.reshape(n_rows, HEAT_CELL, n_cols, HEAT_CELL)
        # every cell block must be uniform — a smeared render
        # means the figure lies about the data
        assert (blocks == blocks[:, :1, :, :1]).all()
        v = blocks[:, 0, :, 0].astype(np.int64)
        h = np.arange(n_cols, dtype=np.int64)
        return [
            (r, n_cols, int(v[r].sum()), int(np.bitwise_xor.reduce(v[r] * 32 + h)))
            for r in range(n_rows)
        ]

    return decode_files(
        staged_files(spark, stage, "*.png"),
        decode_one,
        "row_idx BIGINT, n_cols BIGINT, intensity_sum BIGINT, "
        "intensity_checksum BIGINT",
    )


N_JPG, JPG_BW, JPG_BH = 32, 4, 3  # images; blocks per row/col (32x24 px)


def _jpeg_stats_df(spark: SparkSession, stage: str) -> DataFrame:
    """Shared distributed tail of both JPEG decode queries: binaryFile
    scan over the staged *.jpg fixtures, per-blob decode via the
    hand-rolled T.81 codec, and the (sum, max, xor-checksum) pixel
    stats the value oracles pin."""
    def decode_one(path: str, b: bytes) -> list[tuple]:
        arr = jpeg_decode_gray(b)
        h, w = arr.shape
        return [(_file_id(path), w, h, *_pixel_stats(arr))]

    return decode_files(staged_files(spark, stage, "*.jpg"), decode_one, _IMAGE_STATS)


@query(
    "image_jpeg_decode",
    oracle=f"""
    WITH px AS (
      SELECT img, y, x,
             ((x // 8) * 7 + (y // 8) * 13 + img * 31) % 128 * 2 AS v
      FROM range({N_JPG}) i(img),
           range({JPG_BH} * 8) r(y), range({JPG_BW} * 8) c(x)
    )
    SELECT img AS image_id,
           CAST({JPG_BW} * 8 AS INTEGER) AS width,
           CAST({JPG_BH} * 8 AS INTEGER) AS height,
           CAST(SUM(v) AS BIGINT) AS pixel_sum,
           CAST(MAX(v) AS BIGINT) AS pixel_max,
           CAST(bit_xor(v * 1024 + y * {JPG_BW} * 8 + x) AS BIGINT) AS pixel_checksum
    FROM px GROUP BY img
    """,
    bench=True, exchanges=0,  # pure per-file scan
)
def q_image_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8's LAST codec gap closed: genuine baseline JPEGs — real SOI/
    DQT/SOF0/DHT/SOS marker structure, Annex-K tables, Huffman entropy
    coding, DCT quantization (functions/jpeg.py, hand-rolled from
    ITU-T T.81; the reference uses cv2.imdecode,
    `HOUGH Transform/hough_heart_detector.py:36-40`) — decoded
    DISTRIBUTED via binaryFile + mapInPandas.  JPEG is lossy in
    general, so the staged fixtures use the codec's provably-lossless
    class: 8x8 block-constant images with even values (AC exactly
    zero, DC quantizes without remainder), making the decode
    PIXEL-EXACT and the whole marker/Huffman/dequant/IDCT pipeline
    SQL-oracle-able; general-content fidelity is PSNR-tested in
    tests/test_jpeg.py.

    Scale shape: identical to the PGM/PNG queries — binaryFile splits
    by file, per-blob batch-columnar kernel, JVM-side aggregation."""
    def write_jpegs(stage: str) -> None:
        for img in range(N_JPG):
            by, bx = np.mgrid[0:JPG_BH, 0:JPG_BW]
            bvals = (((bx * 7 + by * 13 + img * 31) % 128) * 2).astype(np.uint8)
            arr = np.kron(bvals, np.ones((8, 8), np.uint8))
            with open(os.path.join(stage, f"img-{img:04d}.jpg"), "wb") as fh:
                fh.write(jpeg_encode_gray(arr))

    stage = staged_fixture(spark, "jpg", write_jpegs)
    return _jpeg_stats_df(spark, stage)


@query(
    "image_jpeg_q100_decode",
    oracle=f"""
    WITH px AS (
      SELECT img, y, x,
             CASE WHEN (x % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END AS sx,
             CASE WHEN (y % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END AS sy,
             x // 8 AS bx, y // 8 AS by
      FROM range({N_JPG}) i(img),
           range({JPG_BH} * 8) r(y), range({JPG_BW} * 8) c(x)
    ),
    v AS (
      SELECT img, y, x,
             (64 + (bx * 5 + by * 11 + img * 17) % 128)
             + ((bx * 3 + img) % 31 - 15) * sx
             + ((by * 7 + img * 2) % 31 - 15) * sy
             + ((bx + by + img * 3) % 31 - 15) * sx * sy AS v
      FROM px
    )
    SELECT img AS image_id,
           CAST({JPG_BW} * 8 AS INTEGER) AS width,
           CAST({JPG_BH} * 8 AS INTEGER) AS height,
           CAST(SUM(v) AS BIGINT) AS pixel_sum,
           CAST(MAX(v) AS BIGINT) AS pixel_max,
           CAST(bit_xor(v * 1024 + y * {JPG_BW} * 8 + x) AS BIGINT) AS pixel_checksum
    FROM v GROUP BY img
    """,
    bench=True,
)
def q_image_jpeg_q100_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-100 JPEG decode, pixel-exact on TEXTURED content (round-8
    widening of the codec's exact class; VERDICT r7 item 6).  The
    fixtures put per-block energy on the {0,4}x{0,4} DCT frequency
    lattice — pixel form a + b*sig(x) + c*sig(y) + d*sig(x)*sig(y) with
    sig the k=4 sign pattern (+,-,-,+,+,-,-,+) — where every
    orthonormal basis product is exactly +-1/8, so with the all-ones
    quality-100 quantization table the decoder takes its exact integer
    IDCT path (functions/jpeg.py) and the oracle states the pixels in
    closed form: real texture, zero PSNR gate.  (The reference decodes
    via cv2.imdecode, `HOUGH Transform/hough_heart_detector.py:36-40`.)

    Scale shape: identical to the other codec queries — binaryFile
    splits by file, per-blob batch-columnar kernel, JVM aggregation."""
    def write_jpegs(stage: str) -> None:
        sx = np.tile(SIG44, JPG_BW)[None, :]
        sy = np.tile(SIG44, JPG_BH)[:, None]
        ones = np.ones((8, 8), np.int64)
        by, bx = np.mgrid[0:JPG_BH, 0:JPG_BW]
        for img in range(N_JPG):
            a = 64 + (bx * 5 + by * 11 + img * 17) % 128
            b = (bx * 3 + img) % 31 - 15
            c = (by * 7 + img * 2) % 31 - 15
            d = (bx + by + img * 3) % 31 - 15
            A, B, C, D = (np.kron(m, ones) for m in (a, b, c, d))
            v = A + B * sx + C * sy + D * sx * sy
            with open(os.path.join(stage, f"img-{img:04d}.jpg"), "wb") as fh:
                fh.write(jpeg_encode_gray(v.astype(np.uint8), qtable=QTABLE_Q100))

    stage = staged_fixture(spark, "jpgq100", write_jpegs)
    return _jpeg_stats_df(spark, stage)


GZ_SHARDS = 8


def _sharded_docs(spark: SparkSession, sf_dir: str, n: int, key: str = "shard") -> DataFrame:
    """documents as (doc_id, text with NULL read as '', ``key`` =
    doc_id % n) — the input of every corpus-shard export."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        (F.col("doc_id") % n).alias(key),
    )


def _hex_lines(pdf: pd.DataFrame) -> bytes:
    """A shard's ``doc_id<TAB>hex(text)`` lines, the plain body of
    every compressed corpus shard."""
    return "".join(
        f"{int(d)}\t{t.encode('utf-8').hex()}\n" for d, t in zip(pdf["doc_id"], pdf["text"])
    ).encode("ascii")


def _parse_hex_lines(body: bytes) -> list[tuple]:
    """(doc_id, byte_len, h56) per ``doc_id<TAB>hex(text)`` line."""
    rows = []
    for line in body.decode("ascii").splitlines():
        sid, hx = line.split("\t", 1)
        raw = bytes.fromhex(hx)
        rows.append((int(sid), len(raw), _md5_bits(raw, 14)))
    return rows


def _gz_corpus_stage(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per session+sf_dir) the documents table as
    {GZ_SHARDS} genuine gzip shards of ``doc_id<TAB>hex(text)`` lines,
    written DISTRIBUTED (one bounded applyInPandas task per shard).
    Shared by the batch ingest (compressed_text_ingest) and the
    streaming backfill (stream_corpus_backfill)."""
    docs = _sharded_docs(spark, sf_dir, GZ_SHARDS)

    def write_one(shard: int, pdf: pd.DataFrame) -> tuple[str, bytes]:
        return f"shard-{shard:03d}.gz", gzip.compress(_hex_lines(pdf))

    def write(stage: str) -> None:
        assert len(write_shards(docs, "shard", write_one, stage)) == GZ_SHARDS

    return staged_fixture(spark, "gz", write, sf_dir)


def _gz_parse(_path: str, blob: bytes) -> list[tuple]:
    """Gunzip and parse one corpus shard into (doc_id, byte_len, h56)
    rows.  Shared by the batch ingest and the streaming backfill — ONE
    definition, so the 'streaming result equals the batch ingest'
    invariant can't drift."""
    return _parse_hex_lines(gzip.decompress(blob))


@query(
    "compressed_text_ingest",
    oracle=f"""
    SELECT doc_id % {GZ_SHARDS} AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(octet_length(encode(COALESCE(text, '')))) AS BIGINT) AS total_bytes,
           CAST(bit_xor(('0x' || substr(md5(COALESCE(text, '')), 1, 14))::BIGINT)
                AS BIGINT) AS content_checksum
    FROM documents GROUP BY 1
    """,
    bench=True, exchanges=1,  # exactly the one final-agg shuffle
)
def q_compressed_text_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-corpus ingestion, the Common-Crawl-shaped front door
    of every LLM data pipeline: the documents table is exported as
    {GZ_SHARDS} genuine ``.gz`` shards (stdlib gzip, one bounded task
    per shard via applyInPandas — the distributed writer, not a driver
    loop), then ingested back DISTRIBUTED: binaryFile splits by shard,
    a mapInPandas kernel gunzips and parses each shard's
    ``doc_id<TAB>hex(text)`` lines, and per-shard doc counts, byte
    totals and 56-bit content checksums are computed from the DECODED
    bytes.  The oracle computes the same aggregates straight from the
    documents table — equality proves the compress->shard->scan->
    decompress->parse loop preserved every document bit-for-bit.

    Scale shape: shards write in parallel to shared storage; gzip
    being non-splittable is exactly why the corpus arrives SHARDED —
    one file per task is the real contract at 100 TB (WET/WARC
    shards), and the kernel is batch-columnar per blob."""
    stage = _gz_corpus_stage(spark, sf_dir)
    parsed = decode_files(
        staged_files(spark, stage, "*.gz"), _gz_parse, "doc_id BIGINT, byte_len BIGINT, h56 BIGINT"
    )
    return parsed.groupBy((F.col("doc_id") % GZ_SHARDS).alias("shard")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("byte_len").cast("bigint").alias("total_bytes"),
        F.bit_xor("h56").cast("bigint").alias("content_checksum"),
    )


# one shard per codec (gz / bz2 / xz), written by codec_id = doc_id % 3
_CODECS = {"gz": gzip, "bz2": bz2, "xz": lzma}


@query(
    "multiformat_text_ingest",
    oracle=f"""
    SELECT CASE doc_id % 3 WHEN 0 THEN 'gz' WHEN 1 THEN 'bz2' ELSE 'xz' END AS codec,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(octet_length(encode(COALESCE(text, '')))) AS BIGINT) AS total_bytes,
           CAST(bit_xor(('0x' || substr(md5(COALESCE(text, '')), 1, 14))::BIGINT)
                AS BIGINT) AS content_checksum
    FROM documents GROUP BY 1
    """,
    exchanges=1,  # exactly the one final-agg shuffle
)
def q_multiformat_text_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous compressed-corpus ingestion: real corpora arrive
    in whatever codec each source used, so the shards here are a MIX of
    genuine gzip / bzip2 / xz files (all stdlib codecs) and ONE kernel
    dispatches on file extension — the production shape where a single
    scan unifies Common Crawl .gz, archive .bz2, and Pile-style .xz
    drops.  Stats per codec come from the decoded bytes; the oracle
    recomputes them from the table, so all three decompressors are
    under the same value gate.  (Scale notes as compressed_text_ingest:
    one non-splittable file per task is the sharding contract.)"""
    docs = _sharded_docs(spark, sf_dir, 3, key="codec_id")

    def write_one(codec_id: int, pdf: pd.DataFrame) -> tuple[str, bytes]:
        ext = list(_CODECS)[codec_id]
        return f"shard-{codec_id}.{ext}", _CODECS[ext].compress(_hex_lines(pdf))

    def write(stage: str) -> None:
        assert len(write_shards(docs, "codec_id", write_one, stage)) == 3

    stage = staged_fixture(spark, "multifmt", write, sf_dir)

    def decode_one(path: str, blob: bytes) -> list[tuple]:
        ext = path.rsplit(".", 1)[1]
        return [(ext, n, h) for _d, n, h in _parse_hex_lines(_CODECS[ext].decompress(blob))]

    parsed = decode_files(
        staged_files(spark, stage, "shard-*"), decode_one, "codec STRING, byte_len BIGINT, h56 BIGINT"
    )
    return parsed.groupBy("codec").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("byte_len").cast("bigint").alias("total_bytes"),
        F.bit_xor("h56").cast("bigint").alias("content_checksum"),
    )


ARROW_SHARDS = 4


@query(
    "arrow_ipc_ingest",
    oracle=f"""
    SELECT doc_id % {ARROW_SHARDS} AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total,
           CAST(bit_xor(doc_id * 131071 + n_chars) AS BIGINT) AS row_checksum
    FROM documents GROUP BY 1
    """,
    exchanges=1,  # exactly the one final-agg shuffle
)
def q_arrow_ipc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC (Feather v2) ingestion — the zero-copy interchange
    format ML data tooling hands off (HuggingFace datasets, Ray, Polars
    dumps): the documents table is exported as genuine ``.arrow``
    stream files (one bounded applyInPandas task per shard writing with
    pyarrow.ipc), then ingested back DISTRIBUTED via binaryFile + a
    kernel that opens each blob with ``pa.ipc.open_stream`` and reads
    record batches columnar — no per-row Python.  Stats come from the
    decoded batches; the oracle recomputes them from the table, proving
    the schema+batch round trip exact.

    Scale shape: Arrow IPC is record-batch-framed, so a 100 TB handoff
    arrives as many stream files; each is one task and the in-kernel
    read is zero-parse columnar."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", (F.col("doc_id") % ARROW_SHARDS).alias("shard")
    )

    def write_one(shard: int, pdf: pd.DataFrame) -> tuple[str, bytes]:
        tbl = pa.table(
            {
                "doc_id": pa.array(pdf["doc_id"], pa.int64()),
                "n_chars": pa.array(pdf["n_chars"], pa.int64()),
            }
        )
        sink = pa.BufferOutputStream()
        with ipc.new_stream(sink, tbl.schema) as w:
            w.write_table(tbl)
        return f"shard-{shard:03d}.arrow", sink.getvalue().to_pybytes()

    def write(stage: str) -> None:
        assert len(write_shards(docs, "shard", write_one, stage)) == ARROW_SHARDS

    stage = staged_fixture(spark, "arrowipc", write, sf_dir)

    def decode_one(_path: str, blob: bytes) -> dict:
        with ipc.open_stream(blob) as r:
            out = r.read_all().to_pandas()
        return {"doc_id": out["doc_id"], "n_chars": out["n_chars"]}

    parsed = decode_files(
        staged_files(spark, stage, "*.arrow"), decode_one, "doc_id BIGINT, n_chars BIGINT"
    )
    return parsed.groupBy((F.col("doc_id") % ARROW_SHARDS).alias("shard")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
        F.bit_xor(F.col("doc_id") * 131071 + F.col("n_chars"))
        .cast("bigint")
        .alias("row_checksum"),
    )


SQLITE_SHARDS = 4
_DOC_STATS = "doc_id BIGINT, byte_len BIGINT, h48 BIGINT"


def _text_stats(text: str) -> tuple[int, int]:
    """(byte_len, h48) of a document's UTF-8 bytes."""
    raw = text.encode("utf-8")
    return len(raw), _md5_bits(raw, 12)


def _doc_shard_stats(parsed: DataFrame, n_shards: int, mul: int) -> DataFrame:
    """Per-shard (n_docs, total_bytes, content_checksum) of decoded
    (doc_id, byte_len, h48) rows; the checksum xors doc_id*mul + h48."""
    return parsed.groupBy((F.col("doc_id") % n_shards).alias("shard")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("byte_len").cast("bigint").alias("total_bytes"),
        F.bit_xor(F.col("doc_id") * mul + F.col("h48")).cast("bigint").alias("content_checksum"),
    )


@query(
    "sqlite_db_ingest",
    oracle=f"""
    SELECT doc_id % {SQLITE_SHARDS} AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(octet_length(encode(COALESCE(text, '')))) AS BIGINT) AS total_bytes,
           CAST(bit_xor(doc_id * 8191
                        + ('0x' || substr(md5(COALESCE(text, '')), 1, 12))::BIGINT)
                AS BIGINT) AS content_checksum
    FROM documents GROUP BY 1
    """,
    exchanges=1,  # exactly the one final-agg shuffle
)
def q_sqlite_db_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational-database dump ingestion — the migration path every
    lakehouse runs when an app's SQLite/edge database lands in object
    storage: {SQLITE_SHARDS} GENUINE SQLite database files (real pager
    format, built and ``Connection.serialize()``d by one bounded
    applyInPandas task each), ingested back DISTRIBUTED via binaryFile
    + a kernel that ``deserialize()``s each blob into an in-memory
    connection and SELECTs the rows out — a real SQL engine parsing a
    real database file inside the executor, stdlib only.  Per-shard
    stats come from the rows read OUT of the database; the oracle
    recomputes them from the source table, proving the
    rows->pager-file->rows loop exact.

    Scale shape: one dump file per task (edge databases are small by
    nature — the fleet is what's big); the kernel is batch-per-file
    and the aggregation stays JVM-side."""
    docs = _sharded_docs(spark, sf_dir, SQLITE_SHARDS)

    def write_one(shard: int, pdf: pd.DataFrame) -> tuple[str, bytes]:
        with closing(sqlite3.connect(":memory:")) as con:
            con.execute("CREATE TABLE docs (doc_id INTEGER PRIMARY KEY, text TEXT)")
            con.executemany(
                "INSERT INTO docs VALUES (?, ?)",
                [(int(d), t) for d, t in zip(pdf["doc_id"], pdf["text"])],
            )
            con.commit()
            return f"dump-{shard:03d}.db", con.serialize()

    def write(stage: str) -> None:
        assert len(write_shards(docs, "shard", write_one, stage)) == SQLITE_SHARDS

    stage = staged_fixture(spark, "sqlite", write, sf_dir)

    def decode_one(_path: str, blob: bytes) -> list[tuple]:
        with closing(sqlite3.connect(":memory:")) as con:
            con.deserialize(blob)
            return [(d, *_text_stats(t)) for d, t in con.execute("SELECT doc_id, text FROM docs")]

    parsed = decode_files(staged_files(spark, stage, "*.db"), decode_one, _DOC_STATS)
    return _doc_shard_stats(parsed, SQLITE_SHARDS, 8191)


WDS_SHARDS, WDS_PER_SHARD = 4, 8  # 32 (image, caption) samples


@query(
    "webdataset_tar_ingest",
    oracle=f"""
    WITH sample AS (
      SELECT s.sh AS shard, s.sh * {WDS_PER_SHARD} + k.k AS sample_id
      FROM range({WDS_SHARDS}) s(sh), range({WDS_PER_SHARD}) k(k)
    ),
    px AS (
      SELECT sample_id,
             SUM(((x // 8) * 5 + (y // 8) * 11 + sample_id * 29) % 128 * 2) AS psum
      FROM sample, range({JPG_BH} * 8) r(y), range({JPG_BW} * 8) c(x)
      GROUP BY sample_id
    )
    SELECT sample.shard,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(px.psum) AS BIGINT) AS images_pixel_sum,
           CAST(bit_xor(('0x' || substr(md5('caption-' || CAST(sample.sample_id AS VARCHAR)), 1, 14))::BIGINT)
                AS BIGINT) AS captions_checksum
    FROM sample JOIN px USING (sample_id)
    GROUP BY 1
    """,
    bench=True, exchanges=1,  # exactly the one final-agg shuffle
)
def q_webdataset_tar_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-shard ingestion — THE storage layout of multimodal
    training pipelines (a corpus = .tar shards, a sample = co-named
    members like ``000123.jpg`` + ``000123.txt``): {WDS_SHARDS} genuine
    POSIX tar files are staged, each holding {WDS_PER_SHARD}
    (image, caption) pairs where the images are REAL baseline JPEGs
    (functions/jpeg.py, block-constant lossless class), then ingested
    DISTRIBUTED: binaryFile delivers one shard per task, the kernel
    opens the tar from bytes with stdlib ``tarfile``, pairs members by
    stem, JPEG-decodes every image and reads every caption.  Per-shard
    pixel sums come from DECODED pixels and caption checksums from the
    extracted text; the oracle replays the image generator arithmetic
    and hashes the caption strings itself — container framing, member
    pairing, and the full JPEG pipeline all under one value gate.

    Scale shape: shard-per-task is exactly how WebDataset scales
    (sequential tar reads, no per-sample object-store round trips);
    the kernel is batch-per-shard and aggregation stays JVM-side."""
    def write_tars(stage: str) -> None:
        by, bx = np.mgrid[0:JPG_BH, 0:JPG_BW]
        for sh in range(WDS_SHARDS):
            with tarfile.open(
                os.path.join(stage, f"shard-{sh:03d}.tar"), "w"
            ) as tf:
                for k in range(WDS_PER_SHARD):
                    sid = sh * WDS_PER_SHARD + k
                    bvals = (((bx * 5 + by * 11 + sid * 29) % 128) * 2).astype(np.uint8)
                    jpg = jpeg_encode_gray(np.kron(bvals, np.ones((8, 8), np.uint8)))
                    cap = f"caption-{sid}".encode("ascii")
                    for name, payload in ((f"{sid:06d}.jpg", jpg), (f"{sid:06d}.txt", cap)):
                        info = tarfile.TarInfo(name)
                        info.size = len(payload)
                        tf.addfile(info, io.BytesIO(payload))

    stage = staged_fixture(spark, "wds", write_tars)

    def decode_one(_path: str, blob: bytes) -> list[tuple]:
        samples: dict[str, dict[str, bytes]] = {}
        with tarfile.open(fileobj=io.BytesIO(blob)) as tf:
            for m in tf.getmembers():
                stem, ext = m.name.rsplit(".", 1)
                samples.setdefault(stem, {})[ext] = tf.extractfile(m).read()
        rows = []
        for stem, parts in samples.items():
            assert set(parts) == {"jpg", "txt"}, f"incomplete sample {stem}"
            psum = int(jpeg_decode_gray(parts["jpg"]).astype(np.int64).sum())
            rows.append((int(stem), psum, _md5_bits(parts["txt"], 14)))
        return rows

    parsed = decode_files(
        staged_files(spark, stage, "*.tar"), decode_one, "sample_id BIGINT, psum BIGINT, cap56 BIGINT"
    )
    return parsed.groupBy(
        (F.col("sample_id") / WDS_PER_SHARD).cast("bigint").alias("shard")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_samples"),
        F.sum("psum").cast("bigint").alias("images_pixel_sum"),
        F.bit_xor("cap56").cast("bigint").alias("captions_checksum"),
    )


AVRO_SHARDS = 4


@query(
    "avro_ocf_ingest",
    oracle=f"""
    SELECT doc_id % {AVRO_SHARDS} AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(octet_length(encode(COALESCE(text, '')))) AS BIGINT) AS total_bytes,
           CAST(bit_xor(doc_id * 524287
                        + ('0x' || substr(md5(COALESCE(text, '')), 1, 12))::BIGINT)
                AS BIGINT) AS content_checksum
    FROM documents GROUP BY 1
    """,
    exchanges=1,  # exactly the one final-agg shuffle
)
def q_avro_ocf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro Object Container File ingestion — the row-interchange
    format Kafka topics and warehouse exports actually ship: the
    documents table is exported as {AVRO_SHARDS} GENUINE .avro OCFs
    (magic, schema-carrying metadata map, zigzag-varint binary
    encoding, sync-marker blocks — functions/avro.py, hand-rolled from
    the Apache Avro spec since no avro lib ships here), one bounded
    applyInPandas task per shard; then ingested back DISTRIBUTED via
    binaryFile + a kernel that parses each container with the spec
    reader (validating magic, codec, schema, block sizes and sync
    markers).  Per-shard stats come from the DECODED records; the
    oracle recomputes them from the table — the varint codec, string
    framing and block structure all under one value gate.

    Scale shape: OCF is block-framed for exactly this — shard-per-task
    scans with per-block integrity checks; aggregation stays JVM-side."""
    docs = _sharded_docs(spark, sf_dir, AVRO_SHARDS)
    fields = [("doc_id", "long"), ("text", "string")]

    def write_one(shard: int, pdf: pd.DataFrame) -> tuple[str, bytes]:
        recs = [{"doc_id": int(d), "text": t} for d, t in zip(pdf["doc_id"], pdf["text"])]
        sync = bytes([shard]) * 16  # deterministic per-shard marker
        return f"part-{shard:03d}.avro", avro_ocf_bytes(recs, fields, sync)

    def write(stage: str) -> None:
        assert len(write_shards(docs, "shard", write_one, stage)) == AVRO_SHARDS

    stage = staged_fixture(spark, "avro", write, sf_dir)

    def decode_one(_path: str, blob: bytes) -> list[tuple]:
        got, recs = read_avro_ocf(blob)
        assert got == fields
        return [(rec["doc_id"], *_text_stats(rec["text"])) for rec in recs]

    parsed = decode_files(staged_files(spark, stage, "*.avro"), decode_one, _DOC_STATS)
    return _doc_shard_stats(parsed, AVRO_SHARDS, 524287)


PB_SHARDS = 4


@query(
    "protobuf_stream_ingest",
    oracle=f"""
    SELECT doc_id % {PB_SHARDS} AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(octet_length(encode(COALESCE(text, '')))) AS BIGINT) AS total_bytes,
           CAST(bit_xor(doc_id * 262139
                        + ('0x' || substr(md5(COALESCE(text, '')), 1, 12))::BIGINT)
                AS BIGINT) AS content_checksum
    FROM documents GROUP BY 1
    """,
    exchanges=1,  # exactly the one final-agg shuffle
)
def q_protobuf_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protobuf wire-format ingestion — the Kafka/gRPC payload shape:
    the documents table is exported as {PB_SHARDS} length-delimited
    protobuf streams (``message Doc {{ int64 doc_id = 1; string text =
    2; }}`` hand-encoded per the published wire spec,
    functions/protowire.py — google.protobuf is absent, the WIRE
    format needs nothing but varints), with an UNKNOWN fixed64 field
    injected into every message to exercise the spec's forward-compat
    skip path; then ingested back DISTRIBUTED via binaryFile + a
    kernel running the hand-rolled tag/wire-type parser.  Per-shard
    stats come from the DECODED messages; the oracle recomputes them
    from the table — varint framing, field dispatch, and unknown-field
    skipping all under one value gate.

    Scale shape: shard-per-task delimited streams, batch-per-blob
    kernel, JVM-side aggregation — the standing Kafka-archive backfill
    plan."""
    docs = _sharded_docs(spark, sf_dir, PB_SHARDS)

    def write_one(shard: int, pdf: pd.DataFrame) -> tuple[str, bytes]:
        out = bytearray()
        for d, t in zip(pdf["doc_id"], pdf["text"]):
            # unknown field 3 in every message: the reader must skip it
            msg = encode_doc(int(d), t) + fixed64_field(3, int(d) * 17)
            out += _varint(len(msg)) + msg
        return f"part-{shard:03d}.pb", bytes(out)

    def write(stage: str) -> None:
        assert len(write_shards(docs, "shard", write_one, stage)) == PB_SHARDS

    stage = staged_fixture(spark, "pb", write, sf_dir)

    def decode_one(_path: str, blob: bytes) -> list[tuple]:
        return [(d, *_text_stats(t)) for d, t in decode_stream(blob)]

    parsed = decode_files(staged_files(spark, stage, "*.pb"), decode_one, _DOC_STATS)
    return _doc_shard_stats(parsed, PB_SHARDS, 262139)


GIF_W, GIF_H, GIF_FRAMES = 48, 32, 6


@query(
    "gif_frames_decode",
    oracle=f"""
    WITH px AS (
      SELECT i, yy, xx, (xx * 7 + yy * 3 + i * 41) % 256 AS v
      FROM range({GIF_FRAMES}) f(i), range({GIF_H}) r(yy), range({GIF_W}) c(xx)
    )
    SELECT i AS frame_id,
           CAST(SUM(v) AS BIGINT) AS pixel_sum,
           CAST(MAX(v) AS BIGINT) AS pixel_max,
           CAST(bit_xor(v * 2048 + yy * {GIF_W} + xx) AS BIGINT) AS pixel_checksum
    FROM px GROUP BY i
    """,
    exchanges=0,  # pure per-file scan
)
def q_gif_frames_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-GIF demux + decode, the third hand-rolled raster codec
    (functions/gif.py, GIF89a from the published spec): one genuine
    multi-frame grayscale GIF — real LZW with variable-width LSB-first
    codes, CLEAR/EOI, 255-byte sub-blocks — is staged and decoded
    DISTRIBUTED; per-frame stats come from the DECODED, palette-mapped
    pixels and the oracle replays the generator arithmetic.  GIF being
    lossless over its palette is what lets the whole LZW dictionary
    machinery (incl. width growth and the cScSc special case) sit
    under an exact value gate.  Like video_y4m_frames, one file is one
    binaryFile row; at scale each row is a clip and frames feed the
    motion pipeline."""
    def write_clip(stage: str) -> None:
        yy, xx = np.mgrid[0:GIF_H, 0:GIF_W]
        frames = [
            ((xx * 7 + yy * 3 + i * 41) % 256).astype(np.uint8)
            for i in range(GIF_FRAMES)
        ]
        with open(os.path.join(stage, "clip.gif"), "wb") as fh:
            fh.write(gif_encode_gray(frames))

    stage = staged_fixture(spark, "gif", write_clip)

    def demux(_path: str, blob: bytes) -> list[tuple]:
        return [
            (i, *_pixel_stats(frame, 2048))
            for i, frame in enumerate(gif_decode_gray(blob))
        ]

    return decode_files(
        staged_files(spark, stage, "*.gif"),
        demux,
        "frame_id BIGINT, pixel_sum BIGINT, pixel_max BIGINT, pixel_checksum BIGINT",
    )

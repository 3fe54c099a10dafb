"""Bare-driver regression: the Python kernels run under the driver
contract's own setup — a SparkSession with no configuration, built in a
process started outside the repo with ``PYTHONPATH`` unset, that loads
``__spark_entry__.py`` by file path.  Its Python workers cannot import
the package, so worker code must reach it only through closures pickled
by value (see the package docstring)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

from tests.conftest import SF_ORACLE

REPO = Path(__file__).resolve().parent.parent

# every query whose worker code once imported the package, or pickled a
# package function by reference, and so failed under a bare driver
QUERIES = [
    "image_png_decode",
    "image_jpeg_decode",
    "image_jpeg_q100_decode",
    "gif_frames_decode",
    "webdataset_tar_ingest",
    "avro_ocf_ingest",
    "protobuf_stream_ingest",
    "volume_nifti_export",
    "figure_heatmap_sink",
    "arrow_batch_norm",
    "embedding_power_iteration",
]

_DRIVER = textwrap.dedent(
    """
    import importlib.util, json, sys

    def load(name, path):
        spec = importlib.util.spec_from_file_location(name, path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    repo, sf, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    entry = load("__spark_entry__", f"{repo}/__spark_entry__.py")
    oracle_utils = load("oracle_utils", f"{repo}/tests/oracle_utils.py")

    import duckdb
    from pyspark.sql import SparkSession

    from bigdata_assigment3_spark.sources import TABLES

    spark = SparkSession.builder.master("local[2]").getOrCreate()
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    qs, osql = entry.queries(), entry.oracle_sql()
    out = {}
    for n in names:
        try:
            out[n] = oracle_utils.compare(qs[n](spark, sf), duck.sql(osql[n]), n)
        except Exception as e:
            out[n] = [f"{n}: {type(e).__name__}: {str(e)[-600:]}"]
    spark.stop()
    print(json.dumps(out))
    """
)


def test_python_kernels_run_under_a_bare_driver(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER, str(REPO), SF_ORACLE, *QUERIES],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=1200,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = [p for name in QUERIES for p in result[name]]
    assert problems == [], "\n".join(problems)

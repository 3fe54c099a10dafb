"""The benchmark's input tables.

``data/sf0.01/`` holds the engine's sf0.01 test tables (data seed 42), byte
for byte: the ten tables the registered queries read.  ``scaled`` builds the
n-copy fixture from them with the repository's own
``tests/make_scale_fixture.py`` (copy ``i`` offsets every key column by
``i * (max key + 1)``), and reuses a fixture directory when its manifest
names the same base and copy count and every table holds the expected number
of rows.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _fixture_script(root: str):
    path = os.path.join(root, "tests", "make_scale_fixture.py")
    spec = importlib.util.spec_from_file_location("make_scale_fixture", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return path, mod


def row_counts(data_dir: str) -> dict[str, int]:
    return {t: pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
            for t in TABLES}


def base_identity() -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(BASE, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def expected_counts(copies: int, key_cols: dict[str, dict]) -> dict[str, int]:
    """Rows per table of the ``copies``-fold fixture: tables without key
    columns are shared dimensions and keep one copy."""
    return {t: n * (copies if key_cols[t] else 1) for t, n in row_counts(BASE).items()}


def is_current(dst: str, manifest: dict) -> bool:
    try:
        with open(os.path.join(dst, "manifest.json")) as f:
            if json.load(f) != manifest:
                return False
        return row_counts(dst) == manifest["rows"]
    except (OSError, ValueError):
        return False


def scaled(root: str, copies: int, dst: str, log) -> str:
    """``dst`` holding ``copies`` key-offset copies of the base tables,
    built by ``tests/make_scale_fixture.py`` unless already there."""
    script, mod = _fixture_script(root)
    manifest = {"base": base_identity(), "copies": copies,
                "rows": expected_counts(copies, mod.KEY_COLS)}
    if is_current(dst, manifest):
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run([sys.executable, script, str(copies), BASE, tmp],
                   check=True, stdout=log, stderr=log, timeout=300)
    got = row_counts(tmp)
    if got != manifest["rows"]:
        raise RuntimeError(f"scaled fixture rows {got} != {manifest['rows']}")
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    os.rename(tmp, dst)
    return dst

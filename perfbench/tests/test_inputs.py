"""Unit tests for the scaled fixture's row-count and reuse check."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import inputs  # noqa: E402

ROOT = os.path.dirname(HERE)


def test_scaled_fixture_is_checked_and_reused(tmp_path):
    dst = str(tmp_path / "x2")
    with open(tmp_path / "log", "wb") as log:
        inputs.scaled(ROOT, 2, dst, log)
        base = inputs.row_counts(inputs.BASE)
        got = inputs.row_counts(dst)
        assert got["lineitem"] == 2 * base["lineitem"]
        assert got["nation"] == base["nation"]  # shared dimension
        mtime = os.stat(f"{dst}/lineitem.parquet").st_mtime_ns
        inputs.scaled(ROOT, 2, dst, log)
        assert os.stat(f"{dst}/lineitem.parquet").st_mtime_ns == mtime

        with open(f"{dst}/manifest.json") as f:
            manifest = json.load(f)
        manifest["rows"]["lineitem"] += 1
        with open(f"{dst}/manifest.json", "w") as f:
            json.dump(manifest, f)
        assert not inputs.is_current(dst, manifest)
        inputs.scaled(ROOT, 2, dst, log)
        assert os.stat(f"{dst}/lineitem.parquet").st_mtime_ns != mtime
        assert inputs.row_counts(dst) == got

"""Correctness gate: each query's answer against its DuckDB oracle.

Oracle answers are stored in canonical form (``tests/oracle_utils.py``
normalisation: columns sorted by name, values stringified, rows sorted) and
cached by input-file identity plus SQL text, so a run pays DuckDB only when
the inputs or the SQL change.  ``check`` applies the ``oracle_utils.compare``
rules: same columns, same dtype kinds where neither side has nulls, same row
count, same canonical rows.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

from inputs import TABLES


def load_oracle_utils(root: str):
    path = os.path.join(root, "tests", "oracle_utils.py")
    spec = importlib.util.spec_from_file_location("oracle_utils", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def canonical(pdf, normalize) -> dict:
    return {
        "columns": sorted(pdf.columns),
        "kinds": {c: pdf[c].dtype.kind for c in pdf.columns},
        "nulls": {c: bool(pdf[c].isna().any()) for c in pdf.columns},
        "rows": [list(r) for r in normalize(pdf)],
    }


def input_identity(data_dir: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        st = os.stat(os.path.join(data_dir, f"{t}.parquet"))
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()


def expected(root: str, data_dir: str, sqls: dict[str, str], cache_dir: str) -> dict[str, dict]:
    """Canonical oracle answer per query, computed in DuckDB on a cache miss."""
    ident = input_identity(data_dir)
    os.makedirs(cache_dir, exist_ok=True)
    out, con, normalize = {}, None, None
    try:
        for name, sql in sqls.items():
            path = os.path.join(
                cache_dir, hashlib.sha256(f"{ident}\n{sql}".encode()).hexdigest() + ".json"
            )
            if os.path.exists(path):
                with open(path) as f:
                    out[name] = json.load(f)
                continue
            if con is None:
                import duckdb

                normalize = load_oracle_utils(root).normalize
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, t)}.parquet')"
                    )
            out[name] = canonical(con.sql(sql).df(), normalize)
            with open(path + ".tmp", "w") as f:
                json.dump(out[name], f)
            os.replace(path + ".tmp", path)
    finally:
        if con is not None:
            con.close()
    return out


def check(got: dict, want: dict) -> list[str]:
    """Mismatch descriptions between two canonical answers (empty = match)."""
    if got["columns"] != want["columns"]:
        return [f"columns {got['columns']} != {want['columns']}"]
    problems = [
        f"dtype kind of {c}: {got['kinds'][c]} != {want['kinds'][c]}"
        for c in got["columns"]
        if got["kinds"][c] != want["kinds"][c] and not got["nulls"][c] and not want["nulls"][c]
    ]
    if len(got["rows"]) != len(want["rows"]):
        problems.append(f"row count {len(got['rows'])} != {len(want['rows'])}")
    elif got["rows"] != want["rows"]:
        problems.append("values differ")
    return problems

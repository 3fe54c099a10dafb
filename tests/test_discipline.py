"""Source-level discipline gates: the anti-patterns that silently kill
a plan at 100 TB must fail review here, not be re-found by a human
each round.

These mirror the per-round audit: no row-at-a-time Python UDFs (every
Python kernel must be Arrow-batched), no RDD API in the DataFrame
engine, no driver-side re-parallelize.  Comments/docstrings are
stripped before matching so prose ABOUT an anti-pattern stays legal.
"""

from __future__ import annotations

import ast
import io
import pathlib
import re
import tokenize

PKG = pathlib.Path(__file__).resolve().parent.parent / "bigdata_assigment3_spark"


def _code_only(path: pathlib.Path) -> str:
    """Source with comments and docstrings removed."""
    src = path.read_text()
    out = []
    prev_end = (1, 0)
    toks = list(tokenize.generate_tokens(io.StringIO(src).readline))
    doc_ranges = []
    tree = ast.parse(src)
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = getattr(node, "body", [])
            if body and isinstance(body[0], ast.Expr) and isinstance(
                body[0].value, ast.Constant
            ) and isinstance(body[0].value.value, str):
                doc_ranges.append((body[0].lineno, body[0].end_lineno))
    for tok in toks:
        if tok.type == tokenize.COMMENT:
            continue
        if tok.type == tokenize.STRING and any(
            a <= tok.start[0] <= b for a, b in doc_ranges
        ):
            continue
        out.append(tok.string)
    return " ".join(out)


def _scan(pattern: str) -> list[str]:
    rx = re.compile(pattern)
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        if rx.search(_code_only(path)):
            hits.append(str(path.relative_to(PKG)))
    return hits


def test_no_row_at_a_time_python_udf():
    """F.udf / pandas-free udf() is the 10-100x slow path; every Python
    kernel must go through pandas_udf / mapInPandas / applyInPandas /
    mapInArrow."""
    assert _scan(r"\bF\s*\.\s*udf\s*\(") == []
    assert _scan(r"(?<!pandas_)\budf\s*\(\s*lambda") == []


def test_no_rdd_api():
    """RDDs bypass Catalyst entirely — nothing in the engine may drop
    to them (imperative per-partition logic goes through mapInPandas)."""
    assert _scan(r"\.\s*rdd\b") == []
    assert _scan(r"\bparallelize\s*\(") == []


def test_no_pandas_collect_in_engine():
    """toPandas() on an unbounded DataFrame is a driver OOM at scale;
    the engine never materializes results driver-side (tests may)."""
    assert _scan(r"\.\s*toPandas\s*\(") == []


# --------------------------------------------------------------------
# SF-growing broadcast gate (round-8, VERDICT r7 item 2): F.broadcast
# of a side whose row count grows with the corpus is an executor OOM
# at 100 TB.  The scanner traces each F.broadcast argument back through
# same-function assignments (plus same-module helpers/constants) and
# flags provenance that touches an SF-scaled source without any
# bounding construct.  Bounding = .limit / spark.range / literal
# createDataFrame / region-nation dims / a 1-row global aggregate /
# an enum-keyed aggregate / an explicit bounded_broadcast waiver
# (those call sites are pinned below, so adding one is a reviewed
# change).

_SCALED_RE = re.compile(
    r"load_table(?:_parallel)?\s*\([^)]*[\"'](?:customer|supplier|part|orders"
    r"|lineitem|events|documents|embeddings)[\"']"
    r"|_shingles_df\s*\(|\bq_\w+\s*\("
    r"|customer_priority_history\s*\(|readStream"
)
_BOUNDED_RE = re.compile(
    r"\.\s*limit\s*\(|\.\s*range\s*\(|createDataFrame\s*\(|bounded_broadcast\s*\("
    r"|load_table\s*\([^)]*[\"'](?:region|nation)[\"']"
)
# columns whose cardinality is structurally bounded (enum codes, sketch
# coordinates, band/centroid ids) — an aggregate keyed ONLY by these
# yields a constant-size result at any SF
_ENUM_KEYS = {
    "event_type", "source", "lang", "priority", "prev_type", "label",
    "depth", "bucket", "sub_id", "code", "list_id", "band",
}
_GROUPBY_RE = re.compile(r"groupBy\s*\(([^)]*)\)")
_KEY_RE = re.compile(r"[\"'](\w+)[\"']")


def _segment_bounded(seg: str, refs_grouped_data: bool) -> bool:
    if _BOUNDED_RE.search(seg):
        return True
    # global aggregate (exactly one row) — but NOT when the segment
    # references a name holding a bare GroupedData: `g = df.groupBy(k);
    # x = g.agg(...)` is a per-key aggregate split across assignments,
    # the evasion a single-chain text check misses
    if ".agg(" in seg and "groupBy" not in seg and not refs_grouped_data:
        return True
    for m in _GROUPBY_RE.finditer(seg):
        keys = _KEY_RE.findall(m.group(1))
        if keys and all(k in _ENUM_KEYS for k in keys):
            return True
    return False


def _broadcast_violations(src: str, rel: str) -> list[str]:
    tree = ast.parse(src)
    funcs: dict[str, ast.AST] = {}
    consts: dict[str, ast.AST] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            funcs[node.name] = node
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    consts[t.id] = node.value
    def _is_grouped_data(rhs: ast.AST) -> bool:
        """RHS leaves a bare GroupedData (groupBy/rollup/cube/pivot not
        consumed by .agg in the same expression)."""
        return (
            isinstance(rhs, ast.Call)
            and isinstance(rhs.func, ast.Attribute)
            and rhs.func.attr in {"groupBy", "groupby", "rollup", "cube", "pivot"}
        )

    out = []
    for fn in [n for n in ast.walk(tree)
               if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]:
        local: dict[str, list[ast.AST]] = {}
        for node in ast.walk(fn):
            if isinstance(node, ast.Assign):
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        local.setdefault(t.id, []).append(node.value)
        grouped_names = {
            name
            for scope in (local, consts)
            for name, rhss in (
                scope.items() if scope is local
                else ((k, [v]) for k, v in scope.items())
            )
            for rhs in rhss
            if _is_grouped_data(rhs)
        }
        for node in ast.walk(fn):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
                and node.args
            ):
                continue
            # trace the argument: its own source plus the RHS of every
            # reachable assignment / same-module helper
            segments, seen, stack = [], set(), [node.args[0]]
            while stack:
                n = stack.pop()
                names = {x.id for x in ast.walk(n) if isinstance(x, ast.Name)}
                segments.append(
                    (ast.get_source_segment(src, n) or "",
                     bool(names & grouped_names))
                )
                for name in names:
                    if name in seen:
                        continue
                    seen.add(name)
                    stack.extend(local.get(name, []))
                    if name in funcs:
                        stack.append(funcs[name])
                    elif name in consts:
                        stack.append(consts[name])
            prov = "\n".join(s for s, _ in segments)
            if _SCALED_RE.search(prov) and not any(
                _segment_bounded(s, g) for s, g in segments
            ):
                out.append(f"{rel}:{node.lineno} in {fn.name}")
    return out


def test_no_sf_growing_broadcast():
    """Every F.broadcast whose provenance reaches an SF-scaled table
    must pass through a bounding construct; the two contract-bounded
    exceptions go through bounded_broadcast and are pinned below."""
    violations = []
    for path in sorted(PKG.rglob("*.py")):
        violations += _broadcast_violations(
            path.read_text(), str(path.relative_to(PKG))
        )
    assert violations == [], violations


def test_broadcast_gate_fires_on_bad_plan():
    """The scanner must actually catch the round-7 bug class: a forced
    broadcast of a per-document aggregate (one row per doc = SF-growing)
    — and must NOT fire once the side is explicitly bounded."""
    bad = (
        "def q(spark, sf_dir):\n"
        "    docs = load_table(spark, sf_dir, 'documents')\n"
        "    norms = docs.groupBy('doc_id').agg(F.sum('x').alias('n2'))\n"
        "    return docs.join(F.broadcast(norms), 'doc_id')\n"
    )
    assert _broadcast_violations(bad, "bad.py") == ["bad.py:4 in q"]
    good = bad.replace(".agg(F.sum('x').alias('n2'))",
                       ".agg(F.sum('x').alias('n2')).limit(10)")
    assert _broadcast_violations(good, "good.py") == []
    # split-chain evasion: a bare GroupedData assigned to its own name
    # must not launder the per-key aggregate into a "global" one
    split = (
        "def q(spark, sf_dir):\n"
        "    docs = load_table(spark, sf_dir, 'documents')\n"
        "    grp = docs.groupBy('doc_id')\n"
        "    norms = grp.agg(F.sum('x').alias('n2'))\n"
        "    return docs.join(F.broadcast(norms), 'doc_id')\n"
    )
    assert _broadcast_violations(split, "split.py") == ["split.py:5 in q"]
    # ...while a completed global aggregate referenced by name stays
    # bounded (x = big.agg(...) is one row however it is spelled)
    glob = (
        "def q(spark, sf_dir):\n"
        "    docs = load_table(spark, sf_dir, 'documents')\n"
        "    mx = docs.agg(F.max('x').alias('m'))\n"
        "    return docs.crossJoin(F.broadcast(mx))\n"
    )
    assert _broadcast_violations(glob, "glob.py") == []
    # the scan-width-guarded loader is as SF-scaled as the plain one
    wide = (
        "def q(spark, sf_dir):\n"
        "    emb = load_table_parallel(spark, sf_dir, 'embeddings')\n"
        "    norms = emb.groupBy('vec_id').agg(F.sum('x').alias('n2'))\n"
        "    return emb.join(F.broadcast(norms), 'vec_id')\n"
    )
    assert _broadcast_violations(wide, "wide.py") == ["wide.py:4 in q"]


def test_bounded_broadcast_waivers_pinned():
    """bounded_broadcast is a reviewed waiver, not a free pass: the set
    of call sites is pinned so a new one is a deliberate test edit."""
    sites = set()
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for fn in [n for n in ast.walk(tree)
                   if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]:
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id == "bounded_broadcast"
                ):
                    sites.add((str(path.relative_to(PKG)), fn.name))
    assert sites == {
        # the probe vectors every cosine-ranked ANN query broadcasts
        ("operators/similarity.py", "_probe_vectors"),
        ("operators/similarity.py", "q_ann_band_recall_tradeoff"),
        # the deterministic E2LSH bucket / multi-assign IVF list probe
        # tables — both bounded by the fixed 10-probe set at every SF
        ("operators/similarity.py", "q_ann_lsh_bucketed"),
        ("operators/similarity.py", "q_ann_ivf_probe"),
        ("operators/text.py", "q_bm25_topk_docs"),
        ("operators/text.py", "q_langid_char_ngram"),
        ("streaming/queries.py", "q_stream_pit_enrich"),
    }, sites


# --------------------------------------------------------------------
# One staging root: every dir a query writes files into comes from
# session.stage_dir / session.staged_fixture, which name it after the
# session's applicationId (see the session.py docstring).

def _callee(call: ast.Call) -> str:
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")


def _is_scratch_dir(node: ast.AST) -> bool:
    return isinstance(node, ast.Call) and _callee(node) == "scratch_dir"


def _staging_violations(src: str, rel: str) -> list[str]:
    """Sites that pick a staging path themselves: a temp-dir call, or a
    path joined onto ``scratch_dir()`` (``os.path.join``, f-string, +)."""
    hits = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Call) and _callee(node) in ("gettempdir", "mkdtemp"):
            hits.append(node)
        elif isinstance(node, ast.Call) and _callee(node) == "join" and any(
            _is_scratch_dir(a) for a in node.args
        ):
            hits.append(node)
        elif isinstance(node, ast.JoinedStr) and any(
            isinstance(v, ast.FormattedValue) and _is_scratch_dir(v.value)
            for v in node.values
        ):
            hits.append(node)
        elif isinstance(node, ast.BinOp) and _is_scratch_dir(node.left):
            hits.append(node)
    return [f"{rel}:{n.lineno}" for n in sorted(hits, key=lambda n: n.lineno)]


def test_staging_dirs_come_from_session():
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        if rel != "session.py":
            hits += _staging_violations(path.read_text(), rel)
    assert hits == [], hits


def test_staging_gate_fires_on_bad_code():
    bad = (
        "import os, tempfile\n"
        "from ..session import scratch_dir\n"
        "a = os.path.join(tempfile.gettempdir(), 'x')\n"
        "b = tempfile.mkdtemp()\n"
        "c = os.path.join(scratch_dir(), 'x')\n"
        "d = f'{scratch_dir()}/x'\n"
        "e = scratch_dir() + '/x'\n"
        "f = scratch_dir()\n"
    )
    assert _staging_violations(bad, "bad.py") == [
        "bad.py:3", "bad.py:4", "bad.py:5", "bad.py:6", "bad.py:7",
    ]


def test_memory_sinks_start_in_one_place():
    """Every memory sink starts in ``streaming.queries.start_memory_sink``,
    which names it per call: a fixed query name collides when two
    callers drain the same query on one session."""
    for pattern in (r"\.\s*queryName\s*\(", r"""\bformat\s*\(\s*["']memory["']"""):
        rx = re.compile(pattern)
        sites = {
            str(path.relative_to(PKG)): len(rx.findall(_code_only(path)))
            for path in sorted(PKG.rglob("*.py"))
        }
        assert {k: n for k, n in sites.items() if n} == {"streaming/queries.py": 1}, pattern


def test_ann_rank_pieces_written_once():
    """The ANN queries share one per-query top-k window
    (``similarity._top_k``: order, tie to the lowest id, BIGINT rank)
    and one exact integer dot (``vectors.int_dot``, under
    ``int_cosine``): a query that restates either can drift from the
    others' ranking contract while its own oracle still passes."""
    window = re.compile(r"""partitionBy\s*\(\s*["']query_id["']\s*\)""")
    assert len(window.findall(_code_only(PKG / "operators" / "similarity.py"))) == 1
    dot = re.compile(r"\(\s*x\s*,\s*y\s*\)\s*->\s*x\s*\*\s*y\b")
    sites = {
        str(path.relative_to(PKG)): len(dot.findall(_code_only(path)))
        for path in sorted(PKG.rglob("*.py"))
    }
    assert {k: n for k, n in sites.items() if n} == {"operators/vectors.py": 1}


def _component_labelling(src: str) -> tuple[int, int]:
    """(driver loops that checkpoint a ``F.min`` aggregate each round,
    ``RuntimeError`` raises about non-convergence) in ``src``."""
    loops = raises = 0
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.For, ast.While)):
            calls = {
                ast.unparse(n.func) for n in ast.walk(node) if isinstance(n, ast.Call)
            }
            loops += {"lineage_checkpoint", "F.min"} <= calls
        elif (
            isinstance(node, ast.Raise)
            and isinstance(node.exc, ast.Call)
            and ast.unparse(node.exc.func) == "RuntimeError"
        ):
            raises += "converge" in ast.unparse(node.exc)
    return loops, raises


def test_components_labelled_in_one_place():
    """Connected components are labelled only by
    ``components.connected_components``: one neighbour-min propagation
    loop and one round-cap raise.  A restated loop can keep a round cap
    its graphs outgrow while its own oracle still passes."""
    sites = {
        str(path.relative_to(PKG)): _component_labelling(path.read_text())
        for path in sorted(PKG.rglob("*.py"))
    }
    assert {k: n for k, n in sites.items() if n != (0, 0)} == {
        "operators/components.py": (1, 1)
    }


# --------------------------------------------------------------------
# One way for worker code to reach the package: the package pickles by
# value (see its __init__ docstring), so a Python worker never imports
# it.  A package import inside a nested function — the shape of a UDF,
# kernel or DataSource method — would run on the worker and fail under
# a bare driver session; such code imports on the driver side instead.

_PKG_NAME = PKG.name


def _nested_package_imports(src: str, rel: str) -> list[str]:
    """Package imports (absolute, or any relative import) inside a
    function that is itself inside another function."""
    hits = []

    def visit(node: ast.AST, fn_depth: int) -> None:
        for child in ast.iter_child_nodes(node):
            if fn_depth >= 2 and (
                (isinstance(child, ast.ImportFrom) and (
                    child.level > 0 or (child.module or "").split(".")[0] == _PKG_NAME
                ))
                or (isinstance(child, ast.Import) and any(
                    a.name.split(".")[0] == _PKG_NAME for a in child.names
                ))
            ):
                hits.append(child.lineno)
            is_fn = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda))
            visit(child, fn_depth + is_fn)

    visit(ast.parse(src), 0)
    return [f"{rel}:{n}" for n in sorted(hits)]


def test_no_package_import_in_worker_code():
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        hits += _nested_package_imports(path.read_text(), str(path.relative_to(PKG)))
    assert hits == [], hits


def test_worker_import_gate_fires_on_bad_code():
    bad = (
        "from ..functions.png import png_decode\n"
        "def q(spark):\n"
        "    from ..session import stage_dir\n"
        "    def kernel(batches):\n"
        "        import numpy as np\n"
        f"        from {_PKG_NAME}.functions.jpeg import jpeg_decode_gray\n"
        "        from .png import png_encode\n"
        f"        import {_PKG_NAME}.functions.gif as gif\n"
        "        class Reader:\n"
        "            def read(self):\n"
        "                from ..functions import avro\n"
        "        return png_decode\n"
        "    return kernel\n"
    )
    assert _nested_package_imports(bad, "bad.py") == [
        "bad.py:6", "bad.py:7", "bad.py:8", "bad.py:11",
    ]


# --------------------------------------------------------------------
# One shape for a memo value: a session-memo builder returns each
# DataFrame as ``lineage_checkpoint(df, big=...)`` (see the session
# module docstring), never as a persisted frame whose consumers would
# re-plan its whole build lineage on every warm read.

def _memo_persists(src: str, rel: str) -> list[str]:
    """``.persist(`` / ``.cache(`` calls inside a ``@session_memo``
    function, nested functions included."""
    hits = []
    for fn in ast.walk(ast.parse(src)):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        if not any(
            (isinstance(d, ast.Name) and d.id == "session_memo")
            or (isinstance(d, ast.Attribute) and d.attr == "session_memo")
            for d in fn.decorator_list
        ):
            continue
        hits += [
            node.lineno
            for node in ast.walk(fn)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("persist", "cache")
        ]
    return [f"{rel}:{n}" for n in sorted(hits)]


def test_memo_values_are_checkpoints():
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        hits += _memo_persists(path.read_text(), str(path.relative_to(PKG)))
    assert hits == [], hits


def test_memo_persist_gate_fires_on_bad_code():
    bad = (
        "@session_memo\n"
        "def _index(spark, sf_dir):\n"
        "    df = load(spark).persist()\n"
        "    df.count()\n"
        "    return df\n"
        "@query('q')\n"
        "@session.session_memo\n"
        "def q_pairs(spark, sf_dir):\n"
        "    def helper(d):\n"
        "        return d.cache()\n"
        "    return helper(load(spark)).persist(StorageLevel.DISK_ONLY)\n"
        "def _not_memoized(spark):\n"
        "    return load(spark).persist()\n"
        "@session_memo\n"
        "def _ok(spark, sf_dir):\n"
        "    return lineage_checkpoint(load(spark), big=True)\n"
    )
    assert _memo_persists(bad, "bad.py") == ["bad.py:3", "bad.py:10", "bad.py:11"]


# --------------------------------------------------------------------
# One way to run with another conf: a query that needs a conf other
# than its caller's builds in ``session.isolated(spark, confs)`` (see
# the session module docstring), so no query writes a session conf
# that another caller of the same session would plan with.

def _own_nodes(scope: ast.AST):
    """The nodes of ``scope``, without those of nested scopes."""
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        yield node
        if not isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)
        ):
            stack.extend(ast.iter_child_nodes(node))


def _conf_writes(src: str, rel: str) -> list[str]:
    """``.conf.set(`` / ``.conf.unset(`` calls with a literal ``spark.``
    key, except on a name assigned from ``isolated(...)`` in the same
    function."""
    hits = []
    tree = ast.parse(src)
    scopes = [tree] + [
        n for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef))
    ]
    for scope in scopes:
        nodes = list(_own_nodes(scope))
        clones = {
            t.id
            for n in nodes
            if isinstance(n, ast.Assign)
            and isinstance(n.value, ast.Call)
            and _callee(n.value) == "isolated"
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        for n in nodes:
            if not (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("set", "unset")
                and isinstance(n.func.value, ast.Attribute)
                and n.func.value.attr == "conf"
                and n.args
                and isinstance(n.args[0], ast.Constant)
                and str(n.args[0].value).startswith("spark.")
            ):
                continue
            owner = n.func.value.value
            if not (isinstance(owner, ast.Name) and owner.id in clones):
                hits.append(n.lineno)
    return [f"{rel}:{n}" for n in sorted(hits)]


def test_no_conf_writes_outside_isolated_sessions():
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        if rel != "session.py":
            hits += _conf_writes(path.read_text(), rel)
    assert hits == [], hits


def test_conf_write_gate_fires_on_bad_code():
    bad = (
        "spark.conf.set('spark.sql.ansi.enabled', 'false')\n"
        "def q(spark, df):\n"
        "    spark.conf.set('spark.sql.shuffle.partitions', '4')\n"
        "    spark.conf.unset(\"spark.sql.adaptive.enabled\")\n"
        "    df.sparkSession.conf.set('spark.sql.ansi.enabled', 'false')\n"
        "    spark.conf.set('bd3.q.n_batches', '3')\n"
        "    clone = isolated(spark, {})\n"
        "    clone.conf.set('spark.sql.adaptive.enabled', 'false')\n"
        "    clone.conf.unset('spark.sql.adaptive.enabled')\n"
        "    other = spark.newSession()\n"
        "    other.conf.set('spark.sql.adaptive.enabled', 'false')\n"
        "    def inner():\n"
        "        clone.conf.set('spark.sql.ansi.enabled', 'false')\n"
        "    return lambda: spark.conf.set('spark.sql.ansi.enabled', 'false')\n"
    )
    assert _conf_writes(bad, "bad.py") == [
        "bad.py:1", "bad.py:3", "bad.py:4", "bad.py:5", "bad.py:11", "bad.py:13",
        "bad.py:14",
    ]


# --------------------------------------------------------------------
# The registry is the only list of queries: a query's facts (bench
# membership, exchange count, order sensitivity) are ``@query`` fields
# (see the registry docstring), and every set of queries is derived
# from them.  PRIORITY, the driver-window order, is the one hand-kept
# list.

REPO = PKG.parent
MAX_LISTED_QUERIES = 20


def _query_name_lists(src: str, rel: str, names: set[str]) -> list[str]:
    """List, tuple, set and dict literals holding more than
    MAX_LISTED_QUERIES registered query names, as ``rel:TARGET`` for a
    literal assigned to a name and ``rel:LINE`` otherwise."""
    tree = ast.parse(src)
    targets = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    targets[id(node.value)] = t.id
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            targets[id(node.value)] = node.target.id
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.List, ast.Tuple, ast.Set)):
            elts = node.elts
        elif isinstance(node, ast.Dict):
            elts = node.keys + node.values
        else:
            continue
        listed = {e.value for e in elts
                  if isinstance(e, ast.Constant) and e.value in names}
        if len(listed) > MAX_LISTED_QUERIES:
            hits.append(f"{rel}:{targets.get(id(node), node.lineno)}")
    return hits


def test_registry_is_the_only_query_list():
    from bigdata_assigment3_spark.registry import REGISTRY, _load_all

    _load_all()
    names, hits = set(REGISTRY), []
    for path in [REPO / "bench.py", *(REPO / "tests").glob("*.py"), *PKG.rglob("*.py")]:
        hits += _query_name_lists(path.read_text(), str(path.relative_to(REPO)), names)
    assert [h for h in hits if h != f"{PKG.name}/registry.py:PRIORITY"] == [], hits


def test_query_list_gate_fires_on_bad_code():
    names = [f"q{i}" for i in range(MAX_LISTED_QUERIES + 1)]
    many, few = repr(names), repr(names[:-1])
    bad = (
        f"HEADLINE = {many}\n"
        f"SHORT = {few}\n"
        f"budgets: dict = {{{', '.join(f'{n!r}: 1' for n in names)}}}\n"
        "def test_x():\n"
        f"    for name in {repr(tuple(names))}:\n"
        "        pass\n"
        f"    return {{{many[1:-1]}, 'not_a_query'}}\n"
    )
    assert _query_name_lists(bad, "bad.py", set(names)) == [
        "bad.py:HEADLINE", "bad.py:budgets", "bad.py:5", "bad.py:7",
    ]

"""Similarity search over the ``embeddings`` table (vec_id,
embedding: array<float>, label) — ANN for LLM-data pipelines
(BASELINE.json north star).

Brute-force cosine top-k is the oracle-checked baseline; the scale
paths are LSH/IVF/PQ variants — ALL value-oracled since round 12:
every index build (E2LSH hyperplanes, the spherical k-means coarse
quantizer, the PQ codebooks) is deterministic integer math that the
DuckDB oracle replays verbatim as unrolled SQL.

Cross-engine exactness trick: elements are quantized to integer
milli-units (round(x*1000)) so dot products and norms are exact
BIGINTs in both engines; only the final cosine division is floating
point, on identical inputs.

Scale notes: brute force is queries x corpus — fine for a broadcast
query set (the common "probe batch vs 100 TB corpus" shape: corpus
scan stays embarrassingly parallel, no shuffle).  For corpus x corpus
use the LSH variant: bucketing turns the cross join into a per-bucket
join, the classic IVF/LSH trade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions.hashing import md5_int56_duck, md5_int56_spark
from ..plans.hints import bounded_broadcast
from ..registry import query
from ..session import lineage_checkpoint, session_memo
from ..sources import load_table, load_table_parallel

TOP_K = 5
QUERY_STRIDE = 50
# Fixed-size probe set: vec_id % STRIDE == 0 AND vec_id < PROBE_MAX_ID
# gives at most N_PROBE_QUERIES probes no matter how big the corpus is,
# so the probe broadcast / driver collect is O(1) in corpus size (the
# smallest testdata corpus has 500 ids, so every sf yields all 10).
N_PROBE_QUERIES = 10
PROBE_MAX_ID = QUERY_STRIDE * N_PROBE_QUERIES  # 500

_QUANT_SPARK = "transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

_DUCK_QUANT_PAIRS = f"""
q AS (SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % {QUERY_STRIDE} = 0 AND vec_id < {PROBE_MAX_ID}),
pairs AS (
  SELECT q.vec_id AS query_id, v.vec_id AS cand_id,
         unnest(list_transform(q.embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS ea,
         unnest(list_transform(v.embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS eb
  FROM q, embeddings v
  WHERE q.vec_id <> v.vec_id
),
dots AS (
  SELECT query_id, cand_id,
         SUM(ea * eb) AS dot, SUM(ea * ea) AS na2, SUM(eb * eb) AS nb2
  FROM pairs GROUP BY 1, 2
)
"""


_ANN_ORACLE = f"""
    WITH {_DUCK_QUANT_PAIRS}
    SELECT query_id, cand_id, rank, cosine FROM (
      SELECT query_id, cand_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY CAST(dot AS DOUBLE) / SQRT(CAST(na2 AS DOUBLE) * nb2) DESC,
                           cand_id) AS BIGINT) AS rank,
             ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(na2 AS DOUBLE) * nb2), 6) AS cosine
      FROM dots WHERE na2 > 0 AND nb2 > 0
    ) WHERE rank <= {TOP_K}
    """


@query(
    "ann_cosine_topk",
    oracle=_ANN_ORACLE,
    bench=True, exchanges=3, order_sensitive=True,
)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: a fixed 10-probe set (vec_id % 50 = 0
    and vec_id < 500) against the full corpus, exact integer dot
    products, rank window with deterministic tie-break.

    The corpus side never shuffles — dot products are computed where
    the data lives; only the tiny (query, cand, score) triples move.
    """
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    norm2 = F.expr("aggregate(transform(e, x -> x * x), 0L, (a, b) -> a + b)")
    # norms are per-vector, not per-pair: compute them once on each
    # side before the join (halves the per-pair flops vs naive).
    quant = emb.select("vec_id", F.expr(_QUANT_SPARK).alias("e")).withColumn("n2", norm2)
    q = quant.filter((F.col("vec_id") % QUERY_STRIDE == 0) & (F.col("vec_id") < PROBE_MAX_ID)).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("eq"), F.col("n2").alias("na2")
    )
    v = quant.select(
        F.col("vec_id").alias("cand_id"), F.col("e").alias("ev"), F.col("n2").alias("nb2")
    )
    pairs = v.crossJoin(
        bounded_broadcast(q, "probe set is <= PROBE_MAX_ID/QUERY_STRIDE = 10 "
                             "literal ids at every SF")
    ).filter(F.col("query_id") != F.col("cand_id"))
    dot = F.expr("aggregate(zip_with(eq, ev, (x, y) -> x * y), 0L, (a, b) -> a + b)")
    # zero-norm guard BEFORE the division: under the session's pinned
    # ANSI mode double/0.0 throws (a post-hoc isNotNull filter is dead
    # code), and the oracle excludes zero-norm vectors the same way
    scored = pairs.filter((F.col("na2") > 0) & (F.col("nb2") > 0)).select(
        "query_id",
        "cand_id",
        (dot.cast("double") / F.sqrt(F.col("na2").cast("double") * F.col("nb2"))).alias("cos_raw"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "rank", F.round("cos_raw", 6).alias("cosine"))
    )


@query(
    "embedding_cluster_stats",
    oracle="""
    SELECT label,
           COUNT(*) AS n,
           CAST(SUM(list_sum(list_transform(embedding,
                x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                     * CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)))) AS BIGINT) AS sum_norm2_milli,
           CAST(SUM(CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS sum_dim0_milli
    FROM embeddings
    GROUP BY label
    """,
)
def q_embedding_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster profile over the planted labels: counts, exact
    integer norm sums — the sanity stats an ANN index build logs."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm2 = F.expr(
        "aggregate(transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)"
        " * CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)), 0L, (a, b) -> a + b)"
    )
    # try_element_at: an empty embedding yields NULL (skipped by SUM)
    # exactly like DuckDB's embedding[1] — plain element_at THROWS
    # under the session's pinned ANSI mode
    dim0 = F.expr("CAST(ROUND(CAST(try_element_at(embedding, 1) AS DOUBLE) * 1000) AS BIGINT)")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(norm2).cast("bigint").alias("sum_norm2_milli"),
        F.sum(dim0).cast("bigint").alias("sum_dim0_milli"),
    )


# ------------------------ deterministic Euclidean LSH (oracle-backed)

E2_TABLES = 3            # hash tables (the reference model's numHashTables)
E2_W = 1 << 15           # bucket width in milli-dot units (measured: a probe
                         # collides with 4-14% of the corpus across 3 tables)
E2_SHIFT = 1 << 41       # positivity shift, a MULTIPLE of E2_W, so truncating
                         # integer division == floor in both engines
E2_D2M = 2_250_000       # Euclidean match threshold 1.5 (raw units), squared,
                         # in exact milli-int units: (1.5 * 1000)^2
E2_DIM = 64


def _e2_proj(t: int) -> list[int]:
    """Fixed integer hyperplane for table ``t`` — hash-formula weights
    in [-1000, 1000], no RNG, identical literals in Spark and SQL."""
    return [((t + 1) * 73856093 + j * 19349663) % 2001 - 1000 for j in range(E2_DIM)]


_E2_ORACLE = f"""
WITH nzq AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
  FROM embeddings
),
fe2 AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(e, 1) - 1 AS j, unnest(e) AS x FROM nzq
),
proj AS (
  SELECT t, j, ((t + 1) * 73856093 + j * 19349663) % 2001 - 1000 AS w
  FROM range({E2_TABLES}) r1(t), range({E2_DIM}) r2(j)
),
bk AS MATERIALIZED (
  SELECT f.vec_id, p.t,
         (SUM(f.x * p.w) + ((p.t + 1) * 7919) % {E2_W} + {E2_SHIFT}) // {E2_W} AS bucket
  FROM fe2 f JOIN proj p ON p.j = f.j GROUP BY f.vec_id, p.t
),
cand AS MATERIALIZED (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
  FROM (SELECT * FROM bk WHERE vec_id % {QUERY_STRIDE} = 0 AND vec_id < {PROBE_MAX_ID}) q
  JOIN bk c ON c.t = q.t AND c.bucket = q.bucket
  WHERE c.vec_id <> q.vec_id
),
pd AS (
  SELECT c.query_id, c.cand_id, unnest(a.e) AS ea, unnest(b.e) AS eb
  FROM cand c JOIN nzq a ON a.vec_id = c.query_id JOIN nzq b ON b.vec_id = c.cand_id
),
d2 AS (
  SELECT query_id, cand_id, SUM((ea - eb) * (ea - eb)) AS d2m FROM pd GROUP BY 1, 2
)
SELECT query_id,
       COUNT(*) AS n_candidates,
       ROUND(SQRT(CAST(MIN(d2m) AS DOUBLE)) / 1000, 4) AS best_dist
FROM d2 WHERE d2m <= {E2_D2M}
GROUP BY query_id
"""


# exchanges: candidate-pair distinct + per-query agg; hashing is stateless
# per row; + scan-width guards
@query("ann_lsh_bucketed", oracle=_E2_ORACLE, bench=True, exchanges=6)
def q_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean-LSH bucketed approximate neighbor join — the bucketed
    random-projection family made DETERMINISTIC (round 12): each of the
    {E2_TABLES} hash tables projects the milli-integer embedding onto a
    fixed integer hyperplane (hash-formula weights, no RNG) and floor-
    divides the dot into width-{E2_W} buckets, so the whole index is
    value-oracled in SQL — where the seeded pyspark.ml model was
    rows-only (and its k-independent RNG unreplayable).  Candidates
    collide on (table, bucket); survivors within Euclidean distance 1.5
    report per-query candidate count + best distance, exactly the
    approxSimilarityJoin contract this query has carried since round 4.

    Scale shape: hashing is stateless per row (no shuffle); the probe
    bucket table is bounded (10 queries x {E2_TABLES} rows) and
    broadcast, so the corpus never shuffles to find candidates; only
    the colliding pairs (4-14% of corpus per probe, measured) flow into
    the distance check.  The floor division is exact: the shift makes
    every dividend positive and is a multiple of the width.
    """
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    quant = emb.select("vec_id", F.expr(_QUANT_SPARK).alias("e"))
    tables = []
    for t in range(E2_TABLES):
        arr = "array(" + ",".join(f"{w}L" for w in _e2_proj(t)) + ")"
        dot = f"aggregate(zip_with(e, {arr}, (x, w) -> x * w), 0L, (a, b) -> a + b)"
        b_t = ((t + 1) * 7919) % E2_W
        tables.append(f"({dot} + {b_t} + {E2_SHIFT}) div {E2_W}")
    bk = quant.select(
        "vec_id", "e", F.posexplode(F.expr(f"array({', '.join(tables)})")).alias("t", "bucket")
    )
    qb = bk.filter(
        (F.col("vec_id") % QUERY_STRIDE == 0) & (F.col("vec_id") < PROBE_MAX_ID)
    ).select(F.col("vec_id").alias("query_id"), F.col("e").alias("eq"), "t", "bucket")
    cand = (
        bk.join(
            bounded_broadcast(qb, "probe bucket table is <= 10 queries x 3 tables at every SF"),
            ["t", "bucket"],
        )
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"))
        .distinct()
    )
    a = quant.select(F.col("vec_id").alias("query_id"), F.col("e").alias("eq"))
    b = quant.select(F.col("vec_id").alias("cand_id"), F.col("e").alias("ev"))
    d2 = F.expr("aggregate(zip_with(eq, ev, (x, y) -> (x - y) * (x - y)), 0L, (a, b) -> a + b)")
    return (
        cand.join(bounded_broadcast(a.filter((F.col("query_id") % QUERY_STRIDE == 0)
                                             & (F.col("query_id") < PROBE_MAX_ID)),
                                    "probe vectors are <= 10 rows at every SF"), "query_id")
        .join(b, "cand_id")
        .withColumn("d2m", d2)
        .filter(F.col("d2m") <= E2_D2M)
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.round(F.sqrt(F.min("d2m").cast("double")) / 1000, 4).alias("best_dist"),
        )
    )


# ---------------- deterministic spherical k-means (shared quantizer)

KM_TRAIN_N = 1024  # bounded coarse-quantizer training sample (driver-side)
SPH_NQ = 10000     # unit-sphere requant scale: u = round(e / |e| * NQ)
SPH_OFF = 16384    # positivity shift (>= max |u|) so fixed-point means floor
SPH_CQ = 100       # centroid fixed-point substeps per u unit
SPH_L = 3          # Lloyd iterations
IVF_MULTI = 2      # multi-assignment replication (each vector indexed in its
                   # 2 nearest lists — the standard IVF recall lever)
K_PURITY = 10      # clusters for the purity report (the corpus' label count)

# unit-sphere requant in fixed point, JVM-side (same literal ops as the
# oracle: one sqrt + one divide + one round per element, no float sums)
_SPH_XP_SPARK = (
    f"transform(e, x -> (CAST(ROUND(CAST(x AS DOUBLE) / SQRT(CAST(n2 AS DOUBLE)) * {SPH_NQ})"
    f" AS BIGINT) + {SPH_OFF}) * {SPH_CQ})"
)


def _sph_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e, n2, xp): milli-int embedding, exact norm, and the
    positive fixed-point unit-sphere requant xp used for clustering."""
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    quant = (
        emb.select("vec_id", F.expr(_QUANT_SPARK).alias("e"))
        .withColumn("n2", F.expr("aggregate(transform(e, x -> x * x), 0L, (a, b) -> a + b)"))
        .filter(F.col("n2") > 0)
    )
    return quant.withColumn("xp", F.expr(_SPH_XP_SPARK))


@session_memo
def _hash_sample(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[int]]]:
    """The ``KM_TRAIN_N`` nonzero vectors with the lowest
    md5-int56(vec_id), as (vec_id, xp) in HASH order; a caller that
    trains on fewer takes a prefix, so every training sample comes
    from one selection pass.  Session-memoized: the selection is part
    of the index build, so repeat queries reuse it.

    Why a hash order (round-12 advice): a lowest-id PREFIX trains on a
    biased slice whenever ids correlate with content, e.g.
    time-ordered ingestion; the salted-hash top-N is equally replayable
    in DuckDB and unbiased at any scale.

    Cost discipline (caught by the round-13 bench phase_split: the
    first cut computed xp corpus-wide and put 4s of interpreted-HOF
    work into every training pass): the id-selection scan keeps only
    CODEGEN-CHEAP expressions — md5-int56 plus a short-circuit
    ``exists`` for the n2 > 0 guard (exists(e_i != 0) <=> n2 > 0,
    exact) — so the corpus pass never pays the interpreted array HOFs
    that build xp; those run on the winners only, behind a pushed
    vec_id membership filter."""
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    nz = F.expr(
        "exists(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT) != 0)"
    )
    ids = [
        int(r.vec_id)
        for r in emb.filter(nz)
        .select(
            "vec_id",
            F.expr(md5_int56_spark("CAST(vec_id AS STRING)")).alias("h"),
        )
        .orderBy("h", "vec_id")  # TakeOrdered, never a full sort
        .limit(KM_TRAIN_N)
        .collect()
    ]
    xp = {
        r.vec_id: list(r.xp)
        for r in _sph_frame(spark, sf_dir)
        .filter(F.col("vec_id").isin(ids))
        .select("vec_id", "xp")
        .collect()
    }
    return [(i, xp[i]) for i in ids]


def _sph_train_cents(spark: SparkSession, sf_dir: str, k: int) -> list[list[int]]:
    """Deterministic spherical k-means on the bounded hash-selected
    sample (see ``_hash_sample``): farthest-point seeding from the
    lowest vec_id in the sample, then SPH_L exact fixed-point Lloyd
    steps.  int64 end to end — numpy here is just a fast integer ALU,
    so the oracle's unrolled SQL replays the identical trajectory
    (same argmin ties -> lowest cluster, same round-half-up integer
    means)."""
    import numpy as np

    # KM_TRAIN_N (like PQ_TRAIN_N) is an upper bound: a corpus smaller
    # than the bound trains on everything
    rows = sorted(_hash_sample(spark, sf_dir)[:KM_TRAIN_N], key=lambda t: t[0])
    X = np.array([xp for _, xp in rows], dtype=np.int64)
    if len(X) < k:
        raise ValueError(
            f"quantizer training needs >= {k} nonzero vectors in the"
            f" {KM_TRAIN_N}-row hash sample; got {len(X)}"
        )
    chosen = [0]
    for _ in range(1, k):
        d2 = ((X[:, None, :] - X[chosen][None, :, :]) ** 2).sum(-1).min(1)
        d2[chosen] = -1
        chosen.append(int(d2.argmax()))  # ties -> first occurrence = lowest id
    cents = X[chosen].copy()
    for _ in range(SPH_L):
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(1)  # ties -> lowest cluster
        for j in range(k):
            m = assign == j
            if m.any():
                s, c = X[m].sum(0), int(m.sum())
                cents[j] = (2 * s + c) // (2 * c)  # all positive -> floor
    return [[int(v) for v in c] for c in cents]


def _sph_lists_expr(cents: list[list[int]], na: int) -> str:
    """Stateless per-row expression for the ``na`` nearest centroids:
    exact integer d2 against each centroid literal, array_sort on
    (d2, k) structs (ties -> lowest k), sliced to the top ``na`` — no
    join, no window, no shuffle to assign a 100 TB corpus."""
    parts = []
    for kk, c in enumerate(cents):
        arr = "array(" + ",".join(f"{w}L" for w in c) + ")"
        d2 = f"aggregate(zip_with(xp, {arr}, (a, b) -> (a - b) * (a - b)), 0L, (x, y) -> x + y)"
        parts.append(f"named_struct('d2', {d2}, 'k', {kk})")
    return f"slice(array_sort(array({', '.join(parts)})), 1, {na})"


# centroid count above which the literal-expression argmin gives way
# to the mapInArrow kernel: the expression tree is O(k * dim) literals,
# optimal at the engine's fixture k's (8/10/16) but a Catalyst
# plan-size blowup at a realistic IVF nlist (thousands)
K_LITERAL_MAX = 32


def _nearest_lists_arrow(frame: DataFrame, cents: list[list[int]], na: int) -> DataFrame:
    """Large-k twin of ``_sph_lists_expr``: same exact-int64 nearest-na
    assignment (ties -> lowest k), computed by a mapInArrow kernel
    instead of an inlined expression.  The centroid matrix rides into
    the closure (bounded: k x dim int64 — an index artifact, not
    data), each Arrow batch computes the full d2 matrix in one numpy
    pass, and a stable argsort keeps the tie-break.  Still stateless
    per-row: no join, no window, no shuffle to assign a 100 TB corpus.
    """
    import numpy as np
    import pyarrow as pa

    C = np.asarray(cents, dtype=np.int64)          # (k, dim)
    cn2 = (C * C).sum(axis=1)                      # (k,)
    take = min(na, len(C))

    def assign_batches(batches):
        struct_t = pa.struct([pa.field("d2", pa.int64()), pa.field("k", pa.int32())])
        for batch in batches:
            cols = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
            xp = cols["xp"]
            if isinstance(xp, pa.ChunkedArray):
                xp = xp.combine_chunks()
            n = len(xp)
            if n == 0:
                continue
            offs = xp.offsets.to_numpy(zero_copy_only=False)
            widths = offs[1:] - offs[:-1]
            if not np.all(widths == C.shape[1]):
                raise ValueError(
                    f"xp width {set(widths.tolist())} != centroid dim {C.shape[1]}"
                )
            X = xp.values.to_numpy(zero_copy_only=False).astype(np.int64).reshape(n, -1)
            # exact |x|^2 - 2<x,c> + |c|^2: every term bounded by
            # dim * ((SPH_NQ + SPH_OFF) * SPH_CQ)^2 ~ 2^60, no wrap
            d2 = (X * X).sum(axis=1, keepdims=True) - 2 * (X @ C.T) + cn2[None, :]
            order = np.argsort(d2, axis=1, kind="stable")[:, :take]  # ties -> lowest k
            dsel = np.take_along_axis(d2, order, axis=1)
            sa = pa.StructArray.from_arrays(
                [pa.array(dsel.ravel(), type=pa.int64()),
                 pa.array(order.ravel().astype(np.int32), type=pa.int32())],
                fields=list(struct_t),
            )
            nl = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * take, take, dtype=np.int32)), sa
            )
            yield pa.RecordBatch.from_arrays(
                [cols[f] for f in batch.schema.names] + [nl],
                names=list(batch.schema.names) + ["nl"],
            )

    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in frame.schema.fields)
    out_schema += ", nl array<struct<d2: bigint, k: int>>"
    return frame.mapInArrow(assign_batches, out_schema)


def _with_nearest_lists(frame: DataFrame, cents: list[list[int]], na: int) -> DataFrame:
    """``frame`` + column ``nl``: the ``na`` nearest centroids as
    array<struct<d2, k>> — exact integer d2, ties -> lowest k.

    k-threshold dispatch (round-12 advice): k <= K_LITERAL_MAX keeps
    the zero-shuffle literal-expression argmin; above it the identical
    assignment runs as the Arrow kernel so the plan stays O(1) in k.
    Both paths are deterministic and value-identical (pinned by
    tests), so the unrolled-SQL oracles never change.

    CAVEAT (measured, round 13): do NOT follow this with
    ``F.explode("nl")`` on the literal path — Catalyst's generator
    nested-column aliasing rewrites explode-of-projected-column into a
    shape that re-evaluates the interpreted HOF tree ~25x slower (64s
    vs 2.5s on the sf0.1 candidate subtree).  Exploding call sites use
    ``_explode_nearest`` below, which keeps the expression INLINE in
    the Generate."""
    if len(cents) <= K_LITERAL_MAX:
        return frame.withColumn("nl", F.expr(_sph_lists_expr(cents, na)))
    return _nearest_lists_arrow(frame, cents, na)


def _explode_nearest(
    frame: DataFrame,
    cents: list[list[int]],
    na: int,
    cols: tuple[str, ...] = ("vec_id", "e", "n2"),
) -> DataFrame:
    """(*cols, s struct<d2, k>) with one row per (vector,
    nearest-centroid) pair — the exploding twin of
    ``_with_nearest_lists`` with the same k-threshold dispatch.  The
    literal path inlines the expression in the Generate (see caveat
    above); the arrow path explodes the kernel's materialized nl
    column, which has no such rewrite hazard.  ``cols`` prunes the
    carried columns (and, on the arrow path, what crosses the Arrow
    boundary) to what the caller actually needs."""
    if len(cents) <= K_LITERAL_MAX:
        return frame.select(
            *cols,
            F.explode(F.expr(_sph_lists_expr(cents, na))).alias("s"),
        )
    return _nearest_lists_arrow(frame.select(*cols, "xp"), cents, na).select(
        *cols, F.explode("nl").alias("s")
    )


def _frame_duck_parts() -> list[str]:
    """The DuckDB CTEs replaying ``_sph_frame`` — quantized embeddings
    ``nzn(vec_id, e, n2)`` and the flattened unit-sphere requant
    ``fe(vec_id, j, xq)`` — shared by the training chain
    (``_sph_duck_ctes``) and the fixed-grid oracles that need no
    training (``ann_ivf_wide``)."""
    return [
        "nzq AS MATERIALIZED (SELECT vec_id, list_transform(embedding,"
        " x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e FROM embeddings)",
        "nzn AS MATERIALIZED (SELECT vec_id, e,"
        " CAST(list_sum(list_transform(e, x -> x * x)) AS BIGINT) AS n2 FROM nzq)",
        f"fe AS MATERIALIZED (SELECT vec_id, generate_subscripts(e, 1) - 1 AS j,"
        f" (CAST(ROUND(CAST(unnest(e) AS DOUBLE) / SQRT(CAST(n2 AS DOUBLE)) * {SPH_NQ})"
        f" AS BIGINT) + {SPH_OFF}) * {SPH_CQ} AS xq FROM nzn WHERE n2 > 0)",
    ]


def _sph_duck_ctes(k: int) -> str:
    """DuckDB CTE chain replaying ``_sph_train_cents`` exactly: the
    training sample, the k farthest-point seed selections, and SPH_L
    Lloyd steps, ending in ``cents(k, j, w)``; plus the corpus-wide
    flattened frames ``fe``/``nzn`` downstream oracles join against.
    MATERIALIZED throughout — inlining chained CTEs re-expands the
    tree exponentially."""
    parts = _frame_duck_parts() + [
        f"ksamp AS MATERIALIZED (SELECT vec_id FROM nzn WHERE n2 > 0"
        f" ORDER BY {md5_int56_duck('CAST(vec_id AS VARCHAR)')}, vec_id"
        f" LIMIT {KM_TRAIN_N})",
        "fet AS MATERIALIZED (SELECT f.* FROM fe f JOIN ksamp s USING (vec_id))",
        "seeds1 AS MATERIALIZED (SELECT 0 AS k, vec_id AS sv, j, xq AS w FROM fet"
        " WHERE vec_id = (SELECT MIN(vec_id) FROM fet))",
    ]
    for i in range(2, k + 1):
        parts.append(
            f"sd{i} AS MATERIALIZED (SELECT vec_id, MIN(d2) AS dmin FROM ("
            f"SELECT f.vec_id, s.k, SUM((f.xq - s.w) * (f.xq - s.w)) AS d2"
            f" FROM fet f JOIN seeds{i - 1} s ON s.j = f.j GROUP BY f.vec_id, s.k"
            f") GROUP BY vec_id)"
        )
        parts.append(
            f"pk{i} AS MATERIALIZED (SELECT vec_id FROM sd{i}"
            f" WHERE vec_id NOT IN (SELECT sv FROM seeds{i - 1})"
            f" ORDER BY dmin DESC, vec_id ASC LIMIT 1)"
        )
        parts.append(
            f"seeds{i} AS MATERIALIZED (SELECT * FROM seeds{i - 1} UNION ALL"
            f" SELECT {i - 1} AS k, f.vec_id AS sv, f.j, f.xq AS w"
            f" FROM fet f JOIN pk{i} p ON p.vec_id = f.vec_id)"
        )
    parts.append(f"cents0 AS MATERIALIZED (SELECT k, j, w FROM seeds{k})")
    for it in range(1, SPH_L + 1):
        parts.append(
            f"kasg{it} AS MATERIALIZED (SELECT vec_id, k FROM ("
            f"SELECT vec_id, k, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn"
            f" FROM (SELECT f.vec_id, c.k, SUM((f.xq - c.w) * (f.xq - c.w)) AS d2"
            f" FROM fet f JOIN cents{it - 1} c ON c.j = f.j GROUP BY f.vec_id, c.k)"
            f") WHERE rn = 1)"
        )
        parts.append(
            f"kst{it} AS MATERIALIZED (SELECT a.k, f.j, SUM(f.xq) AS s, COUNT(*) AS c"
            f" FROM kasg{it} a JOIN fet f ON f.vec_id = a.vec_id GROUP BY a.k, f.j)"
        )
        parts.append(
            f"cents{it} AS MATERIALIZED (SELECT p.k, p.j,"
            f" COALESCE((2 * n.s + n.c) // (2 * n.c), p.w) AS w"
            f" FROM cents{it - 1} p LEFT JOIN kst{it} n ON n.k = p.k AND n.j = p.j)"
        )
    parts.append(f"cents AS MATERIALIZED (SELECT * FROM cents{SPH_L})")
    return ",\n".join(parts)


def _purity_oracle() -> str:
    return f"""
    WITH {_sph_duck_ctes(K_PURITY)},
    fasg AS MATERIALIZED (
      SELECT vec_id, k FROM (
        SELECT vec_id, k, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
        FROM (SELECT f.vec_id, c.k, SUM((f.xq - c.w) * (f.xq - c.w)) AS d2
              FROM fe f JOIN cents c ON c.j = f.j GROUP BY f.vec_id, c.k)
      ) WHERE rn = 1
    ),
    per AS (
      SELECT a.k AS cluster, e.label, COUNT(*) AS n
      FROM fasg a JOIN embeddings e ON e.vec_id = a.vec_id GROUP BY 1, 2
    ),
    maj AS (
      SELECT cluster, label, n,
             ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY n DESC, label ASC) AS rn,
             SUM(n) OVER (PARTITION BY cluster) AS cs
      FROM per
    )
    SELECT CAST(cluster AS BIGINT) AS cluster,
           CAST(cs AS BIGINT) AS cluster_size,
           label AS majority_label,
           ROUND(CAST(n AS DOUBLE) / cs, 4) AS purity
    FROM maj WHERE rn = 1
    """


@query(
    "embedding_kmeans_purity",
    oracle=_purity_oracle(),
    # (cluster,label) agg + majority agg; training runs driver-side on
    # the bounded sorted sample
    exchanges=3, order_sensitive=True,
)
def q_embedding_kmeans_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means over embeddings vs the planted labels: per-cluster size
    and majority-label purity — the clustering-quality report of an
    IVF index build.

    Round 12: the quantizer is the engine's own deterministic
    spherical k-means (farthest-point seeds + exact fixed-point Lloyd
    on the bounded hash-selected sample), so the WHOLE pipeline — training
    included — is value-oracled as unrolled SQL; the previous
    seeded-RNG trainer was rows-only.  Assignment is a stateless
    per-row argmin over k centroid literals: no join, no window, no
    shuffle touches the corpus until the k x label count aggregate."""
    labels = load_table(spark, sf_dir, "embeddings").select("label")
    n_labels = labels.distinct().count()  # bounded: label domain, not corpus
    if n_labels != K_PURITY:
        # K_PURITY is pinned to the corpus' label cardinality; a
        # fixture change must fail loudly, not silently cluster
        # against the wrong k (round-12 advice)
        raise ValueError(f"purity report expects {K_PURITY} labels, corpus has {n_labels}")
    frame = _sph_frame(spark, sf_dir)
    cents = _sph_train_cents(spark, sf_dir, K_PURITY)
    if len(cents) <= K_LITERAL_MAX:
        pred_src = frame.select(
            "vec_id",
            F.expr(f"element_at({_sph_lists_expr(cents, 1)}, 1).k").alias("prediction"),
        )
    else:
        pred_src = _nearest_lists_arrow(frame, cents, 1).select(
            "vec_id", F.expr("element_at(nl, 1).k").alias("prediction")
        )
    pred = pred_src.join(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "label"), "vec_id"
    )
    per = pred.groupBy("prediction", "label").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("prediction").orderBy(F.desc("n"), F.asc("label"))
    return (
        per.withColumn("rn", F.row_number().over(w))
        .groupBy("prediction")
        .agg(
            F.sum("n").alias("cluster_size"),
            F.max(F.when(F.col("rn") == 1, F.col("n"))).alias("majority_n"),
            F.max(F.when(F.col("rn") == 1, F.col("label"))).alias("majority_label"),
        )
        .select(
            F.col("prediction").cast("bigint").alias("cluster"),
            "cluster_size",
            "majority_label",
            F.round(F.col("majority_n").cast("double") / F.col("cluster_size"), 4).alias("purity"),
        )
    )


N_LISTS = 8   # IVF coarse-quantizer cells
N_PROBE = 2   # cells searched per query (== IVF_MULTI: a query probes
              # exactly the lists it would be indexed in)


def _ivf_probe_oracle() -> str:
    return f"""
    WITH {_sph_duck_ctes(N_LISTS)},
    memb AS MATERIALIZED (
      SELECT vec_id, k AS list_id FROM (
        SELECT vec_id, k, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
        FROM (SELECT f.vec_id, c.k, SUM((f.xq - c.w) * (f.xq - c.w)) AS d2
              FROM fe f JOIN cents c ON c.j = f.j GROUP BY f.vec_id, c.k)
      ) WHERE rn <= {IVF_MULTI}
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT q.vec_id AS query_id, m.vec_id AS cand_id
      FROM (SELECT * FROM memb WHERE vec_id % {QUERY_STRIDE} = 0 AND vec_id < {PROBE_MAX_ID}) q
      JOIN memb m ON m.list_id = q.list_id
      WHERE m.vec_id <> q.vec_id
    ),
    ipr AS (
      SELECT c.query_id, c.cand_id, unnest(a.e) AS ea, unnest(b.e) AS eb,
             a.n2 AS na2, b.n2 AS nb2
      FROM cand c JOIN nzn a ON a.vec_id = c.query_id JOIN nzn b ON b.vec_id = c.cand_id
    ),
    idots AS (
      SELECT query_id, cand_id, SUM(ea * eb) AS dot,
             ANY_VALUE(na2) AS na2, ANY_VALUE(nb2) AS nb2
      FROM ipr GROUP BY 1, 2
    )
    SELECT query_id, cand_id, rank, cosine FROM (
      SELECT query_id, cand_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY CAST(dot AS DOUBLE) / SQRT(CAST(na2 AS DOUBLE) * nb2) DESC,
                           cand_id) AS BIGINT) AS rank,
             ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(na2 AS DOUBLE) * nb2), 6) AS cosine
      FROM idots
    ) WHERE rank <= {TOP_K}
    """


@query(
    "ann_ivf_probe",
    oracle=_ivf_probe_oracle(),
    # candidate-pair distinct + per-query top-k window; list assignment
    # is stateless per row; + scan-width guards
    bench=True, exchanges=6, order_sensitive=True,
)
def q_ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors — the classic scale path next
    to LSH: a coarse quantizer partitions the corpus into N_LISTS
    inverted lists; each query probes only its N_PROBE nearest lists.

    Round 12 design: the quantizer is the engine's deterministic
    spherical k-means (farthest-point seeds + exact fixed-point Lloyd
    on the bounded hash-selected sample — value-oracled end to end, where the
    seeded-RNG trainer was rows-only), and the index MULTI-ASSIGNS
    each vector to its {IVF_MULTI} nearest lists — the standard IVF
    recall lever: measured recall@5 vs brute force rises from
    0.48-0.56 (single assignment, init-dependent) to a stable 0.76-0.78
    at a 2x index size and ~47% scanned fraction on this corpus.

    Scale shape: at 100 TB the corpus is partitioned BY list (probing
    prunes partitions at the scan; replication multiplies storage by
    {IVF_MULTI}, the classic space-for-recall trade); list assignment
    is a STATELESS per-row argmin over k centroid literals (no join,
    no window, no shuffle); the probe table is bounded and broadcast;
    the only corpus shuffles are the candidate distinct + final
    per-query top-k, both proportional to the scanned fraction."""
    frame = _sph_frame(spark, sf_dir)
    cents = _sph_train_cents(spark, sf_dir, N_LISTS)
    memb = _explode_nearest(frame, cents, IVF_MULTI).select(
        "vec_id", "e", "n2", F.col("s.k").alias("list_id")
    )
    qpr = memb.filter(
        (F.col("vec_id") % QUERY_STRIDE == 0) & (F.col("vec_id") < PROBE_MAX_ID)
    ).select(F.col("vec_id").alias("query_id"), "list_id")
    cand = (
        memb.join(
            bounded_broadcast(qpr, "probe list table is <= 10 queries x 2 lists at every SF"),
            "list_id",
        )
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"))
        .distinct()
    )
    a = frame.filter(
        (F.col("vec_id") % QUERY_STRIDE == 0) & (F.col("vec_id") < PROBE_MAX_ID)
    ).select(F.col("vec_id").alias("query_id"), F.col("e").alias("eq"), F.col("n2").alias("na2"))
    b = frame.select(
        F.col("vec_id").alias("cand_id"), F.col("e").alias("ev"), F.col("n2").alias("nb2")
    )
    dot = F.expr("aggregate(zip_with(eq, ev, (x, y) -> x * y), 0L, (a, b) -> a + b)")
    scored = (
        cand.join(bounded_broadcast(a, "probe vectors are <= 10 rows at every SF"), "query_id")
        .join(b, "cand_id")
        .select(
            "query_id", "cand_id",
            (dot.cast("double") / F.sqrt(F.col("na2").cast("double") * F.col("nb2"))).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "rank", F.round("cos_raw", 6).alias("cosine"))
    )


WIDE_K = 64       # realistic IVF nlist slice — deliberately > K_LITERAL_MAX
WIDE_ASSIGN = 2   # multi-assignment, same recall lever as IVF_MULTI
# fixed-grid centroid coordinate: spatial-hash primes spread (k, j)
# over the xp domain [_WIDE_BASE * SPH_CQ, (2*SPH_NQ + _WIDE_BASE) *
# SPH_CQ] — the exact range _SPH_XP_SPARK produces (u in [-SPH_NQ,
# SPH_NQ] shifted by SPH_OFF, scaled by SPH_CQ) — so centroid-to-
# vector distances are the same magnitude a trained quantizer would
# see.  _WIDE_BASE is derived, not a literal, so engine/oracle parity
# survives any change to the quantization constants (round-14 advice).
_WIDE_A, _WIDE_B, _WIDE_C = 73856093, 19349663, 83492791
_WIDE_BASE = SPH_OFF - SPH_NQ


def _wide_grid_cents() -> list[list[int]]:
    """WIDE_K x E2_DIM deterministic centroid grid from the integer
    hash formula — no training loop, so the oracle replays it as one
    arithmetic expression over range() instead of an unrolled Lloyd
    chain, and the query isolates the ASSIGNMENT path at realistic k."""
    return [
        [
            ((k * _WIDE_A + j * _WIDE_B + _WIDE_C) % (2 * SPH_NQ + 1) + _WIDE_BASE)
            * SPH_CQ
            for j in range(E2_DIM)
        ]
        for k in range(WIDE_K)
    ]


def _wide_oracle() -> str:
    return f"""
    WITH {",".join(_frame_duck_parts())},
    cents AS MATERIALIZED (
      SELECT k, j,
             ((k * {_WIDE_A} + j * {_WIDE_B} + {_WIDE_C}) % {2 * SPH_NQ + 1} + {_WIDE_BASE})
               * {SPH_CQ} AS w
      FROM range({WIDE_K}) t(k) CROSS JOIN range({E2_DIM}) u(j)
    ),
    d AS MATERIALIZED (
      SELECT f.vec_id, c.k, SUM((f.xq - c.w) * (f.xq - c.w)) AS d2
      FROM fe f JOIN cents c ON c.j = f.j GROUP BY 1, 2
    ),
    r AS (
      SELECT vec_id, k, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
      FROM d
    )
    SELECT CAST(k AS INT) AS list_k,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MIN(d2) AS BIGINT) AS min_d2,
           CAST(SUM(d2 // 10000) AS BIGINT) AS sum_d2s
    FROM r WHERE rn <= {WIDE_ASSIGN} GROUP BY k
    """


# exchanges: the mapInArrow assignment kernel is map-side, so only the final
# 64-group aggregate + the scan-width guard
@query("ann_ivf_wide", oracle=_wide_oracle(), bench=True, exchanges=2)
def q_ann_ivf_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF list assignment at a REALISTIC nlist (k = {WIDE_K} >
    K_LITERAL_MAX): per-list population and distance mass for the
    multi-assigned corpus — the index-build profile an operator reads
    before picking nprobe.  This is the production query for the
    large-k mapInArrow assignment kernel (round-13 verdict #3: the
    scale path existed but only tests took the branch); the k <= 32
    fixture queries keep the zero-shuffle literal-expression argmin,
    and `test_centroid_assignment_dispatch_parity` pins the two paths
    value-identical.

    The {WIDE_K} centroids are a FIXED deterministic grid (integer
    spatial-hash formula over (k, j)) rather than a trained quantizer:
    the oracle replays them as one arithmetic expression, so the SQL
    stays small while the engine side exercises exactly the kernel a
    trained 64-plus-list index would use.  Exactness: d2 is int64 end
    to end; the summed column is floor-scaled (d2 // 10000, positive
    operands so trunc == floor in both engines) to keep the per-list
    sums far from int64 range at any corpus size.

    Scale shape: assignment is stateless per-row (the k x dim centroid
    matrix rides into the Arrow closure — an index artifact, not
    data); the only shuffle is the final {WIDE_K}-group aggregate, and
    the plan is O(1) in k where the literal path's expression tree
    would be O(k * dim)."""
    frame = _sph_frame(spark, sf_dir)
    ex = _explode_nearest(frame, _wide_grid_cents(), WIDE_ASSIGN, cols=("vec_id",))
    return ex.groupBy(F.col("s.k").cast("int").alias("list_k")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("s.d2").alias("min_d2"),
        F.sum(F.expr("s.d2 div 10000")).alias("sum_d2s"),
    )


# Same result contract as ann_cosine_topk, different physical plan.
@query("ann_cosine_topk_vec", oracle=_ANN_ORACLE, bench=True)
def q_ann_cosine_topk_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized twin of `ann_cosine_topk` (same oracle, same rows):
    the probe set is tiny, so its quantized matrix rides into an
    Arrow-batched mapInPandas closure and every corpus batch scores
    against ALL queries with one int64 matmul — ~3x the codegen
    fold's throughput at sf0.1, because dense 64-dim dot products are
    exactly what BLAS-shaped numpy is for (task brief: 'vectorized
    Pandas UDF' path).

    Exactness: quantization happens JVM-side with SQL ROUND (half-up;
    Python round() is banker's and would drift), so the ints entering
    the matmul are identical to the oracle's; the only float ops are
    an IEEE divide+sqrt, identical in every engine.  The corpus still
    never shuffles — only (query, cand, score) triples move into the
    per-query top-k."""
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    quant = emb.select("vec_id", F.expr(_QUANT_SPARK).alias("e"))
    q_rows = quant.filter((F.col("vec_id") % QUERY_STRIDE == 0) & (F.col("vec_id") < PROBE_MAX_ID)).collect()
    q_ids = [int(r.vec_id) for r in q_rows]
    q_vecs = [list(map(int, r.e)) for r in q_rows]

    def score_batches(batches):
        import numpy as np
        import pandas as pd

        Q = np.array(q_vecs, dtype=np.int64)
        qn = (Q * Q).sum(axis=1)
        qid = np.array(q_ids, dtype=np.int64)
        # zero-norm guard (mirrors the codegen twin's na2/nb2 > 0
        # filter): a zero-quantized vector would produce NaN cosines,
        # and NaN sorts FIRST under desc — silently taking rank 1
        qmask = qn > 0
        Q, qn, qid = Q[qmask], qn[qmask], qid[qmask]
        for pdf in batches:
            E = np.array(pdf["e"].tolist(), dtype=np.int64)
            if len(E) == 0 or len(Q) == 0:
                continue
            en = (E * E).sum(axis=1)
            emask = en > 0
            E, en = E[emask], en[emask]
            cids = pdf["vec_id"].to_numpy()[emask]
            if len(E) == 0:
                continue
            dots = E @ Q.T
            cos = dots / np.sqrt(en[:, None].astype(np.float64) * qn[None, :].astype(np.float64))
            n, m = cos.shape
            yield pd.DataFrame(
                {
                    "query_id": np.tile(qid, n),
                    "cand_id": np.repeat(cids, m),
                    "cos_raw": cos.ravel(),
                }
            )

    n_parts = spark.sparkContext.defaultParallelism
    # widen only when the scan is narrower than the cluster (single
    # test file): a real corpus already has >= parallelism splits and
    # must NOT pay a full-corpus shuffle here
    if len(emb.inputFiles()) < n_parts:
        quant = quant.repartition(n_parts)
    scored = (
        quant
        .mapInPandas(score_batches, "query_id BIGINT, cand_id BIGINT, cos_raw DOUBLE")
        .filter(F.col("query_id") != F.col("cand_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "rank", F.round("cos_raw", 6).alias("cosine"))
    )


PQ_M = 8         # subspaces
PQ_K = 16        # centroids per subspace (4-bit codes)
PQ_SHORTLIST = 50
PQ_TRAIN_N = 256  # bounded codebook-training sample (driver-side)
PQ_L = 2          # exact fixed-point Lloyd steps per subspace codebook

# codebooks + the checkpointed codes DF are the "index build": the
# session memo runs training and encoding once, repeat queries reuse them
@session_memo
def _pq_index(spark: SparkSession, sf_dir: str):
    """Returns (frame, cents_df, codes_df, ds) — the checkpointed
    integer spherical frame (vec_id, e, n2, xp), the deterministic
    codebook table, and the checkpointed PQ codes.

    Round 12/13: codebooks are DETERMINISTIC — per subspace, the PQ_K
    lowest-vec_id subvectors OF the bounded hash-selected training
    sample seed PQ_L exact fixed-point Lloyd steps, all
    int64, so the whole index build is value-oracled as unrolled SQL;
    the previous seeded-RNG k-means was rows-only.  Training stays
    driver-side (train-small/apply-big) and partition-invariant."""
    import numpy as np

    frame = lineage_checkpoint(_sph_frame(spark, sf_dir), big=True)
    dim = len(frame.select("e").first()[0])
    if dim != E2_DIM:
        # the oracle's unrolled SQL encodes ds = E2_DIM // PQ_M; a
        # fixture width change must fail loudly, not silently encode
        # different subspaces than the engine (round-12 advice)
        raise ValueError(f"PQ index expects {E2_DIM}-wide embeddings, got {dim}")
    ds = dim // PQ_M

    # hash-selected training sample (round-12 advice: no lowest-id
    # prefix bias; the PQ sample is the first PQ_TRAIN_N of the shared
    # hash order, so the memoized selection pass is paid once per
    # session); seeds below are the PQ_K lowest vec_ids WITHIN it
    rows = sorted(_hash_sample(spark, sf_dir)[:PQ_TRAIN_N], key=lambda t: t[0])
    if len(rows) < PQ_K:
        raise ValueError(
            f"PQ training needs >= {PQ_K} nonzero vectors in the"
            f" {PQ_TRAIN_N}-row hash sample; got {len(rows)}"
        )
    X = np.array([xp for _, xp in rows], dtype=np.int64)
    books = []
    for m in range(PQ_M):
        sub = X[:, m * ds:(m + 1) * ds]
        cents = sub[:PQ_K].copy()  # seeds: PQ_K lowest train vec_ids
        for _ in range(PQ_L):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)  # ties -> lowest code
            for j in range(PQ_K):
                mm = assign == j
                if mm.any():
                    sv, c = sub[mm].sum(0), int(mm.sum())
                    cents[j] = (2 * sv + c) // (2 * c)  # positive -> floor
        books.append(cents)
    cent_rows = [
        (m, c, [int(x) for x in books[m][c]]) for m in range(PQ_M) for c in range(PQ_K)
    ]
    cents = spark.createDataFrame(cent_rows, "sub_id INT, code INT, centroid ARRAY<BIGINT>")

    # relational encode: nearest subspace centroid per (vec, sub) —
    # exact integer d2, ties to the lowest code via the min_by struct
    subs = frame.select(
        "vec_id",
        F.posexplode(
            F.expr(f"transform(sequence(0, {PQ_M - 1}), m -> slice(xp, m * {ds} + 1, {ds}))")
        ).alias("sub_id", "sv"),
    )
    d2 = F.expr(
        "aggregate(zip_with(sv, centroid, (a, b) -> (a - b) * (a - b)), 0L, (x, y) -> x + y)"
    )
    codes = (
        subs.join(F.broadcast(cents), "sub_id")
        .withColumn("d2", d2)
        .groupBy("vec_id", "sub_id")
        .agg(F.min_by(F.col("code"), F.struct(F.col("d2"), F.col("code"))).alias("code"))
    )
    return frame, cents, lineage_checkpoint(codes, big=True), ds


def _pq_rerank_oracle() -> str:
    """Unrolled-SQL replay of the deterministic PQ index + ADC + exact
    re-rank; shares the spherical requant CTEs with the IVF oracle."""
    ds = E2_DIM // PQ_M  # _pq_index asserts the corpus is E2_DIM-wide
    parts = [
        "nzq AS MATERIALIZED (SELECT vec_id, list_transform(embedding,"
        " x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e FROM embeddings)",
        "nzn AS MATERIALIZED (SELECT vec_id, e,"
        " CAST(list_sum(list_transform(e, x -> x * x)) AS BIGINT) AS n2 FROM nzq)",
        f"fem AS MATERIALIZED (SELECT vec_id, (generate_subscripts(e, 1) - 1) // {ds} AS m,"
        f" (generate_subscripts(e, 1) - 1) % {ds} AS jj,"
        f" (CAST(ROUND(CAST(unnest(e) AS DOUBLE) / SQRT(CAST(n2 AS DOUBLE)) * {SPH_NQ})"
        f" AS BIGINT) + {SPH_OFF}) * {SPH_CQ} AS xq FROM nzn WHERE n2 > 0)",
        f"psamp AS MATERIALIZED (SELECT vec_id FROM nzn WHERE n2 > 0"
        f" ORDER BY {md5_int56_duck('CAST(vec_id AS VARCHAR)')}, vec_id"
        f" LIMIT {PQ_TRAIN_N})",
        "femt AS MATERIALIZED (SELECT f.* FROM fem f JOIN psamp s USING (vec_id))",
        f"cbs AS (SELECT DISTINCT vec_id FROM femt ORDER BY vec_id LIMIT {PQ_K})",
        "cb0 AS MATERIALIZED (SELECT DENSE_RANK() OVER (ORDER BY f.vec_id) - 1 AS code,"
        " f.m, f.jj, f.xq AS w FROM femt f JOIN cbs s ON s.vec_id = f.vec_id)",
    ]
    for it in range(1, PQ_L + 1):
        parts.append(
            f"pasg{it} AS MATERIALIZED (SELECT vec_id, m, code FROM ("
            f"SELECT vec_id, m, code, ROW_NUMBER() OVER (PARTITION BY vec_id, m"
            f" ORDER BY d2, code) AS rn FROM ("
            f"SELECT f.vec_id, f.m, c.code, SUM((f.xq - c.w) * (f.xq - c.w)) AS d2"
            f" FROM femt f JOIN cb{it - 1} c ON c.m = f.m AND c.jj = f.jj"
            f" GROUP BY f.vec_id, f.m, c.code)) WHERE rn = 1)"
        )
        parts.append(
            f"pst{it} AS MATERIALIZED (SELECT a.m, a.code, f.jj, SUM(f.xq) AS s, COUNT(*) AS c"
            f" FROM pasg{it} a JOIN femt f ON f.vec_id = a.vec_id AND f.m = a.m"
            f" GROUP BY a.m, a.code, f.jj)"
        )
        parts.append(
            f"cb{it} AS MATERIALIZED (SELECT p.code, p.m, p.jj,"
            f" COALESCE((2 * n.s + n.c) // (2 * n.c), p.w) AS w"
            f" FROM cb{it - 1} p LEFT JOIN pst{it} n"
            f" ON n.code = p.code AND n.m = p.m AND n.jj = p.jj)"
        )
    body = f"""
    codes AS MATERIALIZED (
      SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn
        FROM (SELECT f.vec_id, f.m, c.code, SUM((f.xq - c.w) * (f.xq - c.w)) AS d2
              FROM fem f JOIN cb{PQ_L} c ON c.m = f.m AND c.jj = f.jj
              GROUP BY f.vec_id, f.m, c.code)
      ) WHERE rn = 1
    ),
    lut AS MATERIALIZED (
      SELECT f.vec_id AS query_id, f.m, c.code, SUM((f.xq - c.w) * (f.xq - c.w)) AS d2
      FROM fem f JOIN cb{PQ_L} c ON c.m = f.m AND c.jj = f.jj
      WHERE f.vec_id % {QUERY_STRIDE} = 0 AND f.vec_id < {PROBE_MAX_ID}
      GROUP BY 1, 2, 3
    ),
    adc AS MATERIALIZED (
      SELECT l.query_id, c.vec_id AS cand_id, SUM(l.d2) AS adc_d2
      FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
      WHERE l.query_id <> c.vec_id GROUP BY 1, 2
    ),
    short AS MATERIALIZED (
      SELECT query_id, cand_id FROM (
        SELECT query_id, cand_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_d2, cand_id) AS rn
        FROM adc
      ) WHERE rn <= {PQ_SHORTLIST}
    ),
    spr AS (
      SELECT s.query_id, s.cand_id, unnest(a.e) AS ea, unnest(b.e) AS eb,
             a.n2 AS na2, b.n2 AS nb2
      FROM short s JOIN nzn a ON a.vec_id = s.query_id JOIN nzn b ON b.vec_id = s.cand_id
    ),
    sdots AS (
      SELECT query_id, cand_id, SUM(ea * eb) AS dot,
             ANY_VALUE(na2) AS na2, ANY_VALUE(nb2) AS nb2
      FROM spr GROUP BY 1, 2
    )
    SELECT query_id, cand_id, rank, cosine FROM (
      SELECT query_id, cand_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY CAST(dot AS DOUBLE) / SQRT(CAST(na2 AS DOUBLE) * nb2) DESC,
                           cand_id) AS BIGINT) AS rank,
             ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(na2 AS DOUBLE) * nb2), 6) AS cosine
      FROM sdots
    ) WHERE rank <= {TOP_K}
    """
    return "WITH " + ",\n".join(parts) + "," + body


# exchanges: ADC agg + shortlist/rerank windows over the checkpointed frame
# and codes (the bounded LUT/codebook sides all broadcast)
@query("ann_pq_rerank", oracle=_pq_rerank_oracle(), bench=True, exchanges=2)
def q_ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact re-rank — the memory-bound
    scale path beside LSH/IVF: vectors compress to PQ_M 4-bit codes
    (~8 bytes vs 512), the WHOLE corpus is scored from codes via a
    broadcast lookup-table join, and only the per-query shortlist of
    PQ_SHORTLIST candidates touches full vectors for exact cosine
    re-ranking (recall vs brute force asserted in tests; the
    deterministic codebooks measure 0.66 on this corpus).

    Round 12: codebooks are the engine's deterministic fixed-point
    k-means (PQ_K lowest-id subvectors of the hash-selected training
    sample + PQ_L exact Lloyd steps per subspace), so index build, ADC scoring and re-rank are all
    value-oracled as unrolled SQL — the seeded-RNG codebooks were
    rows-only.  Every distance until the final cosine is an exact
    int64, so no float reduce order can flip a code or a shortlist.

    Scale shape unchanged: codebooks train on a BOUNDED sample
    (train-small/apply-big); trained codebooks + checkpointed codes are
    memoized per session as the index build; ADC scoring is a
    broadcast join + one partial agg, linear in corpus x probes; the
    re-rank join touches O(probes x shortlist) full vectors regardless
    of corpus size.
    """
    frame, cents, codes, ds = _pq_index(spark, sf_dir)

    # --- per-query ADC lookup tables (probes x PQ_M x PQ_K rows) ---
    q = frame.filter((F.col("vec_id") % QUERY_STRIDE == 0) & (F.col("vec_id") < PROBE_MAX_ID))
    qsubs = q.select(
        F.col("vec_id").alias("query_id"),
        F.posexplode(
            F.expr(f"transform(sequence(0, {PQ_M - 1}), m -> slice(xp, m * {ds} + 1, {ds}))")
        ).alias("sub_id", "sv"),
    )
    d2 = F.expr(
        "aggregate(zip_with(sv, centroid, (a, b) -> (a - b) * (a - b)), 0L, (x, y) -> x + y)"
    )
    lut = qsubs.join(F.broadcast(cents), "sub_id").select(
        "query_id", "sub_id", "code", d2.alias("ld2")
    )

    # --- ADC scoring from codes only + shortlist (exact int sums) ---
    approx = (
        codes.join(F.broadcast(lut), ["sub_id", "code"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("ld2").alias("approx_d2"))
    )
    ws = Window.partitionBy("query_id").orderBy(F.asc("approx_d2"), F.asc("vec_id"))
    shortlist = (
        approx.withColumn("sn", F.row_number().over(ws))
        .filter(F.col("sn") <= PQ_SHORTLIST)
        .select("query_id", F.col("vec_id").alias("cand_id"))
    )

    # --- exact integer-dot cosine re-rank of the shortlist only ---
    qv = q.select(F.col("vec_id").alias("query_id"), F.col("e").alias("eq"),
                  F.col("n2").alias("na2"))
    cv = frame.select(F.col("vec_id").alias("cand_id"), F.col("e").alias("ev"),
                      F.col("n2").alias("nb2"))
    dot = F.expr("aggregate(zip_with(eq, ev, (x, y) -> x * y), 0L, (a, b) -> a + b)")
    wr = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("cand_id"))
    return (
        shortlist.join(cv, "cand_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos_raw",
                    dot.cast("double") / F.sqrt(F.col("na2").cast("double") * F.col("nb2")))
        .withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id", "cand_id", "rank", F.round("cos_raw", 6).alias("cosine")
        )
    )


def _arrow_norm_batches(batches):
    """mapInArrow kernel: per-row exact squared norm of the quantized
    embedding (round-half-away int64 milli-units, the module's shared
    quantization), computed columnar — one numpy pass per Arrow batch,
    segment sums taken as differences of an exclusive int64 cumsum at
    the list offsets (correct for empty interior AND trailing
    segments, where reduceat's index clamping truncated the segment
    preceding a trailing empty list).  No per-row Python, no pandas
    conversion: the batch stays an Arrow buffer end to end."""
    import numpy as np
    import pyarrow as pa

    # q*q fits int64 iff |q| <= floor(sqrt(2^63 - 1)); above that the
    # square wraps mod 2^64 and can land POSITIVE, so a sign check
    # alone cannot catch it
    Q_MAX = 3037000499

    for batch in batches:
        col = batch.column(batch.schema.get_field_index("embedding"))
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        offsets = col.offsets.to_numpy(zero_copy_only=False)
        vals = col.values.to_numpy(zero_copy_only=False).astype(np.float64)
        if not np.all(np.isfinite(vals)):
            # NaN/inf cast to INT64_MIN whose square wraps to 0 — a
            # silent zero contribution, never acceptable
            raise ValueError("non-finite embedding value in arrow_batch_norm")
        scaled = vals * 1000.0
        q = np.copysign(np.floor(np.abs(scaled) + 0.5), scaled).astype(np.int64)
        if vals.size and np.abs(q).max() > Q_MAX:
            raise OverflowError(
                "quantized embedding magnitude exceeds int64 square range; "
                "embeddings must be ~unit scale (milli-unit quantization)"
            )
        sq = q * q
        cs = np.concatenate(([0], np.cumsum(sq)))
        # The batch-wide cumsum can leave int64 even when every
        # per-segment norm2 fits.  Each step adds sq[i] in [0, 2^63),
        # so the FIRST wraparound necessarily lands negative; when that
        # happens, fall back to exact per-segment Python-int sums (rare
        # path, only batches of huge-magnitude embeddings) and raise
        # only if a single vector's norm2 itself exceeds int64.
        if np.any(cs < 0):
            norm2 = np.empty(len(offsets) - 1, dtype=np.int64)
            for i, (s, t) in enumerate(zip(offsets[:-1], offsets[1:])):
                v = sum(int(x) for x in sq[s:t])
                if v > 0x7FFFFFFFFFFFFFFF:
                    raise OverflowError(
                        "squared norm of a single embedding exceeds int64"
                    )
                norm2[i] = v
        else:
            norm2 = cs[offsets[1:]] - cs[offsets[:-1]]
        labels = batch.column(batch.schema.get_field_index("label"))
        yield pa.RecordBatch.from_arrays(
            [labels, pa.array(norm2, type=pa.int64())], names=["label", "norm2"]
        )


@query(
    "arrow_batch_norm",
    oracle="""
    WITH n AS (
      SELECT label,
             list_sum(list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT) * CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)
             )) AS norm2
      FROM embeddings
    )
    SELECT CAST(label AS INTEGER) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MIN(norm2) AS BIGINT) AS min_norm2,
           CAST(MAX(norm2) AS BIGINT) AS max_norm2,
           CAST(SUM(norm2) AS BIGINT) AS sum_norm2
    FROM n GROUP BY label
    """,
    bench=True, exchanges=1,  # Arrow kernel is map-side; one label agg
)
def q_arrow_batch_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` vectorized kernel: per-vector exact squared norm
    in integer milli-units, aggregated per label.  This is the
    Arrow-native fast path for Python kernels Spark's built-ins can't
    express (the real use is a compiled embedding op — normalization,
    PQ encode, a model forward): the JVM ships columnar Arrow batches,
    numpy computes one vectorized pass per batch (zero per-row Python,
    zero pandas materialization — cheaper than a Pandas UDF when the
    kernel is pure array math), and only (label, norm2) comes back,
    so the exchange after the kernel carries 12 bytes/row regardless
    of embedding width.

    Quantized int64 math end to end — the result is exact, so the
    oracle is bit-for-bit, proving the Arrow path computes the SAME
    answer as the declarative engines, not just a close one."""
    vecs = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    schema = "label int, norm2 bigint"
    out = vecs.mapInArrow(_arrow_norm_batches, schema)
    return out.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.min("norm2").cast("bigint").alias("min_norm2"),
        F.max("norm2").cast("bigint").alias("max_norm2"),
        F.sum("norm2").cast("bigint").alias("sum_norm2"),
    )


@query(
    "embedding_int8_quantize",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS m
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, label, m,
             list_max(list_transform(m, x -> ABS(x))) AS scale
      FROM v
    ),
    e AS (
      SELECT vec_id, label, scale,
             unnest(m) AS mv,
             unnest(list_transform(m, x -> CAST(FLOOR(CAST(x * 127 AS DOUBLE) / scale) AS BIGINT))) AS qv,
             unnest(range(1, len(m) + 1)) AS idx
      FROM s WHERE scale > 0
    ),
    per_vec AS (
      SELECT vec_id, label,
             SUM(qv * idx) AS wsum,
             MAX(CAST(FLOOR(ABS(CAST(mv AS DOUBLE) - CAST(qv * scale AS DOUBLE) / 127.0) * 1000) AS BIGINT)) AS errmax,
             MIN(qv) AS qmin, MAX(qv) AS qmax
      FROM e GROUP BY 1, 2
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(wsum) AS BIGINT) AS wsum_total,
           CAST(MAX(errmax) AS BIGINT) AS max_err_milli,
           CAST(bit_xor(vec_id * 1000003 + wsum) AS BIGINT) AS quant_checksum,
           CAST(MIN(qmin) AS BIGINT) AS q_min,
           CAST(MAX(qmax) AS BIGINT) AS q_max
    FROM per_vec GROUP BY label
    """,
    bench=True, exchanges=1,
)
def q_embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization of the embedding column —
    the compression step every large-scale vector store / ANN index
    build runs before sharding (4x memory cut, SIMD int8 dot products).
    scale = max|x| per vector, q[i] = floor(x[i] * 127 / scale); the
    returned per-label stats pin the quantized values (weighted sums +
    bit_xor checksum), the int8 range envelope (q_min/q_max must stay
    in [-127, 127]), and the worst milli-unit reconstruction error.

    Entirely JVM-side higher-order functions (transform / zip_with /
    aggregate) — no Python in the plan; per-vector work is
    embarrassingly parallel, the only shuffle is the final label agg.
    Cross-engine exactness: elements quantize to integer milli-units
    first (the module's established idiom), so scale and q are exact
    BIGINTs; the error term is one double expression written
    identically in both engines, floored before compare."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "vec_id",
            "label",
            F.expr(_QUANT_SPARK).alias("m"),
        )
        .withColumn(
            "scale",
            F.expr("aggregate(m, CAST(0 AS BIGINT), (a, v) -> GREATEST(a, ABS(v)))"),
        )
        .filter("scale > 0")
        .withColumn(
            "q8",
            F.expr("transform(m, v -> CAST(FLOOR(CAST(v * 127 AS DOUBLE) / scale) AS BIGINT))"),
        )
        .withColumn(
            "wsum",
            F.expr(
                "aggregate(zip_with(q8, sequence(CAST(1 AS BIGINT), CAST(size(q8) AS BIGINT)),"
                " (v, i) -> v * i), CAST(0 AS BIGINT), (a, x) -> a + x)"
            ),
        )
        .withColumn(
            "errmax",
            F.expr(
                "aggregate(zip_with(m, q8, (a, b) -> CAST(FLOOR(ABS(CAST(a AS DOUBLE)"
                " - CAST(b * scale AS DOUBLE) / 127.0) * 1000) AS BIGINT)),"
                " CAST(0 AS BIGINT), (acc, v) -> GREATEST(acc, v))"
            ),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum("wsum").cast("bigint").alias("wsum_total"),
            F.max("errmax").cast("bigint").alias("max_err_milli"),
            F.bit_xor(F.col("vec_id") * 1000003 + F.col("wsum"))
            .cast("bigint")
            .alias("quant_checksum"),
            F.min(F.array_min("q8")).cast("bigint").alias("q_min"),
            F.max(F.array_max("q8")).cast("bigint").alias("q_max"),
        )
    )


# --------------------------------------- deterministic SRP-LSH buckets

SRP_BITS = 16        # hyperplanes
SRP_BAND_BITS = 4    # -> 4 bands x 4 bits (Charikar SRP, banded)
SRP_DIM = 64         # embedding width of the testdata corpus


def _srp_weight(b: int, d: int) -> int:
    """Deterministic ±1 hyperplane weights from md5 — no RNG object,
    so the 'random' projection is reproducible in closed form by BOTH
    engines (the literal weight table is embedded in the Spark
    expressions and the DuckDB oracle from this one definition)."""
    import hashlib

    return 1 if hashlib.md5(f"srp:{b}:{d}".encode()).digest()[0] & 1 else -1


_SRP_FLAT = [_srp_weight(b, d) for b in range(SRP_BITS) for d in range(SRP_DIM)]
_SRP_DUCK_LIT = "[" + ",".join(str(x) for x in _SRP_FLAT) + "]"
_SRP_SPARK_ROWS = [
    "array(" + ",".join(f"{x}L" for x in _SRP_FLAT[b * SRP_DIM:(b + 1) * SRP_DIM]) + ")"
    for b in range(SRP_BITS)
]


_SRP_ORACLE = f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
      FROM embeddings
    ),
    n AS (SELECT vec_id, e, list_sum(list_transform(e, x -> x * x)) AS n2 FROM base),
    nz AS (SELECT * FROM n WHERE n2 > 0),
    ve AS (
      SELECT vec_id, unnest(e) AS ea, generate_subscripts(e, 1) - 1 AS d FROM nz
    ),
    bits AS (
      SELECT vec_id, bb.b,
             SUM(ea * (CAST({_SRP_DUCK_LIT} AS BIGINT[]))[bb.b * {SRP_DIM} + d + 1]) >= 0 AS bit
      FROM ve, range(0, {SRP_BITS}) AS bb(b)
      GROUP BY 1, 2
    ),
    buckets AS (
      SELECT vec_id, b // {SRP_BAND_BITS} AS band,
             SUM(CASE WHEN bit THEN CAST(POWER(2, b % {SRP_BAND_BITS}) AS BIGINT)
                      ELSE 0 END) AS bucket
      FROM bits GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT qb.vec_id AS query_id, vb.vec_id AS cand_id
      FROM buckets qb
      JOIN buckets vb ON qb.band = vb.band AND qb.bucket = vb.bucket
      WHERE qb.vec_id % {QUERY_STRIDE} = 0 AND qb.vec_id < {PROBE_MAX_ID}
        AND qb.vec_id <> vb.vec_id
    ),
    pr AS (
      SELECT c.query_id, c.cand_id,
             unnest(a.e) AS ea, unnest(bb.e) AS eb, a.n2 AS na2, bb.n2 AS nb2
      FROM cand c
      JOIN nz a ON a.vec_id = c.query_id
      JOIN nz bb ON bb.vec_id = c.cand_id
    ),
    dots AS (
      SELECT query_id, cand_id, SUM(ea * eb) AS dot,
             ANY_VALUE(na2) AS na2, ANY_VALUE(nb2) AS nb2
      FROM pr GROUP BY 1, 2
    )
    SELECT query_id, cand_id, rank, cosine FROM (
      SELECT query_id, cand_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY CAST(dot AS DOUBLE) / SQRT(CAST(na2 AS DOUBLE) * nb2) DESC,
                           cand_id) AS BIGINT) AS rank,
             ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(na2 AS DOUBLE) * nb2), 6) AS cosine
      FROM dots
    ) WHERE rank <= {TOP_K}
    """


@query(
    "ann_srp_bucketed",
    oracle=_SRP_ORACLE,
    # bucket equi-join + rerank window + scan-width guards
    bench=True, exchanges=6, order_sensitive=True,
)
def q_ann_srp_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded sign-random-projection LSH ANN (Charikar SRP) with
    DETERMINISTIC hyperplanes: the ±1 weights derive from md5, so —
    like the Euclidean twin (``ann_lsh_bucketed``) — the whole pipeline
    (sketch -> band buckets -> candidate join -> exact rerank) is
    value-oracled end to end.

    Each vector gets {SRP_BITS} sign bits (exact integer hyperplane
    dots on the milli-quantized embedding), packed into
    {SRP_BITS // SRP_BAND_BITS} bands of {SRP_BAND_BITS} bits;
    candidates for the fixed 10-probe set are vectors sharing ANY band
    bucket, reranked by exact cosine to top-{TOP_K}.

    Scale shape: sketches are a pure projection (O(dim x bits) per
    row, no shuffle); the candidate search is an equi-join on
    (band, bucket) — the corpus never self-joins, and the probe side
    is bounded by the literal-id contract so AQE broadcasts it
    unhinted.  Band width trades recall for candidate count exactly
    as in the MinHash banding above."""
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    norm2 = F.expr("aggregate(transform(e, x -> x * x), 0L, (a, b) -> a + b)")
    nz = (
        emb.select("vec_id", F.expr(_QUANT_SPARK).alias("e"))
        .withColumn("n2", norm2)
        .filter(F.col("n2") > 0)
    )
    band_cols = []
    for band in range(SRP_BITS // SRP_BAND_BITS):
        bucket = F.lit(0)
        for j in range(SRP_BAND_BITS):
            b = band * SRP_BAND_BITS + j
            dot_b = F.expr(
                f"aggregate(zip_with(e, {_SRP_SPARK_ROWS[b]},"
                " (x, y) -> x * y), 0L, (a, b) -> a + b)"
            )
            bucket = bucket + F.when(dot_b >= 0, F.lit(1 << j)).otherwise(0)
        band_cols.append(bucket.cast("bigint"))
    skb = nz.select(
        "vec_id", F.posexplode(F.array(*band_cols)).alias("band", "bucket")
    ).select("vec_id", F.col("band").cast("bigint").alias("band"), "bucket")
    qb = skb.filter(
        (F.col("vec_id") % QUERY_STRIDE == 0) & (F.col("vec_id") < PROBE_MAX_ID)
    ).select(F.col("vec_id").alias("query_id"), "band", "bucket")
    cand = (
        qb.join(skb.withColumnRenamed("vec_id", "cand_id"), ["band", "bucket"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id")
        .distinct()
    )
    a = nz.select(F.col("vec_id").alias("query_id"), F.col("e").alias("eq"),
                  F.col("n2").alias("na2"))
    b = nz.select(F.col("vec_id").alias("cand_id"), F.col("e").alias("ev"),
                  F.col("n2").alias("nb2"))
    dot = F.expr("aggregate(zip_with(eq, ev, (x, y) -> x * y), 0L, (a, b) -> a + b)")
    scored = (
        cand.join(a, "query_id")
        .join(b, "cand_id")
        .select(
            "query_id",
            "cand_id",
            (dot.cast("double") / F.sqrt(F.col("na2").cast("double") * F.col("nb2"))).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "rank", F.round("cos_raw", 6).alias("cosine"))
    )


# --------------------------------------- deterministic IVF (oracle-backed)

IVF_DET_PROBE = 2  # nearest lists probed per query


def _ivf_det_oracle() -> str:
    """Built from the SAME assignment CTE block as the semantic dedup
    oracle (dedup.py:SEM_ASSIGN_DUCK_CTES), so the coarse quantizer
    can never drift between the two."""
    from .dedup import SEM_ASSIGN_DUCK_CTES

    return f"""
    WITH {SEM_ASSIGN_DUCK_CTES},
    probes AS (
      SELECT vec_id AS query_id, e AS eq, n2 AS na2 FROM nz
      WHERE vec_id % {QUERY_STRIDE} = 0 AND vec_id < {PROBE_MAX_ID}
    ),
    ps AS (
      SELECT p.query_id, s.seed_id, p.eq, p.na2,
             unnest(p.eq) AS ea, unnest(s.es) AS eb, s.ns2
      FROM probes p, seeds s
    ),
    pd AS (
      SELECT query_id, seed_id, SUM(ea * eb) AS dot,
             ANY_VALUE(na2) AS na2, ANY_VALUE(ns2) AS ns2
      FROM ps GROUP BY 1, 2
    ),
    plists AS (
      SELECT query_id, seed_id AS cluster_id FROM (
        SELECT query_id, seed_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY CAST(dot AS DOUBLE) / SQRT(CAST(na2 AS DOUBLE) * ns2) DESC,
                             seed_id) AS rnk
        FROM pd
      ) WHERE rnk <= {IVF_DET_PROBE}
    ),
    cand AS (
      SELECT pl.query_id, m.vec_id AS cand_id
      FROM plists pl JOIN memb m ON m.cluster_id = pl.cluster_id
      WHERE pl.query_id <> m.vec_id
    ),
    pr AS (
      SELECT c.query_id, c.cand_id,
             unnest(a.e) AS ea, unnest(bb.e) AS eb, a.n2 AS na2, bb.n2 AS nb2
      FROM cand c
      JOIN nz a ON a.vec_id = c.query_id
      JOIN nz bb ON bb.vec_id = c.cand_id
    ),
    dots AS (
      SELECT query_id, cand_id, SUM(ea * eb) AS dot,
             ANY_VALUE(na2) AS na2, ANY_VALUE(nb2) AS nb2
      FROM pr GROUP BY 1, 2
    )
    SELECT query_id, cand_id, rank, cosine FROM (
      SELECT query_id, cand_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY CAST(dot AS DOUBLE) / SQRT(CAST(na2 AS DOUBLE) * nb2) DESC,
                           cand_id) AS BIGINT) AS rank,
             ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(na2 AS DOUBLE) * nb2), 6) AS cosine
      FROM dots
    ) WHERE rank <= {TOP_K}
    """


@query(
    "ann_ivf_deterministic",
    oracle=_ivf_det_oracle(),
    # per-query rerank window over the checkpointed assignment
    bench=True, exchanges=1, order_sensitive=True,
)
def q_ann_ivf_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a DETERMINISTIC coarse quantizer — the
    seed-quantizer twin of the Lloyd-trained ``ann_ivf_probe`` (also
    oracle-backed since round 12): the inverted lists are the
    one-step-Lloyd clusters
    already memoized for SemDeDup (dedup.py:_semantic_assign_df — K
    lowest-id seeds, cosine argmax), each probe scans only its
    {IVF_DET_PROBE} highest-cosine lists, and survivors rerank by
    exact integer-dot cosine to top-{TOP_K}.

    Scale shape identical to the KMeans twin: at 100 TB the corpus is
    partitioned BY list (scan-prunes to the probed lists), the seed
    table is a constant-size broadcast, and the only corpus shuffle is
    the final per-query top-k.  Sharing the memoized assignment with
    the dedup pipeline is the production trick: ONE clustering pass
    serves both the dedup and the ANN index."""
    from .dedup import K_SEM, _semantic_assign_df

    assign = _semantic_assign_df(spark, sf_dir)
    # Seeds are re-derived by the SAME rule as the assignment (K
    # lowest nonzero-norm ids) rather than filtered as
    # vec_id == cluster_id: if two seeds are positive scalar multiples
    # (cosine exactly 1.0) the higher one is assigned to the lower's
    # cluster and would vanish from a filter-based seed table, while
    # the oracle's LIMIT-K seed CTE still ranks its (empty) list.
    seeds = (
        assign.orderBy("vec_id")
        .limit(K_SEM)
        .select(
            F.col("vec_id").alias("seed_id"),
            F.col("e").alias("es"),
            F.col("n2").alias("ns2"),
        )
    )
    probes = assign.filter(
        (F.col("vec_id") % QUERY_STRIDE == 0) & (F.col("vec_id") < PROBE_MAX_ID)
    ).select(F.col("vec_id").alias("query_id"), F.col("e").alias("eq"),
             F.col("n2").alias("na2"))
    dot_s = F.expr("aggregate(zip_with(eq, es, (x, y) -> x * y), 0L, (a, b) -> a + b)")
    cos_s = dot_s.cast("double") / F.sqrt(F.col("na2").cast("double") * F.col("ns2"))
    wl = Window.partitionBy("query_id").orderBy(F.desc("cos_s"), F.asc("seed_id"))
    plists = (
        probes.crossJoin(F.broadcast(seeds))
        .select("query_id", "eq", "na2", "seed_id", cos_s.alias("cos_s"))
        .withColumn("rnk", F.row_number().over(wl))
        .filter(F.col("rnk") <= IVF_DET_PROBE)
        .select("query_id", "eq", "na2", F.col("seed_id").alias("cluster_id"))
    )
    cand = plists.join(
        assign.select("cluster_id", F.col("vec_id").alias("cand_id"),
                      F.col("e").alias("ev"), F.col("n2").alias("nb2")),
        "cluster_id",
    ).filter(F.col("query_id") != F.col("cand_id"))
    dot = F.expr("aggregate(zip_with(eq, ev, (x, y) -> x * y), 0L, (a, b) -> a + b)")
    scored = cand.select(
        "query_id",
        "cand_id",
        (dot.cast("double") / F.sqrt(F.col("na2").cast("double") * F.col("nb2"))).alias("cos_raw"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "rank", F.round("cos_raw", 6).alias("cosine"))
    )


# ------------------------------- deterministic PQ + ADC (oracle-backed)

PQD_M = 8      # subspaces
PQD_DS = 8     # dims per subspace (PQD_M * PQD_DS = the corpus width)
PQD_K = 16     # codebook entries per subspace (seed codebooks)


@query(
    "ann_pq_deterministic",
    oracle=f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
      FROM embeddings
    ),
    flat AS (
      SELECT vec_id, unnest(e) AS val, generate_subscripts(e, 1) - 1 AS d FROM base
    ),
    fe AS (
      SELECT vec_id, d // {PQD_DS} AS m, d % {PQD_DS} AS j, val FROM flat
    ),
    seeds AS (SELECT vec_id AS k FROM base ORDER BY vec_id LIMIT {PQD_K}),
    cb AS (
      SELECT DENSE_RANK() OVER (ORDER BY fe.vec_id) - 1 AS k, fe.m, fe.j, fe.val AS w
      FROM fe JOIN seeds s ON s.k = fe.vec_id
    ),
    codes AS (
      SELECT vec_id, m, code FROM (
        SELECT fe.vec_id, fe.m, cb.k AS code,
               ROW_NUMBER() OVER (PARTITION BY fe.vec_id, fe.m
                    ORDER BY SUM((fe.val - cb.w) * (fe.val - cb.w)), cb.k) AS rnk
        FROM fe JOIN cb ON cb.m = fe.m AND cb.j = fe.j
        GROUP BY fe.vec_id, fe.m, cb.k
      ) WHERE rnk = 1
    ),
    lut AS (
      SELECT fe.vec_id AS query_id, fe.m, cb.k,
             SUM((fe.val - cb.w) * (fe.val - cb.w)) AS d2
      FROM fe JOIN cb ON cb.m = fe.m AND cb.j = fe.j
      WHERE fe.vec_id % {QUERY_STRIDE} = 0 AND fe.vec_id < {PROBE_MAX_ID}
      GROUP BY 1, 2, 3
    ),
    adc AS (
      SELECT l.query_id, c.vec_id AS cand_id, SUM(l.d2) AS adc_d2
      FROM codes c JOIN lut l ON l.m = c.m AND l.k = c.code
      WHERE l.query_id <> c.vec_id
      GROUP BY 1, 2
    )
    SELECT query_id, cand_id, rank, adc_d2 FROM (
      SELECT query_id, cand_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY adc_d2, cand_id) AS BIGINT) AS rank,
             CAST(adc_d2 AS BIGINT) AS adc_d2
      FROM adc
    ) WHERE rank <= {TOP_K}
    """,
    # encode agg + code argmin + ADC agg + top-k + scan-width guards
    bench=True, exchanges=9, order_sensitive=True,
)
def q_ann_pq_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization + ADC with DETERMINISTIC seed codebooks —
    the ADC-only twin of the Lloyd-trained ``ann_pq_rerank`` (also
    oracle-backed since round 12): each {PQD_M * PQD_DS}-dim vector
    splits into {PQD_M}
    subspaces of {PQD_DS} dims, the per-subspace codebook is the
    subvectors of the {PQD_K} lowest-id vectors, and every vector
    encodes to its argmin-L2 code per subspace (ties to the lowest
    code).  Probes score the WHOLE corpus by asymmetric distance — a
    {PQD_M}-term lookup-table sum — which is the PQ trade: one cheap
    linear scan over 8-byte codes instead of 256-byte floats.

    Everything is exact BIGINT arithmetic on the milli-quantized
    values (squared L2, LUT entries, ADC sums) — zero floats anywhere,
    so cross-engine agreement is unconditional.

    Scale shape: encoding is one (vec, subspace, code) hash agg over a
    bounded 128-row broadcast codebook; the ADC scan joins the
    (corpus x {PQD_M}) code table to a (10 x {PQD_M} x {PQD_K}) LUT —
    linear in the corpus, the only shuffle the final per-query top-k.
    At 100 TB the code table is the ~32x-compressed index you keep hot
    while the raw vectors stay cold — the standard IVF-PQ memory
    layout."""
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    quant = emb.select("vec_id", F.expr(_QUANT_SPARK).alias("e"))
    fe = quant.select(
        "vec_id", F.posexplode("e").alias("d", "val")
    ).select(
        "vec_id",
        (F.col("d") / PQD_DS).cast("int").alias("m"),
        (F.col("d") % PQD_DS).alias("j"),
        "val",
    )
    seeds = quant.orderBy("vec_id").limit(PQD_K).select(
        F.col("vec_id").alias("seed_vid"), F.col("e").alias("es")
    )
    cbw = Window.orderBy("seed_vid")
    cb = (
        seeds.withColumn("k", F.dense_rank().over(cbw) - 1)
        .select("k", F.posexplode("es").alias("d", "w"))
        .select(
            "k",
            (F.col("d") / PQD_DS).cast("int").alias("m"),
            (F.col("d") % PQD_DS).alias("j"),
            "w",
        )
    )
    # cb is PQD_K * PQD_M * PQD_DS = 1024 rows by construction (LIMIT)
    d2 = F.sum((F.col("val") - F.col("w")) * (F.col("val") - F.col("w"))).alias("d2")
    dist = (
        fe.join(F.broadcast(cb), ["m", "j"])
        .groupBy("vec_id", "m", "k")
        .agg(d2)
    )
    wcode = Window.partitionBy("vec_id", "m").orderBy("d2", "k")
    codes = (
        dist.withColumn("rnk", F.row_number().over(wcode))
        .filter(F.col("rnk") == 1)
        .select("vec_id", "m", F.col("k").alias("code"))
    )
    lut = (
        dist.filter(
            (F.col("vec_id") % QUERY_STRIDE == 0) & (F.col("vec_id") < PROBE_MAX_ID)
        )
        .select(F.col("vec_id").alias("query_id"), "m", "k", "d2")
    )
    # lut is 10 probes x PQD_M x PQD_K = 1280 rows by the literal-id
    # contract, bounded at every SF
    # codes and lut share the `dist` lineage — rename lut's join keys
    # so the equi-join cannot silently resolve both sides to the same
    # column (Spark's self-join ambiguity trap)
    lut_r = lut.select(
        "query_id", F.col("m").alias("lm"), F.col("k").alias("lk"), "d2"
    )
    adc = (
        codes.join(
            F.broadcast(lut_r),
            (F.col("m") == F.col("lm")) & (F.col("code") == F.col("lk")),
        )
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("cand_id"))
        .agg(F.sum("d2").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("cand_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "rank", F.col("adc_d2").cast("bigint").alias("adc_d2"))
    )


# ------------------------------------------------ ANN recall evaluation


@query(
    "ann_recall_eval",
    oracle=f"""
    SELECT e.query_id,
           CAST(COUNT(s.cand_id) AS BIGINT) AS n_hits,
           ROUND(COUNT(s.cand_id) / CAST({TOP_K} AS DOUBLE), 6) AS recall_at_k
    FROM ({_ANN_ORACLE}) e
    LEFT JOIN ({_SRP_ORACLE}) s
      ON e.query_id = s.query_id AND e.cand_id = s.cand_id
    GROUP BY 1
    """,
    # exact pipeline + SRP bucket join/rerank + eval join/agg over
    # probe-sized sides, with the scan-width guards
    bench=True, exchanges=12, order_sensitive=True,
)
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the banded SRP-LSH index against exact
    brute-force cosine, AS A RELATIONAL QUERY — the index-quality
    eval every ANN deployment runs before trusting the approximate
    path.  Both sides are deterministic and individually value-oracled
    (``ann_cosine_topk``, ``ann_srp_bucketed``), so unlike the usual
    sampled/eyeballed recall number this one is exact and
    cross-engine reproducible down to the tie-breaks.

    Shape: ground truth LEFT JOIN approximate on (query, candidate),
    hits counted per query — a probe-set-sized join (10 x {TOP_K}
    rows each side at every SF), so the eval itself costs two index
    scans and an O(probes) join, never a corpus shuffle.
    """
    exact = q_ann_cosine_topk(spark, sf_dir).select("query_id", "cand_id")
    approx = q_ann_srp_bucketed(spark, sf_dir).select(
        F.col("query_id").alias("q2"), F.col("cand_id").alias("s_cand")
    )
    j = exact.join(
        approx,
        (exact.query_id == approx.q2) & (exact.cand_id == approx.s_cand),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("s_cand").alias("n_hits"),
        F.round(F.count("s_cand") / F.lit(float(TOP_K)), 6).alias("recall_at_k"),
    )


# ----------------------------- banded-SRP recall/cost trade-off audit

# every (bands x bits-per-band) factorization of the 16-bit signature,
# recall-greedy (16x1) through precision-greedy (1x16)
SRP_BAND_SWEEP = ((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))
_SRP_DENOM = float(SRP_BITS**SRP_BITS)  # B^B = 2^64, exact as a double


def _srp_miss_num(m: int, bands: int, r: int) -> int:
    """Exact integer numerator of the banded-LSH MISS probability.

    For a pair whose signatures agree on m of B sign bits, the chance
    no band of r bits collides is (1 - (m/B)^r)^bands; over the common
    denominator B^B (= B^(r*bands)) that is the integer
    (B^r - m^r)^bands — computed in Python arbitrary precision at
    plan-build time, so neither engine ever calls float POWER."""
    return (SRP_BITS**r - m**r) ** bands


_BAND_MQ_DUCK = ",\n      ".join(
    f"({b}, {r}, {m}, CAST('{_srp_miss_num(m, b, r)}' AS DECIMAL(38,0)))"
    for b, r in SRP_BAND_SWEEP
    for m in range(SRP_BITS + 1)
)
_BAND_CFG_DUCK = ", ".join(f"({b}, {r})" for b, r in SRP_BAND_SWEEP)


@query(
    "ann_band_recall_tradeoff",
    oracle=f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
      FROM embeddings
    ),
    n AS (SELECT vec_id, e, list_sum(list_transform(e, x -> x * x)) AS n2 FROM base),
    nz AS (SELECT * FROM n WHERE n2 > 0),
    ve AS (
      SELECT vec_id, unnest(e) AS ea, generate_subscripts(e, 1) - 1 AS d FROM nz
    ),
    bits AS (
      SELECT vec_id, bb.b,
             SUM(ea * (CAST({_SRP_DUCK_LIT} AS BIGINT[]))[bb.b * {SRP_DIM} + d + 1]) >= 0 AS bit
      FROM ve, range(0, {SRP_BITS}) AS bb(b)
      GROUP BY 1, 2
    ),
    sigs AS (
      SELECT vec_id,
             SUM(CASE WHEN bit THEN CAST(POWER(2, b) AS BIGINT) ELSE 0 END) AS sig
      FROM bits GROUP BY 1
    ),
    truth AS (SELECT query_id, cand_id FROM ({_ANN_ORACLE})),
    tm AS (
      SELECT t.query_id, t.cand_id,
             {SRP_BITS} - bit_count(xor(a.sig, c.sig)) AS m
      FROM truth t
      JOIN sigs a ON a.vec_id = t.query_id
      JOIN sigs c ON c.vec_id = t.cand_id
    ),
    mq(bands, band_bits, m, miss_num) AS (VALUES {_BAND_MQ_DUCK}),
    pred AS (
      SELECT mq.bands, mq.band_bits,
             SUM(mq.miss_num) AS miss_sum, COUNT(*) AS n_true
      FROM tm JOIN mq ON mq.m = tm.m GROUP BY 1, 2
    ),
    bkb AS (
      SELECT cfg.bands, cfg.band_bits, s.vec_id,
             unnest(range(0, cfg.bands)) AS band, s.sig
      FROM sigs s, (VALUES {_BAND_CFG_DUCK}) AS cfg(bands, band_bits)
    ),
    buck AS (
      SELECT bands, band_bits, vec_id, band,
             (sig >> (band * band_bits)) & ((1 << band_bits) - 1) AS bucket
      FROM bkb
    ),
    cand AS (
      SELECT DISTINCT q.bands, q.band_bits, q.vec_id AS query_id, v.vec_id AS cand_id
      FROM buck q
      JOIN buck v ON q.bands = v.bands AND q.band_bits = v.band_bits
                 AND q.band = v.band AND q.bucket = v.bucket
      WHERE q.vec_id % {QUERY_STRIDE} = 0 AND q.vec_id < {PROBE_MAX_ID}
        AND q.vec_id <> v.vec_id
    ),
    st AS (
      SELECT c.bands, c.band_bits,
             COUNT(*) AS candidate_rows,
             COALESCE(SUM(CASE WHEN t.query_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS n_hits
      FROM cand c
      LEFT JOIN truth t ON t.query_id = c.query_id AND t.cand_id = c.cand_id
      GROUP BY 1, 2
    )
    SELECT CAST(p.bands AS BIGINT) AS bands,
           CAST(p.band_bits AS BIGINT) AS band_bits,
           ROUND(1.0 - CAST(p.miss_sum AS DOUBLE)
                 / (CAST(p.n_true AS DOUBLE) * {_SRP_DENOM!r}), 6) AS predicted_p,
           ROUND(COALESCE(st.n_hits, 0) / CAST(p.n_true AS DOUBLE), 6) AS measured_recall,
           CAST(COALESCE(st.candidate_rows, 0) AS BIGINT) AS candidate_rows,
           CAST(COALESCE(st.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(p.n_true AS BIGINT) AS n_true
    FROM pred p
    LEFT JOIN st ON st.bands = p.bands AND st.band_bits = p.band_bits
    """,
    # candidate-pair distinct + the two 5-row config aggs; the
    # corpus-sized signature table only streams (truth/probe sides are
    # waivered broadcasts), and the signature build + truth top-k run
    # once at lineage-checkpoint time
    bench=True, exchanges=3, order_sensitive=True,
)
def q_ann_band_recall_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused ANN index-tuning table: recall vs candidate cost vs
    THEORY, per banding of the 16-bit SRP signature — the artifact an
    ANN deployment actually tunes by, joining what ``ann_recall_eval``
    measures with the S-curve sweep ``lsh_band_tuning_audit`` runs for
    minhash.  Per (bands x bits) factorization it reports the
    theoretical collision probability of the TRUE top-{TOP_K}
    neighbors (predicted_p, from each truth pair's measured
    bit-agreement m: mean over pairs of 1 - (1 - (m/{SRP_BITS})^r)^b),
    the measured candidate recall of those same pairs, and the
    candidate-pair volume the banding pays for it.

    Cross-engine exactness: the miss probability is a rational with
    denominator {SRP_BITS}^{SRP_BITS} = 2^64; its numerator is
    precomputed in Python integers per (config, m) and summed as
    DECIMAL(38,0), so the only float ops are one division and one
    ROUND on bit-identical inputs — no POWER drift.

    Scale shape: ONE signature build (lineage-checkpointed; it is the
    index artifact a deployment materializes anyway) feeds all five
    bandings by bit-slicing — re-banding is a regroup, never a
    re-sketch; the candidate join is probe-side-bounded on
    (config, band, bucket); the theory side joins a 50-row truth table
    against an 85-row literal lookup.
    """
    from decimal import Decimal

    from ..session import lineage_checkpoint

    emb = load_table_parallel(spark, sf_dir, "embeddings")
    norm2 = F.expr("aggregate(transform(e, x -> x * x), 0L, (a, b) -> a + b)")
    nz = (
        emb.select("vec_id", F.expr(_QUANT_SPARK).alias("e"))
        .withColumn("n2", norm2)
        .filter(F.col("n2") > 0)
    )
    sig = F.lit(0)
    for b in range(SRP_BITS):
        dot_b = F.expr(
            f"aggregate(zip_with(e, {_SRP_SPARK_ROWS[b]},"
            " (x, y) -> x * y), 0L, (a, b) -> a + b)"
        )
        sig = sig + F.when(dot_b >= 0, F.lit(1 << b)).otherwise(0)

    # The two materializations below — the SRP signature table and the
    # exact top-k truth table (<= 10 probes x TOP_K rows at any SF,
    # probe-bounded; consumed by the theory side AND the hit count,
    # broadcast into every join so the corpus-sized signature table
    # only ever STREAMS) — are INDEPENDENT eager jobs that round 15
    # ran back-to-back at util 0.17: each job's straggler tail left
    # the cores idle.  Submit both from a 2-thread pool (guide §2.6
    # "overlap independent jobs") so the second job's tasks back-fill
    # the first's tail; each checkpoint's CONTENT is unaffected by
    # scheduling, so determinism and the oracle contract hold.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_sigs = pool.submit(
            lambda: lineage_checkpoint(
                nz.select("vec_id", sig.cast("bigint").alias("sig"))
            )
        )
        f_truth = pool.submit(
            lambda: lineage_checkpoint(
                q_ann_cosine_topk(spark, sf_dir).select("query_id", "cand_id")
            )
        )
        sigs, truth = f_sigs.result(), f_truth.result()
    _TRUTH_BOUND = (
        "exact top-k truth table: <= PROBE_MAX_ID/QUERY_STRIDE * TOP_K "
        "= 50 rows at any SF (probe-set contract)"
    )
    half = sigs.select(
        F.col("vec_id").alias("query_id"), F.col("sig").alias("sq")
    ).join(bounded_broadcast(truth, _TRUTH_BOUND), "query_id")
    tm = (
        sigs.select(F.col("vec_id").alias("cand_id"), F.col("sig").alias("sc"))
        .join(
            bounded_broadcast(
                half, "truth table enriched with one signature: still <= 50 rows"
            ),
            "cand_id",
        )
        .select(
            "query_id",
            "cand_id",
            (F.lit(SRP_BITS) - F.bit_count(F.expr("sq ^ sc"))).cast("bigint").alias("m"),
        )
    )
    mq = spark.createDataFrame(
        [
            (b, r, m, Decimal(_srp_miss_num(m, b, r)))
            for b, r in SRP_BAND_SWEEP
            for m in range(SRP_BITS + 1)
        ],
        "bands long, band_bits long, m long, miss_num decimal(38,0)",
    )
    pred = (
        tm.join(F.broadcast(mq), "m")
        .groupBy("bands", "band_bits")
        .agg(F.sum("miss_num").alias("miss_sum"), F.count(F.lit(1)).alias("n_true"))
    )

    cfgs = spark.createDataFrame(list(SRP_BAND_SWEEP), "bands long, band_bits long")
    buck = (
        sigs.crossJoin(F.broadcast(cfgs))
        .select(
            "bands",
            "band_bits",
            "vec_id",
            "sig",
            F.explode(F.expr("sequence(0L, bands - 1)")).alias("band"),
        )
        .select(
            "bands",
            "band_bits",
            "vec_id",
            "band",
            F.expr(
                "shiftright(sig, CAST(band * band_bits AS INT))"
                " & (shiftleft(1L, CAST(band_bits AS INT)) - 1)"
            ).alias("bucket"),
        )
    )
    qbk = buck.filter(
        (F.col("vec_id") % QUERY_STRIDE == 0) & (F.col("vec_id") < PROBE_MAX_ID)
    ).select(
        "bands", "band_bits", F.col("vec_id").alias("query_id"), "band", "bucket"
    )
    cand = (
        buck.withColumnRenamed("vec_id", "cand_id")
        .join(
            bounded_broadcast(
                qbk,
                "probe-side band table: <= 10 probe ids x 31 (config, band) "
                "rows at any SF",
            ),
            ["bands", "band_bits", "band", "bucket"],
        )
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("bands", "band_bits", "query_id", "cand_id")
        .distinct()
    )
    tr = truth.select("query_id", "cand_id", F.lit(1).alias("hit"))
    st = (
        cand.join(bounded_broadcast(tr, _TRUTH_BOUND), ["query_id", "cand_id"], "left")
        .groupBy("bands", "band_bits")
        .agg(
            F.count(F.lit(1)).alias("candidate_rows"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("n_hits"),
        )
    )
    return pred.join(st, ["bands", "band_bits"], "left").select(
        "bands",
        "band_bits",
        F.round(
            F.lit(1.0)
            - F.col("miss_sum").cast("double")
            / (F.col("n_true").cast("double") * F.lit(_SRP_DENOM)),
            6,
        ).alias("predicted_p"),
        F.round(
            F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_true").cast("double"), 6
        ).alias("measured_recall"),
        F.coalesce(F.col("candidate_rows"), F.lit(0)).cast("bigint").alias("candidate_rows"),
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
        F.col("n_true").cast("bigint").alias("n_true"),
    )


# --------------------------------------------- reciprocal-rank fusion

RRF_K = 60  # the standard Cormack/Clarke/Buettcher damping constant


@query(
    "ann_rrf_fusion",
    oracle=f"""
    WITH srp AS ({_SRP_ORACLE}),
    ivf AS ({_ivf_det_oracle()}),
    both_lists AS (
      SELECT query_id, cand_id, rank FROM srp
      UNION ALL
      SELECT query_id, cand_id, rank FROM ivf
    ),
    fused AS (
      SELECT query_id, cand_id,
             SUM(1.0 / ({RRF_K} + rank)) AS score,
             CAST(COUNT(*) AS BIGINT) AS n_lists
      FROM both_lists GROUP BY 1, 2
    )
    SELECT query_id, cand_id, fused_rank, n_lists, rrf_score FROM (
      SELECT query_id, cand_id, n_lists,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY score DESC, cand_id) AS BIGINT) AS fused_rank,
             ROUND(score, 6) AS rrf_score
      FROM fused
    ) WHERE fused_rank <= {TOP_K}
    """,
    # 3 probe-sized hash exchanges (SRP and IVF reranks, fusion) + 4
    # scan-width guards; IVF reads the checkpointed assignment
    bench=True, exchanges=7, order_sensitive=True,
)
def q_ann_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (RRF, Cormack et al. SIGIR'09) of the
    two deterministic ANN indexes — the standard hybrid-retrieval
    combiner (vector + keyword in RAG stacks; here SRP-LSH + IVF,
    which fail on DIFFERENT queries, so fusion beats either alone).
    score(c) = sum over lists of 1/({RRF_K} + rank_c); candidates
    missing from a list contribute nothing.  Because both input
    rankings are value-oracled and each fused score is a sum of at
    most two doubles from a 10-value domain, the fusion is exact
    cross-engine — rank ties break by cand_id as everywhere else.

    Scale shape: the inputs are probe-sized (10 x {TOP_K} rows each)
    no matter the corpus, so fusion adds one union + one tiny agg +
    one tiny window on top of the index scans; the corpus is touched
    only by the underlying indexes.
    """
    srp = q_ann_srp_bucketed(spark, sf_dir).select("query_id", "cand_id", "rank")
    ivf = q_ann_ivf_deterministic(spark, sf_dir).select("query_id", "cand_id", "rank")
    fused = (
        srp.unionAll(ivf)
        .groupBy("query_id", "cand_id")
        .agg(
            F.sum(1.0 / (F.lit(RRF_K) + F.col("rank"))).alias("score"),
            F.count(F.lit(1)).alias("n_lists"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("cand_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("fused_rank") <= TOP_K)
        .select("query_id", "cand_id", "fused_rank", "n_lists",
                F.round("score", 6).alias("rrf_score"))
    )


# ------------------------------- relational power iteration (top PC)

PI_ITERS = 20
PI_VSCALE = 65536        # 2^16 vector scale
PI_GBITS = 1 << 30       # Gram entries rescaled below 2^30


def _sdiv_duck(x: str, d: str) -> str:
    """Sign-decomposed integer division: DuckDB's // floors toward
    -infinity while Spark's DIV truncates toward zero, so every
    signed division goes through |x|//d with the sign reapplied —
    identical in both engines."""
    return f"(CASE WHEN ({x}) < 0 THEN -((-({x})) // ({d})) ELSE ({x}) // ({d}) END)"


def _sdiv_spark(x: str, d: str) -> str:
    return f"(CASE WHEN ({x}) < 0 THEN -((-({x})) DIV ({d})) ELSE ({x}) DIV ({d}) END)"


def _power_iteration_oracle() -> str:
    its = []
    prev = "v0"
    for t in range(1, PI_ITERS + 1):
        its.append(f"""
    w{t} AS MATERIALIZED (
      SELECT g.i AS d, SUM(g.g * v.v) AS w
      FROM gs g JOIN {prev} v ON g.j = v.d GROUP BY 1
    ),
    m{t} AS MATERIALIZED (SELECT GREATEST(1, MAX(ABS(w)) // {PI_VSCALE}) AS m FROM w{t}),
    v{t} AS MATERIALIZED (
      SELECT w.d, {_sdiv_duck('w.w', 'm.m')} AS v FROM w{t} w, m{t} m
    )""")
        prev = f"v{t}"
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
      FROM embeddings
    ),
    u AS (
      SELECT vec_id, generate_subscripts(e, 1) - 1 AS d, unnest(e) AS val FROM q
    ),
    gram AS MATERIALIZED (
      SELECT a.d AS i, b.d AS j, SUM(a.val * b.val) AS g
      FROM u a JOIN u b ON a.vec_id = b.vec_id
      GROUP BY 1, 2
    ),
    gdiv AS MATERIALIZED (SELECT 1 + MAX(ABS(g)) // {PI_GBITS} AS gd FROM gram),
    gs AS MATERIALIZED (SELECT i, j, {_sdiv_duck('g', 'gd')} AS g FROM gram, gdiv),
    v0 AS (SELECT i AS d, CAST({PI_VSCALE} AS BIGINT) AS v
           FROM (SELECT DISTINCT i FROM gs)),
    {','.join(its)},
    wf AS (
      SELECT g.i AS d, SUM(g.g * v.v) AS w
      FROM gs g JOIN v{PI_ITERS} v ON g.j = v.d GROUP BY 1
    ),
    ray AS (
      SELECT ROUND(
        CAST(SUM(CAST(v.v AS HUGEINT) * w.w) AS DOUBLE)
        / CAST(SUM(v.v * v.v) AS DOUBLE), 3) AS rayleigh
      FROM v{PI_ITERS} v JOIN wf w USING (d)
    ),
    sgn AS (
      SELECT CASE WHEN (SELECT v FROM v{PI_ITERS}
                        WHERE ABS(v) = (SELECT MAX(ABS(v)) FROM v{PI_ITERS})
                        ORDER BY d LIMIT 1) < 0 THEN -1 ELSE 1 END AS s
    )
    SELECT CAST(v.d AS BIGINT) AS d, CAST(v.v * sgn.s AS BIGINT) AS v_scaled,
           ray.rayleigh
    FROM v{PI_ITERS} v, sgn, ray
    """


def _gram_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer Gram matrix as pure relational algebra: explode
    each milli-quantized vector to (vec_id, d, val) and self-join on
    vec_id — the form DuckDB can mirror verbatim, kept as the oracle
    twin for the mapInArrow kernel.  Costs two 64N-row shuffles and a
    4096N join product; correct but carries a 64x shuffle-inflation
    constant the kernel removes."""
    emb = load_table(spark, sf_dir, "embeddings")
    u = (
        emb.select("vec_id", F.expr(_QUANT_SPARK).alias("e"))
        .select("vec_id", F.posexplode("e").alias("d", "val"))
    )
    a = u.select("vec_id", F.col("d").alias("i"), F.col("val").alias("va"))
    b = u.select("vec_id", F.col("d").alias("j"), F.col("val").alias("vb"))
    return (
        a.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("g"))
    )


def _arrow_gram_batches(batches):
    """mapInArrow kernel: per-partition PARTIAL Gram.

    Consumes the partition's Arrow batches of a single
    ``embedding: array<float>`` column, milli-quantizes with the
    engines' shared convention (round half away from zero on the
    float64-widened value — identical to Spark/DuckDB ROUND, same as
    ``_arrow_norm_batches``), accumulates G_part = M^T M in one numpy
    matmul per batch, and emits ONE (dim*dim)-row batch per partition.
    The corpus never shuffles: only dim^2 rows per partition reach the
    merging agg.
    """
    import numpy as np
    import pyarrow as pa

    Q_MAX = 3_037_000_499  # isqrt(2^63 - 1): q*q must fit int64
    acc = None
    dim = None
    n_rows = 0
    amax_run = 0  # running max over ALL batches seen so far
    for batch in batches:
        col = batch.column(0)
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        if len(col) == 0:
            continue
        offsets = col.offsets.to_numpy(zero_copy_only=False)
        widths = np.diff(offsets)
        if dim is None:
            dim = int(widths[0])
        if np.any(widths != dim):
            raise ValueError("ragged embedding widths in partial-Gram kernel")
        # offsets are absolute into the (possibly shared/sliced) child
        # buffer: slice values to this array's window before reshaping
        vals = col.values.to_numpy(zero_copy_only=False)[
            offsets[0] : offsets[-1]
        ].astype(np.float64)
        if not np.all(np.isfinite(vals)):
            raise ValueError("non-finite embedding value in partial-Gram kernel")
        scaled = vals * 1000.0
        q = np.copysign(np.floor(np.abs(scaled) + 0.5), scaled).astype(np.int64)
        amax = int(np.abs(q).max()) if q.size else 0
        if amax > Q_MAX:
            raise OverflowError("quantized embedding exceeds int64 square range")
        n_rows += len(col)
        # int64 matmul overflow guard: every ACCUMULATED Gram entry is
        # a sum of n_rows products each bounded by (max |q| over every
        # batch so far)^2 — the bound must use the running max, not the
        # current batch's, or a large-magnitude early batch followed by
        # many small ones slips past per-batch checks and wraps
        # silently (repartition the input to shrink partitions if this
        # ever fires at real scale)
        amax_run = max(amax_run, amax)
        if amax_run and n_rows > (2**62) // (amax_run * amax_run):
            raise OverflowError("partition too large for int64 partial Gram")
        m = q.reshape(-1, dim)
        part = m.T @ m
        acc = part if acc is None else acc + part
    if acc is not None:
        ii, jj = np.indices((dim, dim))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ii.ravel(), type=pa.int32()),
                pa.array(jj.ravel(), type=pa.int32()),
                pa.array(acc.ravel(), type=pa.int64()),
            ],
            names=["i", "j", "g"],
        )


def _gram_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB Gram build: per-partition mapInArrow partial Grams
    (one vectorized numpy matmul per Arrow batch, zero per-row Python)
    merged by a dim^2-row SUM — the only exchange carries
    partitions x 4096 rows instead of re-shuffling 64 copies of the
    corpus.  Integer arithmetic end to end, so the merged Gram is
    bit-identical to ``_gram_relational`` (asserted in
    tests/test_semantics.py)."""
    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    parts = emb.mapInArrow(_arrow_gram_batches, "i int, j int, g bigint")
    return parts.groupBy("i", "j").agg(F.sum("g").alias("g"))


_POWER_ITERATION_DOC = """Top principal direction of the embedding corpus by POWER
    ITERATION under an exact value oracle — the pagerank
    scaled-integer-trajectory trick applied to linear algebra, so an
    ITERATIVE eigensolver is cross-engine bit-checkable.

    Stages: (1) the 64x64 Gram matrix as exact BIGINT sums over the
    milli-quantized embeddings — default plan: per-partition
    mapInArrow partial Grams merged by a 4096-row agg (corpus never
    shuffles); oracle twin ``embedding_power_iteration_relational``
    builds the identical integer Gram by explode + self-join, the
    form DuckDB mirrors; (2) a data-relative rescale to < 2^30 per
    entry (1 + max|g| DIV 2^30 — keeps every w_i = sum_j g_ij v_j
    inside int64 at ANY corpus size); (3) PI_ITERS=20 iterations of
    w = G'v with integer renormalization to ~2^16 — run DRIVER-SIDE
    over the collected dim^2-bounded Gram (the MLlib RowMatrix PCA
    split: distribute the Gramian, eigensolve locally; the relational
    twin keeps the fully-relational iteration form); (4) deterministic
    sign fix (the lowest-index maximal component is made positive)
    and an exact-numerator Rayleigh quotient.

    Every division is sign-decomposed (|x| div d with the sign
    reapplied): Spark's DIV truncates toward zero, DuckDB's //
    floors, and they only agree on non-negative operands.  After the
    Gram agg all tables are 4096 or 64 rows — iteration cost is
    independent of corpus size, the property that makes power
    iteration viable at 100 TB.

    The testdata spectrum is nearly degenerate at the top
    (lambda1/lambda2 ~ 1.02-1.07), so convergence is judged the way
    numerical practice does: Rayleigh quotient within a few percent
    of lambda_max and a small eigen-residual — both pinned against a
    numpy eigendecomposition of the identical integer Gram in
    tests/test_semantics.py.
    """


def _power_iterate(gram: DataFrame) -> DataFrame:
    """Shared post-Gram pipeline (rescale, PI_ITERS iterations, sign
    fix, Rayleigh quotient) — both Gram builds feed the same code so
    the kernel/relational twins can only diverge in the Gram itself."""
    gdiv = gram.groupBy().agg(
        (F.lit(1) + F.expr(f"MAX(ABS(g)) DIV {PI_GBITS}")).alias("gd")
    )
    from ..session import lineage_checkpoint

    # 4096 rows after the corpus-sized Gram agg: checkpoint once so
    # the five iteration branches (each referencing gs and the
    # previous v twice — once via the max-norm scalar, once directly)
    # never re-derive the corpus join; without this the lazy DAG
    # re-executes the Gram build 2^iters times.
    gs = lineage_checkpoint(gram.crossJoin(gdiv).select(
        "i", "j", F.expr(_sdiv_spark("g", "gd")).alias("g")
    ))
    v = gs.select("i").distinct().select(
        F.col("i").alias("d"), F.lit(PI_VSCALE).cast("bigint").alias("v")
    )
    for _ in range(PI_ITERS):
        w = (
            gs.join(v, gs.j == v.d)
            .groupBy("i")
            .agg(F.sum(F.col("g") * F.col("v")).alias("w"))
        )
        m = w.groupBy().agg(
            F.greatest(F.lit(1).cast("bigint"),
                       F.expr(f"MAX(ABS(w)) DIV {PI_VSCALE}")).alias("m")
        )
        v = lineage_checkpoint(w.crossJoin(m).select(
            F.col("i").alias("d"), F.expr(_sdiv_spark("w", "m")).alias("v")
        ))
    wf = (
        gs.join(v, gs.j == v.d)
        .groupBy("i")
        .agg(F.sum(F.col("g") * F.col("v")).alias("w"))
        .select(F.col("i").alias("d"), "w")
    )
    vw = v.join(wf, "d")
    ray = vw.groupBy().agg(
        F.round(
            F.sum(F.col("v").cast("decimal(38,0)") * F.col("w")).cast("double")
            / F.sum(F.col("v") * F.col("v")).cast("double"),
            3,
        ).alias("rayleigh")
    )
    vmax = v.groupBy().agg(F.max(F.abs(F.col("v"))).alias("av"))
    sgn = (
        v.crossJoin(vmax)
        .filter(F.abs(F.col("v")) == F.col("av"))
        .groupBy()
        .agg(F.min_by("v", "d").alias("vtop"))
        .select(F.when(F.col("vtop") < 0, -1).otherwise(1).cast("bigint").alias("s"))
    )
    return v.crossJoin(sgn).crossJoin(ray).select(
        F.col("d").cast("bigint").alias("d"),
        (F.col("v") * F.col("s")).cast("bigint").alias("v_scaled"),
        "rayleigh",
    )


def _power_iterate_local(gram: DataFrame) -> DataFrame:
    """Driver-side twin of :func:`_power_iterate` over the SAME
    integer semantics — the MLlib-PCA split (RowMatrix distributes the
    Gramian, eigendecomposes on the driver): the corpus-distributed
    work IS the Gram build; iterating a dim^2 = 4096-entry matrix is
    not distributable work at any corpus size, and running it as 20
    Spark jobs paid ~4s of scheduling for ~86k integer multiplies.
    The collect is bounded by CONSTRUCTION (dim^2 rows, corpus-
    independent).  Python ints replicate BIGINT exactly (the rescale
    keeps every product in range, so neither wraps); the Rayleigh
    round replicates Spark's Round-on-double (shortest-repr decimal,
    HALF_UP — Java BigDecimal.valueOf semantics) via
    Decimal(repr(x)).  Bit-equality with the relational-iteration twin
    is pinned in tests/test_semantics.py."""
    import decimal

    rows = gram.collect()  # dim^2 rows — bounded, corpus-independent
    spark = gram.sparkSession
    schema = "d bigint, v_scaled bigint, rayleigh double"
    if not rows:
        return spark.createDataFrame([], schema)

    def sdiv(x: int, d: int) -> int:
        return -((-x) // d) if x < 0 else x // d

    dims = sorted({r["i"] for r in rows})
    gd = 1 + max(abs(r["g"]) for r in rows) // PI_GBITS
    # .get(..., 0): tolerate a sparse Gram input (dense today only by
    # _gram_arrow construction — a missing (i, j) is a zero entry)
    gs = {(r["i"], r["j"]): sdiv(r["g"], gd) for r in rows}
    v = {d: PI_VSCALE for d in dims}
    for _ in range(PI_ITERS):
        w = {i: sum(gs.get((i, j), 0) * v[j] for j in dims) for i in dims}
        m = max(1, max(abs(x) for x in w.values()) // PI_VSCALE)
        v = {i: sdiv(w[i], m) for i in dims}
    wf = {i: sum(gs.get((i, j), 0) * v[j] for j in dims) for i in dims}
    num = sum(v[i] * wf[i] for i in dims)
    den = sum(v[i] * v[i] for i in dims)
    if den == 0:
        # all-zero quantized corpus drives v to zero: the relational
        # twin's double division yields a null rayleigh there — match
        # it instead of raising ZeroDivisionError
        ray = None
    else:
        ray = float(
            decimal.Decimal(repr(float(num) / float(den))).quantize(
                decimal.Decimal("0.001"), rounding=decimal.ROUND_HALF_UP
            )
        )
    av = max(abs(x) for x in v.values())
    vtop = v[min(d for d in dims if abs(v[d]) == av)]
    s = -1 if vtop < 0 else 1
    return spark.createDataFrame(
        [(int(d), int(v[d] * s), ray) for d in dims], schema
    )


def q_embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _power_iterate_local(_gram_arrow(spark, sf_dir))


q_embedding_power_iteration.__doc__ = _POWER_ITERATION_DOC
query(
    "embedding_power_iteration",
    oracle=_power_iteration_oracle(),
    # the corpus-sized Gram agg runs eagerly at the bounded dim^2 collect
    # and the integer iterations run driver-side, so the returned plan is
    # a LocalRelation
    bench=True, exchanges=0, order_sensitive=True,
)(q_embedding_power_iteration)


def q_embedding_power_iteration_relational(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _power_iterate(_gram_relational(spark, sf_dir))


q_embedding_power_iteration_relational.__doc__ = (
    _POWER_ITERATION_DOC
    + """
    This is the RELATIONAL twin: same oracle, Gram built by explode +
    vec_id self-join (the DuckDB-mirrorable form).  Kept registered so
    the oracle suite value-checks both physical plans every run.
    """
)
query("embedding_power_iteration_relational", oracle=_power_iteration_oracle())(
    q_embedding_power_iteration_relational
)

"""The composed curation pipeline: one per-document keep/drop verdict
assembled from the quality gate, the bigram-LM score, and the dedup
canonicalization — the final table a corpus build materializes before
tokenization.

Oracle composition reuses the registered oracle texts of the
constituent queries as nested CTE subqueries (single source of truth:
if a constituent's semantics change, this oracle follows
automatically).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import REGISTRY, query
from ..sources import load_table
from .curation import _DUCK_QUALITY_DOC_SQL, _quality_verdict_df, q_lm_bigram_score
from .dedup import q_dedup_canonical_docs


def _sub(name: str) -> str:
    """A registered query's oracle text, as a nestable subquery."""
    return REGISTRY[name].oracle


@query(
    "curation_pipeline_verdict",
    oracle=f"""
    WITH q AS ({_DUCK_QUALITY_DOC_SQL}),
    lm AS ({_sub("lm_bigram_score")}),
    canon AS ({_sub("dedup_canonical_docs")})
    SELECT q.doc_id,
           q.verdict,
           lm.mean_nll,
           COALESCE(NOT canon.is_survivor, FALSE) AS is_dup_loser,
           q.verdict = 'keep' AND NOT COALESCE(NOT canon.is_survivor, FALSE)
               AS final_keep
    FROM q
    LEFT JOIN lm ON lm.doc_id = q.doc_id
    LEFT JOIN canon ON canon.doc_id = q.doc_id
    """,
    bench=True,
)
def q_curation_pipeline_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation decision: the C4/Gopher quality verdict,
    the LM quality score (informational), duplicate-cluster membership
    from MinHash-LSH canonicalization, and the final keep flag
    (quality 'keep' AND not a dup-cluster loser) — the materialized
    decision table that turns a raw crawl into a training corpus.

    Scale shape: three doc_id-keyed left joins over outputs that are
    each individually scale-safe; the decision itself adds no new
    shuffle class.  The dup side only carries docs that appear in
    verified pairs, so its join input is corpus-dup-rate-sized, not
    corpus-sized.
    """
    q = _quality_verdict_df(spark, sf_dir)
    lm = q_lm_bigram_score(spark, sf_dir).select("doc_id", "mean_nll")
    canon = q_dedup_canonical_docs(spark, sf_dir).select("doc_id", "is_survivor")
    is_dup_loser = F.coalesce(~F.col("is_survivor"), F.lit(False))
    return (
        q.join(lm, "doc_id", "left")
        .join(canon, "doc_id", "left")
        .select(
            "doc_id",
            "verdict",
            "mean_nll",
            is_dup_loser.alias("is_dup_loser"),
            ((F.col("verdict") == "keep") & ~is_dup_loser).alias("final_keep"),
        )
    )


def capstone_oracle_stages() -> tuple[list[str], str]:
    """The capstone oracle as STAGED DuckDB statements: every heavy
    intermediate materializes into its own temp TABLE (dropped as soon
    as its last consumer ran), then the final verdict joins the three
    constituent tables.

    Why this exists (round-12 directive #5): the registered
    one-statement oracle nests quality + LM + dedup-canonicalization
    as CTEs, and at the 100x derived-scale audit (500k docs) that
    single plan needs >65 GB of DuckDB spill — more than the box.  The
    dominant term is the dedup constituent (shingles x J_HASH minhash
    cross join + the shingle self-join), so the staging goes INSIDE
    it: the df-capped shingle table lands once, the minhash signature
    builds as J_HASH sequential single-hash passes over it (peak =
    one pass, not the x{J_HASH} cross join), and bands / candidates /
    verified Jaccard / connected components each materialize from the
    previous table (the MATERIALIZED-CTE lesson one step further: a
    real table, droppable between steps).  The registered single
    statement stays the driver-facing contract; a test pins that
    staged == single-statement at the oracle SF so the two forms can
    never drift.

    Returns (statements to execute in order, final_select).
    """
    from .dedup import _DUCK_SHINGLES, J_HASH, JACC_T, P

    stmts = [
        f"CREATE TEMP TABLE stg_q AS {_DUCK_QUALITY_DOC_SQL}",
        f"CREATE TEMP TABLE stg_lm AS {_sub('lm_bigram_score')}",
        # --- dedup constituent, decomposed (same text/constants as
        # _DUCK_SHINGLES/_DUCK_MINHASH/_DUCK_JACCARD_PAIRS) ---
        f"CREATE TEMP TABLE stg_shingles AS WITH {_DUCK_SHINGLES.strip().rstrip(',')}"
        " SELECT doc_id, sh FROM shingles",
        "CREATE TEMP TABLE stg_doc_sizes AS"
        " SELECT doc_id, COUNT(*) AS n_sh FROM stg_shingles GROUP BY doc_id",
        "CREATE TEMP TABLE stg_sig (doc_id BIGINT, j BIGINT, mh BIGINT)",
        *[
            f"INSERT INTO stg_sig SELECT doc_id, CAST({j} AS BIGINT),"
            f" MIN(((2 * {j} + 3) * sh + 7 * {j} + 1) % {P})"
            f" FROM stg_shingles GROUP BY doc_id"
            for j in range(J_HASH)
        ],
        f"CREATE TEMP TABLE stg_bands AS"
        f" SELECT doc_id, CAST(FLOOR(j / 2) AS BIGINT) AS band,"
        f" MIN(CASE WHEN j % 2 = 0 THEN mh END) * {P}"
        f" + MIN(CASE WHEN j % 2 = 1 THEN mh END) AS band_sig"
        f" FROM stg_sig GROUP BY 1, 2",
        "DROP TABLE stg_sig",
        "CREATE TEMP TABLE stg_cand AS"
        " SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b"
        " FROM stg_bands a JOIN stg_bands b"
        " ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id",
        "DROP TABLE stg_bands",
        "CREATE TEMP TABLE stg_jacc AS"
        " WITH common AS ("
        "   SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common"
        "   FROM stg_shingles a JOIN stg_shingles b"
        "   ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)"
        " SELECT c.doc_a, c.doc_b,"
        "        CAST(c.n_common AS DOUBLE)"
        "        / (sa.n_sh + sb.n_sh - c.n_common) AS jaccard"
        " FROM common c"
        " JOIN stg_doc_sizes sa ON sa.doc_id = c.doc_a"
        " JOIN stg_doc_sizes sb ON sb.doc_id = c.doc_b",
        "DROP TABLE stg_shingles",
        "DROP TABLE stg_doc_sizes",
        f"CREATE TEMP TABLE stg_mh AS"
        f" SELECT c.doc_a, c.doc_b,"
        f" COALESCE(j.jaccard, 0) >= {JACC_T} AS is_dup"
        f" FROM stg_cand c LEFT JOIN stg_jacc j"
        f" ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b",
        "DROP TABLE stg_cand",
        "DROP TABLE stg_jacc",
        "CREATE TEMP TABLE stg_canon AS"
        " WITH RECURSIVE und AS ("
        "   SELECT doc_a AS v, doc_b AS u FROM stg_mh WHERE is_dup"
        "   UNION SELECT doc_b, doc_a FROM stg_mh WHERE is_dup),"
        " reach(v, lbl) AS ("
        "   SELECT v, v AS lbl FROM (SELECT DISTINCT v FROM und)"
        "   UNION SELECT u.v, r.lbl FROM und u JOIN reach r ON u.u = r.v)"
        " SELECT v AS doc_id, CAST(MIN(lbl) = v AS BOOLEAN) AS is_survivor"
        " FROM reach GROUP BY v",
        "DROP TABLE stg_mh",
    ]
    final = """
    SELECT q.doc_id,
           q.verdict,
           lm.mean_nll,
           COALESCE(NOT canon.is_survivor, FALSE) AS is_dup_loser,
           q.verdict = 'keep' AND NOT COALESCE(NOT canon.is_survivor, FALSE)
               AS final_keep
    FROM stg_q q
    LEFT JOIN stg_lm lm ON lm.doc_id = q.doc_id
    LEFT JOIN stg_canon canon ON canon.doc_id = q.doc_id
    """
    return stmts, final


def _rag_oracle() -> str:
    from .text import CHUNK_TOKENS, chunk_spans_sql

    return f"""
    -- the retrieval-side capstone: the SHARED chunk rule (constants
    -- and CTE text from operators.text, so this census can't drift
    -- from the chunker it mirrors) + exact chunk-level dup census +
    -- an embedding norm from the aligned embeddings table, folded
    -- into one per-doc indexing verdict.
    WITH {chunk_spans_sql()},
    chunks AS (
        SELECT doc_id,
               array_to_string(list_slice(toks, start + 1,
                                          start + {CHUNK_TOKENS}), ' ') AS chunk_text
        FROM chunk_s
    ),
    occ AS (
        SELECT chunk_text, COUNT(*) AS n_occ FROM chunks GROUP BY chunk_text
    ),
    per_doc AS (
        SELECT c.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN o.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
        FROM chunks c JOIN occ o USING (chunk_text)
        GROUP BY c.doc_id
    ),
    emb AS (
        -- micro-unit integer fold: FLOOR(|x| * 1e6) is identical IEEE
        -- arithmetic in both engines (float->decimal cast rounding is
        -- not), and the BIGINT sum is order-independent.
        SELECT e.vec_id AS doc_id,
               CAST(SUM(CAST(FLOOR(ABS(CAST(u.x AS DOUBLE)) * 1000000) AS BIGINT))
                 AS BIGINT) AS emb_l1_micro,
               ANY_VALUE(e.label) AS cluster_label
        FROM embeddings e, UNNEST(e.embedding) AS u(x)
        GROUP BY e.vec_id
    )
    SELECT p.doc_id, p.n_chunks, p.n_dup_chunks,
           emb.emb_l1_micro, CAST(emb.cluster_label AS INTEGER) AS cluster_label,
           p.n_chunks >= 2 AND p.n_dup_chunks * 2 <= p.n_chunks AS index_keep
    FROM per_doc p JOIN emb USING (doc_id)
    ORDER BY p.doc_id
    """


@query("rag_chunk_index", oracle=_rag_oracle(), bench=True, exchanges=3)
def q_rag_chunk_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval-side capstone (the RAG twin of
    ``curation_pipeline_verdict``): corpus-wide sliding-window chunking,
    an exact chunk-level duplicate census, and the aligned embedding's
    L1 norm + cluster label, composed into one per-document indexing
    verdict (enough unique chunks → worth indexing).

    Scale shape: the chunk stream is generated in the scan stage and
    aggregated by chunk_text hash — one shuffle proportional to the
    chunk count; the dup census joins back by the same key (no pair
    explosion — this is the exact-dedup pattern applied at chunk
    granularity); the embedding fold is a narrow map over the aligned
    table, DECIMAL-exact so the fold order can't drift the sum.
    """
    from .text import CHUNK_TOKENS, chunk_spans

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_spans(docs).select(
        "doc_id",
        F.array_join(F.slice("toks", F.col("start") + 1, CHUNK_TOKENS), " ").alias("chunk_text"),
    )
    occ = chunks.groupBy("chunk_text").agg(F.count(F.lit(1)).alias("n_occ"))
    per_doc = (
        chunks.join(occ, "chunk_text")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0)).cast("bigint").alias("n_dup_chunks"),
        )
    )
    # drop NULL/empty embeddings BEFORE the fold: the oracle's UNNEST
    # emits zero rows for them (so its GROUP BY omits the doc), while
    # F.aggregate would keep the doc with a 0 sum — row membership must
    # match on corpora that contain such vectors
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.size("embedding") > 0)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.aggregate(
                "embedding",
                F.lit(0).cast("bigint"),
                lambda acc, x: acc
                + F.floor(F.abs(x.cast("double")) * 1000000).cast("bigint"),
            ).alias("emb_l1_micro"),
            F.col("label").cast("int").alias("cluster_label"),
        )
    )
    return (
        per_doc.join(emb, "doc_id")
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            "emb_l1_micro",
            "cluster_label",
            ((F.col("n_chunks") >= 2) & (F.col("n_dup_chunks") * 2 <= F.col("n_chunks"))).alias(
                "index_keep"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------- incremental view maintenance (IVM)

@query(
    "incremental_view_maintenance",
    oracle="""
    WITH cut AS (SELECT MAX(o_orderkey) // 2 AS c FROM orders)
    SELECT o.o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CASE WHEN o.o_orderkey > (SELECT c FROM cut)
                           OR l.l_linenumber >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_from_delta,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(6,4)))), 3) AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
    # the four delta-algebra join terms' partial aggregates + the merge
    # re-aggregation; each term is delta-sized at scale
    bench=True, exchanges=8, order_sensitive=True,
)
def q_incremental_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a materialized JOIN view under
    append-only inserts — the delta algebra every refresh pipeline
    (Materialize/Delta Live Tables/dbt incremental) implements:

        V = Q(O ⨝ L);   after appends ΔO, ΔL:
        ΔV = Q(ΔO ⨝ L₀) ⊎ Q(O₀ ⨝ ΔL) ⊎ Q(ΔO ⨝ ΔL)

    The "history" split is data-relative and DELIBERATELY misaligned
    (orders split at the max-orderkey midpoint, lineitem split on line
    number — late lines of OLD orders arrive in the delta), so all
    three delta terms are provably non-empty; aligning both splits on
    orderkey would make the cross terms vacuously empty and the test
    blind.  The maintained view = base partial aggregate ⊎ three delta
    partial aggregates, merged by re-aggregation (sums of sums) —
    never a recompute over O ⨝ L in full; the oracle IS that full
    recompute, which is exactly the IVM correctness contract, and
    n_from_delta certifies how much of the final view came through the
    delta path.

    At 100 TB the base terms join a SMALL delta against a large
    history — each is delta-sized I/O when history is partitioned on
    the join key (see dpp/bucketing), which is why refresh cost tracks
    |Δ|, not |V|."""
    cut = (
        load_table(spark, sf_dir, "orders")
        .agg(F.expr("MAX(o_orderkey) DIV 2").alias("c"))
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .join(F.broadcast(cut))
    )
    o_base, o_delta = orders.filter("o_orderkey <= c"), orders.filter("o_orderkey > c")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(6,4)"))
        ).alias("rev"),
    )
    l_base, l_delta = li.filter("l_linenumber < 4"), li.filter("l_linenumber >= 4")

    def partial(o: DataFrame, li_side: DataFrame, from_delta: bool) -> DataFrame:
        return (
            o.join(li_side, o.o_orderkey == li_side.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("pn"),
                F.sum("rev").alias("prev"),
            )
            .withColumn("pd", F.when(F.lit(from_delta), F.col("pn")).otherwise(F.lit(0)))
        )

    base_view = partial(o_base, l_base, False)          # V₀, built once
    d1 = partial(o_delta, l_base, True)                 # ΔO ⨝ L₀
    d2 = partial(o_base, l_delta, True)                 # O₀ ⨝ ΔL
    d3 = partial(o_delta, l_delta, True)                # ΔO ⨝ ΔL
    return (
        base_view.unionByName(d1).unionByName(d2).unionByName(d3)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.sum("pn").cast("bigint").alias("n_items"),
            F.sum("pd").cast("bigint").alias("n_from_delta"),
            F.round(F.sum("prev"), 3).cast("double").alias("revenue"),
        )
    )


# ------------------------------------ snapshot-diff CDC extraction

def cdc_snapshots(spark: SparkSession, sf_dir: str):
    """The (old, new) snapshot pair behind snapshot_cdc_extract:
    deterministic modular delete/update waves + a cloned insert wave
    above the key space (max+1 offset so clones never collide with
    real keys).  Shared by the registered query and the round-trip
    test."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("bal")
    )
    mx = cust.agg(F.max("k").alias("m"))
    new = (
        cust.filter(F.col("k") % 19 != 3)
        .select(
            "k",
            F.when(F.col("k") % 19 == 5, F.col("bal") + 100).otherwise(F.col("bal")).alias("bal"),
        )
        .unionByName(
            cust.filter(F.col("k") % 7 == 0)
            .join(F.broadcast(mx))
            .select((F.col("k") + F.col("m") + 1).alias("k"), "bal")
        )
    )
    return cust, new


def cdc_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot diff -> change feed (op, k, new_bal): insert when the
    key is absent from old, delete when absent from new, update when
    present in both with a differing tracked column; no-ops
    suppressed.  Shared by the registered query and the edge-case
    tests (empty sides, total churn)."""
    o, n = old.alias("o"), new.alias("n")
    return (
        o.join(n, F.col("o.k") == F.col("n.k"), "full_outer")
        .filter(
            F.col("o.k").isNull()
            | F.col("n.k").isNull()
            # NULL-safe: a tracked column transitioning to/from NULL
            # IS an update (a bare != would swallow it as a no-op)
            | ~F.col("o.bal").eqNullSafe(F.col("n.bal"))
        )
        .select(
            F.when(F.col("o.k").isNull(), "insert")
            .when(F.col("n.k").isNull(), "delete")
            .otherwise("update")
            .alias("op"),
            F.coalesce(F.col("o.k"), F.col("n.k")).alias("k"),
            F.col("n.bal").alias("new_bal"),
        )
    )


@query(
    "snapshot_cdc_extract",
    oracle="""
    WITH old AS (
      SELECT c_custkey AS k, c_acctbal AS bal FROM customer
    ),
    new AS (
      -- the next snapshot: key%19==3 deleted, key%19==5 rebalanced,
      -- and a synthetic insert wave cloned above the key space
      SELECT c_custkey AS k,
             CASE WHEN c_custkey % 19 = 5 THEN c_acctbal + 100 ELSE c_acctbal END AS bal
      FROM customer WHERE c_custkey % 19 <> 3
      UNION ALL
      SELECT c_custkey + (SELECT MAX(c_custkey) + 1 FROM customer), c_acctbal
      FROM customer WHERE c_custkey % 7 = 0
    ),
    diff AS (
      SELECT CASE WHEN o.k IS NULL THEN 'insert'
                  WHEN n.k IS NULL THEN 'delete'
                  ELSE 'update' END AS op,
             COALESCE(o.k, n.k) AS k
      FROM old o FULL OUTER JOIN new n ON o.k = n.k
      WHERE o.k IS NULL OR n.k IS NULL OR o.bal IS DISTINCT FROM n.bal
    )
    SELECT op, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(bit_xor(k) AS BIGINT) AS key_checksum
    FROM diff GROUP BY op
    """,
    # full-outer diff join + final op agg
    bench=True, exchanges=4, order_sensitive=True,
)
def q_snapshot_cdc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture by snapshot diffing — the batch CDC
    pattern for sources with no change log (nightly dump diffing,
    Debezium snapshot mode): FULL OUTER join the two snapshots on the
    key, classify each row as insert (old missing), delete (new
    missing) or update (both present, tracked columns differ),
    suppress no-ops.  The emitted change feed is exactly what
    `upsert_merge` / `stream_foreachbatch_upsert` consume downstream.

    The "new" snapshot is derived deterministically from customer
    (modular delete/update waves + a cloned insert wave), so both
    engines build identical snapshots and the oracle replays the same
    diff.  Scale: ONE co-partitioned full outer join on the key — at
    100 TB both snapshots hash-shuffle once; with both sides bucketed
    on the key (see bucketed_colocated_join) even that shuffle
    disappears.  No-op suppression happens before anything aggregates,
    so the change feed, not the table, is what flows downstream."""
    old, new = cdc_snapshots(spark, sf_dir)
    return cdc_diff(old, new).groupBy("op").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.bit_xor("k").cast("bigint").alias("key_checksum"),
    )

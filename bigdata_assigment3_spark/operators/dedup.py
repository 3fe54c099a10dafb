"""Deduplication operators over ``documents`` — the LLM-data-pipeline
dedup suite (BASELINE.json north star): exact, n-gram Jaccard,
MinHash+LSH banding, and SimHash.

All four are oracle-checked end-to-end because every hash is the
portable md5-int56 (functions/hashing.py) and every score is an
integer/integer rational.

Scale design (the point of each variant):
- exact: one hash-groupBy — the cheapest pass, runs first at 100 TB.
- jaccard: char-16-gram shingles (stride 4) + shingle equi-join.
  Frequent shingles (df > DF_CAP) are dropped before the join — the
  standard guard that keeps the self-join from exploding on boilerplate.
- minhash-LSH: J=8 signatures banded 4x2; only band-collision pairs
  are verified — the sub-quadratic path; the band groupBy is the only
  shuffle that grows with corpus size.
- simhash: per-doc 24-bit sketch via bitwise majority vote of word
  hashes; equal sketches = near-dup bucket, a pure groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions.hashing import md5_int56_duck, md5_int56_spark
from ..registry import REGISTRY, query
from ..session import lineage_checkpoint, session_memo
from ..sources import load_table, load_table_parallel
from .components import connected_components
from .vectors import int_cosine, nonzero_frame

K = 16        # char-shingle length
STRIDE = 4
DF_CAP = 50   # df-prune floor: effective cap = max(DF_CAP, n_docs // DF_CAP_DIV)
DF_CAP_DIV = 50  # ...so the cap scales as 2% of the corpus beyond 2500 docs:
# an absolute cap would prune EVERY shingle of a dup cluster larger
# than itself, making exactly the template-spam pathology dedup exists
# to catch invisible at large corpus sizes.  Identical to the old
# constant at the shipped SFs (<= 2500 docs).


def _df_cap(docs_df: DataFrame) -> int:
    """Effective df cap for this corpus (deterministic scalar; the
    count is one cheap job and the result is memoized with the
    index)."""
    return max(DF_CAP, docs_df.count() // DF_CAP_DIV)


_DUCK_DF_CAP = f"GREATEST({DF_CAP}, (SELECT COUNT(*) // {DF_CAP_DIV} FROM documents))"
J_HASH = 8    # minhash functions
P = 1_000_000_007
JACC_T = 0.5
SIM_BITS = 24

# ONE definition each for the minhash signature transform and the
# posting-list pair expansion: the estimate audit is only meaningful
# if its signatures are bit-identical to the ones behind the memoized
# pair table, so the expressions must not be able to drift apart.
MINHASH_SIG_EXPR = (
    f"transform(sequence(0, {J_HASH - 1}),"
    f" j -> array_min(transform(shs, s -> ((2*j+3)*s + 7*j+1) % {P})))"
)
PAIR_EXPANSION_EXPR = (
    "flatten(transform(docs, (a, i) ->"
    " transform(slice(docs, i + 2, size(docs)), b -> struct(a AS doc_a, b AS doc_b))))"
)

# ---- shared DuckDB CTEs ----------------------------------------------------
# Shingles are hashed to int56 at creation: all downstream set ops
# (distinct, df-prune, intersection counts, minhash) run on integers,
# which shuffles ~3x less than 16-char strings.  56-bit space makes
# collisions irrelevant at any realistic corpus size.
_DUCK_SHINGLES = f"""
sh_all AS (
  SELECT DISTINCT d.doc_id,
         {md5_int56_duck(f"substr(d.text, 1 + p.i * {STRIDE}, {K})")} AS sh
  FROM documents d,
       unnest(range(0, (LEN(d.text) - {K}) // {STRIDE} + 1)) AS p(i)
  WHERE LEN(d.text) >= {K}
),
sh_df AS (SELECT sh FROM sh_all GROUP BY sh HAVING COUNT(*) <= {_DUCK_DF_CAP}),
shingles AS (SELECT a.doc_id, a.sh FROM sh_all a JOIN sh_df USING (sh)),
doc_sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id)
"""

_DUCK_JACCARD_PAIRS = f"""
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jacc AS (
  SELECT c.doc_a, c.doc_b, c.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
         CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common) AS jaccard
  FROM common c
  JOIN doc_sizes sa ON sa.doc_id = c.doc_a
  JOIN doc_sizes sb ON sb.doc_id = c.doc_b
)
"""


@session_memo
def _inverted_index_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sh:int56, docs: sorted array<doc_id>) — the inverted shingle
    index, df-pruned.

    Shingles hash to integers immediately (see _DUCK_SHINGLES note).
    collect_set both dedups (doc, shingle) repeats and builds the
    posting list in ONE shuffle; the df-prune is a size() filter on
    the array (no second shuffle, no join-back).  Session-memoized:
    every dedup variant derives from this index, so repeat queries
    read one checkpointed copy.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    # Positions derive from each doc's own length (no fixed cap: a
    # 10 kB doc gets ~2.5k shingles, not just the first 600 chars).
    shingle_str = f"substring(text, 1 + i * {STRIDE}, {K})"
    sh_all = (
        docs.filter(F.length("text") >= K)
        .select(
            "doc_id",
            "text",
            F.expr(f"explode(sequence(0, (length(text) - {K}) div {STRIDE}))").alias("i"),
        )
        .select("doc_id", F.expr(md5_int56_spark(shingle_str)).alias("sh"))
    )
    built = (
        sh_all.groupBy("sh")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("docs"))
        .filter(F.size("docs") <= _df_cap(docs))
    )
    return lineage_checkpoint(built, big=True)


def _shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh) exploded view of the inverted index."""
    inv = _inverted_index_df(spark, sf_dir)
    return inv.select("sh", F.explode("docs").alias("doc_id"))


def _jaccard_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs via in-array expansion of each posting list — the classic
    inverted-index pattern: fan-out per shingle is bounded by
    DF_CAP^2/2, and there's no shingle self-join at all (the pair
    generation happens inside the already-grouped array)."""
    inv = _inverted_index_df(spark, sf_dir)
    pair_expr = F.expr(PAIR_EXPANSION_EXPR)
    common = (
        inv.select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = _shingles_df(spark, sf_dir).groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
    )


@query(
    "dedup_exact",
    oracle="""
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(text)) AS n_distinct_text,
           COUNT(DISTINCT md5(substr(text, 1, 40))) AS n_distinct_prefix40,
           COUNT(*) - COUNT(DISTINCT md5(substr(text, 1, 40))) AS n_prefix_dups
    FROM documents
    """,
    exchanges=2,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact/prefix dedup stats via hash count-distinct (the
    dropDuplicates pass an LLM pipeline runs first).  The prefix-40
    column exposes the planted near-duplicate groups."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct_text"),
        F.countDistinct(F.md5(F.substring("text", 1, 40))).alias("n_distinct_prefix40"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5(F.substring("text", 1, 40)))).alias(
            "n_prefix_dups"
        ),
    )


@query(
    "dedup_jaccard_pairs",
    oracle=f"""
    WITH {_DUCK_SHINGLES}, {_DUCK_JACCARD_PAIRS}
    SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           ROUND(jaccard, 6) AS jaccard
    FROM jacc WHERE jaccard >= {JACC_T}
    """,
)
def q_dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by char-16-gram Jaccard >= 0.5 — the
    ground-truth (quadratic-ish) dedup the LSH variant approximates.
    The shingle equi-join only pairs docs sharing an infrequent
    shingle, so cost tracks true overlap, not corpus^2."""
    jc = _jaccard_pairs_df(spark, sf_dir)
    return jc.filter(F.col("jaccard") >= JACC_T).select(
        "doc_a",
        "doc_b",
        F.col("n_common").cast("bigint").alias("n_common"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


_DUCK_MINHASH = f"""
hashes AS (SELECT id AS j FROM range({J_HASH}) AS r(id)),
sig AS (
  SELECT s.doc_id, h.j,
         MIN(((2 * h.j + 3) * s.sh + 7 * h.j + 1) % {P}) AS mh
  FROM shingles s CROSS JOIN hashes h
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, CAST(FLOOR(j / 2) AS BIGINT) AS band,
         MIN(CASE WHEN j % 2 = 0 THEN mh END) * {P}
         + MIN(CASE WHEN j % 2 = 1 THEN mh END) AS band_sig
  FROM sig GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)
"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_DUCK_SHINGLES}, {_DUCK_MINHASH}, {_DUCK_JACCARD_PAIRS.lstrip().lstrip(',')}
    SELECT c.doc_a, c.doc_b, ROUND(COALESCE(j.jaccard, 0), 6) AS jaccard,
           COALESCE(j.jaccard, 0) >= {JACC_T} AS is_dup
    FROM cand c LEFT JOIN jacc j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
    """,
    bench=True, order_sensitive=True,
)
@session_memo
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(J=8) + LSH banding (4 bands x 2 rows): candidate pairs
    from band collisions, then exact-Jaccard verification of only the
    candidates — the sub-quadratic scale path for 100 TB dedup.

    Signature: mh_j = min over shingles of ((2j+3)*h56(sh) + 7j+1) mod P.
    All integer math -> bit-identical across engines.

    The verified-pair table is session-memoized like the inverted
    index: the canonicalization and the composed pipeline both consume
    it, and it is tiny (corpus-dup-rate-sized), so downstream consumers
    pay the LSH chain once.
    """
    sh = _shingles_df(spark, sf_dir)
    # All J signatures in per-doc array math: ONE shuffle (the
    # doc_id groupBy) instead of a J-fat crossJoin + (doc, j)
    # groupBy — the shuffled bytes drop J-fold and the min runs
    # inside codegen over the shingle array.
    sh_by_doc = sh.groupBy("doc_id").agg(F.collect_list("sh").alias("shs"))
    sig = sh_by_doc.select(
        "doc_id",
        F.expr(MINHASH_SIG_EXPR).alias("mh"),
    )
    bands = sig.select(
        "doc_id",
        F.expr(
            f"explode(transform(sequence(0, {J_HASH // 2 - 1}),"
            f" b -> struct(CAST(b AS BIGINT) AS band,"
            f" element_at(mh, 2*b+1) * {P} + element_at(mh, 2*b+2) AS band_sig)))"
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.band_sig")
    # Candidates via in-array pair expansion of each band bucket (the
    # same posting-list trick as the Jaccard index): ONE groupBy shuffle
    # on (band, band_sig) instead of shuffling the bands table twice
    # through a self-join; fan-out per bucket is |bucket|^2/2 either
    # way, but the pairs are born inside the grouped array.
    buckets = (
        bands.groupBy("band", "band_sig")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    pair_expr = F.expr(PAIR_EXPANSION_EXPR)
    cand = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # Verify ONLY candidate pairs (the point of LSH: never touch the
    # full pair space).  cand grows with the corpus dup rate, so no
    # broadcast hint: AQE downgrades the doc_id equi-joins to broadcast
    # when the pair set happens to be small.
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a_sh = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    b_sh = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    common = (
        cand
        .join(a_sh, "doc_a")
        .join(b_sh, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jacc = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    out = (
        cand.join(jacc, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.coalesce("jaccard", F.lit(0.0)), 6).alias("jaccard"),
            (F.coalesce("jaccard", F.lit(0.0)) >= JACC_T).alias("is_dup"),
        )
    )
    return lineage_checkpoint(out)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(list_distinct(list_filter(string_split(text, ' '),
                     x -> x <> ''))) AS word
      FROM documents
    ),
    bits AS (SELECT id AS b, CAST(POWER(2, id) AS BIGINT) AS p2
             FROM range({SIM_BITS}) AS r(id)),
    votes AS (
      SELECT w.doc_id, bits.b, bits.p2,
             SUM(CASE WHEN {md5_int56_duck('w.word')} % (2 * bits.p2) >= bits.p2
                      THEN 1 ELSE -1 END) AS v
      FROM w CROSS JOIN bits
      GROUP BY 1, 2, 3
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN p2 ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24-bit SimHash per document: bitwise majority vote over word
    hashes.  Near-dups land in equal buckets — dedup becomes a plain
    groupBy on the sketch (constant state per doc at any scale)."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    words = F.array_distinct(F.filter(F.split("text", " "), lambda x: x != ""))
    w = docs.select("doc_id", F.explode(words).alias("word"))
    wh = w.select("doc_id", F.expr(md5_int56_spark("word")).alias("h"))
    # one static SUM per bit (integer div/mod bit test — exact on the
    # 56-bit hash) instead of a bits crossJoin: the word stream never
    # multiplies by SIM_BITS, and the single doc_id groupBy shuffles a
    # 1-row-per-doc partial with 24 columns after map-side combine
    aggs = [
        F.sum(
            F.when(F.expr(f"(h div {1 << b}) % 2 = 1"), 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(SIM_BITS)
    ]
    votes = wh.groupBy("doc_id").agg(*aggs)
    sim = F.lit(0)
    for b in range(SIM_BITS):
        sim = sim + F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(0)
    return votes.select("doc_id", sim.cast("bigint").alias("simhash"))


COS_T = 0.95          # near-dup cosine threshold
COS_DIMS = 1 << 20    # hashed feature space: sparse -> join cost tracks true overlap


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH feat0 AS (
      SELECT d.doc_id,
             {md5_int56_duck(f"substr(d.text, 1 + p.i * {STRIDE}, {K})")} % {COS_DIMS} AS dim,
             COUNT(*) AS cnt
      FROM documents d,
           unnest(range(0, (LEN(d.text) - {K}) // {STRIDE} + 1)) AS p(i)
      WHERE LEN(d.text) >= {K}
      GROUP BY 1, 2
    ),
    keep AS (SELECT dim FROM feat0 GROUP BY dim HAVING COUNT(*) <= {_DUCK_DF_CAP}),
    feat AS (SELECT f.* FROM feat0 f JOIN keep USING (dim)),
    norms AS (SELECT doc_id, SUM(cnt * cnt) AS n2 FROM feat GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.cnt * b.cnt) AS dot
      FROM feat a JOIN feat b ON a.dim = b.dim AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(na.n2 AS DOUBLE) * nb.n2), 6) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    WHERE CAST(dot AS DOUBLE) / SQRT(CAST(na.n2 AS DOUBLE) * nb.n2) >= {COS_T}
    """,
    bench=True,
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup (the fifth dedup family member,
    BASELINE.json north star): each document becomes a hashed
    char-16-gram count vector (integer "embedding"), and near-dup
    pairs are cosine >= 0.95 via a sparse dot-product join on the
    nonzero dims — dot/norms are exact BIGINTs, only the final
    division is float, so both engines agree bit-for-bit.

    Scale shape: `feat` is (doc, dim, cnt) — the self-join on `dim`
    only pairs docs sharing a nonzero dim, the classic sparse
    similarity join.  The 2^20-dim space keeps per-dim posting lists
    near length 1 except for genuinely shared n-grams, and the df-cap
    drops boilerplate dims (same guard as the shingle join), so
    fan-out tracks true overlap, not corpus^2 (measured: 3.8k
    candidate pairs for 500 docs, 273k for 5000 — vs 125k/12.5M
    all-pairs).  Cosine is over the kept dims in BOTH engines.
    Learned float embeddings slot into the same plan after
    milli-quantization (see vectors.py).
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    shingle_str = f"substring(text, 1 + i * {STRIDE}, {K})"
    feat0 = (
        docs.filter(F.length("text") >= K)
        .select(
            "doc_id",
            "text",
            F.expr(f"explode(sequence(0, (length(text) - {K}) div {STRIDE}))").alias("i"),
        )
        .select("doc_id", (F.expr(md5_int56_spark(shingle_str)) % COS_DIMS).alias("dim"))
        .groupBy("doc_id", "dim")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Posting-list form (one shuffle to group dims, df-prune as an
    # array-size filter, pair expansion inside the array — no dim
    # self-join).  slice(i+1) includes the element itself, so self
    # pairs (doc,doc) ride along and become the norms: the whole
    # candidate+norm computation is ONE explode + ONE groupBy.
    inv = (
        feat0.groupBy("dim")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "cnt"))).alias("docs"))
        .filter(F.size("docs") <= _df_cap(docs))
    )
    pair_expr = F.expr(
        "flatten(transform(docs, (a, i) -> transform(slice(docs, i + 1, size(docs)),"
        " b -> struct(a.doc_id AS doc_a, b.doc_id AS doc_b, a.cnt * b.cnt AS p))))"
    )
    cand = (
        inv.select(F.explode(pair_expr).alias("pr"))
        .select("pr.doc_a", "pr.doc_b", "pr.p")
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("p").alias("dot"))
    )
    norms = cand.filter(F.col("doc_a") == F.col("doc_b"))
    dots = cand.filter(F.col("doc_a") != F.col("doc_b"))
    na = norms.select(F.col("doc_a"), F.col("dot").alias("na2"))
    nb = norms.select(F.col("doc_a").alias("doc_b"), F.col("dot").alias("nb2"))
    cos = F.col("dot").cast("double") / F.sqrt(F.col("na2").cast("double") * F.col("nb2"))
    # na/nb grow one-row-per-document, so no broadcast hint: at 100 TB
    # they are billions of rows.  AQE picks broadcast when the norm
    # table happens to be small and shuffle-hash/sort-merge otherwise.
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(cos >= COS_T)
        .select("doc_a", "doc_b", F.round(cos, 6).alias("cosine"))
    )


# ------------------------------------------- cluster + canonicalize


def _minhash_pairs_oracle() -> str:
    """The dedup_minhash_lsh oracle text, reused as a CTE so the
    canonicalization oracle shares one source of truth with the
    pair-finding oracle."""
    from ..registry import REGISTRY

    return REGISTRY["dedup_minhash_lsh"].oracle


@query(
    "dedup_canonical_docs",
    oracle=f"""
    WITH RECURSIVE mh AS ({_minhash_pairs_oracle()}),
    und AS (
      SELECT doc_a AS v, doc_b AS u FROM mh WHERE is_dup
      UNION
      SELECT doc_b, doc_a FROM mh WHERE is_dup
    ),
    reach(v, lbl) AS (
      SELECT v, v AS lbl FROM (SELECT DISTINCT v FROM und)
      UNION
      SELECT u.v, r.lbl FROM und u JOIN reach r ON u.u = r.v
    )
    SELECT v AS doc_id, CAST(MIN(lbl) AS BIGINT) AS canonical_id,
           CAST(MIN(lbl) = v AS BOOLEAN) AS is_survivor
    FROM reach GROUP BY v
    """,
)
@session_memo
def q_dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup *decision* step that turns near-dup pairs into an
    actionable keep/drop list: connected components over the verified
    MinHash-LSH pairs (duplicate relations are transitive in
    practice: A~B~C is one content cluster), canonical survivor =
    min doc_id per component (``components.connected_components``).
    """
    pairs = q_dedup_minhash_lsh(spark, sf_dir).filter(F.col("is_dup")).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    nodes = pairs.select(F.col("a").alias("id")).unionByName(pairs.select(F.col("b").alias("id")))
    lbl = connected_components(nodes, pairs)
    out = lbl.select(
        F.col("id").alias("doc_id"),
        F.col("comp").cast("bigint").alias("canonical_id"),
        (F.col("comp") == F.col("id")).alias("is_survivor"),
    )
    return lineage_checkpoint(out)


@query(
    "dedup_cluster_sizes",
    # Reuses the canonical-docs recursive-CTE oracle as a derived
    # table: the histogram must agree with the same component
    # assignment the keep/drop list is built from.
    oracle=f"""
    WITH canon AS (
      {REGISTRY["dedup_canonical_docs"].oracle}
    ),
    comp AS (
      SELECT canonical_id, COUNT(*) AS cluster_size
      FROM canon GROUP BY canonical_id
    )
    SELECT cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs
    FROM comp GROUP BY cluster_size
    """,
)
def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the dedup QA report
    (a sudden heavy tail here is how template spam shows up before
    anyone reads a document).

    Pure composition: the canonical assignment (already memoized via
    the shared pair table) grouped twice — component → size, then
    size → count.  Adds two tiny aggregations on top of work the
    dedup chain already did.
    """
    canon = q_dedup_canonical_docs(spark, sf_dir)
    comp = canon.groupBy("canonical_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").cast("bigint").alias("n_docs"),
    )


@query(
    "dedup_minhash_estimate_audit",
    oracle=f"""
    WITH {_DUCK_SHINGLES}, {_DUCK_MINHASH}, {_DUCK_JACCARD_PAIRS.lstrip().lstrip(',')},
    agree AS (
      SELECT c.doc_a, c.doc_b,
             SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS n_agree
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b AND sb.j = sa.j
      GROUP BY 1, 2
    )
    SELECT a.doc_a, a.doc_b,
           ROUND(a.n_agree / {J_HASH}.0, 6) AS est_jaccard,
           ROUND(COALESCE(j.jaccard, 0), 6) AS exact_jaccard,
           ROUND(ABS(a.n_agree / {J_HASH}.0 - ROUND(COALESCE(j.jaccard, 0), 6)), 6)
             AS abs_err
    FROM agree a
    LEFT JOIN jacc j ON j.doc_a = a.doc_a AND j.doc_b = a.doc_b
    """,
)
def q_dedup_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-accuracy audit of the MinHash sketch: for every LSH
    candidate pair, the signature-agreement estimate (n_agree/J) next
    to the exact verified Jaccard and the absolute error — the QA
    report that tells you whether J=8 is enough before trusting the
    sketch at full scale.

    Reuses the memoized verified-pair table for the exact side and the
    memoized J-wide signatures (``_signature_df``, shared with the
    band-tuning audit), so nothing is recomputed; the agreement count
    is a zip_with fold inside codegen.  The candidate-pair table grows with
    the corpus dup rate (template-spam corpora are exactly where dedup
    matters), so it is NOT broadcast — the doc_id equi-joins shuffle on
    the key and AQE downgrades to broadcast only when the pair set is
    actually small.
    """
    pairs = q_dedup_minhash_lsh(spark, sf_dir)
    sig = _signature_df(spark, sf_dir)
    siga = sig.select(F.col("doc_id").alias("doc_a"), F.col("mh").alias("mh_a"))
    sigb = sig.select(F.col("doc_id").alias("doc_b"), F.col("mh").alias("mh_b"))
    n_agree = F.expr(
        "aggregate(zip_with(mh_a, mh_b, (x, y) -> IF(x = y, 1, 0)),"
        " 0, (acc, v) -> acc + v)"
    )
    est = n_agree.cast("double") / F.lit(float(J_HASH))
    return (
        pairs.select("doc_a", "doc_b", "jaccard")
        .join(siga, "doc_a")
        .join(sigb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(est, 6).alias("est_jaccard"),
            F.col("jaccard").alias("exact_jaccard"),
            F.round(F.abs(est - F.col("jaccard")), 6).alias("abs_err"),
        )
    )


@query(
    "incremental_dedup",
    oracle="""
    -- snapshot-incremental dedup: the id-lower half of the corpus is
    -- the accepted prior snapshot (data-relative split, so both sides
    -- stay populated at every SF); a new-batch doc is dropped if its
    -- exact text hash already exists in the snapshot OR duplicates an
    -- earlier-id doc within its own batch (first writer wins).
    WITH cut AS (SELECT (MAX(doc_id) + 1) // 2 AS half FROM documents),
    snap AS (
        SELECT DISTINCT md5(text) AS h
        FROM documents, cut WHERE doc_id < cut.half
    ),
    batch AS (
        SELECT doc_id, source, md5(text) AS h,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents, cut WHERE doc_id >= cut.half
    )
    SELECT b.source,
           CAST(COUNT(*) AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN s.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_vs_snapshot,
           CAST(SUM(CASE WHEN s.h IS NULL AND b.rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_within_batch,
           CAST(SUM(CASE WHEN s.h IS NULL AND b.rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_accepted
    FROM batch b LEFT JOIN snap s USING (h)
    GROUP BY b.source
    ORDER BY b.source
    """,
    # +2 for the data-relative midpoint split (the scalar cut aggregate
    # feeds both sides)
    exchanges=6,
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-incremental exact dedup — the recurring-crawl pattern:
    each new batch dedups against the accepted corpus (hash anti-join)
    AND within itself (first-writer-wins ROW_NUMBER on the hash),
    reported as a per-source admission census.

    Scale shape: the snapshot side reduces to a distinct-hash set
    partitioned by hash — the incremental join is hash-to-hash, never
    text-to-text, and only new-batch hashes shuffle; at 100 TB the
    snapshot hash set lives as a bucketed table keyed the same way so
    the daily join is co-partitioned.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5("text")
    # data-relative split: both sides populated at every SF
    cut = docs.agg(F.expr("(MAX(doc_id) + 1) div 2").alias("half"))
    halved = docs.crossJoin(F.broadcast(cut))
    snap = halved.filter(F.col("doc_id") < F.col("half")).select(h.alias("h")).distinct()
    w = Window.partitionBy("h").orderBy("doc_id")
    batch = (
        halved.filter(F.col("doc_id") >= F.col("half"))
        .select("doc_id", "source", h.alias("h"))
        .withColumn("rn", F.row_number().over(w))
    )
    joined = batch.join(snap.withColumn("in_snap", F.lit(True)), "h", "left")
    in_snap = F.col("in_snap").isNotNull()
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum(in_snap.cast("int")).cast("bigint").alias("n_vs_snapshot"),
            F.sum((~in_snap & (F.col("rn") > 1)).cast("int")).cast("bigint").alias("n_within_batch"),
            F.sum((~in_snap & (F.col("rn") == 1)).cast("int")).cast("bigint").alias("n_accepted"),
        )
        .orderBy("source")
    )


CONT_NUM, CONT_DEN = 4, 5  # containment threshold 4/5 = 0.8, integer-exact


@query(
    "dedup_containment",
    oracle=f"""
    WITH {_DUCK_SHINGLES}, {_DUCK_JACCARD_PAIRS}
    SELECT doc_a, doc_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(LEAST(n_a, n_b) AS BIGINT) AS n_small,
           ROUND(CAST(n_common AS DOUBLE) / LEAST(n_a, n_b), 6) AS containment,
           ROUND(jaccard, 6) AS jaccard,
           (jaccard < {JACC_T}) AS jaccard_missed
    FROM jacc
    WHERE n_common * {CONT_DEN} >= LEAST(n_a, n_b) * {CONT_NUM}
    """,
    # pair agg + two size joins over the checkpointed index
    bench=True, exchanges=3,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: C = |A∩B| / min(|A|,|B|) >=
    {CONT_NUM}/{CONT_DEN} — the asymmetric measure that catches a
    small document embedded verbatim inside a much larger one (quote
    farms, boilerplate wrappers, doc-in-doc scrapes), which symmetric
    Jaccard structurally misses: for |A| << |B| the union term drives
    J -> 0 no matter how completely A is contained.  The
    ``jaccard_missed`` flag marks exactly those pairs — the reason a
    production dedup runs BOTH measures over the same shingle index.

    Threshold compares via integer cross-multiplication
    (n_common*{CONT_DEN} >= n_small*{CONT_NUM}) so membership never
    depends on a float rounding edge.

    Scale shape: reuses the cached df-pruned inverted index and the
    in-array pair generation — zero additional shuffles beyond the
    shared pair aggregation; the containment scoring is a projection
    on the already-joined pair row."""
    jc = _jaccard_pairs_df(spark, sf_dir)
    n_small = F.least("n_a", "n_b")
    return jc.filter(
        F.col("n_common") * CONT_DEN >= n_small * CONT_NUM
    ).select(
        "doc_a",
        "doc_b",
        F.col("n_common").cast("bigint").alias("n_common"),
        n_small.cast("bigint").alias("n_small"),
        F.round(F.col("n_common").cast("double") / n_small, 6).alias("containment"),
        F.round("jaccard", 6).alias("jaccard"),
        (F.col("jaccard") < JACC_T).alias("jaccard_missed"),
    )


# ------------------------------------------- semantic dedup (SemDeDup)

K_SEM = 8       # coarse clusters (scale note in the docstring: K tracks corpus size)
SEM_T = 0.35    # within-cluster near-dup cosine threshold (data-relative:
#                 the synthetic embeddings are near-orthogonal, so the
#                 "semantic twin" band sits at ~0.35+; real learned
#                 embeddings would use ~0.95 with the same plan)

_SEM_QUANT_DUCK = (
    "list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
)

@session_memo
def _semantic_assign_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster_id, e: bigint[], n2) — every nonzero-norm
    vector with its one-step-Lloyd cluster assignment (nearest of the
    {K_SEM} lowest-vec_id seeds by cosine, ties to the lowest
    seed_id).

    Session-memoized like the shingle inverted index: the dedup query
    consumes the assignment THREE times (both sides of the
    within-cluster pair join plus the final verdict join), and without
    a materialized copy each consumer would re-run the corpus-wide
    seed scoring pass — 3 full corpus scans instead of 1 at 100 TB."""
    nz = nonzero_frame(spark, sf_dir)
    seeds = (
        nz.orderBy("vec_id")
        .limit(K_SEM)
        .select(
            F.col("vec_id").alias("seed_id"),
            F.col("e").alias("es"),
            F.col("n2").alias("ns2"),
        )
    )
    cos_seed = int_cosine("e", "n2", "es", "ns2")
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_seed"), F.asc("seed_id"))
    # seeds is <= K_SEM rows by the LIMIT above — a constant-size side
    # at every SF, so the broadcast never grows with the corpus.
    built = (
        nz.crossJoin(F.broadcast(seeds))
        .select("vec_id", "e", "n2", "seed_id", cos_seed.alias("cos_seed"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("vec_id", F.col("seed_id").alias("cluster_id"), "e", "n2")
    )
    return lineage_checkpoint(built, big=True)


# The one-step-Lloyd assignment CTE block, shared verbatim by the
# semantic-dedup oracle and the deterministic-IVF oracle
# (similarity.py) so the two can never disagree on the clustering.
SEM_ASSIGN_DUCK_CTES = f"""
    b AS (
      SELECT vec_id, {_SEM_QUANT_DUCK} AS e FROM embeddings
    ),
    n AS (SELECT vec_id, e, list_sum(list_transform(e, x -> x * x)) AS n2 FROM b),
    nz AS (SELECT * FROM n WHERE n2 > 0),
    seeds AS (SELECT vec_id AS seed_id, e AS es, n2 AS ns2
              FROM nz ORDER BY vec_id LIMIT {K_SEM}),
    sp AS (
      SELECT v.vec_id, s.seed_id, unnest(v.e) AS ea, unnest(s.es) AS eb,
             v.n2 AS na2, s.ns2 AS nb2
      FROM nz v, seeds s
    ),
    sd AS (
      SELECT vec_id, seed_id, SUM(ea * eb) AS dot,
             ANY_VALUE(na2) AS na2, ANY_VALUE(nb2) AS nb2
      FROM sp GROUP BY 1, 2
    ),
    assign AS (
      SELECT vec_id, seed_id AS cluster_id FROM (
        SELECT vec_id, seed_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY CAST(dot AS DOUBLE) / SQRT(CAST(na2 AS DOUBLE) * nb2) DESC,
                             seed_id) AS rnk
        FROM sd
      ) WHERE rnk = 1
    ),
    memb AS (
      SELECT a.vec_id, a.cluster_id, n.e, n.n2 FROM assign a JOIN nz n USING (vec_id)
    )
"""


@query(
    "dedup_semantic_clustered",
    oracle=f"""
    WITH {SEM_ASSIGN_DUCK_CTES},
    cp AS (
      SELECT a.vec_id AS va, bb.vec_id AS vb, unnest(a.e) AS ea, unnest(bb.e) AS eb,
             a.n2 AS na2, bb.n2 AS nb2
      FROM memb a JOIN memb bb
        ON a.cluster_id = bb.cluster_id AND a.vec_id < bb.vec_id
    ),
    cd AS (
      SELECT va, vb, SUM(ea * eb) AS dot, ANY_VALUE(na2) AS na2, ANY_VALUE(nb2) AS nb2
      FROM cp GROUP BY 1, 2
    ),
    dups AS (
      SELECT vb AS vec_id, COUNT(*) AS n_dup_peers
      FROM cd
      WHERE CAST(dot AS DOUBLE) / SQRT(CAST(na2 AS DOUBLE) * nb2) >= {SEM_T}
      GROUP BY 1
    )
    SELECT m.vec_id, m.cluster_id,
           CAST(COALESCE(d.n_dup_peers, 0) AS BIGINT) AS n_dup_peers,
           COALESCE(d.n_dup_peers, 0) > 0 AS is_dup
    FROM memb m LEFT JOIN dups d ON d.vec_id = m.vec_id
    """,
    # cluster pair join + verdict join over the checkpointed assignment
    bench=True, exchanges=2, order_sensitive=True,
)
def q_dedup_semantic_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup over learned embeddings (Abbas
    et al. 2023): coarse-cluster the corpus, then search for near-dup
    pairs ONLY within a cluster — the trick that turns corpus^2 cosine
    dedup into K * (N/K)^2 and, with K grown proportionally to the
    corpus, O(N) pair work at 100 TB.

    Kept fully oracle-checkable (unlike iterative k-means) by making
    the clustering a deterministic relational one-step Lloyd: the
    seeds are the {K_SEM} lowest nonzero-norm vec_ids (bounded by
    construction — a LIMIT, so the broadcast is K rows at any SF) and
    every vector joins its nearest seed by cosine with a (cosine DESC,
    seed_id) tie-break.  Vectors are milli-quantized so dot products
    and norms are exact BIGINTs in both engines; only the final cosine
    division is float, on identical inputs.

    Per vector the verdict is keep-lowest-id: ``is_dup`` marks vectors
    with a LOWER-id near-dup peer (cosine >= {SEM_T}) in the same
    cluster, so survivors are exactly the cluster-local canonical
    representatives.

    Scale shape: one bounded-broadcast nested loop for assignment
    (corpus side never shuffles), then an equi-join on cluster_id for
    the within-cluster pairs.  At bench scale K={K_SEM} keys is a
    coarse shuffle; at 100 TB the operating point is K ~ N/1000, which
    makes cluster_id a high-cardinality key and each cluster's pair
    block constant-sized — the published SemDeDup operating regime.
    """
    assign = _semantic_assign_df(spark, sf_dir)
    a = assign.select(
        "cluster_id",
        F.col("vec_id").alias("va"),
        F.col("e").alias("ea"),
        F.col("n2").alias("na2"),
    )
    b = assign.select(
        "cluster_id",
        F.col("vec_id").alias("vb"),
        F.col("e").alias("eb"),
        F.col("n2").alias("nb2"),
    )
    cos_pair = int_cosine("ea", "na2", "eb", "nb2")
    dups = (
        a.join(b, "cluster_id")
        .filter(F.col("va") < F.col("vb"))
        .filter(cos_pair >= SEM_T)
        .groupBy(F.col("vb").alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    nd = F.coalesce(F.col("nd"), F.lit(0))
    return assign.join(dups, "vec_id", "left").select(
        "vec_id",
        "cluster_id",
        nd.cast("bigint").alias("n_dup_peers"),
        (nd > 0).alias("is_dup"),
    )


# ------------------------------------------- cascade attrition funnel


@query(
    "dedup_cascade_attrition",
    # The canon CTE body is the dedup_canonical_docs oracle verbatim
    # (its own WITH RECURSIVE nests inside the CTE) — same single
    # source of truth pattern as dedup_cluster_sizes.
    oracle=f"""
    WITH canon AS (
      {REGISTRY["dedup_canonical_docs"].oracle}
    ),
    ex AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    lab AS (
      SELECT e.doc_id, COALESCE(c.canonical_id, e.doc_id) AS comp
      FROM ex e LEFT JOIN canon c ON c.doc_id = e.doc_id
    ),
    s2 AS (SELECT MIN(doc_id) AS doc_id FROM lab GROUP BY comp),
    n0 AS (SELECT COUNT(*) AS n FROM documents),
    n1 AS (SELECT COUNT(*) AS n FROM ex),
    n2 AS (SELECT COUNT(*) AS n FROM s2)
    SELECT '1_exact' AS stage, CAST(n0.n AS BIGINT) AS docs_in,
           CAST(n1.n AS BIGINT) AS docs_out, CAST(n0.n - n1.n AS BIGINT) AS removed
    FROM n0, n1
    UNION ALL
    SELECT '2_minhash', CAST(n1.n AS BIGINT), CAST(n2.n AS BIGINT),
           CAST(n1.n - n2.n AS BIGINT)
    FROM n1, n2
    """,
    # exact groupBy + checkpointed canonical + funnel aggs
    bench=True, exchanges=12,
)
def q_dedup_cascade_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup attrition funnel a production pipeline reports
    (RefinedWeb/FineWeb publish exactly this table): run the stages
    cheapest-first — exact text dedup, then MinHash-LSH near-dup
    canonicalization over the exact survivors — and emit per-stage
    docs_in/docs_out/removed, the numbers that tell you whether the
    expensive near-dup stage is still earning its shuffle.

    Stage 2 keeps, per near-dup component, the lowest-id EXACT
    survivor (docs outside the pair graph are their own component), so
    the funnel composes with the standing canonical keep/drop list
    instead of inventing a second clustering.

    Scale shape: stage 1 is one hash groupBy on md5(text); stage 2
    reuses the memoized verified-pair table and component labels
    (``dedup_canonical_docs``); the funnel
    rows themselves are three 1-row count aggregates cross-joined —
    nothing here adds a corpus-growing shuffle beyond the stages it
    measures."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    ex = docs.groupBy(F.md5("text").alias("h")).agg(F.min("doc_id").alias("doc_id"))
    canon = q_dedup_canonical_docs(spark, sf_dir).select("doc_id", "canonical_id")
    lab = ex.join(canon, "doc_id", "left").select(
        "doc_id", F.coalesce("canonical_id", "doc_id").alias("comp")
    )
    s2 = lab.groupBy("comp").agg(F.min("doc_id").alias("doc_id"))
    n0 = docs.agg(F.count(F.lit(1)).alias("n0"))
    n1 = ex.agg(F.count(F.lit(1)).alias("n1"))
    n2 = s2.agg(F.count(F.lit(1)).alias("n2"))
    row1 = n0.crossJoin(F.broadcast(n1)).select(
        F.lit("1_exact").alias("stage"),
        F.col("n0").cast("bigint").alias("docs_in"),
        F.col("n1").cast("bigint").alias("docs_out"),
        (F.col("n0") - F.col("n1")).cast("bigint").alias("removed"),
    )
    row2 = n1.crossJoin(F.broadcast(n2)).select(
        F.lit("2_minhash").alias("stage"),
        F.col("n1").cast("bigint").alias("docs_in"),
        F.col("n2").cast("bigint").alias("docs_out"),
        (F.col("n1") - F.col("n2")).cast("bigint").alias("removed"),
    )
    return row1.unionByName(row2)


# ------------------------------------------- quality-aware survivors


@query(
    "dedup_keep_longest",
    # Shares the component labels with the keep/drop list (canon CTE
    # spliced verbatim) — only the survivor RULE differs.
    oracle=f"""
    WITH canon AS (
      {REGISTRY["dedup_canonical_docs"].oracle}
    ),
    lab AS (
      SELECT d.doc_id, COALESCE(c.canonical_id, d.doc_id) AS component_id,
             LEN(d.text) AS n_chars_actual
      FROM documents d LEFT JOIN canon c ON c.doc_id = d.doc_id
    )
    SELECT doc_id, CAST(component_id AS BIGINT) AS component_id,
           CAST(n_chars_actual AS BIGINT) AS n_chars_actual,
           (ROW_NUMBER() OVER (PARTITION BY component_id
                ORDER BY n_chars_actual DESC, doc_id) = 1) AS is_survivor
    FROM lab
    """,
    # checkpointed canonical join + rank window
    bench=True, exchanges=2, order_sensitive=True,
)
def q_dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonicalization: within each near-dup component
    keep the LONGEST document (ties to the lowest doc_id) instead of
    the lowest id — the FineWeb/RefinedWeb survivor rule, which
    prefers the fullest copy of mirrored content over whichever
    happened to be crawled first.  Docs outside the pair graph are
    their own singleton component and survive unconditionally.

    The survivor key is the exact integer (length DESC, doc_id ASC) —
    no float scores, so membership can never flip on a rounding edge.

    Scale shape: reuses the memoized verified-pair table and the
    component labels of ``dedup_canonical_docs``; the survivor choice
    is one rank window partitioned by component_id — a high-cardinality key
    (components are small by construction), so the window is fully
    parallel."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    canon = q_dedup_canonical_docs(spark, sf_dir).select("doc_id", "canonical_id")
    lab = (
        docs.select("doc_id", F.length("text").alias("n_chars_actual"))
        .join(canon, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("canonical_id", "doc_id").alias("component_id"),
            "n_chars_actual",
        )
    )
    w = Window.partitionBy("component_id").orderBy(
        F.desc("n_chars_actual"), F.asc("doc_id")
    )
    return lab.select(
        "doc_id",
        F.col("component_id").cast("bigint").alias("component_id"),
        F.col("n_chars_actual").cast("bigint").alias("n_chars_actual"),
        (F.row_number().over(w) == 1).alias("is_survivor"),
    )


# ------------------------------------------- LSH band-tuning audit

# All (bands x rows) factorizations of the J=8 signature, from
# recall-greedy (8x1) to precision-greedy (1x8).
BAND_CONFIGS = [(8, 1), (4, 2), (2, 4), (1, 8)]

@session_memo
def _signature_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc minhash signature arrays (doc_id, mh), session-memoized
    like the inverted index: the
    band-tuning audit regroups this ONE table four ways, so the
    signature hash runs once per corpus, not once per configuration."""
    sig = (
        _shingles_df(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.collect_list("sh").alias("shs"))
        .select("doc_id", F.expr(MINHASH_SIG_EXPR).alias("mh"))
    )
    return lineage_checkpoint(sig, big=True)


def _band_tuning_oracle() -> str:
    cfg_ctes, cfg_union = [], []
    for b, r in BAND_CONFIGS:
        key = md5_int56_duck(f"array_to_string(mh[(i.i*{r}+1):(i.i*{r}+{r})], ',')")
        cfg_ctes.append(f"""
    bk_{b}_{r} AS (
      SELECT doc_id, i.i AS band, {key} AS key
      FROM sig_arr, range(0, {b}) AS i(i)
    ),
    cd_{b}_{r} AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM bk_{b}_{r} a JOIN bk_{b}_{r} b2
        ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id
    ),
    ct_{b}_{r} AS (
      SELECT {b} AS bands, {r} AS rows_per_band,
             COUNT(c.doc_a) AS n_candidates,
             COALESCE(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END), 0)
               AS n_true_detected
      FROM cd_{b}_{r} c
      LEFT JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )""")
        cfg_union.append(f"SELECT * FROM ct_{b}_{r}")
    return f"""
    WITH {_DUCK_SHINGLES}, {_DUCK_MINHASH}, {_DUCK_JACCARD_PAIRS.lstrip().lstrip(',')},
    sig_arr AS (SELECT doc_id, list(mh ORDER BY j) AS mh FROM sig GROUP BY 1),
    truth AS (SELECT doc_a, doc_b FROM jacc WHERE jaccard >= {JACC_T}),
    {','.join(cfg_ctes)},
    u AS ({' UNION ALL '.join(cfg_union)})
    SELECT CAST(bands AS BIGINT) AS bands,
           CAST(rows_per_band AS BIGINT) AS rows_per_band,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_true_detected AS BIGINT) AS n_true_detected,
           CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true_total,
           ROUND(CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN 0
                 ELSE n_true_detected
                      / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE) END, 6) AS recall,
           ROUND(CASE WHEN n_candidates = 0 THEN 0
                 ELSE n_true_detected / CAST(n_candidates AS DOUBLE) END, 6) AS hit_rate
    FROM u
    """


@query(
    "lsh_band_tuning_audit",
    oracle=_band_tuning_oracle(),
    # single-position sweep: one bucket shuffle + bounded pair agg +
    # config agg + the single-row report, over the checkpointed
    # signatures and truth
    bench=True, exchanges=4, order_sensitive=True,
)
def q_lsh_band_tuning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH INDEX TUNING AS A QUERY: sweep every (bands x rows)
    factorization of the J=8 minhash signature — 8x1
    (recall-greedy) through 1x8 (precision-greedy) — and report, per
    configuration, the candidate-pair volume, how many true
    (Jaccard >= 0.5) pairs the banding catches, recall against
    the exact pair table, and the candidate hit rate.  This is the
    S-curve trade every production dedup tunes by; here it is a
    relational audit over ONE signature build, so re-banding costs a
    regroup, never a re-hash of the corpus.

    The sweep runs as ONE single-position bucket pass (the 8x1
    banding is the superset of every config's candidates; banding
    containment + the per-pair agreeing-position set decide all four
    configs as pure expressions — see the inline comment).  Shingles,
    signatures, and the ground-truth pair table are the exact
    constructs behind ``dedup_minhash_lsh`` / ``dedup_jaccard_pairs``,
    so the audit can never drift from the index it tunes.

    Scale: the only corpus-sized shuffles are the single (position,
    value) bucket groupBy — same class as the production banding —
    and the bounded-buffer pair agg (<= 8 ints per pair); the truth
    join is dup-rate-sized and paid once.  Monotonicity (wider bands
    => more candidates, never fewer true hits) is test-pinned.
    """
    sig = _signature_df(spark, sf_dir)
    # the ground-truth table has TWO consumers (the hit join and the
    # n_true_total scalar) whose plans differ below their exchanges,
    # so without a checkpoint the whole exact-Jaccard pipeline — a
    # corpus shingle pass + the posting-list pair expansion — ran
    # twice per call (round-16 stage profile: the 8 heaviest stages
    # were two copies of that pipeline).  Materialize it once; the
    # table is dup-rate-sized.
    truth = lineage_checkpoint(
        _jaccard_pairs_df(spark, sf_dir)
        .filter(F.col("jaccard") >= JACC_T)
        .select("doc_a", "doc_b", F.lit(1).alias("hit"))
    )
    total = truth.groupBy().agg(F.count(F.lit(1)).alias("n_true_total"))
    # ONE single-position sweep for all four configs (round 16; was a
    # 4-config union of 15 band rows/doc -> one bucket shuffle + one
    # 4x pair-distinct + one 4x truth join, measured 8 heavy stages /
    # ~35s task_time at sf0.1).  Banding containment does the rest:
    # config (b, r) catches a pair iff some r-slice of the signatures
    # agrees elementwise, so the per-POSITION collision buckets (the
    # 8x1 banding — the superset of every config's candidates) plus
    # the per-pair set of agreeing positions determine all four
    # configs at once:
    #   bucket shuffle: 8 narrow (band, key, doc_id) rows/doc (was 15
    #     band-md5 rows/doc across the union);
    #   pair agg: collect_set(band) per (doc_a, doc_b) — BOUNDED at 8
    #     ints, so no unbounded buffers;
    #   truth join: once over the distinct pair universe (was 4x).
    # Per-config membership is a pure expression over the agreement
    # set (exists a band whose r positions all agree) — matching the
    # oracle's band-key md5 equality exactly, modulo 56-bit md5
    # collisions (the same negligible-collision premise the md5 band
    # keys themselves relied on).
    bk = sig.select("doc_id", F.posexplode("mh").alias("band", "key"))
    buckets = (
        bk.groupBy("band", "key")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    pm = (
        buckets.select("band", F.explode(F.expr(PAIR_EXPANSION_EXPR)).alias("p"))
        .select("band", "p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.collect_set("band").alias("eq_pos"))
    )
    caught_cols = [
        F.struct(
            F.lit(b).cast("bigint").alias("bands"),
            F.lit(r).cast("bigint").alias("rows_per_band"),
            F.expr(
                f"exists(sequence(0, {b - 1}), j -> forall("
                f"sequence(j * {r}, j * {r} + {r - 1}),"
                " i -> array_contains(eq_pos, i)))"
            ).alias("caught"),
        )
        for b, r in BAND_CONFIGS
    ]
    stats = (
        pm.join(truth, ["doc_a", "doc_b"], "left")
        .select(F.explode(F.array(*caught_cols)).alias("c"), "hit")
        .filter(F.col("c.caught"))
        .select(F.col("c.bands").alias("bands"),
                F.col("c.rows_per_band").alias("rows_per_band"), "hit")
        .groupBy("bands", "rows_per_band")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("n_true_detected"),
        )
    )
    # a zero-candidate config would drop out of the groupBy: re-anchor
    # on the literal config list so every row the oracle emits exists
    cfgs = spark.createDataFrame(
        [(b, r) for b, r in BAND_CONFIGS], "bands long, rows_per_band long"
    )
    u = cfgs.join(stats, ["bands", "rows_per_band"], "left").select(
        "bands",
        "rows_per_band",
        F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias("n_candidates"),
        F.coalesce("n_true_detected", F.lit(0)).cast("bigint").alias("n_true_detected"),
    )
    # COUNT(*) over an empty (zero-candidate) config still yields its
    # row, matching the oracle's scalar-aggregate semantics.  The
    # 1-row total side needs no broadcast hint — AQE picks BNLJ on a
    # single-row side by itself, and the provenance gate stays clean.
    return u.crossJoin(total).select(
        "bands",
        "rows_per_band",
        "n_candidates",
        "n_true_detected",
        F.col("n_true_total").cast("bigint").alias("n_true_total"),
        F.round(
            F.when(F.col("n_true_total") == 0, 0.0).otherwise(
                F.col("n_true_detected") / F.col("n_true_total").cast("double")
            ),
            6,
        ).alias("recall"),
        F.round(
            F.when(F.col("n_candidates") == 0, 0.0).otherwise(
                F.col("n_true_detected") / F.col("n_candidates").cast("double")
            ),
            6,
        ).alias("hit_rate"),
    )

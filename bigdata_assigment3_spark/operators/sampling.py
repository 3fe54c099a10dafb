"""Deterministic sampling operators for training-data pipelines:
hash-based train/test splits and per-class stratified samples.

Random sampling (``df.sample``/``sampleBy``) is seed-stable within
Spark but NOT reproducible across engines or re-partitions; a
hash-of-key split is — the same row lands in the same split on any
engine, any cluster, any day, which is what dataset curation actually
needs (and what makes both operators fully oracle-checkable via the
portable md5-int56).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions.hashing import md5_int56_duck, md5_int56_spark
from ..registry import query
from ..sources import load_table

TRAIN_PCT = 80        # hash % 100 < 80 -> train
STRATUM_QUOTA = 40    # rows kept per language in the stratified sample


@query(
    "train_test_split",
    oracle=f"""
    WITH tagged AS (
      SELECT lang,
             CASE WHEN {md5_int56_duck("CAST(doc_id AS VARCHAR)")} % 100 < {TRAIN_PCT}
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, lang, COUNT(*) AS n
    FROM tagged GROUP BY split, lang
    """,
    exchanges=1, order_sensitive=True,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic {TRAIN_PCT}/{100 - TRAIN_PCT} train/test split by
    key hash, reported as per-split per-language counts (the class-
    balance check every dataset build logs).

    The split is a pure projection — no shuffle, no state, appendable:
    new rows get a stable assignment without reshuffling old ones,
    which seeded random sampling cannot promise."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.expr(md5_int56_spark("CAST(doc_id AS STRING)"))
    split = F.when(h % 100 < TRAIN_PCT, "train").otherwise("test")
    return (
        docs.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "stratified_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY {md5_int56_duck("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_sampled,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids
    FROM ranked WHERE rn <= {STRATUM_QUOTA}
    GROUP BY lang
    """,
    order_sensitive=True,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with exact per-class quotas: rank rows
    within each language by key hash (a deterministic shuffle order)
    and keep the first {STRATUM_QUOTA} — balanced class representation
    with reproducible membership, vs `sampleBy` which gives only
    expected fractions and engine-local randomness.  The sum/min of
    sampled ids in the output pins the exact membership, not just the
    counts.

    Scale shape: one rank window per stratum; for heavily skewed
    strata the same pattern runs as groupBy(lang) + min_by(array) or
    a two-phase top-k."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.expr(md5_int56_spark("CAST(doc_id AS STRING)"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= STRATUM_QUOTA)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_ids"),
        )
    )


SAMPLE_SCALE = 1_000_000  # hash-threshold resolution for keep rates


@query(
    "temperature_sample",
    oracle=f"""
    WITH t AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    mn AS (SELECT MIN(n_docs) AS min_docs FROM t),
    rates AS (
      SELECT t.source, t.n_docs,
             SQRT(CAST(mn.min_docs AS DOUBLE) / t.n_docs) AS keep_rate
      FROM t CROSS JOIN mn
    ),
    kept AS (
      SELECT d.source, d.doc_id
      FROM documents d JOIN rates r ON r.source = d.source
      WHERE {md5_int56_duck("CAST(doc_id AS VARCHAR)")} % {SAMPLE_SCALE}
            < CAST(FLOOR(r.keep_rate * {SAMPLE_SCALE}) AS BIGINT)
    )
    SELECT r.source,
           CAST(r.n_docs AS BIGINT) AS n_docs,
           ROUND(r.keep_rate, 6) AS keep_rate,
           CAST(COUNT(k.doc_id) AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(k.doc_id), 0) AS BIGINT) AS sum_kept_ids
    FROM rates r LEFT JOIN kept k ON k.source = r.source
    GROUP BY r.source, r.n_docs, r.keep_rate
    """,
    exchanges=7, order_sensitive=True,
)
def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha=0.5) mixture rebalancing: down-sample each
    source toward the sqrt-flattened target mixture q_s ∝ sqrt(p_s),
    keeping the smallest source whole — the standard knob (XLM-R-style
    alpha sampling) that keeps head domains from drowning tail domains
    in a pretraining mix.  With alpha=1/2 the keep rate collapses to
    sqrt(min_docs / n_docs), which uses only division and SQRT — both
    IEEE-correctly-rounded, so the per-row hash-threshold membership
    is bit-identical across engines (a pow()-based temperature would
    not be).  sum_kept_ids pins exact membership, not just counts.

    Scale shape: one count agg, a 1-row min broadcast, then a pure
    projection filter — append-stable like the other hash samplers,
    no shuffle of the corpus itself."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    mn = t.agg(F.min("n_docs").alias("min_docs"))
    rates = t.crossJoin(F.broadcast(mn)).select(
        "source",
        "n_docs",
        F.sqrt(F.col("min_docs").cast("double") / F.col("n_docs")).alias("keep_rate"),
    )
    h = F.expr(md5_int56_spark("CAST(doc_id AS STRING)"))
    kept = (
        docs.join(F.broadcast(rates), "source")
        .filter(
            h % SAMPLE_SCALE
            < F.floor(F.col("keep_rate") * SAMPLE_SCALE).cast("bigint")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("doc_id").cast("bigint").alias("sum_kept_ids"),
        )
    )
    return rates.join(kept, "source", "left").select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.round("keep_rate", 6).alias("keep_rate"),
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("sum_kept_ids", F.lit(0)).cast("bigint").alias("sum_kept_ids"),
    )


K_FOLDS = 5


@query(
    "kfold_assignment",
    oracle=f"""
    WITH tagged AS (
      SELECT lang,
             {md5_int56_duck("CAST(doc_id AS VARCHAR)")} % {K_FOLDS} AS fold
      FROM documents
    )
    SELECT CAST(fold AS BIGINT) AS fold, lang, COUNT(*) AS n
    FROM tagged GROUP BY fold, lang
    """,
    order_sensitive=True,
)
def q_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{K_FOLDS}-fold cross-validation assignment by key hash,
    reported as per-fold per-language counts.  Same contract as the
    train/test split: a pure projection, append-stable, identical on
    any engine — and the fold of a row never changes when the corpus
    grows, so CV runs are comparable across dataset versions."""
    docs = load_table(spark, sf_dir, "documents")
    fold = F.expr(md5_int56_spark("CAST(doc_id AS STRING)")) % K_FOLDS
    return (
        docs.select(fold.cast("bigint").alias("fold"), "lang")
        .groupBy("fold", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


W_CAP = 2000  # per-doc weight cap = the hash-threshold denominator


@query(
    "importance_weighted_sample",
    oracle=f"""
    WITH w AS (
      SELECT lang, doc_id, LEAST(n_chars, {W_CAP}) AS weight,
             ({md5_int56_duck("(CAST(doc_id AS VARCHAR) || 'iw')")} % {W_CAP}
              < LEAST(n_chars, {W_CAP})) AS kept
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(weight) AS BIGINT) AS sum_weight,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN kept THEN weight ELSE 0 END) AS BIGINT) AS kept_weight,
           CAST(SUM(CASE WHEN kept THEN doc_id ELSE 0 END) AS BIGINT) AS sum_kept_ids
    FROM w GROUP BY lang
    """,
    exchanges=1,  # pure projection filter + report agg
)
def q_importance_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row importance-weighted Bernoulli sampling: each document
    is kept with probability weight/{W_CAP} where weight =
    min(n_chars, {W_CAP}) — longer documents (more training tokens)
    are proportionally more likely to survive, the standard
    token-budget-aware down-sampling step.  Membership is the
    hash-threshold test on a salted key (the 'iw' suffix decouples it
    from the train/test split hash), so it is deterministic,
    append-stable, and bit-identical across engines; expected kept
    mass = sum_weight/{W_CAP} per language, and sum_kept_ids pins
    exact membership, not just counts.

    Scale shape: a single projection + conditional aggregate — zero
    joins, zero state, one shuffle of per-language partials."""
    docs = load_table(spark, sf_dir, "documents")
    weight = F.least("n_chars", F.lit(W_CAP))
    h = F.expr(md5_int56_spark("(CAST(doc_id AS STRING) || 'iw')"))
    w = docs.select(
        "lang",
        "doc_id",
        weight.alias("weight"),
        (h % W_CAP < weight).alias("kept"),
    )
    kept = F.when(F.col("kept"), 1).otherwise(0)
    return w.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("weight").cast("bigint").alias("sum_weight"),
        F.sum(kept).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.col("weight")).otherwise(0)).cast("bigint").alias("kept_weight"),
        F.sum(F.when(F.col("kept"), F.col("doc_id")).otherwise(0)).cast("bigint").alias("sum_kept_ids"),
    )


@query(
    "mixture_token_budget",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      FROM documents
    ),
    t AS (
      SELECT source, COUNT(*) AS n_docs, SUM(tok) AS tokens_total
      FROM d GROUP BY source
    ),
    g AS (SELECT COUNT(*) AS n_sources, SUM(tokens_total) AS grand FROM t),
    rates AS (
      SELECT t.source, t.n_docs, t.tokens_total,
             LEAST({SAMPLE_SCALE}, CAST(
               (CAST(g.grand AS HUGEINT) * {SAMPLE_SCALE})
               // (g.n_sources * t.tokens_total) AS BIGINT)) AS keep_ppm
      FROM t CROSS JOIN g
    ),
    kept AS (
      SELECT d.source, d.doc_id, d.tok
      FROM d JOIN rates r ON r.source = d.source
      WHERE {md5_int56_duck("CAST(doc_id AS VARCHAR)")} % {SAMPLE_SCALE} < r.keep_ppm
    )
    SELECT r.source,
           CAST(r.n_docs AS BIGINT) AS n_docs,
           CAST(r.tokens_total AS BIGINT) AS tokens_total,
           r.keep_ppm,
           CAST(COUNT(k.doc_id) AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(k.tok), 0) AS BIGINT) AS tokens_kept,
           CAST(COALESCE(SUM(k.doc_id), 0) AS BIGINT) AS sum_kept_ids
    FROM rates r LEFT JOIN kept k ON k.source = r.source
    GROUP BY r.source, r.n_docs, r.tokens_total, r.keep_ppm
    """,
    # enum-keyed aggs + rate join-back
    bench=True, exchanges=7, order_sensitive=True,
)
def q_mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted mixture resampling: give every source an equal
    TOKEN budget (grand_total / n_sources) and down-sample
    over-budget sources to it by hash-threshold membership — the
    mixing stage that balances a pretraining corpus by what the model
    actually consumes (tokens), where ``temperature_sample`` balances
    by document counts.

    The keep rate is an exact integer: keep_ppm =
    min(SCALE, (grand * SCALE) div (n_sources * tokens_s)), computed
    in 38-digit integer arithmetic on BOTH engines (DECIMAL(38,0)
    ``div`` in Spark, HUGEINT ``//`` in DuckDB) so the threshold never
    passes through a float — at 100 TB the grand token count times the
    ppm scale overflows int64, which is exactly where a silent
    float64 fallback would start flipping per-document membership.
    sum_kept_ids pins exact membership, not just counts.

    Scale shape: one token-count projection (no shuffle), one
    source-keyed agg (enum-bounded), a broadcast of the 20-row rate
    table back onto the corpus, and a final enum-keyed agg —
    append-stable like every hash sampler here."""
    docs = load_table(spark, sf_dir, "documents")
    tok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    d = docs.select("doc_id", "source", tok.alias("tok"))
    t = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("tok").alias("tokens_total")
    )
    g = t.agg(
        F.count(F.lit(1)).alias("n_sources"), F.sum("tokens_total").alias("grand")
    )
    keep_ppm = F.least(
        F.lit(SAMPLE_SCALE).cast("bigint"),
        F.expr(
            f"(CAST(grand AS DECIMAL(38,0)) * {SAMPLE_SCALE})"
            " div CAST(n_sources * tokens_total AS DECIMAL(38,0))"
        ),
    )
    rates = t.crossJoin(F.broadcast(g)).select(
        "source", "n_docs", "tokens_total", keep_ppm.alias("keep_ppm")
    )
    h = F.expr(md5_int56_spark("CAST(doc_id AS STRING)"))
    kept = (
        d.join(F.broadcast(rates.select("source", "keep_ppm")), "source")
        .filter(h % SAMPLE_SCALE < F.col("keep_ppm"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("tok").cast("bigint").alias("tokens_kept"),
            F.sum("doc_id").cast("bigint").alias("sum_kept_ids"),
        )
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("tokens_total").cast("bigint").alias("tokens_total"),
            F.col("keep_ppm").cast("bigint").alias("keep_ppm"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("tokens_kept", F.lit(0)).cast("bigint").alias("tokens_kept"),
            F.coalesce("sum_kept_ids", F.lit(0)).cast("bigint").alias("sum_kept_ids"),
        )
    )


# ------------------------------------- systematic weighted sampling

SYS_STEP = 1000  # select one threshold per SYS_STEP chars of stratum mass


@query(
    "systematic_weighted_sample",
    oracle=f"""
    WITH cum AS (
      SELECT source, doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS c
      FROM documents
    )
    SELECT source, doc_id, n_chars,
           CAST(c // {SYS_STEP} - (c - n_chars) // {SYS_STEP} AS BIGINT) AS n_units
    FROM cum
    WHERE c // {SYS_STEP} > (c - n_chars) // {SYS_STEP}
    """,
    # one stratum-window shuffle
    bench=True, exchanges=1, order_sensitive=True,
)
def q_systematic_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (fixed-interval) weighted sampling per source
    stratum: lay documents along the cumulative n_chars axis in
    doc_id order and select every document whose span covers a
    multiple of {SYS_STEP} — selection probability proportional to
    length, like the Bernoulli ``importance_weighted_sample``, but
    with ZERO count variance (exactly floor(stratum_mass/{SYS_STEP})
    +-1 selections per stratum, the property mixture builders want
    when a stage must emit a predictable token budget).  ``n_units``
    is the multiplicity for documents longer than the step.

    Everything is integer (cumulative BIGINT sums, floor division) so
    membership is bit-identical across engines — no float ever
    touches the threshold test.

    Scale shape: one window per stratum (strata are few and the
    window is partitioned); at 100 TB replace the single window with
    the per-partition-offset prefix-sum used by ``surrogate_keys`` —
    same arithmetic, two passes, no global sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = docs.select(
        "source", "doc_id", "n_chars", F.sum("n_chars").over(w).alias("c")
    )
    lo = F.expr(f"(c - n_chars) DIV {SYS_STEP}")
    hi = F.expr(f"c DIV {SYS_STEP}")
    return cum.filter(hi > lo).select(
        "source", "doc_id", "n_chars", (hi - lo).cast("bigint").alias("n_units")
    )

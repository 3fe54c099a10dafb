"""String-similarity operators: edit-distance fuzzy matching with
block-bounded self-joins.

The reference validates and normalizes strings imperatively
(Rest_webservice/app/security.py email checks, app/services.py key
building); fuzzy matching is the analytic extension a reference user
needs for entity resolution over the same string columns.

Scale note: the join is blocked (grouped by p_brand), never a free
cross product — the worst case is sum over blocks of |block|², the
standard blocking-key bound for record linkage at scale.  Levenshtein
runs JVM-side (built-in `levenshtein`), no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from ..sources import load_table


@query(
    "fuzzy_part_match",
    oracle="""
    WITH pairs AS (
      SELECT a.p_brand,
             levenshtein(a.p_name, b.p_name) AS lev
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    )
    SELECT p_brand,
           COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN lev <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_close,
           CAST(COALESCE(MIN(CASE WHEN lev <= 4 THEN lev END), -1) AS BIGINT)
             AS min_close_lev,
           CAST(COALESCE(SUM(CASE WHEN lev <= 4 THEN lev END), 0) AS BIGINT)
             AS sum_close_lev
    FROM pairs GROUP BY p_brand
    """,
    # the weighted distinct-name rewrite: all 5 exchanges run over the
    # (brand, name, count) table (64 distinct names) instead of one
    # row-level self-join, and the levenshtein count drops ~160x (7.9s ->
    # ~1.0s at sf0.1)
    bench=True, exchanges=5,
)
def q_fuzzy_part_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-match of part names: per-brand pair counts at
    edit distance ≤ 4 plus min/total distance AMONG CLOSE PAIRS
    (all-integer outputs, so the oracle hash is exact).

    Two bounds keep this feasible at 100 TB: the brand column is the
    blocking key (pairs only within a brand — never an unblocked cross
    join), and the edit distance runs THRESHOLDED —
    ``levenshtein(l, r, 4)`` computes only the 4-wide diagonal band,
    O(k·len) per pair instead of O(len²), returning -1 past the
    threshold.  Statistics are therefore defined over close pairs only
    (far-pair distances are never fully computed — that is the point);
    the oracle states the same semantics by filtering full distances.
    """
    # Weighted-distinct rewrite: row-level pairs factor through the
    # (brand, name) frequency table.  A pair of rows with names (x, y),
    # x != y, contributes exactly like every other (x, y) pair, so the
    # join runs over distinct names with weight c_x*c_y, and same-name
    # pairs (C(c,2) of them, lev 0 — always close) are pure arithmetic.
    # Same output, but #levenshtein calls drops from Σ C(|block|,2) to
    # Σ C(|distinct names in block|,2) — ~160x here, and at 100 TB the
    # distinct-name table is the small side by construction.
    p = load_table(spark, sf_dir, "part").select("p_brand", "p_name")
    g = p.groupBy("p_brand", "p_name").agg(F.count(F.lit(1)).alias("c"))
    a = g.alias("a")
    b = g.alias("b")
    lev_t = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 4)
    w = (F.col("a.c") * F.col("b.c")).cast("bigint")
    cross = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_name") < F.col("b.p_name")),
    ).select(F.col("a.p_brand").alias("p_brand"), w.alias("w"), lev_t.alias("lev_t"))
    close = F.col("lev_t") >= 0
    cross_agg = cross.groupBy("p_brand").agg(
        F.sum(F.when(close, F.col("w")).otherwise(0)).alias("n_close_cross"),
        F.min(F.when(close, F.col("lev_t"))).alias("min_close_cross"),
        F.sum(F.when(close, F.col("w") * F.col("lev_t")).otherwise(0)).alias(
            "sum_close_cross"
        ),
    )
    per_brand = g.groupBy("p_brand").agg(
        F.sum("c").alias("n_rows"),
        F.sum(F.expr("c * (c - 1) div 2")).alias("n_same"),
    )
    # brands with a single part have no pairs: the row-level join form
    # (and the oracle) never emits them, so drop them here too
    out = per_brand.filter(F.col("n_rows") >= 2).join(cross_agg, "p_brand", "left")
    return out.select(
        "p_brand",
        F.expr("n_rows * (n_rows - 1) div 2").cast("bigint").alias("n_pairs"),
        (F.coalesce(F.col("n_close_cross"), F.lit(0)) + F.col("n_same"))
        .cast("bigint")
        .alias("n_close"),
        F.when(F.col("n_same") > 0, F.lit(0))
        .otherwise(F.coalesce(F.col("min_close_cross"), F.lit(-1)))
        .cast("bigint")
        .alias("min_close_lev"),
        F.coalesce(F.col("sum_close_cross"), F.lit(0))
        .cast("bigint")
        .alias("sum_close_lev"),
    )


@query(
    "string_functions",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS upper_name,
           LPAD(CAST(p_partkey AS VARCHAR), 8, '0') AS padded_key,
           REPLACE(p_name, ' ', '_') AS snake_name,
           CAST(LENGTH(p_name) AS BIGINT) AS name_len,
           CAST(STRPOS(p_name, ' ') AS BIGINT) AS space_pos,
           SPLIT_PART(p_name, ' ', 1) AS first_token,
           REVERSE(SPLIT_PART(p_name, ' ', -1)) AS rev_last_token,
           SUBSTRING(p_name, 2, 3) AS mid3,
           CONCAT(p_brand, ':', p_type) AS brand_type
    FROM part
    WHERE p_partkey % 37 = 0
    """,
    exchanges=0,
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function battery (F11 beyond text_quality):
    upper/lpad/replace/length/instr/split/reverse/substring/concat —
    every one a JVM built-in, value-checked against the DuckDB
    equivalents on a deterministic key sample.
    """
    p = load_table(spark, sf_dir, "part")
    toks = F.split(F.col("p_name"), " ")
    return p.filter(F.col("p_partkey") % 37 == 0).select(
        "p_partkey",
        F.upper("p_name").alias("upper_name"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded_key"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("snake_name"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.instr(F.col("p_name"), " ").cast("bigint").alias("space_pos"),
        F.element_at(toks, 1).alias("first_token"),
        F.reverse(F.element_at(toks, -1)).alias("rev_last_token"),
        F.substring("p_name", 2, 3).alias("mid3"),
        F.concat_ws("", F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
    )


@query(
    "regexp_functions",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_numbers,
           COALESCE(regexp_extract(text, '([0-9]+)', 1), '') AS first_number,
           CAST(LENGTH(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT)
             AS len_no_vowels,
           CAST(len(regexp_extract_all(text, '\\b[A-Za-z]{4}\\b')) AS BIGINT)
             AS n_four_letter_words
    FROM documents
    WHERE doc_id % 11 = 0
    """,
    exchanges=0,
)
def q_regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp scalar battery (F11's pattern-matching half):
    count-matches, first-capture extraction, global replace, and
    word-boundary matching — restricted to character-class patterns
    that mean the same thing in Java regex (Spark) and RE2 (DuckDB).

    All four evaluate inside whole-stage codegen on a key-sampled
    scan; no Python in the row path.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id",
        F.regexp_count("text", F.lit(r"[0-9]+")).cast("bigint").alias("n_numbers"),
        F.regexp_extract("text", r"([0-9]+)", 1).alias("first_number"),
        F.length(F.regexp_replace("text", r"[aeiou]", "")).cast("bigint")
        .alias("len_no_vowels"),
        F.regexp_count("text", F.lit(r"\b[A-Za-z]{4}\b")).cast("bigint")
        .alias("n_four_letter_words"),
    )


@query(
    "string_agg_ordered",
    oracle="""
    SELECT p_brand,
           COUNT(*) AS n,
           string_agg(p_name, ',' ORDER BY p_name, p_partkey) AS names
    FROM part
    WHERE p_partkey % 37 = 0
    GROUP BY p_brand
    """,
)
def q_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (SQL:2023 LISTAGG ... WITHIN GROUP)
    on a key sample — the report-formatting aggregate whose output is
    only deterministic WITH the explicit order clause, which is the
    point under the cross-engine hash check.

    Spark evaluates listagg as an ordered aggregate in one
    partial+final pass; no collect, no UDF.
    """
    p = load_table(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_partkey") % 37 == 0)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "listagg(p_name, ',') WITHIN GROUP (ORDER BY p_name, p_partkey)"
            ).alias("names"),
        )
    )


@query(
    "safe_arithmetic",
    # The oracle states Spark's try_* semantics directly: NULL on
    # division-by-zero, un-castable strings, and bigint overflow
    # (DuckDB would promote to HUGEINT, so the overflow expectation
    # is written literally).
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_linenumber - 1 = 0 THEN NULL
                ELSE ROUND(l_extendedprice / (l_linenumber - 1), 6) END AS safe_div,
           TRY_CAST(l_returnflag AS BIGINT) AS bad_cast,
           TRY_CAST(CAST(l_linenumber AS VARCHAR) AS BIGINT) AS good_cast,
           CAST(NULL AS BIGINT) AS overflow_add
    FROM lineitem
    WHERE l_orderkey % 997 = 0
    """,
)
def q_safe_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic battery: try_divide / try_cast / try_add
    — NULL-on-failure semantics instead of job-killing exceptions,
    which is what a 100 TB batch needs (one poisoned row must not
    fail a stage).

    Division-by-zero, an un-castable string, a valid round-trip cast,
    and a guaranteed bigint overflow each produce their defined NULL /
    value; the oracle writes the expected semantics explicitly where
    DuckDB's type promotion would otherwise dodge the overflow.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") % 997 == 0).select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.try_divide(F.col("l_extendedprice"), F.col("l_linenumber") - 1), 6
        ).alias("safe_div"),
        F.expr("try_cast(l_returnflag AS BIGINT)").alias("bad_cast"),
        F.col("l_linenumber").cast("string").cast("bigint").alias("good_cast"),
        F.try_add(F.lit(9223372036854775807), F.col("l_orderkey") + 1)
        .cast("bigint")
        .alias("overflow_add"),
    )

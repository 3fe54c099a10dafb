"""Scalar-function batteries, round-4 closing set.

Covers the function families SURVEY.md §2.8 lists that earlier
batteries (coverage.py `math_functions`/`datetime_functions`,
strings.py `string_functions`/`regexp_functions`) did not yet pin:
URL parsing, three-valued-logic/NULL handling, positional explode, and
FILTER-clause aggregates — plus LIMIT/OFFSET pagination as the O-family
completion (reference: Rest_webservice pagination-style endpoints,
app/routers/analytics.py).

All run on the shared testdata tables with deterministic derived
inputs, so every battery is DuckDB-oracle-checked.  Each stays
JVM-side (no Python UDFs): at 100 TB these are pure narrow map stages
fused into whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from ..sources import load_table


@query(
    "url_functions",
    oracle="""
    -- The URL is built deterministically from document columns, so the
    -- oracle derives the expected parse results straight from those
    -- columns (ground truth), not by mirroring Spark's parser.
    SELECT doc_id,
           'https' AS protocol,
           source || '.example.com' AS host,
           '/docs/' || lang || '/' || CAST(doc_id AS VARCHAR) AS path,
           'lang=' || lang || '&n=' || CAST(n_chars AS VARCHAR) AS query,
           lang AS lang_param,
           's' || CAST(doc_id % 10 AS VARCHAR) AS fragment
    FROM documents
    WHERE doc_id < 40
    ORDER BY doc_id
    """,
    exchanges=1,
)
def q_url_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``parse_url`` battery: PROTOCOL/HOST/PATH/QUERY/QUERY:key/REF.

    URLs are constructed from document columns and parsed back with the
    built-in ``parse_url`` (JVM java.net.URI under the hood); the
    oracle states the expected components directly from the source
    columns, so a parser regression cannot self-confirm.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("lang"),
        F.lit("/"),
        F.col("doc_id"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&n="),
        F.col("n_chars"),
        F.lit("#s"),
        F.col("doc_id") % 10,
    )
    u = docs.select("doc_id", url.alias("u"))
    return u.select(
        "doc_id",
        F.parse_url("u", F.lit("PROTOCOL")).alias("protocol"),
        F.parse_url("u", F.lit("HOST")).alias("host"),
        F.parse_url("u", F.lit("PATH")).alias("path"),
        F.parse_url("u", F.lit("QUERY")).alias("query"),
        F.parse_url("u", F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.parse_url("u", F.lit("REF")).alias("fragment"),
    ).orderBy("doc_id")


@query(
    "null_semantics",
    oracle="""
    -- Three-valued logic over a derived nullable column: every 7th
    -- customer key gets a NULL balance, so each segment genuinely
    -- carries NULLs (~14%) and the battery is non-vacuous.
    WITH t AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE ROUND(CAST(c_acctbal AS DECIMAL(12,2)), 0) END AS bal,
               c_mktsegment
        FROM customer
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(bal) AS BIGINT) AS n_nonnull,
           CAST(SUM(CASE WHEN bal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(SUM(CASE WHEN bal IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nullsafe_eq_null,
           CAST(SUM(CASE WHEN COALESCE(bal, -1) = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_coalesce_default,
           CAST(SUM(CASE WHEN (bal > 0) IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unknown_predicate,
           CAST(ROUND(SUM(COALESCE(bal, 0)), 2) AS DOUBLE) AS sum_ifnull
    FROM t
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    exchanges=2,
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL / three-valued-logic battery: NULLIF, COALESCE, ``<=>``,
    COUNT(col) vs COUNT(*), and UNKNOWN-valued predicates.

    Exercises the exact traps that silently corrupt pipeline metrics:
    COUNT skips NULLs, comparisons to NULL are UNKNOWN (not false),
    and only the null-safe ``<=>`` treats NULL = NULL as true.
    """
    cust = load_table(spark, sf_dir, "customer")
    bal = F.when(
        F.col("c_custkey") % 7 == 0, F.lit(None).cast("decimal(12,2)")
    ).otherwise(F.round(F.col("c_acctbal").cast("decimal(12,2)"), 0))
    t = cust.select("c_custkey", bal.alias("bal"), "c_mktsegment")
    one_if = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return (
        t.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("bal").alias("n_nonnull"),
            one_if(F.col("bal").isNull()).alias("n_null"),
            one_if(F.col("bal").eqNullSafe(F.lit(None).cast("decimal(12,2)")))
            .alias("n_nullsafe_eq_null"),
            one_if(F.coalesce(F.col("bal"), F.lit(-1)) == -1).alias("n_coalesce_default"),
            one_if((F.col("bal") > 0).isNull()).alias("n_unknown_predicate"),
            F.round(F.sum(F.coalesce(F.col("bal"), F.lit(0))), 2)
            .cast("double")
            .alias("sum_ifnull"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "posexplode_tokens",
    oracle="""
    -- DuckDB has no WITH ORDINALITY: pair each token with its 0-based
    -- index via a lateral range() unnest (posexplode is 0-based).
    SELECT d.doc_id,
           CAST(g.i AS INTEGER) AS pos,
           d.toks[CAST(g.i AS INTEGER) + 1] AS tok
    FROM (SELECT doc_id, str_split(text, ' ') AS toks
          FROM documents WHERE doc_id < 8) d,
         LATERAL (SELECT UNNEST(range(0, least(len(d.toks), 12))) AS i) g
    ORDER BY d.doc_id, pos
    """,
    exchanges=1,
)
def q_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode: ``posexplode(split(text))`` with position.

    The generator runs inside the scan stage (no shuffle) — at 100 TB
    the token stream never materializes as a table, it pipelines into
    whatever consumes it.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 8)
    return (
        docs.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
        .filter(F.col("pos") < 12)
        .orderBy("doc_id", "pos")
    )


@query(
    "offset_pagination",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)), 2) AS DOUBLE) AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 40
    """,
    # TakeOrderedAndProject with offset, no exchange
    exchanges=0, order_sensitive=True,
)
def q_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination (page 3 of the price-ranked orders).

    Spark plans ORDER+LIMIT+OFFSET as TakeOrderedAndProject with
    limit+offset pushed together — each partition keeps only its top
    60 candidates, the driver merges and drops the first 40; no global
    sort materializes (the O-family completion next to top-k).
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice").cast("decimal(12,2)"), 2)
            .cast("double")
            .alias("o_totalprice"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .offset(40)
        .limit(20)
    )


@query(
    "filtered_aggregates",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_bulk,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                      FILTER (WHERE l_discount > 0.05), 2) AS DOUBLE) AS rev_discounted,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                      FILTER (WHERE l_discount <= 0.05), 2) AS DOUBLE) AS rev_full,
           CAST(COUNT(DISTINCT l_suppkey) FILTER (WHERE l_returnflag = 'R') AS BIGINT)
             AS n_return_suppliers
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    exchanges=3,  # Expand-based filtered count-distinct + sort
)
def q_filtered_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2003 FILTER-clause aggregates (one pass, many predicates).

    The idiomatic replacement for N filtered subqueries: a single
    grouped aggregate where each measure carries its own predicate —
    one scan, one shuffle, regardless of how many measures pile on.
    """
    li = load_table(spark, sf_dir, "lineitem")
    ext = "CAST(l_extendedprice AS DECIMAL(12,2))"
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("COUNT(*) FILTER (WHERE l_quantity > 25)").alias("n_bulk"),
            F.expr(
                f"CAST(ROUND(SUM({ext}) FILTER (WHERE l_discount > 0.05), 2) AS DOUBLE)"
            ).alias("rev_discounted"),
            F.expr(
                f"CAST(ROUND(SUM({ext}) FILTER (WHERE l_discount <= 0.05), 2) AS DOUBLE)"
            ).alias("rev_full"),
            F.expr(
                "COUNT(DISTINCT l_suppkey) FILTER (WHERE l_returnflag = 'R')"
            ).alias("n_return_suppliers"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "collation_group",
    oracle="""
    -- The case-variant column lowercases back to ``lang``, so grouping
    -- under a case-insensitive collation must reproduce the plain
    -- per-lang counts; if collation failed to merge variants, Spark
    -- would emit ~3x the rows and fail the row-count gate.
    SELECT lang AS lang_ci, CAST(COUNT(*) AS BIGINT) AS n
    FROM documents
    GROUP BY 1
    ORDER BY 1
    """,
    exchanges=2,
)
def q_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive collation grouping (Spark 4 UTF8_LCASE).

    A deterministic case-mangled variant of ``lang`` (upper / initcap /
    as-is by doc_id mod 3) is grouped under the UTF8_LCASE collation;
    comparison/grouping happens in collation space JVM-side — no
    lower() normalization column needed, and at scale the collation key
    participates in hash partitioning like any other grouping key.
    """
    docs = load_table(spark, sf_dir, "documents")
    variant = (
        F.when(F.col("doc_id") % 3 == 0, F.upper("lang"))
        .when(F.col("doc_id") % 3 == 1, F.initcap("lang"))
        .otherwise(F.col("lang"))
    )
    return (
        docs.select(F.collate(variant, "UTF8_LCASE").alias("lang_var"))
        .groupBy("lang_var")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lower(F.col("lang_var")).cast("string").alias("lang_ci"), "n")
        .orderBy("lang_ci")
    )


def _udtf_chunk_oracle() -> str:
    from .text import CHUNK_STRIDE, CHUNK_TOKENS

    return f"""
    -- ground truth: the shared chunk rule's span arithmetic restated
    -- over token counts (constants from operators.text)
    WITH t AS (
      SELECT doc_id, len(str_split(text, ' ')) AS n
      FROM documents WHERE doc_id < 30
    ),
    s AS (
      SELECT t.doc_id, t.n, CAST(g.i AS INTEGER) AS start
      FROM t, LATERAL (SELECT UNNEST(range(0, t.n, {CHUNK_STRIDE})) AS i) g
    )
    SELECT doc_id,
           CAST(start / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           start,
           CAST(LEAST({CHUNK_TOKENS}, n - start) AS INTEGER) AS n_tokens
    FROM s
    WHERE start = 0 OR start + {CHUNK_STRIDE} < n
    ORDER BY doc_id, chunk_idx
    """


@query("udtf_chunk_spans", oracle=_udtf_chunk_oracle(), exchanges=1)
def q_udtf_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (SURVEY §2.10): a table function expanding
    each document's token count into its sliding-window chunk spans —
    the same span rule as ``chunk_documents``, emitted by a registered
    UDTF consumed via SQL LATERAL.

    UDTFs are the one-row-to-N-rows Python escape hatch; here the
    per-row work is O(#chunks) integer arithmetic, and the heavy
    string handling stays JVM-side (only the token COUNT crosses into
    Python) — the right split when a UDTF is genuinely needed.
    """
    from pyspark.sql.functions import udtf

    from .text import CHUNK_STRIDE, CHUNK_TOKENS

    stride, width = CHUNK_STRIDE, CHUNK_TOKENS

    @udtf(returnType="chunk_idx bigint, start int, n_tokens int")
    class ChunkSpans:
        def eval(self, n: int):
            start = 0
            while start < n:
                if start == 0 or start + stride < n:
                    yield start // stride, start, min(width, n - start)
                start += stride

    spark.udtf.register("chunk_spans", ChunkSpans)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    docs.select("doc_id", F.size(F.split("text", " ")).alias("n")).createOrReplaceTempView(
        "udtf_chunk_input"
    )
    return spark.sql(
        """
        SELECT i.doc_id, s.chunk_idx, s.start, s.n_tokens
        FROM udtf_chunk_input i, LATERAL chunk_spans(i.n) s
        ORDER BY i.doc_id, s.chunk_idx
        """
    )


@query(
    "map_functions",
    oracle="""
    -- ground truth restated from the scalar columns: the map is
    -- {len: n_chars, words: |split|, id: doc_id} ++ {extra: 1};
    -- map_filter keeps v > 10, transform_values doubles.
    SELECT doc_id,
           CAST(4 AS INTEGER) AS n_entries,
           CAST((CASE WHEN n_chars > 10 THEN 1 ELSE 0 END)
              + (CASE WHEN len(str_split(text, ' ')) > 10 THEN 1 ELSE 0 END)
              + (CASE WHEN doc_id > 10 THEN 1 ELSE 0 END) AS INTEGER) AS n_big,
           CAST(2 * (n_chars + len(str_split(text, ' ')) + doc_id + 1) AS BIGINT)
             AS sum_doubled,
           'extra,id,len,words' AS keys_csv
    FROM documents
    WHERE doc_id < 50
    ORDER BY doc_id
    """,
    exchanges=1,
)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-function battery beyond map_from_entries/element_at:
    map_from_arrays, map_concat, map_filter, transform_values,
    map_keys, and an aggregate over map_values — the full MapType
    manipulation surface, all JVM higher-order functions.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    m = F.map_from_arrays(
        F.array(F.lit("len"), F.lit("words"), F.lit("id")),
        F.array(
            F.col("n_chars"),
            F.size(F.split("text", " ")).cast("bigint"),
            F.col("doc_id"),
        ),
    )
    full = F.map_concat(m, F.create_map(F.lit("extra"), F.lit(1).cast("bigint")))
    doubled = F.transform_values(full, lambda k, v: v * 2)
    return docs.select(
        "doc_id",
        F.size(full).alias("n_entries"),
        F.size(F.map_filter(full, lambda k, v: v > 10)).alias("n_big"),
        F.aggregate(
            F.map_values(doubled), F.lit(0).cast("bigint"), lambda acc, v: acc + v
        ).alias("sum_doubled"),
        F.array_join(F.array_sort(F.map_keys(full)), ",").alias("keys_csv"),
    ).orderBy("doc_id")


@query(
    "higher_order_functions",
    oracle="""
    -- arr = sequence(1, n) with n = doc_id % 5 + 3, so every lambda
    -- result has a closed form the oracle states arithmetically —
    -- no list machinery mirrored, pure ground truth.
    WITH t AS (
      SELECT doc_id, doc_id % 5 + 3 AS n FROM documents WHERE doc_id < 60
    )
    SELECT doc_id,
           CAST(n * (n + 1) * (2 * n + 1) / 6 AS BIGINT) AS weighted_sum, -- sum i*arr[i] = sum i^2
           CAST(n // 2 AS INTEGER) AS n_even,
           TRUE AS has_big,
           TRUE AS all_in_range,
           CAST(n * (n + 1) AS BIGINT) AS zip_sum,          -- zip with reverse: n+1 each, n times
           CAST(n * (n + 1) AS BIGINT) AS reduced_doubled   -- finish lambda: 2 * sum
    FROM t ORDER BY doc_id
    """,
    exchanges=1,
)
def q_higher_order_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda higher-order-function battery: transform (with index),
    filter, exists, forall, zip_with, and reduce with a finish lambda —
    the full SparkSQL HOF surface over a derived integer array.

    All seven results reduce to closed forms of the array length, so
    the oracle asserts ground truth, not a mirrored implementation.
    HOFs evaluate inside the scan stage (no UDF, no shuffle).
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    t = docs.select("doc_id", (F.col("doc_id") % 5 + 3).cast("int").alias("n"))
    arr = F.sequence(F.lit(1), F.col("n"))
    return t.select(
        "doc_id",
        F.aggregate(
            F.expr("transform(sequence(1, n), (x, i) -> CAST(x AS BIGINT) * (i + 1))"),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("weighted_sum"),
        F.size(F.filter(arr, lambda x: x % 2 == 0)).alias("n_even"),
        F.exists(arr, lambda x: x >= F.col("n")).alias("has_big"),
        F.forall(arr, lambda x: x <= F.col("n")).alias("all_in_range"),
        F.aggregate(
            F.zip_with(arr, F.reverse(arr), lambda a, b: (a + b).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("zip_sum"),
        F.aggregate(
            arr,
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
            lambda acc: acc * 2,
        ).alias("reduced_doubled"),
    ).orderBy("doc_id")


@query(
    "xml_functions",
    oracle="""
    -- XML is constructed from the document columns, so the oracle is
    -- ground truth from those columns (the parse must invert the
    -- construction exactly).
    SELECT doc_id,
           lang AS lang_xp,
           n_chars AS n_xp,
           source AS src_attr,
           CAST(len(str_split(text, ' ')) AS INTEGER) AS n_words
    FROM documents
    WHERE doc_id < 40
    ORDER BY doc_id
    """,
    exchanges=1,
)
def q_xml_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XPath battery (F-surface beyond JSON/VARIANT): xpath_string /
    xpath_long / attribute access / node-list counting over an XML
    payload built from the document columns.

    The third serialization idiom next to `json_extract` and
    `variant_extract`: same columns, same ground-truth oracle shape,
    JVM-side javax.xml evaluation — no Python in the row path.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    words = F.array_join(
        F.transform(F.split("text", " "), lambda w: F.concat(F.lit("<w>"), w, F.lit("</w>"))),
        "",
    )
    xml = F.concat(
        F.lit("<doc src='"),
        F.col("source"),
        F.lit("'><lang>"),
        F.col("lang"),
        F.lit("</lang><n>"),
        F.col("n_chars"),
        F.lit("</n><body>"),
        words,
        F.lit("</body></doc>"),
    )
    t = docs.select("doc_id", xml.alias("x"))
    return t.select(
        "doc_id",
        F.xpath_string("x", F.lit("/doc/lang")).alias("lang_xp"),
        F.xpath_long("x", F.lit("/doc/n")).alias("n_xp"),
        F.xpath_string("x", F.lit("/doc/@src")).alias("src_attr"),
        F.size(F.xpath("x", F.lit("/doc/body/w/text()"))).alias("n_words"),
    ).orderBy("doc_id")


@query(
    "csv_column_parse",
    oracle="""
    -- the CSV line is built from the columns, so parsing it back must
    -- reproduce them (ground truth, not a mirrored parser)
    SELECT doc_id, lang AS lang_c, n_chars AS len_c, source AS src_c
    FROM documents WHERE doc_id < 40 ORDER BY doc_id
    """,
    exchanges=1,
)
def q_csv_column_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``from_csv`` typed in-column parsing — the embedded-CSV twin of
    ``json_schema_parse`` (logs and Kafka payloads routinely carry CSV
    fragments in a string field; parsing stays JVM-side UniVocity,
    never a Python split loop).
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    line = F.concat_ws(",", "lang", "n_chars", "source")
    parsed = docs.select(
        "doc_id",
        F.from_csv(line, F.lit("lang_c STRING, len_c BIGINT, src_c STRING")).alias("s"),
    )
    return parsed.select("doc_id", "s.lang_c", "s.len_c", "s.src_c").orderBy("doc_id")


@query(
    "not_in_null_trap",
    oracle="""
    -- ANSI three-valued logic: NOT IN against a set containing NULL
    -- is never TRUE (x <> NULL is UNKNOWN), so n_not_in = 0 even
    -- though n_not_exists and the null-filtered NOT IN are positive.
    WITH sub AS (SELECT NULLIF(n_regionkey, 3) AS rk FROM nation)
    SELECT
      CAST((SELECT COUNT(*) FROM region
            WHERE r_regionkey NOT IN (SELECT rk FROM sub)) AS BIGINT)
        AS n_not_in,
      CAST((SELECT COUNT(*) FROM region r
            WHERE NOT EXISTS (SELECT 1 FROM sub s WHERE s.rk = r.r_regionkey)) AS BIGINT)
        AS n_not_exists,
      CAST((SELECT COUNT(*) FROM region
            WHERE r_regionkey NOT IN (SELECT rk FROM sub WHERE rk IS NOT NULL)) AS BIGINT)
        AS n_not_in_filtered
    """,
    exchanges=3,  # three scalar subqueries over dim tables
)
def q_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN / NOT EXISTS null trap, executed not just described:
    against a subquery producing a NULL, NOT IN returns zero rows
    (null-aware anti-join semantics), while NOT EXISTS and the
    null-filtered NOT IN return the real complement.

    Catalyst plans the NOT IN as a null-aware anti join (the expensive
    form — one reason production pipelines prefer NOT EXISTS), which
    is exactly the behavior difference this query pins cross-engine.
    """
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH sub AS (SELECT NULLIF(n_regionkey, 3) AS rk FROM nation)
        SELECT
          CAST((SELECT COUNT(*) FROM region
                WHERE r_regionkey NOT IN (SELECT rk FROM sub)) AS BIGINT)
            AS n_not_in,
          CAST((SELECT COUNT(*) FROM region r
                WHERE NOT EXISTS (SELECT 1 FROM sub s WHERE s.rk = r.r_regionkey)) AS BIGINT)
            AS n_not_exists,
          CAST((SELECT COUNT(*) FROM region
                WHERE r_regionkey NOT IN (SELECT rk FROM sub WHERE rk IS NOT NULL)) AS BIGINT)
            AS n_not_in_filtered
        """
    )


@query(
    "pipe_syntax_query",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
    FROM orders
    WHERE o_totalprice > 300000
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    exchanges=2,
)
def q_pipe_syntax_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 ``|>`` operators): the same relational
    pipeline as the classic form, written as FROM → WHERE → AGGREGATE →
    ORDER BY stages.  Pure parser surface — the logical plan (and so
    the physical plan) is identical to the classic query, which is
    exactly what the oracle asserts.
    """
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM orders
        |> WHERE o_totalprice > 300000
        |> AGGREGATE COUNT(*) AS n,
                     CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, CAST(n AS BIGINT) AS n, total
        |> ORDER BY o_orderpriority
        """
    )


@query(
    "sql_variables_query",
    oracle="""
    -- the variable is set to the 'BUILDING'-segment customer count;
    -- the oracle inlines the same scalar
    WITH v AS (
      SELECT COUNT(*) AS thr FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           CAST((SELECT thr FROM v) AS BIGINT) AS threshold_used
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n_name
    HAVING COUNT(*) * 25 > (SELECT thr FROM v)
    ORDER BY n_name
    """,
    exchanges=2,
)
def q_sql_variables_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4 DECLARE / SET VARIABLE):
    a scalar computed once into a session variable, then consumed by a
    later statement — the multi-statement parameterization idiom
    (dashboards, jobs passing thresholds between steps).

    The variable holds the BUILDING-segment customer count; nations
    keep rows only when their customer count (x25) beats it.  The
    oracle inlines the same scalar via a CTE.
    """
    from ..sources import register_views

    register_views(spark, sf_dir)
    spark.sql("DECLARE OR REPLACE VARIABLE bd3_thr BIGINT DEFAULT 0")
    spark.sql(
        "SET VARIABLE bd3_thr = "
        "(SELECT COUNT(*) FROM customer WHERE c_mktsegment = 'BUILDING')"
    )
    return spark.sql(
        """
        SELECT n_name,
               CAST(COUNT(*) AS BIGINT) AS n_custs,
               CAST(bd3_thr AS BIGINT) AS threshold_used
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n_name, bd3_thr
        HAVING COUNT(*) * 25 > bd3_thr
        ORDER BY n_name
        """
    )


@query(
    "sql_scripting_query",
    oracle="""
    -- the script doubles the cutoff from 1000 until >= 90% of orders
    -- fall below it; the oracle evaluates the whole doubling ladder
    -- declaratively and picks the first qualifying rung
    WITH n AS (SELECT COUNT(*) AS n_total FROM orders),
    cands AS (SELECT 1000.0 * POWER(2, CAST(i AS INTEGER)) AS cutoff
              FROM range(0, 20) r(i)),
    q AS (
      SELECT c.cutoff,
             (SELECT COUNT(*) FROM orders o
               WHERE CAST(o.o_totalprice AS DOUBLE) < c.cutoff) AS n_below,
             n.n_total
      FROM cands c, n
    )
    SELECT cutoff AS price_cutoff,
           CAST(n_below AS BIGINT) AS n_below,
           CAST(n_total AS BIGINT) AS n_total
    FROM q WHERE n_below * 10 >= n_total * 9
    ORDER BY cutoff LIMIT 1
    """,
    exchanges=0,  # final SELECT is scalar subqueries
)
def q_sql_scripting_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN/DECLARE/WHILE): a data-dependent
    control-flow loop entirely in SQL — double a price cutoff until it
    covers >= 90% of orders, then report the rung and its coverage.
    This is the migration target for stored-procedure logic
    (Teradata/Oracle PL blocks) that previously needed driver-side
    Python around Spark.

    Each WHILE probe is one COUNT over the orders view; the loop runs
    a handful of iterations regardless of table size, so the pattern
    costs O(log(range)) scans — and each scan is a distributed job,
    nothing accumulates on the driver.  The oracle replays the whole
    doubling ladder declaratively and picks the first qualifying rung,
    which must equal the loop's exit state."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        BEGIN
          DECLARE cutoff DOUBLE DEFAULT 1000.0;
          WHILE (SELECT COUNT(*) FROM orders
                  WHERE CAST(o_totalprice AS DOUBLE) < cutoff) * 10 <
                (SELECT COUNT(*) FROM orders) * 9 DO
            SET cutoff = cutoff * 2;
          END WHILE;
          SELECT cutoff AS price_cutoff,
                 CAST((SELECT COUNT(*) FROM orders
                        WHERE CAST(o_totalprice AS DOUBLE) < cutoff) AS BIGINT)
                   AS n_below,
                 CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_total;
        END
        """
    )

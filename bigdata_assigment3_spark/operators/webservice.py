"""Event-analytics operators (reference: Rest_webservice/).

Re-expresses the REST service's analytics over the driver's ``events``
table (event_id, ts, user_id, event_type, value, props-JSON).  The
reference's "basket" was one event's ``payload.symptom_codes`` list
(Rest_webservice/app/services.py:16-23); here a basket is the set of
event_types one user produced in one day — the same market-basket
shape on the actual testdata schema.

Scale notes: every query below is one declarative plan — Catalyst
pushes filters/pruning into the parquet scan, aggregations run
partial+final (map-side combine), and the only shuffles are on the
grouping/join keys.  Skewed users/types are handled by AQE skew-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from ..sources import load_table

MIN_SUPPORT = 5
BURST = 5


@query(
    "frequent_pairs",
    oracle=f"""
    WITH base AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type FROM events
    )
    SELECT a.event_type || ',' || b.event_type AS pair,
           COUNT(*) AS support
    FROM base a
    JOIN base b ON a.user_id = b.user_id AND a.d = b.d
               AND a.event_type < b.event_type
    GROUP BY 1
    HAVING COUNT(*) >= {MIN_SUPPORT}
    """,
    bench=True, exchanges=3,
)
def q_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket frequent pairs (flagship; ref app/services.py:16-23).

    explode-to-baskets -> dedup -> theta self-join (a<b) -> hash agg ->
    HAVING -> key format.  The reference materialized all events in
    Python and Counter-aggregated pairs; here the same computation is a
    self-equi-join on the basket key that Spark shuffles on
    (user_id, d) — bounded fan-out per basket (|event_type| is small),
    AQE handles hot users.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select("user_id", F.to_date("ts").alias("d"), "event_type").distinct()
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.d") == F.col("b.d"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    )
    return (
        pairs.groupBy(F.col("a.event_type").alias("ta"), F.col("b.event_type").alias("tb"))
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= MIN_SUPPORT)
        .select(F.concat_ws(",", "ta", "tb").alias("pair"), "support")
    )


@query(
    "features_topk",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY n DESC, event_type
    LIMIT 5
    """,
)
def q_features_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 event types by occurrence (ref app/services.py:25-30 most_common(5)).

    groupBy.count + orderBy desc + limit — Spark executes this as a
    TakeOrdered (per-partition top-k, no full sort).  Tie-break on
    event_type keeps the result deterministic for hashing.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("event_type"))
        .limit(5)
    )


@query(
    "event_totals",
    oracle="""
    SELECT COUNT(DISTINCT event_type) AS n_types,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 3) AS DOUBLE) AS total_value
    FROM events
    """,
    exchanges=2,
)
def q_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global distinct/count/sum stats (ref app/services.py:31-32).

    Exact count-distinct here (oracle-checked); at 100 TB swap in
    approx_count_distinct — exposed separately so the checked query
    stays deterministic.  Sum runs in DECIMAL so the oracle hash
    can't drift on float association order, then returns DOUBLE.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.countDistinct("event_type").alias("n_types"),
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 3).cast("double").alias("total_value"),
    )


@query(
    "segment_derive",
    oracle="""
    SELECT 'type:' || event_type || '|geo:' ||
           COALESCE(CASE WHEN user_id % 7 = 0 THEN NULL
                         ELSE 'G' || CAST(user_id % 3 AS VARCHAR) END, 'UNK') ||
           '|val:' || (CASE WHEN value < 30 THEN 'y'
                            WHEN value < 100 THEN 'm'
                            ELSE 's' END) AS segment,
           COUNT(*) AS n
    FROM events
    GROUP BY 1
    """,
    bench=True,
)
def q_segment_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-string derivation (ref app/services.py:8-14 build_segment).

    coalesce-defaulting + CASE bucketing + concat, exactly the
    reference's role/geo/age recipe; NULL geo branch exercises the
    COALESCE default ('UNK').  Pure column expressions — whole-stage
    codegen, no UDF.
    """
    ev = load_table(spark, sf_dir, "events")
    geo = F.when(F.col("user_id") % 7 == 0, F.lit(None)).otherwise(
        F.concat(F.lit("G"), (F.col("user_id") % 3).cast("string"))
    )
    val_bucket = (
        F.when(F.col("value") < 30, "y").when(F.col("value") < 100, "m").otherwise("s")
    )
    segment = F.concat(
        F.lit("type:"), F.col("event_type"),
        F.lit("|geo:"), F.coalesce(geo, F.lit("UNK")),
        F.lit("|val:"), val_bucket,
    )
    return ev.select(segment.alias("segment")).groupBy("segment").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "point_lookup",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events
    WHERE event_id = 123
    """,
    exchanges=0,  # scan + pushed filter only
)
def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PK point lookup + projection (ref app/routers.py:105 get-by-id).

    The equality predicate reaches the parquet scan (PushedFilters:
    [EqualTo(event_id,123)]) so at scale only row groups whose
    min/max straddle 123 are read; projection prunes to 4 columns.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") == 123).select(
        "event_id", "user_id", "event_type", F.col("value").cast("double").alias("value")
    )


@query(
    "delete_anti_join",
    oracle="""
    WITH doomed AS (
        SELECT user_id FROM events
        WHERE event_type = 'error'
        GROUP BY user_id HAVING COUNT(*) >= 16
    )
    SELECT e.event_type, COUNT(*) AS n
    FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM doomed d WHERE d.user_id = e.user_id)
    GROUP BY e.event_type
    """,
)
def q_delete_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-as-anti-join (ref app/routers.py:152-153 db.delete).

    "Delete every event of users with >= 16 error events" — the
    delete-key set is a DataFrame, removal is a left_anti join (the
    Spark-native form of DELETE WHERE IN).  The key set grows ~SF, so
    broadcast-vs-shuffle is the planner's call (broadcast at test
    scale; shuffled anti-join when the doomed set outgrows it).
    """
    ev = load_table(spark, sf_dir, "events")
    doomed = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_err"))
        .filter(F.col("n_err") >= 16)
        .select("user_id")
    )
    kept = ev.join(doomed, "user_id", "left_anti")
    return kept.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@query(
    "upsert_merge",
    oracle="""
    WITH u AS (
        SELECT o_custkey, COUNT(*) AS n_orders
        FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12
    )
    SELECT CASE WHEN u.o_custkey IS NOT NULL THEN 'VIP'
                ELSE c.c_mktsegment END AS segment,
           COUNT(*) AS n_customers,
           CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))), 3) AS DOUBLE) AS acctbal
    FROM customer c LEFT JOIN u ON c.c_custkey = u.o_custkey
    GROUP BY 1
    """,
)
def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style partial update (ref app/routers.py:124-136 PUT /users).

    Emulates MERGE INTO without Delta: left-join target to the update
    set, per-column ``when(matched, new).otherwise(old)``.  Update set
    (high-order-count customers) is aggregated first so the join side
    is small -> broadcast.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    updates = (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 12)
    )
    merged = cust.join(updates, cust.c_custkey == updates.o_custkey, "left")
    segment = F.when(F.col("o_custkey").isNotNull(), "VIP").otherwise(F.col("c_mktsegment"))
    return (
        merged.select(segment.alias("segment"), "c_acctbal")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 3).cast("double").alias("acctbal"),
        )
    )


@query(
    "rate_limit_window",
    oracle=f"""
    WITH w AS (
        SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS window_start,
               user_id, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT window_start, user_id, n,
           CASE WHEN n > {BURST} THEN n - {BURST} ELSE 0 END AS rejected
    FROM w
    WHERE n > {BURST}
    """,
    bench=True, exchanges=1,
)
def q_rate_limit_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rate limiting, batch form (ref app/rate_limit.py:31-53).

    The reference's fixed window ``now // per`` with burst cap is a
    tumbling-window count per key; rows over the cap are the rejects.
    The streaming variant (streaming/queries.py) adds the watermark =
    the reference's ``per*2`` key TTL.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("day", "ts")).alias("window_start"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return w.filter(F.col("n") > BURST).select(
        "window_start",
        "user_id",
        "n",
        (F.col("n") - BURST).alias("rejected"),
    )


@query(
    "request_metrics",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(value), 4) AS avg_value,
           ROUND(quantile_cont(CAST(value AS DOUBLE), 0.5), 4) AS p50,
           ROUND(quantile_cont(CAST(value AS DOUBLE), 0.95), 4) AS p95
    FROM events
    GROUP BY event_type
    """,
)
def q_request_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-route latency metrics (ref app/middleware.py:18-29 request_logs).

    Exact percentiles for the oracle check; the 100 TB path uses
    percentile_approx (single-pass sketch, no sort) — same plan shape.
    """
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("double")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double") / F.count("value"), 4).alias("avg_value"),
        F.round(F.expr("percentile(CAST(value AS DOUBLE), 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(CAST(value AS DOUBLE), 0.95)"), 4).alias("p95"),
    )


@query(
    "json_extract",
    oracle="""
    -- TRY_CAST via DOUBLE then FLOOR: identical semantics in both
    -- engines for non-integer or malformed k (NULL bucket), where a
    -- direct string->int cast crashes Spark under ANSI and ROUNDS in
    -- DuckDB
    SELECT CAST(FLOOR(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) / 10) AS BIGINT) AS k_bucket,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 3) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
    bench=True,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload extraction (ref app/services.py:20 payload JSON).

    get_json_object pulls the field without a Python UDF; bucketing +
    aggregation stays in codegen.  The extracted string goes through
    try_cast-to-DOUBLE then FLOOR in BOTH engines: a direct
    string->int cast would crash Spark under ANSI on a non-integer k
    while DuckDB rounds it — try/double/floor agree everywhere
    (malformed k -> NULL bucket).
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("double")
    return (
        ev.select(F.floor(k / 10).cast("bigint").alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 3).cast("double").alias("total_value"),
        )
    )


@query(
    "daily_activity",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d, event_type, COUNT(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def q_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed activity counts (ref app/rate_limit.py:33 window = now//per).

    Date-grain tumbling buckets; at scale this is the query you'd
    partition the table by (partition pruning on d).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_EMAIL_RE = "^[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}$"

# Derived email fixture over customer: one third well-formed, one third
# keeps c_name's '#' (invalid char), one third malformed domain.
_EMAIL_EXPR = """
CASE WHEN c_custkey % 3 = 0
       THEN REPLACE(LOWER(c_name), '#', '.') || '@example.com'
     WHEN c_custkey % 3 = 1
       THEN LOWER(c_name) || '@example.com'
     ELSE REPLACE(LOWER(c_name), '#', '.') || '@@example'
END
"""


@query(
    "email_validation",
    oracle=f"""
    SELECT regexp_matches(email, '{_EMAIL_RE}') AS valid,
           COUNT(*) AS n, MIN(email) AS sample_email
    FROM (SELECT {_EMAIL_EXPR} AS email FROM customer)
    GROUP BY 1
    """,
)
def q_email_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email-format validation as a regex check constraint (SURVEY F13;
    ref app/schemas.py:8,17 EmailStr validates at the wire boundary).

    The regex runs inside codegen (rlike, JVM-side); at ingest scale
    this is the quarantine predicate that splits a feed into
    valid/reject partitions with one scan.
    """
    cust = load_table(spark, sf_dir, "customer")
    email = F.expr(_EMAIL_EXPR)  # '||' concat parses identically in Spark SQL
    return (
        cust.select(email.alias("email"))
        .groupBy(F.col("email").rlike(_EMAIL_RE).alias("valid"))
        .agg(F.count(F.lit(1)).alias("n"), F.min("email").alias("sample_email"))
    )


@query(
    "frequent_triples",
    oracle="""
    WITH d AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    ok AS (
      SELECT o FROM d GROUP BY o HAVING COUNT(*) BETWEEN 3 AND 64
    ),
    dd AS (SELECT d.o, d.p FROM d JOIN ok USING (o))
    SELECT a.p AS p1, b.p AS p2, c.p AS p3, COUNT(*) AS support
    FROM dd a
    JOIN dd b ON a.o = b.o AND a.p < b.p
    JOIN dd c ON b.o = c.o AND b.p < c.p
    GROUP BY 1, 2, 3
    ORDER BY support DESC, p1, p2, p3
    LIMIT 10
    """,
    bench=True, exchanges=2,
)
def q_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets over order baskets — the Apriori step above
    frequent_pairs.

    Spark side builds each basket ONCE (one shuffle on l_orderkey,
    sorted distinct part array) and generates the C(s,3) combinations
    basket-locally with chained posexplode+slice — no triple self-join
    fan-out through the shuffle, and the 3..64 basket-size band bounds
    the per-row blowup (the same DF_CAP idea as dedup's inverted
    index).  The oracle states the equivalent triple self-join.  Full
    ordering (support DESC, p1, p2, p3) makes the top-10 cut
    deterministic in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select("l_orderkey", "l_partkey").distinct()
    baskets = (
        d.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("items"))
        .filter((F.size("items") >= 3) & (F.size("items") <= 64))
    )
    s1 = baskets.select("l_orderkey", "items", F.posexplode("items").alias("i", "p1"))
    s2 = s1.select(
        "l_orderkey", "p1", F.expr("slice(items, i + 2, size(items))").alias("rest1")
    )
    s3 = s2.select("l_orderkey", "p1", "rest1", F.posexplode("rest1").alias("j", "p2"))
    s4 = s3.select(
        "l_orderkey", "p1", "p2",
        F.explode(F.expr("slice(rest1, j + 2, size(rest1))")).alias("p3"),
    )
    return (
        s4.groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.col("support").desc(), "p1", "p2", "p3")
        .limit(10)
    )


# --------------------------------------------- security hashing (F12)

# RFC-published test vectors = independent ground truth the value gate
# can pin as literals (the one way to oracle a KDF without the oracle
# re-running the same library): PBKDF2-HMAC-SHA1 from RFC 6070 §2,
# HMAC-SHA256 from RFC 4231 §4.2-4.3, SHA-2 from the NIST FIPS 180-2
# examples, and the complete JWS compact serialization from RFC 7515
# Appendix A.1.  Inputs are hex-encoded so embedded NUL bytes survive
# the plan as plain strings.
_SEC_CASES = [
    # (case_id, kind, in1_hex_or_b64, in2_hex_or_text, iters, dklen)
    ("pbkdf2_sha1_rfc6070_c1", "pbkdf2", "70617373776f7264", "73616c74", 1, 20),
    ("pbkdf2_sha1_rfc6070_c2", "pbkdf2", "70617373776f7264", "73616c74", 2, 20),
    ("pbkdf2_sha1_rfc6070_c4096", "pbkdf2", "70617373776f7264", "73616c74", 4096, 20),
    (
        "pbkdf2_sha1_rfc6070_long", "pbkdf2",
        "70617373776f726450415353574f524470617373776f7264",
        "73616c7453414c5473616c7453414c5473616c7453414c5473616c7453414c5473616c74",
        4096, 25,
    ),
    ("pbkdf2_sha1_rfc6070_nul", "pbkdf2", "7061737300776f7264", "7361006c74", 4096, 16),
    ("hmac_sha256_rfc4231_tc1", "hmac", "0b" * 20, "4869205468657265", 0, 0),
    (
        "hmac_sha256_rfc4231_tc2", "hmac", "4a656665",
        "7768617420646f2079612077616e7420666f72206e6f7468696e673f", 0, 0,
    ),
    ("sha256_fips180_abc", "sha256", "", "616263", 0, 0),
    ("sha512_fips180_abc", "sha512", "", "616263", 0, 0),
    (
        "jwt_hs256_rfc7515_a1", "jwt",
        "AyM1SysPpbyDfgZld3umj1qzKObwVMkoqQ-EstJQLr_T-1qS0gZH75aKtMN3Yj0iPS4hcgUuTwjAzZr1Z9CAow",
        "eyJ0eXAiOiJKV1QiLA0KICJhbGciOiJIUzI1NiJ9."
        "eyJpc3MiOiJqb2UiLA0KICJleHAiOjEzMDA4MTkzODAsDQogImh0dHA6Ly9leGFt"
        "cGxlLmNvbS9pc19yb290Ijp0cnVlfQ",
        0, 0,
    ),
]


@query(
    "security_hash_battery",
    oracle="""
    SELECT * FROM (VALUES
      ('pbkdf2_sha1_rfc6070_c1',    '0c60c80f961f0e71f3a9b524af6012062fe037a6'),
      ('pbkdf2_sha1_rfc6070_c2',    'ea6c014dc72d6f8ccd1ed92ace1d41f0d8de8957'),
      ('pbkdf2_sha1_rfc6070_c4096', '4b007901b765489abead49d926f721d065a429c1'),
      ('pbkdf2_sha1_rfc6070_long',  '3d2eec4fe41c849b80c8d83662c0e44a8b291a964cf2f07038'),
      ('pbkdf2_sha1_rfc6070_nul',   '56fa6aa75548099dcc37d7f03425e0c3'),
      ('hmac_sha256_rfc4231_tc1',   'b0344c61d8db38535ca8afceaf0bf12b881dc200c9833da726e9376c2e32cff7'),
      ('hmac_sha256_rfc4231_tc2',   '5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843'),
      ('sha256_fips180_abc',        'ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad'),
      ('sha512_fips180_abc',        'ddaf35a193617abacc417349ae20413112e6fa4e89a97ea20a9eeee64b55d39a2192992a274fc1a836ba3c23a3feebbd454d4423643ce80e2a9ac94fa54ca49f'),
      ('jwt_hs256_rfc7515_a1',
       'eyJ0eXAiOiJKV1QiLA0KICJhbGciOiJIUzI1NiJ9.eyJpc3MiOiJqb2UiLA0KICJleHAiOjEzMDA4MTkzODAsDQogImh0dHA6Ly9leGFt'
       || 'cGxlLmNvbS9pc19yb290Ijp0cnVlfQ.dBjftJeZ4CVP-mB92K27uhbUJU1p1r_wW1gFWFOEjXk')
    ) t(case_id, result)
    """,
    bench=True, exchanges=0,
)
def q_security_hash_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 complete: the reference's security layer — PBKDF2 password
    hashing and HS256 JWT minting (`Rest_webservice/app/security.py:
    19-44`) — computed DISTRIBUTED with the stdlib (hashlib.pbkdf2_hmac,
    hmac, base64) in an Arrow-batched pandas UDF, and value-gated
    against RFC-PUBLISHED test vectors (RFC 6070, RFC 4231, FIPS 180-2,
    RFC 7515 A.1): the oracle pins the spec's own expected outputs as
    literals, so Spark's results are checked against ground truth no
    library on either side produced.

    Scale shape: a credential backfill / token mint over N users is
    embarrassingly parallel — one row per identity, Arrow batches,
    zero shuffles; PBKDF2's iteration cost is the intentional work
    factor, so the job is CPU-bound by design and scales linearly with
    executors.  (A UDF is the HONEST plan here: a KDF is not
    expressible as Catalyst expressions, and must not be.)"""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def digest(kind, in1, in2, iters, dklen):
        import base64
        import hashlib
        import hmac as _hmac

        out = []
        for k, a, b, it, dl in zip(kind, in1, in2, iters, dklen):
            if k == "pbkdf2":
                out.append(
                    hashlib.pbkdf2_hmac(
                        "sha1", bytes.fromhex(a), bytes.fromhex(b), int(it), int(dl)
                    ).hex()
                )
            elif k == "hmac":
                out.append(
                    _hmac.new(bytes.fromhex(a), bytes.fromhex(b), hashlib.sha256).hexdigest()
                )
            elif k in ("sha256", "sha512"):
                out.append(getattr(hashlib, k)(bytes.fromhex(b)).hexdigest())
            elif k == "jwt":
                key = base64.urlsafe_b64decode(a + "==")
                sig = base64.urlsafe_b64encode(
                    _hmac.new(key, b.encode("ascii"), hashlib.sha256).digest()
                ).rstrip(b"=").decode("ascii")
                out.append(f"{b}.{sig}")
            else:
                raise ValueError(f"unknown case kind {k!r}")
        return pd.Series(out)

    cases = spark.createDataFrame(
        _SEC_CASES, "case_id STRING, kind STRING, in1 STRING, in2 STRING, iters INT, dklen INT"
    )
    return cases.select(
        "case_id",
        digest("kind", "in1", "in2", "iters", "dklen").alias("result"),
    )

"""Mergeable sketch operators: count-min, Bloom filter, HyperLogLog.

The 100 TB toolkit's probabilistic layer, built so the sketches are
EXACTLY reproducible across engines: every hash is the portable
md5-int56 (functions/hashing.py) and every counter is an additive
integer aggregate, so the full sketch state — not a property of it —
sits under the DuckDB value gate.  That additivity is also precisely
what makes these sketches mergeable across partitions/executors with
no coordination: a counter array is a groupBy-sum, a bit set is a
groupBy-max, both map-side combinable.

(Complements `hll_distinct_audit`'s NDV contract in coverage.py and
Spark's own runtime bloom-filter injection, plan-asserted in
tests/test_plans.py — here the sketches are first-class DATA.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.hashing import md5_int56_duck, md5_int56_spark
from ..registry import query
from ..sources import load_table

CMS_D, CMS_W = 4, 64  # depth (independent hashes) x width (buckets)


def _cms_hash_spark(depth_col: str, key: str) -> str:
    return f"{md5_int56_spark(f'CONCAT(CAST({depth_col} AS STRING), {key})')} % {CMS_W}"


def _cms_hash_duck(depth_col: str, key: str) -> str:
    return f"{md5_int56_duck(f'CAST({depth_col} AS VARCHAR) || {key}')} % {CMS_W}"


@query(
    "cms_heavy_hitters",
    oracle=f"""
    WITH keys AS (SELECT DISTINCT event_type FROM events),
    depths AS (SELECT CAST(d.id AS INTEGER) AS depth FROM range({CMS_D}) d(id)),
    counters AS (
      SELECT depth, {_cms_hash_duck('depth', 'event_type')} AS bucket,
             COUNT(*) AS c
      FROM events, depths GROUP BY 1, 2
    ),
    exact AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
    est AS (
      SELECT k.event_type,
             MIN(c.c) AS cms_estimate
      FROM keys k
      JOIN depths d ON TRUE
      JOIN counters c
        ON c.depth = d.depth
       AND c.bucket = {_cms_hash_duck('d.depth', 'k.event_type')}
      GROUP BY 1
    )
    SELECT e.event_type,
           CAST(x.n AS BIGINT) AS exact_count,
           CAST(e.cms_estimate AS BIGINT) AS cms_estimate,
           e.cms_estimate >= x.n AS never_undercounts
    FROM est e JOIN exact x USING (event_type)
    """,
    # sketch built from checkpointed per-key counts: one corpus scan,
    # keyspace-sized exchanges only
    bench=True, exchanges=2,
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the events stream — the heavy-hitter /
    frequency-estimation sketch every streaming telemetry pipeline
    carries.  {CMS_D} independent md5-derived hash rows x {CMS_W}
    buckets of ADDITIVE counters (one groupBy-sum: map-side combined,
    mergeable across any partitioning, which is the whole point at
    scale), then each key's estimate = min over rows of its bucket
    counter.  Returned per key: exact count, CMS estimate, and the
    sketch's defining one-sided guarantee (estimate >= exact, never
    under) — all value-oracled, because with portable hashes the
    ENTIRE sketch state is deterministic, not just its error bound.

    At 100 TB the counter matrix is {CMS_D}x{CMS_W} integers per
    executor merged by one tiny shuffle — constant state for unbounded
    input, the sketch trade."""
    from ..session import lineage_checkpoint

    ev = load_table(spark, sf_dir, "events")
    depths = spark.range(CMS_D).select(F.col("id").cast("int").alias("depth"))
    # Build the counter matrix from the per-key partial counts, not
    # from raw rows (round 15): the bucket hash depends only on
    # (depth, key), and CMS counters are ADDITIVE, so summing the
    # already-aggregated per-type counts into buckets yields the
    # bit-identical sketch while hashing |keys| x {CMS_D} values
    # instead of |events| x {CMS_D}.  This is the map-side-combine
    # shape stated in the docstring taken to its limit:
    # partial-aggregate per key first, then sketch the (key, count)
    # pairs — at 100 TB one corpus pass and a per-key hash, never a
    # per-row hash.  The exact table is KEYSPACE-sized (one row per
    # event type), and its three consumers (counter build, probe set,
    # final join) are distinct subtrees Spark cannot reuse — so
    # materialize it once: the whole query is then ONE corpus scan +
    # one corpus exchange (inside the checkpoint) + two keyspace-sized
    # exchanges, down from three corpus scans / four exchanges.
    exact = lineage_checkpoint(
        ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    )
    counters = (
        exact.crossJoin(F.broadcast(depths))
        .select(
            "depth",
            F.expr(_cms_hash_spark("depth", "event_type")).alias("bucket"),
            "n",
        )
        .groupBy("depth", "bucket")
        .agg(F.sum("n").alias("c"))
    )
    keys = exact.select("event_type").crossJoin(F.broadcast(depths))
    probes = keys.select(
        "event_type",
        "depth",
        F.expr(_cms_hash_spark("depth", "event_type")).alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(counters), ["depth", "bucket"])
        .groupBy("event_type")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return est.join(exact, "event_type").select(
        "event_type",
        F.col("n").cast("bigint").alias("exact_count"),
        F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
        (F.col("cms_estimate") >= F.col("n")).alias("never_undercounts"),
    )


BLOOM_M, BLOOM_K = 4096, 3  # bits, hash functions


def _bloom_bit_spark(k: int, key: str) -> str:
    expr = "CONCAT('b" + str(k) + ":', " + key + ")"
    return f"{md5_int56_spark(expr)} % {BLOOM_M}"


def _bloom_bit_duck(k: int, key: str) -> str:
    expr = "'b" + str(k) + ":' || " + key
    return f"{md5_int56_duck(expr)} % {BLOOM_M}"


@query(
    "bloom_filter_audit",
    oracle=f"""
    WITH members AS (
      SELECT DISTINCT c_custkey FROM customer WHERE c_custkey % 7 = 0
    ),
    bits AS (
      {' UNION '.join(
          f"SELECT DISTINCT {_bloom_bit_duck(k, 'CAST(c_custkey AS VARCHAR)')} AS bit FROM members"
          for k in range(BLOOM_K)
      )}
    ),
    probes AS (
      SELECT c_custkey AS probe_key, c_custkey % 7 = 0 AS is_member
      FROM customer
    ),
    verdicts AS (
      SELECT p.probe_key, p.is_member,
             {' AND '.join(
                 f"EXISTS (SELECT 1 FROM bits WHERE bit = {_bloom_bit_duck(k, 'CAST(p.probe_key AS VARCHAR)')})"
                 for k in range(BLOOM_K)
             )} AS bloom_positive
      FROM probes p
    )
    SELECT is_member,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN bloom_positive THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
           BOOL_AND(NOT is_member OR bloom_positive) AS no_false_negatives
    FROM verdicts GROUP BY 1
    """,
    exchanges=1,  # ship-the-filter: zero probe-side joins
)
def q_bloom_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom filter as DATA: build an {BLOOM_M}-bit /
    {BLOOM_K}-hash filter over a member set (every 7th customer), probe
    EVERY customer key through it, and return per membership class the
    probe counts, bloom positives, and the structure's defining
    guarantee (zero false negatives) — the sketch you ship to a remote
    join site instead of the key list.  Portable md5 bit positions make
    the filter bit-for-bit reproducible, so the oracle rebuilds the
    identical filter and the false-POSITIVE count (not just its bound)
    is value-checked.

    Scale design: the bit set is a DISTINCT of integers (groupBy-max
    mergeable, map-side combined); probing is a semi-join against
    {BLOOM_M} distinct bit rows — broadcastable at any corpus size.
    This is the portable cousin of the runtime bloom Spark injects in
    joins (plan-asserted in tests/test_plans.py)."""
    cust = load_table(spark, sf_dir, "customer")
    key = "CAST(c_custkey AS STRING)"
    # BUILD: one distributed pass over the members (explode the K bit
    # positions, one distinct), then SHIP THE FILTER — collecting a
    # <=BLOOM_M-int bit set to the driver is the bloom deployment model
    # itself (constant size by construction, independent of member
    # count), and probing becomes a scan-side literal lookup with zero
    # joins and zero probe-side shuffles.
    bit_exprs = [F.expr(_bloom_bit_spark(k, key)) for k in range(BLOOM_K)]
    bits_set = sorted(
        r.bit
        for r in cust.filter("c_custkey % 7 = 0")
        .select(F.explode(F.array(*bit_exprs)).alias("bit"))
        .distinct()
        .collect()
    )
    bits_lit = F.lit(bits_set)

    probes = cust.select(
        F.col("c_custkey").alias("probe_key"),
        (F.col("c_custkey") % 7 == 0).alias("is_member"),
    )
    bloom_positive = None
    for k in range(BLOOM_K):
        hit = F.array_contains(
            bits_lit, F.expr(_bloom_bit_spark(k, "CAST(probe_key AS STRING)"))
        )
        bloom_positive = hit if bloom_positive is None else (bloom_positive & hit)
    return (
        probes.withColumn("bloom_positive", bloom_positive)
        .groupBy("is_member")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
            F.sum(F.when(F.col("bloom_positive"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_positive"),
            F.min(~F.col("is_member") | F.col("bloom_positive")).alias(
                "no_false_negatives"
            ),
        )
    )


HLL_M = 64  # registers (p=6); sigma = 1.04/sqrt(64) = 13%
_HLL_ALPHA = 0.709  # spec constant for m=64

# exact BIGINT register term 2^(51-rho), as an integer shift on BOTH
# engines: float `**` accumulation silently drops ULPs once the exact
# sum of mixed-magnitude terms needs more than 53 mantissa bits
# (regression-pinned in tests/test_semantics.py)
HLL_TERM_SPARK = "SHIFTLEFT(CAST(1 AS BIGINT), 51 - rho)"
HLL_TERM_DUCK = "CAST(1 AS BIGINT) << (51 - rho)"


def _hll_fields_spark(key: str) -> tuple[str, str]:
    h = md5_int56_spark(f"CONCAT('hll:', {key})")
    bucket = f"({h}) % {HLL_M}"
    w = f"({h}) DIV {HLL_M}"
    rho = f"CASE WHEN {w} = 0 THEN 51 ELSE 52 - LENGTH(BIN({w})) END"
    return bucket, rho


def _hll_fields_duck(key: str) -> tuple[str, str]:
    h = md5_int56_duck(f"'hll:' || {key}")
    bucket = f"({h}) % {HLL_M}"
    w = f"({h}) // {HLL_M}"
    rho = f"CASE WHEN {w} = 0 THEN 51 ELSE 52 - LENGTH(bin({w})) END"
    return bucket, rho


_DUCK_B, _DUCK_R = _hll_fields_duck("CAST(user_id AS VARCHAR)")


@query(
    "hll_registers_portable",
    oracle=f"""
    WITH regs AS (
      SELECT event_type, {_DUCK_B} AS bucket, MAX({_DUCK_R}) AS rho
      FROM events GROUP BY 1, 2
    ),
    grid AS (
      SELECT t.event_type, CAST(b.id AS BIGINT) AS bucket,
             COALESCE(r.rho, 0) AS rho
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN range({HLL_M}) b(id)
      LEFT JOIN regs r ON r.event_type = t.event_type AND r.bucket = b.id
    ),
    state AS (
      SELECT event_type,
             SUM({HLL_TERM_DUCK}) AS int_sum,  -- exact BIGINT
             SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS zeros,
             bit_xor(bucket * 64 + rho) AS register_checksum
      FROM grid GROUP BY 1
    ),
    exact AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS n FROM events GROUP BY 1
    )
    SELECT s.event_type,
           CAST(x.n AS BIGINT) AS exact_distinct,
           CAST(s.register_checksum AS BIGINT) AS register_checksum,
           ROUND(
             CASE WHEN {_HLL_ALPHA} * {HLL_M} * {HLL_M} * CAST(2 AS BIGINT) ** 51
                       / s.int_sum <= 2.5 * {HLL_M} AND s.zeros > 0
                  THEN {HLL_M} * LN(CAST({HLL_M} AS DOUBLE) / s.zeros)
                  ELSE {_HLL_ALPHA} * {HLL_M} * {HLL_M} * CAST(2 AS BIGINT) ** 51
                       / s.int_sum
             END, 4) AS hll_estimate,
           ABS(CASE WHEN {_HLL_ALPHA} * {HLL_M} * {HLL_M} * CAST(2 AS BIGINT) ** 51
                         / s.int_sum <= 2.5 * {HLL_M} AND s.zeros > 0
                    THEN {HLL_M} * LN(CAST({HLL_M} AS DOUBLE) / s.zeros)
                    ELSE {_HLL_ALPHA} * {HLL_M} * {HLL_M} * CAST(2 AS BIGINT) ** 51
                         / s.int_sum
               END / x.n - 1) < 0.4 AS within_3sigma
    FROM state s JOIN exact x USING (event_type)
    """,
    # map-side-combined register build + tiny broadcast probe joins
    bench=True, exchanges=4,
)
def q_hll_registers_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog per group — the cardinality sketch, with
    its REGISTER STATE (not just the estimate) under the value gate:
    md5-derived buckets and leading-zero ranks make the {HLL_M}
    registers bit-identical across engines, so the oracle matches the
    register checksum, the exact scaled harmonic sum (2^(51-rho) terms
    are exact BIGINTs — no float accumulation), and the final estimate
    incl. the spec's linear-counting small-range correction.  Each
    row also carries the sketch's accuracy contract (estimate within
    ~3 sigma of exact).  Completes the mergeable-sketch trio with
    cms_heavy_hitters (frequency) and bloom_filter_audit (membership):
    registers merge by groupBy-MAX — map-side combined, any
    partitioning, constant state per group at unbounded input.

    (hll_distinct_audit in coverage.py holds Spark's built-in
    approx_count_distinct to a 10%% contract; here the sketch itself
    is first-class, reproducible DATA you can store and merge later.)"""
    b_expr, r_expr = _hll_fields_spark("CAST(user_id AS STRING)")
    ev = load_table(spark, sf_dir, "events")
    regs = (
        ev.select("event_type", F.expr(b_expr).alias("bucket"), F.expr(r_expr).alias("rho"))
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    types = ev.select("event_type").distinct()
    buckets = spark.range(HLL_M).select(F.col("id").cast("bigint").alias("bucket"))
    grid = (
        types.crossJoin(F.broadcast(buckets))
        .join(regs, ["event_type", "bucket"], "left")
        .withColumn("rho", F.coalesce("rho", F.lit(0)))
    )
    state = grid.groupBy("event_type").agg(
        F.sum(F.expr(HLL_TERM_SPARK)).alias("int_sum"),
        F.sum(F.when(F.col("rho") == 0, 1).otherwise(0)).alias("zeros"),
        F.bit_xor(F.col("bucket") * 64 + F.col("rho")).alias("register_checksum"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n")
    )
    raw = (
        F.lit(_HLL_ALPHA) * HLL_M * HLL_M * F.lit(2**51) / F.col("int_sum")
    )
    est = F.when(
        (raw <= 2.5 * HLL_M) & (F.col("zeros") > 0),
        HLL_M * F.log(F.lit(float(HLL_M)) / F.col("zeros")),
    ).otherwise(raw)
    return state.join(exact, "event_type").select(
        "event_type",
        F.col("n").cast("bigint").alias("exact_distinct"),
        F.col("register_checksum").cast("bigint").alias("register_checksum"),
        F.round(est, 4).alias("hll_estimate"),
        (F.abs(est / F.col("n") - 1) < 0.4).alias("within_3sigma"),
    )


# ------------------------------------------- exact distinct via bitmaps


def bitmap_word_mask(id_col: str = "user_id"):
    """63-bit bitmap coordinates for an arbitrary BIGINT id — the ONE
    definition behind every bitmap-distinct operator (here, the
    audience-overlap matrix, and the streaming twin), so the
    word/mask derivation cannot drift between sites.

    Negative-id safety (not just a documented precondition): the bit
    index is ``pmod(id, 63)`` — always in [0, 63) — so ``shiftleft``
    never sees a negative shift count (the JVM masks those to
    ``count & 63``, silently setting the wrong bit), and the word is
    the truncating quotient floor-corrected by the remainder's sign:
    ``(id DIV 63) - (1 if id % 63 < 0 else 0)`` — floor division for
    every sign, matching DuckDB's flooring ``//``, with NO
    intermediate that can overflow (the earlier ``id - pmod(id, 63)``
    form wrapped for ids within 62 of Long.MIN_VALUE; every term here
    stays within [id DIV 63 - 1, id DIV 63], valid over the ENTIRE
    BIGINT domain including Long.MIN_VALUE itself — pinned in
    tests/test_semantics.py against Python's flooring ``//``).  For
    non-negative ids this reduces to the obvious ``id DIV 63`` /
    ``1 << (id % 63)``.

    63-bit words, not 64: DuckDB's BIGINT ``<<`` raises on shift 63
    (sign bit), and staying below it keeps every mask positive in both
    engines.
    """
    word = F.expr(
        f"(({id_col}) DIV 63) - (CASE WHEN ({id_col}) % 63 < 0 THEN 1 ELSE 0 END)"
    )
    mask = F.expr(f"shiftleft(1L, CAST(pmod({id_col}, 63) AS INT))")
    return word, mask


@query(
    "bitmap_distinct_users",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT user_id // 63) AS BIGINT) AS n_words
    FROM events
    GROUP BY event_type
    """,
    bench=True, exchanges=2,  # (type,word) bit_or agg + popcount agg
)
def q_bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap words — the
    Doris/ClickHouse/roaring pattern that replaces count-distinct's
    per-value shuffle with a 63x-compressed one: each user lands in
    word ``user_id div 63`` at bit ``user_id mod 63``, partial
    ``bit_or`` combines map-side, the shuffle carries only
    (type, word, mask) rows, and the final count is a popcount sum.

    63-bit words, not 64: DuckDB's BIGINT ``<<`` raises on shift 63
    (sign bit), and staying below it keeps every mask positive in both
    engines — cheaper than reasoning about sign-extension parity.

    At 100 TB this is the exact-distinct plan of record when ids are
    dense (the ``surrogate_keys`` op exists precisely to densify):
    state is ceil(|ids|/63) words per group key regardless of row
    count, and unlike HLL (``hll_distinct_audit``) the answer is
    exact.  The DuckDB oracle derives both outputs from plain
    COUNT(DISTINCT ...), independently of the bitmap plumbing.
    """
    ev = load_table(spark, sf_dir, "events")
    word, mask = bitmap_word_mask("user_id")
    words = (
        ev.select("event_type", word.alias("word"), mask.alias("mask"))
        .groupBy("event_type", "word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("n_users"),
        F.count(F.lit(1)).alias("n_words"),
    )


AUDIENCE_VALUE_MIN = 180.0  # high-value event threshold


@query(
    "bitmap_audience_overlap",
    oracle=f"""
    WITH u AS (
      SELECT DISTINCT event_type, user_id FROM events WHERE value >= {AUDIENCE_VALUE_MIN}
    ),
    s AS (SELECT event_type, COUNT(*) AS n FROM u GROUP BY 1),
    i AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_intersect
      FROM u a JOIN u b ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT sa.event_type AS type_a, sb.event_type AS type_b,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           CAST(COALESCE(i.n_intersect, 0) AS BIGINT) AS n_intersect,
           CAST(sa.n + sb.n - COALESCE(i.n_intersect, 0) AS BIGINT) AS n_union,
           ROUND(COALESCE(i.n_intersect, 0)
                 / CAST(sa.n + sb.n - COALESCE(i.n_intersect, 0) AS DOUBLE), 6) AS jaccard
    FROM s sa JOIN s sb ON sa.event_type < sb.event_type
    LEFT JOIN i ON i.type_a = sa.event_type AND i.type_b = sb.event_type
    """,
    # one bitmap build shuffled 3 ways (sizes, pair-join sides) + matrix
    # aggs, all word-compressed, no per-user rows
    bench=True, exchanges=8,
)
def q_bitmap_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT audience-overlap matrix (the 'did X and Y' cross-feature
    analysis) over high-value audiences, computed on BITMAPS: per
    (type, word) masks from ``bitmap_distinct_users``'s layout, the
    intersection is popcount(bits_a AND bits_b) summed over the
    word-aligned inner join, and unions come from inclusion-exclusion
    on the per-type popcounts — so absent words never need an outer
    join and no per-user pair rows ever exist.

    The naive plan (the DuckDB oracle) self-joins the distinct
    (type, user) table on user — |audience| rows per type per pair.
    The bitmap plan's pair join touches |audience|/63 word rows per
    type, and the full T x T matrix reuses the ONE bitmap build.

    Zero-overlap type pairs would vanish from the intersection join;
    the pair frame is re-anchored on sizes x sizes so the matrix is
    always complete, 0-cells included.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value") >= AUDIENCE_VALUE_MIN
    )
    word, mask = bitmap_word_mask("user_id")
    words = (
        ev.select("event_type", word.alias("word"), mask.alias("mask"))
        .groupBy("event_type", "word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    sizes = words.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("n")
    )
    a = words.select(F.col("event_type").alias("type_a"), "word",
                     F.col("bits").alias("bits_a"))
    b = words.select(F.col("event_type").alias("type_b"), "word",
                     F.col("bits").alias("bits_b"))
    inter = (
        a.join(b, "word")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.bit_count(F.col("bits_a").bitwiseAND(F.col("bits_b"))))
            .cast("bigint")
            .alias("n_intersect"),
        )
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    grid = sa.crossJoin(sb).filter(F.col("type_a") < F.col("type_b"))
    j = grid.join(inter, ["type_a", "type_b"], "left").withColumn(
        "n_intersect", F.coalesce("n_intersect", F.lit(0)).cast("bigint")
    )
    n_union = (F.col("n_a") + F.col("n_b") - F.col("n_intersect")).cast("bigint")
    return j.select(
        "type_a", "type_b", "n_a", "n_b", "n_intersect",
        n_union.alias("n_union"),
        F.round(F.col("n_intersect") / n_union.cast("double"), 6).alias("jaccard"),
    )

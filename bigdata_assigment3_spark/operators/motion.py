"""Motion-estimation operators (reference: Motion_estimation/motion_codec.py).

The reference's video-codec front-end: per-frame-pair MAD metrics,
percentile threshold calibration, LOW/MEDIUM/HIGH routing,
full-search block matching (SAD argmin), motion compensation + PSNR.

Input: a deterministic synthetic video generated *in SQL* from
``range()`` (port of demo_synthetic.py:14-23 — a textured square
translating at constant velocity over 4 clips: low/moderate/high/
flicker).  Because the fixture is pure integer arithmetic over
``range``, Spark and the DuckDB oracle compute bit-identical inputs
with no shared files, and every aggregate below stays integer/rational
until one final division — so results are exact across engines.

Scale notes: frames are rows, not driver-side arrays.  The lag join
(frame t vs t-1) shuffles on (video, y, x) once; block matching is an
explode(offsets)→equi-join→argmin pipeline whose width is bounded by
the search window, so it parallelizes by (frame, block) to any
cluster size.  A real deployment reads frames(video_id, frame_idx,
y, x, v) from parquet; the generator here stands in for that scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..registry import query

# Fixture geometry (mirrors demo_synthetic.py:14-23, scaled down so the
# relational block-match oracle stays cheap: 4 clips x 16 frames x 32x48).
W, H, T, NV = 48, 32, 16, 4
SQ = 12         # moving square side (> BLK so whole blocks fit inside it)
BLK = 8         # block size (ref default 16, motion_codec.py:224)
SEARCH = 4      # search range (ref default 8)
CAL_N = 8       # calibration prefix: first N frame pairs (ref :57-70 uses 30)
NPIX = NV * T * H * W

# One source of truth for the synthetic video, runnable verbatim by
# Spark SQL and DuckDB (integer math only; / avoided in favor of
# FLOOR + CAST because both dialects make / a float divide).
FRAME_PIXELS_SQL = f"""
SELECT
  CASE vid WHEN 0 THEN 'low' WHEN 1 THEN 'moderate'
           WHEN 2 THEN 'high' ELSE 'flicker' END AS video_id,
  t AS frame_idx, y, x,
  (CASE WHEN y >= sy AND y < sy + {SQ} AND x >= sx AND x < sx + {SQ}
        THEN 200 + ((y-sy)*(y-sy)*3 + (x-sx)*(x-sx)*7) % 11
        ELSE 10 + (y*y*3 + x*x*7) % 11 END)
  + (CASE WHEN vid = 3 THEN 15 * (t % 2) ELSE 0 END) AS v
FROM (
  SELECT vid, t, y, x,
         (4 + (CASE vid WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 0 END) * t) % {H - SQ} AS sy,
         (4 + (CASE vid WHEN 1 THEN 2 WHEN 2 THEN 5 ELSE 0 END) * t) % {W - SQ} AS sx
  FROM (
    SELECT CAST(FLOOR(id / {T * H * W}) AS BIGINT) AS vid,
           CAST(FLOOR(id / {H * W}) AS BIGINT) % {T} AS t,
           CAST(FLOOR(id / {W}) AS BIGINT) % {H} AS y,
           id % {W} AS x
    FROM range({NPIX}) AS r(id)
  )
)
"""

# MAD per consecutive frame pair: avg |v_t - v_(t-1)| (motion_codec.py:31-35).
# Integer sum / fixed count => exact rational, identical across engines.
_MAD_SQL = f"""
SELECT c.video_id, c.frame_idx,
       CAST(SUM(ABS(c.v - p.v)) AS DOUBLE) / {H * W} AS mad
FROM px c
JOIN px p ON p.video_id = c.video_id AND p.frame_idx = c.frame_idx - 1
         AND p.y = c.y AND p.x = c.x
GROUP BY c.video_id, c.frame_idx
"""

# Percentile calibration over the first CAL_N pairs (motion_codec.py:57-70).
_THRESH_SQL = f"""
SELECT video_id,
       ROUND(PERCENTILE_CONT(0.4) WITHIN GROUP (ORDER BY mad), 6) AS t_low,
       ROUND(PERCENTILE_CONT(0.8) WITHIN GROUP (ORDER BY mad), 6) AS t_high
FROM mad
WHERE frame_idx <= {CAL_N}
GROUP BY video_id
"""

_CLASSIFY_SQL = """
SELECT m.video_id, m.frame_idx,
       CASE WHEN m.mad < th.t_low THEN 'LOW'
            WHEN m.mad > th.t_high THEN 'HIGH'
            ELSE 'MEDIUM' END AS motion_class
FROM mad m JOIN th ON th.video_id = m.video_id
"""

# Full-search block matching on the 'moderate' clip (motion_codec.py:77-90):
# every block x every in-bounds offset, SAD, argmin with the reference's
# scan-order tie-break (first strictly-smaller wins => min by (sad, oy, ox)).
_BM_SQL = f"""
, cur AS (SELECT * FROM px WHERE video_id = 'moderate' AND frame_idx >= 1),
prev AS (SELECT * FROM px WHERE video_id = 'moderate'),
offsets AS (
  SELECT CAST(FLOOR(id / {2 * SEARCH + 1}) AS BIGINT) - {SEARCH} AS oy,
         id % {2 * SEARCH + 1} - {SEARCH} AS ox
  FROM range({(2 * SEARCH + 1) ** 2}) AS r(id)
),
sad AS (
  SELECT c.frame_idx,
         CAST(FLOOR(c.y / {BLK}) AS BIGINT) AS by,
         CAST(FLOOR(c.x / {BLK}) AS BIGINT) AS bx,
         o.oy, o.ox,
         CAST(SUM(ABS(c.v - p.v)) AS BIGINT) AS cost
  FROM cur c
  JOIN offsets o
    ON CAST(FLOOR(c.y / {BLK}) AS BIGINT) * {BLK} + o.oy BETWEEN 0 AND {H - BLK}
   AND CAST(FLOOR(c.x / {BLK}) AS BIGINT) * {BLK} + o.ox BETWEEN 0 AND {W - BLK}
  JOIN prev p
    ON p.frame_idx = c.frame_idx - 1 AND p.y = c.y + o.oy AND p.x = c.x + o.ox
  GROUP BY 1, 2, 3, 4, 5
),
ranked AS (
  SELECT frame_idx, by, bx, oy AS dy, ox AS dx, cost,
         ROW_NUMBER() OVER (PARTITION BY frame_idx, by, bx
                            ORDER BY cost, oy, ox) AS rn
  FROM sad
)
SELECT frame_idx, by, bx, dy, dx, cost FROM ranked WHERE rn = 1
"""

# Motion compensation + PSNR (motion_codec.py:243-270): rebuild frame t
# from frame t-1 shifted by each block's winning vector; MSE rational.
_PSNR_SQL = f"""
, recon AS (
  SELECT c.frame_idx, c.y, c.x, c.v AS v_cur, p.v AS v_pred
  FROM (SELECT * FROM px WHERE video_id = 'moderate' AND frame_idx >= 1) c
  JOIN (SELECT frame_idx, by, bx, dy, dx FROM ranked WHERE rn = 1) w
    ON w.frame_idx = c.frame_idx
   AND w.by = CAST(FLOOR(c.y / {BLK}) AS BIGINT)
   AND w.bx = CAST(FLOOR(c.x / {BLK}) AS BIGINT)
  JOIN (SELECT * FROM px WHERE video_id = 'moderate') p
    ON p.frame_idx = c.frame_idx - 1 AND p.y = c.y + w.dy AND p.x = c.x + w.dx
)
SELECT frame_idx,
       CAST(SUM((v_cur - v_pred) * (v_cur - v_pred)) AS DOUBLE) / {H * W} AS mse,
       CASE WHEN SUM((v_cur - v_pred) * (v_cur - v_pred)) = 0 THEN 99.0
            ELSE ROUND(10 * LOG10(65025.0 * {H * W}
                 / SUM((v_cur - v_pred) * (v_cur - v_pred))), 4) END AS psnr
FROM recon
GROUP BY frame_idx
"""

def _px(spark: SparkSession) -> DataFrame:
    return spark.sql(FRAME_PIXELS_SQL)


def _mad_df(spark: SparkSession) -> DataFrame:
    """MAD per frame pair via the lag-join (SURVEY J2/A5)."""
    px = _px(spark)
    c, p = px.alias("c"), px.alias("p")
    return (
        c.join(
            p,
            (F.col("p.video_id") == F.col("c.video_id"))
            & (F.col("p.frame_idx") == F.col("c.frame_idx") - 1)
            & (F.col("p.y") == F.col("c.y"))
            & (F.col("p.x") == F.col("c.x")),
        )
        .groupBy(F.col("c.video_id").alias("video_id"), F.col("c.frame_idx").alias("frame_idx"))
        .agg((F.sum(F.abs(F.col("c.v") - F.col("p.v"))).cast("double") / (H * W)).alias("mad"))
    )


def _thresholds_df(mad: DataFrame) -> DataFrame:
    """Percentile calibration over the first CAL_N pairs (SURVEY W2/A7).
    Takes the already-built MAD frame: every caller has one, and
    rebuilding it here would execute the frame-lag pixel join twice
    per query (Spark does not CSE separate DataFrame subtrees)."""
    return (
        mad
        .filter(F.col("frame_idx") <= CAL_N)
        .groupBy("video_id")
        .agg(
            F.round(F.expr("percentile(mad, 0.4)"), 6).alias("t_low"),
            F.round(F.expr("percentile(mad, 0.8)"), 6).alias("t_high"),
        )
    )


@query("frame_mad", oracle=f"WITH px AS ({FRAME_PIXELS_SQL}) {_MAD_SQL}")
def q_frame_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame-pair MAD metric (ref motion_codec.py:31-35, :248)."""
    return _mad_df(spark)


@query(
    "motion_thresholds",
    oracle=f"WITH px AS ({FRAME_PIXELS_SQL}), mad AS ({_MAD_SQL}) {_THRESH_SQL}",
)
def q_motion_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold calibration: 40th/80th percentile of early MADs
    (ref motion_codec.py:57-70)."""
    return _thresholds_df(_mad_df(spark))


def _classified_frames(spark: SparkSession) -> DataFrame:
    """(video_id, frame_idx, motion_class): calibrated LOW/MEDIUM/HIGH
    routing — ONE Spark-side definition mirroring the shared
    _CLASSIFY_SQL oracle text (also imported by motion_adaptive)."""
    mad = _mad_df(spark)
    return mad.join(_thresholds_df(mad), "video_id").select(
        "video_id",
        "frame_idx",
        F.when(F.col("mad") < F.col("t_low"), "LOW")
        .when(F.col("mad") > F.col("t_high"), "HIGH")
        .otherwise("MEDIUM")
        .alias("motion_class"),
    )


@query(
    "motion_decision_counts",
    oracle=f"""
    WITH px AS ({FRAME_PIXELS_SQL}), mad AS ({_MAD_SQL}), th AS ({_THRESH_SQL}),
    cls AS ({_CLASSIFY_SQL})
    SELECT video_id, motion_class, COUNT(*) AS n
    FROM cls GROUP BY video_id, motion_class
    """,
)
def q_motion_decision_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOW/MEDIUM/HIGH routing + per-class counts (ref motion_codec.py:215-221,
    demo_synthetic.py:133-139; BASELINE 'decision counts').

    The reference's cheap-first routing: only MEDIUM frames proceed to
    block matching — the class filter is the manual predicate pushdown
    Catalyst preserves (SURVEY §4.1)."""
    return (
        _classified_frames(spark)
        .groupBy("video_id", "motion_class")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _bm_winners(spark: SparkSession, cur_df: DataFrame) -> DataFrame:
    """Relational full-search winners for the given current-frame
    pixels (``cur_df``: rows of the 'moderate' clip with frame_idx >=
    1, already filtered to the frames block matching should run on —
    the cheap-first routing predicate pushes down HERE, below the
    expensive SAD join)."""
    px = _px(spark).filter(F.col("video_id") == "moderate")
    cur = cur_df.alias("c")
    prev = px.alias("p")
    n_off = 2 * SEARCH + 1
    offsets = spark.sql(
        f"SELECT CAST(FLOOR(id / {n_off}) AS BIGINT) - {SEARCH} AS oy,"
        f" id % {n_off} - {SEARCH} AS ox FROM range({n_off ** 2}) AS r(id)"
    ).alias("o")
    by = F.floor(F.col("c.y") / BLK).cast("bigint")
    bx = F.floor(F.col("c.x") / BLK).cast("bigint")
    cand = cur.join(
        F.broadcast(offsets),
        (by * BLK + F.col("o.oy")).between(0, H - BLK)
        & (bx * BLK + F.col("o.ox")).between(0, W - BLK),
    )
    sad = (
        cand.join(
            prev,
            (F.col("p.frame_idx") == F.col("c.frame_idx") - 1)
            & (F.col("p.y") == F.col("c.y") + F.col("o.oy"))
            & (F.col("p.x") == F.col("c.x") + F.col("o.ox")),
        )
        .groupBy(
            F.col("c.frame_idx").alias("frame_idx"),
            by.alias("by"),
            bx.alias("bx"),
            F.col("o.oy").alias("dy"),
            F.col("o.ox").alias("dx"),
        )
        .agg(F.sum(F.abs(F.col("c.v") - F.col("p.v"))).alias("cost"))
    )
    w = Window.partitionBy("frame_idx", "by", "bx").orderBy("cost", "dy", "dx")
    return (
        sad.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "block_match_full",
    oracle=f"WITH px AS ({FRAME_PIXELS_SQL}){_BM_SQL}",
    bench=True, exchanges=2, order_sensitive=True,
)
def q_block_match_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-search block matching as a relational argmin (SURVEY J4/A12;
    ref motion_codec.py:77-90).

    blocks x bounded offset grid -> SAD -> per-block winner with the
    reference's scan-order tie-break.  The offset table is tiny and
    broadcast; SAD is one hash aggregate over (frame, block, offset) —
    no per-row Python, no driver loop, scales with pixel count."""
    px = _px(spark).filter(F.col("video_id") == "moderate")
    return _bm_winners(spark, px.filter(F.col("frame_idx") >= 1))


# Routed pipeline, fully relational: classify every 'moderate' frame
# pair, run the full search ONLY on MEDIUM frames (the class filter
# sits below the SAD join — cheap-first routing), aggregate winners
# per frame.  All-BIGINT output (no NULLs: LOW/HIGH frames report 0
# blocks) so the cross-engine hash is exact.
_ROUTED_SQL = f"""
, mad AS ({_MAD_SQL}), th AS ({_THRESH_SQL}), cls AS ({_CLASSIFY_SQL}),
mcls AS (SELECT frame_idx, motion_class FROM cls WHERE video_id = 'moderate'),
cur AS (
  SELECT p2.* FROM px p2
  JOIN mcls m ON m.frame_idx = p2.frame_idx AND m.motion_class = 'MEDIUM'
  WHERE p2.video_id = 'moderate' AND p2.frame_idx >= 1
),
prev AS (SELECT * FROM px WHERE video_id = 'moderate'),
offsets AS (
  SELECT CAST(FLOOR(id / {2 * SEARCH + 1}) AS BIGINT) - {SEARCH} AS oy,
         id % {2 * SEARCH + 1} - {SEARCH} AS ox
  FROM range({(2 * SEARCH + 1) ** 2}) AS r(id)
),
sad AS (
  SELECT c.frame_idx,
         CAST(FLOOR(c.y / {BLK}) AS BIGINT) AS by,
         CAST(FLOOR(c.x / {BLK}) AS BIGINT) AS bx,
         o.oy, o.ox,
         CAST(SUM(ABS(c.v - p.v)) AS BIGINT) AS cost
  FROM cur c
  JOIN offsets o
    ON CAST(FLOOR(c.y / {BLK}) AS BIGINT) * {BLK} + o.oy BETWEEN 0 AND {H - BLK}
   AND CAST(FLOOR(c.x / {BLK}) AS BIGINT) * {BLK} + o.ox BETWEEN 0 AND {W - BLK}
  JOIN prev p
    ON p.frame_idx = c.frame_idx - 1 AND p.y = c.y + o.oy AND p.x = c.x + o.ox
  GROUP BY 1, 2, 3, 4, 5
),
ranked AS (
  SELECT frame_idx, by, bx, oy AS dy, ox AS dx, cost,
         ROW_NUMBER() OVER (PARTITION BY frame_idx, by, bx
                            ORDER BY cost, oy, ox) AS rn
  FROM sad
),
agg AS (
  SELECT frame_idx, COUNT(*) AS n_blocks, SUM(cost) AS total_cost,
         SUM(CASE WHEN dy <> 0 OR dx <> 0 THEN 1 ELSE 0 END) AS n_moving
  FROM ranked WHERE rn = 1 GROUP BY frame_idx
)
SELECT m.frame_idx, m.motion_class,
       CAST(COALESCE(a.n_blocks, 0) AS BIGINT) AS n_blocks,
       CAST(COALESCE(a.total_cost, 0) AS BIGINT) AS total_cost,
       CAST(COALESCE(a.n_moving, 0) AS BIGINT) AS n_moving
FROM mcls m LEFT JOIN agg a ON a.frame_idx = m.frame_idx
"""


@query("block_match_routed_full", oracle=f"WITH px AS ({FRAME_PIXELS_SQL}){_ROUTED_SQL}")
def q_block_match_routed_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's cheap-first routed pipeline, fully relational
    and oracle-backed (ref motion_codec.py:252-289): classify every
    frame pair LOW/MEDIUM/HIGH from calibrated MAD thresholds, run
    full-search block matching ONLY on MEDIUM pairs (the routing
    predicate is pushed below the expensive SAD join), and report
    per-frame vector aggregates — LOW/HIGH frames short-circuit with
    zero blocks, exactly like the reference.  The adaptive-walk
    variant (``block_match_routed``, diamond search) keeps the same
    routing but is data-dependent, so it stays under planted-ground-
    truth local tests instead of a SQL oracle."""
    cls = _classified_frames(spark).filter(F.col("video_id") == "moderate")
    medium = cls.filter(F.col("motion_class") == "MEDIUM").select("frame_idx")
    px = _px(spark).filter(F.col("video_id") == "moderate")
    cur = px.filter(F.col("frame_idx") >= 1).join(medium, "frame_idx")
    win = _bm_winners(spark, cur)
    agg = win.groupBy("frame_idx").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum("cost").alias("total_cost"),
        F.sum(((F.col("dy") != 0) | (F.col("dx") != 0)).cast("int")).alias("n_moving"),
    )
    return cls.join(agg, "frame_idx", "left").select(
        "frame_idx",
        "motion_class",
        F.coalesce(F.col("n_blocks"), F.lit(0)).cast("bigint").alias("n_blocks"),
        F.coalesce(F.col("total_cost"), F.lit(0)).cast("bigint").alias("total_cost"),
        F.coalesce(F.col("n_moving"), F.lit(0)).cast("bigint").alias("n_moving"),
    )


@query(
    "motion_psnr",
    oracle=f"""
    WITH px AS ({FRAME_PIXELS_SQL}),
    cur AS (SELECT * FROM px WHERE video_id = 'moderate' AND frame_idx >= 1),
    prev AS (SELECT * FROM px WHERE video_id = 'moderate'),
    offsets AS (
      SELECT CAST(FLOOR(id / {2 * SEARCH + 1}) AS BIGINT) - {SEARCH} AS oy,
             id % {2 * SEARCH + 1} - {SEARCH} AS ox
      FROM range({(2 * SEARCH + 1) ** 2}) AS r(id)
    ),
    sad AS (
      SELECT c.frame_idx,
             CAST(FLOOR(c.y / {BLK}) AS BIGINT) AS by,
             CAST(FLOOR(c.x / {BLK}) AS BIGINT) AS bx,
             o.oy, o.ox,
             SUM(ABS(c.v - p.v)) AS cost
      FROM cur c
      JOIN offsets o
        ON CAST(FLOOR(c.y / {BLK}) AS BIGINT) * {BLK} + o.oy BETWEEN 0 AND {H - BLK}
       AND CAST(FLOOR(c.x / {BLK}) AS BIGINT) * {BLK} + o.ox BETWEEN 0 AND {W - BLK}
      JOIN prev p
        ON p.frame_idx = c.frame_idx - 1 AND p.y = c.y + o.oy AND p.x = c.x + o.ox
      GROUP BY 1, 2, 3, 4, 5
    ),
    ranked AS (
      SELECT frame_idx, by, bx, oy AS dy, ox AS dx, cost,
             ROW_NUMBER() OVER (PARTITION BY frame_idx, by, bx
                                ORDER BY cost, oy, ox) AS rn
      FROM sad
    )
    {_PSNR_SQL}
    """,
)
def q_motion_psnr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motion compensation + PSNR per frame (SURVEY A13; ref
    motion_codec.py:243-270).  MSE stays rational (integer SSE / fixed
    pixel count) so the PSNR doubles are bit-identical cross-engine."""
    winners = q_block_match_full(spark, sf_dir).alias("w")
    px = _px(spark).filter(F.col("video_id") == "moderate")
    cur = px.filter(F.col("frame_idx") >= 1).alias("c")
    prev = px.alias("p")
    recon = cur.join(
        winners,
        (F.col("w.frame_idx") == F.col("c.frame_idx"))
        & (F.col("w.by") == F.floor(F.col("c.y") / BLK).cast("bigint"))
        & (F.col("w.bx") == F.floor(F.col("c.x") / BLK).cast("bigint")),
    ).join(
        prev,
        (F.col("p.frame_idx") == F.col("c.frame_idx") - 1)
        & (F.col("p.y") == F.col("c.y") + F.col("w.dy"))
        & (F.col("p.x") == F.col("c.x") + F.col("w.dx")),
    )
    sse = F.sum((F.col("c.v") - F.col("p.v")) * (F.col("c.v") - F.col("p.v")))
    return (
        recon.groupBy(F.col("c.frame_idx").alias("frame_idx"))
        .agg(
            (sse.cast("double") / (H * W)).alias("mse"),
            F.when(sse == 0, F.lit(99.0))
            .otherwise(F.round(F.lit(10) * F.log10(F.lit(65025.0 * H * W) / sse), 4))
            .alias("psnr"),
        )
    )


@query(
    "illum_invariant_mad",
    oracle=f"""
    WITH px AS ({FRAME_PIXELS_SQL}),
    j AS (
      SELECT c.video_id, c.frame_idx, c.v AS vc, p.v AS vp
      FROM px c
      JOIN px p ON p.video_id = c.video_id AND p.frame_idx = c.frame_idx - 1
               AND p.y = c.y AND p.x = c.x
    ),
    sums AS (
      SELECT video_id, frame_idx, SUM(vc) - SUM(vp) AS dsum
      FROM j GROUP BY video_id, frame_idx
    )
    SELECT j.video_id, j.frame_idx,
           CAST(SUM(ABS(vc - vp)) AS DOUBLE) / {H * W} AS mad_raw,
           CAST(SUM(ABS({H * W} * (vc - vp) - s.dsum)) AS DOUBLE)
               / {H * W * H * W} AS mad_norm
    FROM j JOIN sums s ON s.video_id = j.video_id AND s.frame_idx = j.frame_idx
    GROUP BY j.video_id, j.frame_idx
    """,
)
def q_illum_invariant_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brightness-normalized MAD (SURVEY A6/F8; ref motion_codec.py:44-52).

    The reference remaps mean+std; flicker only shifts the mean, so the
    mean-offset form suffices and — multiplied through by n — stays in
    integers: |n*(vc-vp) - (sum_c - sum_p)| / n^2.  On the flicker clip
    mad_norm collapses to ~0 while mad_raw sees the 15-level flash.
    """
    px = _px(spark)
    c, p = px.alias("c"), px.alias("p")
    j = c.join(
        p,
        (F.col("p.video_id") == F.col("c.video_id"))
        & (F.col("p.frame_idx") == F.col("c.frame_idx") - 1)
        & (F.col("p.y") == F.col("c.y"))
        & (F.col("p.x") == F.col("c.x")),
    ).select(
        F.col("c.video_id").alias("video_id"),
        F.col("c.frame_idx").alias("frame_idx"),
        F.col("c.v").alias("vc"),
        F.col("p.v").alias("vp"),
    )
    # SUM(vc)/SUM(vp) are per-group scalars; expressed via a grouped agg
    # then re-joined implicitly through a single aggregate using the
    # identity sum(|n*d_i - D|) where D = sum(vc)-sum(vp).  Needs two
    # passes -> window-free form: aggregate twice in one groupBy via a
    # self-join on the group key.
    sums = j.groupBy("video_id", "frame_idx").agg(
        (F.sum("vc") - F.sum("vp")).alias("dsum")
    )
    return (
        j.join(sums, ["video_id", "frame_idx"])
        .groupBy("video_id", "frame_idx")
        .agg(
            (F.sum(F.abs(F.col("vc") - F.col("vp"))).cast("double") / (H * W)).alias("mad_raw"),
            (
                F.sum(F.abs(F.lit(H * W) * (F.col("vc") - F.col("vp")) - F.col("dsum"))).cast("double")
                / (H * W * H * W)
            ).alias("mad_norm"),
        )
    )

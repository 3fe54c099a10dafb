"""Hough circle detection as relational image analytics
(reference: HOUGH Transform/hough_heart_detector.py, *2.py).

The reference's pipeline is decode → Canny → fixed-radius circle vote
(dense np.int32 accumulator + 3x3 dilate-NMS + argmax).  Here the edge
map is a *point table* ``edge_points(image_id, y, x)`` and the
accumulator is never materialized: votes are rows, accumulation is a
groupBy-count (SURVEY A10), NMS is a neighborhood max join (W3), the
peak is a deterministic rank-1 (A11).

Fixture: planted circles (integer annulus — no trig, so Spark and the
DuckDB oracle agree bit-for-bit) + deterministic sparse noise; the
last image is noise-only to exercise the NO_CIRCLE path
(hough_heart_detector.py:150-151,192-194).

Scale notes: votes are (image_id, y0, x0) rows — ~2.(2r+1) per edge
point — aggregated immediately (map-side combine) before anything
wide; everything partitions by image_id, so 10^9 images fan out
across executors with no change.  A dense per-image accumulator (the
reference's approach) would cap image size by executor memory;
the relational form caps nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..registry import query

IMG_N = 6       # last image is noise-only (NO_CIRCLE path)
SIZE = 64
R = 14          # fixed vote radius (ref: radius from px/mm or 0.22*min(H,W))
ACC_THRESH = 12  # ref default acc_thresh (hough_heart_detector.py:317)

# Planted-circle edge maps, runnable verbatim on Spark SQL and DuckDB.
EDGE_POINTS_SQL = f"""
SELECT img AS image_id, y, x FROM (
  SELECT CAST(FLOOR(id / {SIZE * SIZE}) AS BIGINT) AS img,
         CAST(FLOOR(id / {SIZE}) AS BIGINT) % {SIZE} AS y,
         id % {SIZE} AS x
  FROM range({IMG_N * SIZE * SIZE}) AS r(id)
)
WHERE (img < {IMG_N - 1}
       AND ABS((y - (20 + img * 2)) * (y - (20 + img * 2))
             + (x - (24 + img * 3)) * (x - (24 + img * 3)) - {R * R}) <= {R})
   OR ((y * 31 + x * 17 + img * 7) % 211 = 0)
"""

# Fixed-radius voting (hough_heart_detector.py:116-140): each edge point
# votes for the two centers at vertical offset ±round(sqrt(r^2-dx^2))
# for every horizontal offset dx in [-r, r] — the reference's
# vectorized inner loop, re-expressed as explode + groupBy-count.
_VOTES_SQL = f"""
, dxs AS (
  SELECT id - {R} AS dx FROM range({2 * R + 1}) AS r(id)
),
votes_raw AS (
  SELECT e.image_id,
         e.y - CAST(ROUND(SQRT({R * R} - d.dx * d.dx)) AS BIGINT) AS y0,
         e.x - d.dx AS x0
  FROM edge e CROSS JOIN dxs d
  UNION ALL
  SELECT e.image_id,
         e.y + CAST(ROUND(SQRT({R * R} - d.dx * d.dx)) AS BIGINT) AS y0,
         e.x - d.dx AS x0
  FROM edge e CROSS JOIN dxs d
),
votes AS (
  SELECT image_id, y0, x0, COUNT(*) AS votes
  FROM votes_raw
  WHERE y0 BETWEEN 0 AND {SIZE - 1} AND x0 BETWEEN 0 AND {SIZE - 1}
  GROUP BY 1, 2, 3
)
"""

# 3x3 NMS + per-image peak (hough_heart_detector.py:143-157): a cell
# survives iff it equals the max over its 8-neighborhood; the winner is
# the highest survivor (scan-order tie-break), or NO_CIRCLE if below
# the accumulator threshold.
_NMS_PEAK_SQL = f"""
, offs AS (
  SELECT CAST(FLOOR(id / 3) AS BIGINT) - 1 AS oy, id % 3 - 1 AS ox
  FROM range(9) AS r(id)
),
neigh AS (
  SELECT v.image_id, v.y0, v.x0, v.votes, MAX(n.votes) AS neigh_max
  FROM votes v
  JOIN offs o ON TRUE
  LEFT JOIN votes n ON n.image_id = v.image_id
                   AND n.y0 = v.y0 + o.oy AND n.x0 = v.x0 + o.ox
  GROUP BY 1, 2, 3, 4
),
survivors AS (
  SELECT image_id, y0, x0, votes,
         ROW_NUMBER() OVER (PARTITION BY image_id
                            ORDER BY votes DESC, y0, x0) AS rn
  FROM neigh WHERE votes = neigh_max
),
imgs AS (SELECT DISTINCT image_id FROM edge)
SELECT i.image_id,
       CASE WHEN s.votes >= {ACC_THRESH} THEN 'OK' ELSE 'NO_CIRCLE' END AS status,
       CASE WHEN s.votes >= {ACC_THRESH} THEN s.y0 ELSE NULL END AS cy,
       CASE WHEN s.votes >= {ACC_THRESH} THEN s.x0 ELSE NULL END AS cx,
       s.votes AS peak_votes
FROM imgs i LEFT JOIN survivors s ON s.image_id = i.image_id AND s.rn = 1
"""


def _edge_df(spark: SparkSession) -> DataFrame:
    return spark.sql(EDGE_POINTS_SQL)


def _votes_df(spark: SparkSession) -> DataFrame:
    """UNthresholded accumulator cells (image_id, y0, x0, votes) — ONE
    Spark-side vote pipeline mirroring the shared _VOTES_SQL oracle
    text; hough_votes adds the threshold, hough_peak feeds NMS (which
    must see all cells)."""
    edge = _edge_df(spark).alias("e")
    dxs = spark.sql(f"SELECT id - {R} AS dx FROM range({2 * R + 1}) AS r(id)").alias("d")
    dy = F.round(F.sqrt(F.lit(R * R) - F.col("d.dx") * F.col("d.dx"))).cast("bigint")
    up = edge.crossJoin(F.broadcast(dxs)).select(
        "e.image_id", (F.col("e.y") - dy).alias("y0"), (F.col("e.x") - F.col("d.dx")).alias("x0")
    )
    down = edge.crossJoin(F.broadcast(dxs)).select(
        "e.image_id", (F.col("e.y") + dy).alias("y0"), (F.col("e.x") - F.col("d.dx")).alias("x0")
    )
    return (
        up.unionAll(down)
        .filter(F.col("y0").between(0, SIZE - 1) & F.col("x0").between(0, SIZE - 1))
        .groupBy("image_id", "y0", "x0")
        .agg(F.count(F.lit(1)).alias("votes"))
    )


@query(
    "hough_votes",
    oracle=f"""
    WITH edge AS ({EDGE_POINTS_SQL}){_VOTES_SQL}
    SELECT image_id, y0, x0, votes FROM votes WHERE votes >= {ACC_THRESH}
    """,
)
def q_hough_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accumulator cells above threshold (SURVEY A10/P4; ref
    hough_heart_detector.py:116-147).

    The explode is two generator joins against a (2r+1)-row offset
    table (broadcast); the count aggregates immediately so the shuffle
    carries cells, not votes.
    """
    return _votes_df(spark).filter(F.col("votes") >= ACC_THRESH)


@query(
    "hough_peak",
    oracle=f"WITH edge AS ({EDGE_POINTS_SQL}){_VOTES_SQL}{_NMS_PEAK_SQL}",
    bench=True, exchanges=6, order_sensitive=True,
)
def q_hough_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3x3 NMS + argmax peak per image, with the NO_CIRCLE fallback
    (SURVEY W3/A11; ref hough_heart_detector.py:143-157,150-151).

    The dilate-compare NMS becomes a 9-offset neighborhood-max join on
    the *sparse* vote cells (the reference dilates a dense array).
    """
    # shared vote pipeline, WITHOUT the threshold (NMS must see all cells)
    votes = _votes_df(spark).alias("v")
    offs = spark.sql(
        "SELECT CAST(FLOOR(id / 3) AS BIGINT) - 1 AS oy, id % 3 - 1 AS ox FROM range(9) AS r(id)"
    ).alias("o")
    n = votes.select(
        F.col("image_id").alias("n_image_id"),
        F.col("y0").alias("n_y0"),
        F.col("x0").alias("n_x0"),
        F.col("votes").alias("n_votes"),
    ).alias("n")
    neigh = (
        votes.crossJoin(F.broadcast(offs))
        .join(
            n,
            (F.col("n.n_image_id") == F.col("v.image_id"))
            & (F.col("n.n_y0") == F.col("v.y0") + F.col("o.oy"))
            & (F.col("n.n_x0") == F.col("v.x0") + F.col("o.ox")),
            "left",
        )
        .groupBy("v.image_id", "v.y0", "v.x0", "v.votes")
        .agg(F.max("n.n_votes").alias("neigh_max"))
    )
    w = Window.partitionBy("image_id").orderBy(F.desc("votes"), "y0", "x0")
    survivors = (
        neigh.filter(F.col("votes") == F.col("neigh_max"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .alias("s")
    )
    imgs = _edge_df(spark).select("image_id").distinct().alias("i")
    ok = F.col("s.votes") >= ACC_THRESH
    return imgs.join(survivors, F.col("s.image_id") == F.col("i.image_id"), "left").select(
        F.col("i.image_id").alias("image_id"),
        F.when(ok, "OK").otherwise("NO_CIRCLE").alias("status"),
        F.when(ok, F.col("s.y0")).alias("cy"),
        F.when(ok, F.col("s.x0")).alias("cx"),
        F.col("s.votes").alias("peak_votes"),
    )


@query(
    "circle_candidate_score",
    oracle=f"""
    WITH edge AS ({EDGE_POINTS_SQL}),
    imgs AS (SELECT DISTINCT image_id FROM edge),
    cands AS (
      SELECT i.image_id,
             20 + CAST(FLOOR(id / 25) AS BIGINT) * 2 AS cy0,
             24 + CAST(FLOOR(id / 5) AS BIGINT) % 5 * 3 AS cx0,
             12 + id % 5 AS r0
      FROM imgs i CROSS JOIN range(125) AS r(id)
    ),
    scored AS (
      SELECT c.image_id, c.cy0, c.cx0, c.r0,
             COUNT(e.x) AS hits,
             CAST(COUNT(e.x) AS DOUBLE) / c.r0 AS score
      FROM cands c
      LEFT JOIN edge e
        ON e.image_id = c.image_id
       AND ABS((e.y - c.cy0) * (e.y - c.cy0)
             + (e.x - c.cx0) * (e.x - c.cx0) - c.r0 * c.r0) <= c.r0
      GROUP BY 1, 2, 3, 4
    )
    SELECT image_id, cy0, cx0, r0, hits, ROUND(score, 6) AS score FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY image_id
                 ORDER BY score DESC, cy0, cx0, r0) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def q_circle_candidate_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-circle support scoring + argmax (SURVEY U3/U4/A12; ref
    hough_heart_detector2.py:137-213,259-271 scores sampled perimeter
    support; here support = edge points in the candidate's annulus,
    normalized by radius, a pure theta-join + argmin).
    """
    edge = _edge_df(spark).alias("e")
    imgs = edge.select("image_id").distinct().alias("i")
    cands = imgs.crossJoin(
        F.broadcast(
            spark.sql(
                """
                SELECT 20 + CAST(FLOOR(id / 25) AS BIGINT) * 2 AS cy0,
                       24 + CAST(FLOOR(id / 5) AS BIGINT) % 5 * 3 AS cx0,
                       12 + id % 5 AS r0
                FROM range(125) AS r(id)
                """
            )
        )
    ).alias("c")
    annulus = (
        F.abs(
            (F.col("e.y") - F.col("c.cy0")) * (F.col("e.y") - F.col("c.cy0"))
            + (F.col("e.x") - F.col("c.cx0")) * (F.col("e.x") - F.col("c.cx0"))
            - F.col("c.r0") * F.col("c.r0")
        )
        <= F.col("c.r0")
    )
    scored = (
        cands.join(edge, (F.col("e.image_id") == F.col("c.image_id")) & annulus, "left")
        .groupBy("c.image_id", "c.cy0", "c.cx0", "c.r0")
        .agg(F.count("e.x").alias("hits"))
        .withColumn("score", F.col("hits").cast("double") / F.col("r0"))
    )
    w = Window.partitionBy("image_id").orderBy(F.desc("score"), "cy0", "cx0", "r0")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("image_id", "cy0", "cx0", "r0", "hits", F.round("score", 6).alias("score"))
    )


import math

ELL_IMG_N = 4     # last image is noise-only (NO_ELLIPSE path)
ELL_THETA_N = 24  # perimeter samples per candidate
ELL_MIN_SCORE = 0.5  # ref hough_heart_detector2.py:390 min_score gate


def _ell_f(dy: int, dx: int) -> str:
    """Implicit ellipse value at pixel offset (dy, dx) for the planted
    params (ey=28+2*img, ex=30+2*img, x-semi-axis ea=10+2*img,
    y-semi-axis eb=6+img): f = ea^2*(y-ey)^2 + eb^2*(x-ex)^2 - ea^2*eb^2."""
    return (
        f"((10+2*img)*(10+2*img)*(y{dy:+d}-(28+2*img))*(y{dy:+d}-(28+2*img))"
        f" + (6+img)*(6+img)*(x{dx:+d}-(30+2*img))*(x{dx:+d}-(30+2*img))"
        f" - (10+2*img)*(10+2*img)*(6+img)*(6+img))"
    )


# Planted-ellipse edge maps: the ring is the symmetric zero-crossing of
# the implicit form (a pixel whose f-sign differs from a 4-neighbor's) —
# integer math only, so Spark SQL and DuckDB produce identical pixels,
# and the ring is centered on the true curve like a Canny edge.
ELLIPSE_EDGE_SQL = f"""
SELECT img AS image_id, y, x FROM (
  SELECT CAST(FLOOR(id / {SIZE * SIZE}) AS BIGINT) AS img,
         CAST(FLOOR(id / {SIZE}) AS BIGINT) % {SIZE} AS y,
         id % {SIZE} AS x
  FROM range({ELL_IMG_N * SIZE * SIZE}) AS r(id)
)
WHERE (img < {ELL_IMG_N - 1} AND (
        ({_ell_f(0, 0)} <= 0 AND ({_ell_f(1, 0)} > 0 OR {_ell_f(-1, 0)} > 0
                               OR {_ell_f(0, 1)} > 0 OR {_ell_f(0, -1)} > 0))
     OR ({_ell_f(0, 0)} > 0 AND ({_ell_f(1, 0)} <= 0 OR {_ell_f(-1, 0)} <= 0
                              OR {_ell_f(0, 1)} <= 0 OR {_ell_f(0, -1)} <= 0))))
   OR ((y * 29 + x * 13 + img * 11) % 223 = 0)
"""

# Perimeter sample angles as a literal (t, cos, sin) table — the
# reference precomputes its trig tables the same way
# (hough_heart_detector2.py:150-167); inlining the doubles (repr
# round-trips exactly) keeps both engines' arithmetic on identical
# IEEE inputs, so the rounded sample pixels match bit-for-bit.
_ELL_THETAS = ", ".join(
    f"({t}, {math.cos(2 * math.pi * t / ELL_THETA_N)!r},"
    f" {math.sin(2 * math.pi * t / ELL_THETA_N)!r})"
    for t in range(ELL_THETA_N)
)

# Candidate grid: 3 centers x 3 centers x 3 x-axes x 3 y-axes = 81 per
# image, covering the planted params.
_ELL_CANDS_SQL = """
  SELECT i.image_id,
         28 + CAST(FLOOR(id / 27) AS BIGINT) * 2 AS ey,
         30 + CAST(FLOOR(id / 9) AS BIGINT) % 3 * 2 AS ex,
         10 + CAST(FLOOR(id / 3) AS BIGINT) % 3 * 2 AS ea,
         6 + id % 3 AS eb
  FROM imgs i CROSS JOIN range(81) AS r(id)
"""


@query(
    "ellipse_candidate_score",
    oracle=f"""
    WITH edge AS ({ELLIPSE_EDGE_SQL}),
    imgs AS (SELECT DISTINCT image_id FROM edge),
    cands AS ({_ELL_CANDS_SQL}),
    thetas(t, ct, st) AS (VALUES {_ELL_THETAS}),
    samples AS (
      SELECT DISTINCT image_id, ey, ex, ea, eb,
             CAST(ROUND(ey + eb * st) AS BIGINT) AS py,
             CAST(ROUND(ex + ea * ct) AS BIGINT) AS px
      FROM cands CROSS JOIN thetas
    ),
    hits AS (
      SELECT s.image_id, s.ey, s.ex, s.ea, s.eb, s.py, s.px,
             MAX(CASE WHEN e.y = s.py AND e.x = s.px THEN 2
                      WHEN e.y IS NOT NULL THEN 1 ELSE 0 END) AS hit
      FROM samples s LEFT JOIN edge e
        ON e.image_id = s.image_id AND e.y BETWEEN s.py - 1 AND s.py + 1
       AND e.x BETWEEN s.px - 1 AND s.px + 1
      GROUP BY 1, 2, 3, 4, 5, 6, 7
    ),
    scored AS (
      SELECT image_id, ey, ex, ea, eb,
             CAST(SUM(hit) AS BIGINT) AS support_raw, COUNT(*) AS n_samp,
             CAST(SUM(hit) AS DOUBLE) / (2 * COUNT(*)) AS support
      FROM hits GROUP BY 1, 2, 3, 4, 5
    )
    SELECT image_id,
           CASE WHEN support >= {ELL_MIN_SCORE} THEN 'OK' ELSE 'NO_ELLIPSE' END AS status,
           CASE WHEN support >= {ELL_MIN_SCORE} THEN ey END AS ey,
           CASE WHEN support >= {ELL_MIN_SCORE} THEN ex END AS ex,
           CASE WHEN support >= {ELL_MIN_SCORE} THEN ea END AS ea,
           CASE WHEN support >= {ELL_MIN_SCORE} THEN eb END AS eb,
           support_raw, ROUND(support, 6) AS support
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY image_id
               ORDER BY support DESC, ey, ex, ea, eb) AS rn FROM scored)
    WHERE rn = 1
    """,
    bench=True,
)
def q_ellipse_candidate_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ellipse-candidate sweep + perimeter-support argmax (SURVEY F10/
    A12; ref hough_heart_detector2.py:315-358 fits ellipses to contours
    and scores sampled perimeter support, :150-167 precomputes the trig
    tables, :390 gates on min_score).

    Relational form: candidates x a broadcast (cos, sin) literal table
    -> DISTINCT rounded sample pixels; support via a 3x3-offset
    equi-join against the edge table (exact hit = 2, 1-px neighbor = 1,
    the discrete stand-in for the reference's bilinear sampling);
    deterministic rank-1 per image, NO_ELLIPSE below min_score.

    Scale shape: everything partitions by image_id; samples per image
    are bounded (81 cands x 24 thetas), the edge join is an equi-join
    on (image_id, y, x), and only (candidate, score) rows reach the
    rank window.
    """
    edge = spark.sql(ELLIPSE_EDGE_SQL).alias("e")
    imgs = edge.select("image_id").distinct()
    # candidate grid composed as a crossJoin (like the circle sibling)
    # — registering a session-global 'imgs' view here was a hidden
    # side effect that could clobber/get clobbered in the shared session
    grid = spark.range(81).select(
        (28 + F.floor(F.col("id") / 27) * 2).cast("bigint").alias("ey"),
        (30 + (F.floor(F.col("id") / 9) % 3) * 2).cast("bigint").alias("ex"),
        (10 + (F.floor(F.col("id") / 3) % 3) * 2).cast("bigint").alias("ea"),
        (6 + F.col("id") % 3).cast("bigint").alias("eb"),
    )
    cands = imgs.crossJoin(F.broadcast(grid))
    thetas = spark.sql(f"SELECT * FROM (VALUES {_ELL_THETAS}) AS t(t, ct, st)")
    samples = (
        cands.crossJoin(F.broadcast(thetas))
        .select(
            "image_id", "ey", "ex", "ea", "eb",
            F.round(F.col("ey") + F.col("eb") * F.col("st")).cast("bigint").alias("py"),
            F.round(F.col("ex") + F.col("ea") * F.col("ct")).cast("bigint").alias("px"),
        )
        .distinct()
        .alias("s")
    )
    offs = spark.sql(
        "SELECT CAST(FLOOR(id / 3) AS BIGINT) - 1 AS oy, id % 3 - 1 AS ox FROM range(9) AS r(id)"
    ).alias("o")
    probe = samples.crossJoin(F.broadcast(offs)).join(
        edge,
        (F.col("e.image_id") == F.col("s.image_id"))
        & (F.col("e.y") == F.col("s.py") + F.col("o.oy"))
        & (F.col("e.x") == F.col("s.px") + F.col("o.ox")),
        "left",
    )
    weight = (
        F.when(
            F.col("e.y").isNotNull() & (F.col("o.oy") == 0) & (F.col("o.ox") == 0), 2
        )
        .when(F.col("e.y").isNotNull(), 1)
        .otherwise(0)
    )
    hits = probe.groupBy("s.image_id", "s.ey", "s.ex", "s.ea", "s.eb", "s.py", "s.px").agg(
        F.max(weight).alias("hit")
    )
    scored = (
        hits.groupBy("image_id", "ey", "ex", "ea", "eb")
        .agg(F.sum("hit").cast("bigint").alias("support_raw"), F.count(F.lit(1)).alias("n_samp"))
        .withColumn(
            "support", F.col("support_raw").cast("double") / (2 * F.col("n_samp"))
        )
    )
    w = Window.partitionBy("image_id").orderBy(F.desc("support"), "ey", "ex", "ea", "eb")
    ok = F.col("support") >= ELL_MIN_SCORE
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "image_id",
            F.when(ok, "OK").otherwise("NO_ELLIPSE").alias("status"),
            F.when(ok, F.col("ey")).alias("ey"),
            F.when(ok, F.col("ex")).alias("ex"),
            F.when(ok, F.col("ea")).alias("ea"),
            F.when(ok, F.col("eb")).alias("eb"),
            "support_raw",
            F.round("support", 6).alias("support"),
        )
    )


@query(
    "hough_peak_udf",
    # the per-image numpy accumulator must reproduce the relational
    # vote pipeline exactly, so it shares hough_peak's oracle
    oracle=f"WITH edge AS ({EDGE_POINTS_SQL}){_VOTES_SQL}{_NMS_PEAK_SQL}",
)
def q_hough_peak_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image dense-accumulator Hough via applyInPandas — the
    cost-based ALTERNATIVE to the relational vote pipeline (SURVEY
    §4.2b): for dense edge maps the per-image numpy accumulator wins;
    for sparse maps / gigapixel images the relational form wins.
    Verified equal to `hough_peak` in tests.
    """
    edge = _edge_df(spark)
    size, r, acc_thresh = SIZE, R, ACC_THRESH

    def detect(pdf):
        import numpy as np
        import pandas as pd

        img = int(pdf["image_id"].iloc[0])
        acc = np.zeros((size, size), dtype=np.int32)
        ys = pdf["y"].to_numpy()
        xs = pdf["x"].to_numpy()
        dxs = np.arange(-r, r + 1)
        dy = np.round(np.sqrt(float(r * r) - dxs.astype(float) ** 2)).astype(int)
        for y, x in zip(ys, xs):
            x0 = x - dxs
            for yy in (y - dy, y + dy):
                ok = (yy >= 0) & (yy < size) & (x0 >= 0) & (x0 < size)
                np.add.at(acc, (yy[ok], x0[ok]), 1)
        # Global argmax: the global max cell is always a 3x3-NMS survivor,
        # and np.argmax's row-major scan equals the relational
        # (votes DESC, y0, x0) tie-break — so no explicit NMS pass needed.
        peak_v = int(acc.max())
        if peak_v < acc_thresh:
            # an all-out-of-bounds accumulator (possible when module
            # constants make SIZE < 2R+1) has no vote rows at all in
            # the relational twin — report NULL votes, not 0, so both
            # forms satisfy the same oracle
            return pd.DataFrame(
                {"image_id": [img], "status": ["NO_CIRCLE"],
                 "cy": [None], "cx": [None],
                 "peak_votes": [peak_v if peak_v > 0 else None]}
            )
        cy, cx = np.unravel_index(int(np.argmax(acc)), acc.shape)
        return pd.DataFrame(
            {"image_id": [img], "status": ["OK"],
             "cy": [int(cy)], "cx": [int(cx)], "peak_votes": [peak_v]}
        )

    return edge.groupBy("image_id").applyInPandas(
        detect,
        "image_id BIGINT, status STRING, cy BIGINT, cx BIGINT, peak_votes BIGINT",
    )

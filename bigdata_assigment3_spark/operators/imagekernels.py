"""Relational image kernels (SURVEY U2; reference:
HOUGH Transform preprocessing + Hidden_MarkovModels morphology).

The reference runs cv2/skimage kernels on dense arrays (CLAHE, blur,
Canny/Sobel, Otsu, morphology — hough_heart_detector.py:90-99,
brain_segmentation.py:84-96).  On a pixel *table*, every
fixed-neighborhood kernel is an offset-explode + equi-join +
aggregate, and Otsu is a histogram + window prefix-scan + argmax —
all exactly SQL-expressible, so unlike the cv2 originals these are
oracle-checked bit-for-bit.

Scale notes: a kernel join shuffles on coordinates once, independent
of image count; partitioning by image_id makes a billion-image corpus
embarrassingly parallel.  For very wide kernels a per-image numpy
kernel (the shape of hough.py's ``hough_peak_udf``) is the fallback — these
relational forms shine when images are huge (gigapixel) and must be
split ACROSS executors, which dense per-image arrays cannot do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..session import lineage_checkpoint
from .components import connected_components
from .hough import EDGE_POINTS_SQL, SIZE
from .motion import FRAME_PIXELS_SQL, H, W

# one test frame of the synthetic video (moderate, t=5)
FRAME_FILTER = "video_id = 'moderate' AND frame_idx = 5"

_OFFS9 = """
offs9 AS (
  SELECT CAST(FLOOR(id / 3) AS BIGINT) - 1 AS oy, id % 3 - 1 AS ox
  FROM range(9) AS r(id)
)
"""


@query(
    "conv_box_blur",
    oracle=f"""
    WITH px AS ({FRAME_PIXELS_SQL}),
    f AS (SELECT y, x, v FROM px WHERE {FRAME_FILTER}),
    {_OFFS9},
    blur AS (
      SELECT a.y, a.x, COUNT(b.v) AS n, SUM(b.v) AS s
      FROM f a
      CROSS JOIN offs9 o
      JOIN f b ON b.y = a.y + o.oy AND b.x = a.x + o.ox
      GROUP BY a.y, a.x
    )
    SELECT y, x, CAST(s AS BIGINT) AS sum9,
           ROUND(CAST(s AS DOUBLE) / n, 4) AS mean9
    FROM blur WHERE n = 9
    """,
)
def q_conv_box_blur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3x3 box blur as a 9-offset neighborhood join (the relational
    form of cv2.blur; ref hough_heart_detector.py:90-99 preprocessing).
    Border pixels (incomplete neighborhooods) are excluded, matching a
    'valid' convolution."""
    px = spark.sql(FRAME_PIXELS_SQL).filter(F.expr(FRAME_FILTER)).select("y", "x", "v")
    offs = spark.sql(f"WITH {_OFFS9} SELECT * FROM offs9")
    a, b = px.alias("a"), px.alias("b")
    blur = (
        a.crossJoin(F.broadcast(offs.alias("o")))
        .join(
            b,
            (F.col("b.y") == F.col("a.y") + F.col("o.oy"))
            & (F.col("b.x") == F.col("a.x") + F.col("o.ox")),
        )
        .groupBy(F.col("a.y").alias("y"), F.col("a.x").alias("x"))
        .agg(F.count("b.v").alias("n"), F.sum("b.v").alias("s"))
    )
    return blur.filter(F.col("n") == 9).select(
        "y",
        "x",
        F.col("s").cast("bigint").alias("sum9"),
        F.round(F.col("s").cast("double") / F.col("n"), 4).alias("mean9"),
    )


@query(
    "sobel_edges",
    oracle=f"""
    WITH px AS ({FRAME_PIXELS_SQL}),
    f AS (SELECT y, x, v FROM px WHERE {FRAME_FILTER}),
    {_OFFS9},
    grad AS (
      SELECT a.y, a.x,
             COUNT(b.v) AS n,
             SUM(b.v * o.ox * (2 - ABS(o.oy))) AS gx,
             SUM(b.v * o.oy * (2 - ABS(o.ox))) AS gy
      FROM f a
      CROSS JOIN offs9 o
      JOIN f b ON b.y = a.y + o.oy AND b.x = a.x + o.ox
      GROUP BY a.y, a.x
    )
    SELECT y, x, CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
           CAST(gx * gx + gy * gy AS BIGINT) AS mag2
    FROM grad
    WHERE n = 9 AND gx * gx + gy * gy > 10000
    """,
)
def q_sobel_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sobel gradient + edge threshold as one neighborhood join (the
    relational Canny-lite; ref Canny at hough_heart_detector.py:276).
    Kernel weights are the closed form ox*(2-|oy|) / oy*(2-|ox|) —
    exactly the Sobel masks — so one join computes both gradients."""
    px = spark.sql(FRAME_PIXELS_SQL).filter(F.expr(FRAME_FILTER)).select("y", "x", "v")
    offs = spark.sql(f"WITH {_OFFS9} SELECT * FROM offs9")
    a, b = px.alias("a"), px.alias("b")
    gx_w = F.col("o.ox") * (2 - F.abs(F.col("o.oy")))
    gy_w = F.col("o.oy") * (2 - F.abs(F.col("o.ox")))
    grad = (
        a.crossJoin(F.broadcast(offs.alias("o")))
        .join(
            b,
            (F.col("b.y") == F.col("a.y") + F.col("o.oy"))
            & (F.col("b.x") == F.col("a.x") + F.col("o.ox")),
        )
        .groupBy(F.col("a.y").alias("y"), F.col("a.x").alias("x"))
        .agg(
            F.count("b.v").alias("n"),
            F.sum(F.col("b.v") * gx_w).alias("gx"),
            F.sum(F.col("b.v") * gy_w).alias("gy"),
        )
    )
    mag2 = F.col("gx") * F.col("gx") + F.col("gy") * F.col("gy")
    return (
        grad.filter((F.col("n") == 9) & (mag2 > 10000))
        .select(
            "y",
            "x",
            F.col("gx").cast("bigint").alias("gx"),
            F.col("gy").cast("bigint").alias("gy"),
            mag2.cast("bigint").alias("mag2"),
        )
    )


@query(
    "otsu_threshold",
    oracle=f"""
    WITH px AS ({FRAME_PIXELS_SQL}),
    f AS (SELECT v FROM px WHERE video_id = 'moderate'),
    hist AS (SELECT v, COUNT(*) AS cnt FROM f GROUP BY v),
    tot AS (SELECT SUM(cnt) AS n, SUM(v * cnt) AS s FROM hist),
    scan AS (
      SELECT h.v,
             SUM(h2.cnt) AS w0,
             SUM(h2.v * h2.cnt) AS s0
      FROM hist h JOIN hist h2 ON h2.v <= h.v
      GROUP BY h.v
    ),
    scored AS (
      SELECT s.v AS threshold,
             CAST(s.w0 * (t.n - s.w0) AS DOUBLE)
               * (CAST(s.s0 AS DOUBLE) / s.w0 - CAST(t.s - s.s0 AS DOUBLE) / (t.n - s.w0))
               * (CAST(s.s0 AS DOUBLE) / s.w0 - CAST(t.s - s.s0 AS DOUBLE) / (t.n - s.w0))
               AS between_var
      FROM scan s, tot t
      WHERE s.w0 > 0 AND s.w0 < t.n
    )
    SELECT threshold, ROUND(between_var, 4) AS between_var FROM scored
    ORDER BY between_var DESC, threshold LIMIT 1
    """,
)
def q_otsu_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Otsu's threshold as histogram + prefix scan + argmax (SURVEY U2;
    ref Otsu skull-strip, brain_segmentation.py:84-96).  Between-class
    variance w0*w1*(mu0-mu1)^2 maximized over candidate thresholds —
    histogram is tiny, so the scan join is negligible at any scale."""
    px = spark.sql(FRAME_PIXELS_SQL).filter(F.col("video_id") == "moderate")
    hist = px.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scan = hist.select(
        "v",
        F.sum("cnt").over(w).alias("w0"),
        F.sum(F.col("v") * F.col("cnt")).over(w).alias("s0"),
    )
    tot = hist.agg(F.sum("cnt").alias("n"), F.sum(F.col("v") * F.col("cnt")).alias("s"))
    j = scan.crossJoin(F.broadcast(tot)).filter((F.col("w0") > 0) & (F.col("w0") < F.col("n")))
    mu0 = F.col("s0").cast("double") / F.col("w0")
    mu1 = (F.col("s") - F.col("s0")).cast("double") / (F.col("n") - F.col("w0"))
    bv = (F.col("w0") * (F.col("n") - F.col("w0"))).cast("double") * (mu0 - mu1) * (mu0 - mu1)
    return (
        j.select(F.col("v").alias("threshold"), bv.alias("between_var"))
        .orderBy(F.desc("between_var"), F.asc("threshold"))
        .limit(1)
        .select("threshold", F.round("between_var", 4).alias("between_var"))
    )


@query(
    "morphology_counts",
    oracle=f"""
    WITH edge AS ({EDGE_POINTS_SQL}),
    {_OFFS9},
    neigh AS (
      SELECT g.image_id, g.y, g.x, COUNT(e.x) AS n_set
      FROM (SELECT DISTINCT image_id, y, x FROM edge) g
      CROSS JOIN offs9 o
      LEFT JOIN edge e ON e.image_id = g.image_id
                      AND e.y = g.y + o.oy AND e.x = g.x + o.ox
      GROUP BY 1, 2, 3
    ),
    dil AS (
      SELECT e.image_id, COUNT(DISTINCT (d.y + o.oy) * {SIZE} + (d.x + o.ox)) AS n_dilated
      FROM (SELECT DISTINCT image_id FROM edge) e
      JOIN edge d ON d.image_id = e.image_id
      CROSS JOIN offs9 o
      WHERE d.y + o.oy BETWEEN 0 AND {SIZE - 1} AND d.x + o.ox BETWEEN 0 AND {SIZE - 1}
      GROUP BY 1
    )
    SELECT n.image_id,
           COUNT(*) AS n_points,
           COUNT(*) FILTER (WHERE n.n_set = 9) AS n_eroded,
           MAX(d.n_dilated) AS n_dilated
    FROM neigh n JOIN dil d ON d.image_id = n.image_id
    GROUP BY n.image_id
    """,
)
def q_morphology_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary morphology on the sparse point set (SURVEY U2; ref
    open/close/remove-small, brain_segmentation.py:93-95): erosion =
    points whose full 3x3 neighborhood is set; dilation = union of
    shifted point sets.  Reported as per-image set sizes."""
    edge = spark.sql(EDGE_POINTS_SQL)
    offs = spark.sql(f"WITH {_OFFS9} SELECT * FROM offs9")
    g = edge.distinct().alias("g")
    e = edge.alias("e")
    neigh = (
        g.crossJoin(F.broadcast(offs.alias("o")))
        .join(
            e,
            (F.col("e.image_id") == F.col("g.image_id"))
            & (F.col("e.y") == F.col("g.y") + F.col("o.oy"))
            & (F.col("e.x") == F.col("g.x") + F.col("o.ox")),
            "left",
        )
        .groupBy("g.image_id", "g.y", "g.x")
        .agg(F.count("e.x").alias("n_set"))
    )
    d = edge.alias("d")
    dil = (
        d.crossJoin(F.broadcast(offs.alias("o")))
        .filter(
            (F.col("d.y") + F.col("o.oy")).between(0, SIZE - 1)
            & (F.col("d.x") + F.col("o.ox")).between(0, SIZE - 1)
        )
        .select(
            "d.image_id",
            ((F.col("d.y") + F.col("o.oy")) * SIZE + F.col("d.x") + F.col("o.ox")).alias("cell"),
        )
        .groupBy("image_id")
        .agg(F.countDistinct("cell").alias("n_dilated"))
    )
    return (
        neigh.groupBy("image_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.count(F.when(F.col("n_set") == 9, 1)).alias("n_eroded"),
        )
        .join(dil, "image_id")
        .select("image_id", "n_points", "n_eroded", "n_dilated")
    )


@query(
    "largest_component",
    # recursive-CTE transitive closure: reach(root) = every cell
    # reachable from root over the 4-neighbor edge list; a component's
    # label is the min cell id it can reach.  Closure size is
    # sum(|component|^2) — fine for the bounded fixture; the Spark side
    # labels the edge list with components.connected_components instead,
    # which is the shape that scales.
    oracle=f"""
    WITH RECURSIVE px AS ({FRAME_PIXELS_SQL}),
    cells AS (SELECT y * {W} + x AS cell, y, x FROM px
              WHERE {FRAME_FILTER} AND v >= 190),
    offs(dy, dx) AS (VALUES (1,0),(-1,0),(0,1),(0,-1)),
    edges AS (
      SELECT a.cell AS src, b.cell AS dst
      FROM cells a CROSS JOIN offs o
      JOIN cells b ON b.y = a.y + o.dy AND b.x = a.x + o.dx
    ),
    reach(root, cell) AS (
      SELECT cell, cell FROM cells
      UNION
      SELECT r.root, e.dst FROM reach r JOIN edges e ON e.src = r.cell
    ),
    comp AS (SELECT root, MIN(cell) AS component FROM reach GROUP BY root)
    SELECT CAST(component AS BIGINT) AS component,
           CAST(COUNT(*) AS BIGINT) AS size
    FROM comp GROUP BY component ORDER BY size DESC, component
    """,
)
def q_largest_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components on the 2-D in-mask slice (SURVEY A14; ref
    keep-largest-CC skull strip, brain_segmentation.py:88-92): the
    4-neighbor cell-id edge list is built once, by one join of each
    cell's right and lower neighbor ids against the cell set, and
    labelled by ``components.connected_components``; isolated cells are
    nodes without edges.  Returns component sizes (largest first).

    Value-oracled: DuckDB computes the same components by recursive-CTE
    transitive closure over the shared SQL pixel fixture — two utterly
    different algorithms agreeing on labels AND sizes."""
    # the pixel generator runs once: the nodes and the edge join read it
    cells = lineage_checkpoint(
        spark.sql(FRAME_PIXELS_SQL)
        .filter(F.expr(FRAME_FILTER) & (F.col("v") >= 190))
        .select((F.col("y") * W + F.col("x")).alias("id"), "x")
    )
    right = cells.filter(F.col("x") < W - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    down = cells.select(F.col("id").alias("a"), (F.col("id") + W).alias("b"))
    edges = right.unionByName(down).join(cells.select(F.col("id").alias("b")), "b")
    return (
        connected_components(cells, edges)
        .groupBy("comp")
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.desc("size"), F.asc("comp"))
        .select(F.col("comp").cast("bigint").alias("component"), "size")
    )

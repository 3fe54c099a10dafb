"""HMRF-EM brain segmentation as voxel-table analytics
(reference: Hidden_MarkovModels/brain_segmentation.py).

The reference loads a DICOM series into a dense (Z,Y,X) float volume
and runs: robust percentile normalization → K-means init → iterative
ICM label updates (Potts spatial prior, 6-neighborhood) + per-class
Gaussian M-step → convergence on changed-label ratio.

Here the volume is a DataFrame ``voxels(z, y, x, inten_m, in_mask)``
(intensity in integer milli-units so every energy comparison is exact
integer math in both engines).  Fixture: three concentric ellipsoidal
shells whose means mirror the reference report (WM=0.34, GM=0.46,
CSF=0.70 — outputs_best/report.pdf) plus deterministic integer noise.

ICM note (SURVEY §7.4): the reference's Gauss-Seidel sweep updates
labels in-place mid-sweep (brain_segmentation.py:142-170) — inherently
sequential.  We run Jacobi steps (all voxels update from the previous
labeling): same fixed points, parallelizable, and the *single step* is
exactly SQL-checkable.

Scale notes: the neighbor join shuffles on (z,y,x) once per step; at
real scale you'd partition by z-slab so the 6-neighbor join is
node-local except the two halo faces.  The EM loop is driver-side
control flow over distributed actions with per-iteration
lineage checkpointing to truncate lineage (SURVEY §4.3;
reliable checkpoint dir via SPARK_GRAFT_CHECKPOINT_DIR at cluster scale).
"""

from __future__ import annotations

import io
import os
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions.nifti import nifti1_bytes, parse_nifti1
from ..registry import query
from ..session import lineage_checkpoint, stage_dir, staged_fixture
from ..sources.files import decode_files, staged_files, write_shards
from .components import connected_components

Z, Y, X = 16, 32, 32
NVOX = Z * Y * X
BETA_NUM, BETA_DEN = 8, 5          # beta = 1.6 (report.pdf best run)
VAR_M = 2500                        # fixed class variance (50 milli)^2
MEANS_M = (340, 460, 700)           # planted ~ report's sorted means
# energy scaled by 10v: 5*(inten-mu)^2 + 2*v*beta_num*(#neighbors with label != k)
_POTTS_W = 2 * VAR_M * BETA_NUM  # Potts weight in the 10v-scaled energy (40000)

# Deterministic voxel volume, runnable verbatim on Spark SQL and DuckDB.
VOXELS_SQL = f"""
SELECT z, y, x,
       CASE WHEN d2 < 64 THEN 340 WHEN d2 < 144 THEN 460
            WHEN d2 < 256 THEN 700 ELSE 80 END
       + (z * 73856093 + y * 19349663 + x * 83492791) % 97 - 48 AS inten_m,
       d2 < 256 AS in_mask
FROM (
  SELECT z, y, x,
         (z - 8) * (z - 8) * 4 + (y - 16) * (y - 16) + (x - 16) * (x - 16) AS d2
  FROM (
    SELECT CAST(FLOOR(id / {Y * X}) AS BIGINT) AS z,
           CAST(FLOOR(id / {X}) AS BIGINT) % {Y} AS y,
           id % {X} AS x
    FROM range({NVOX}) AS r(id)
  )
)
"""

# Threshold init (stand-in for K-means labels so the ICM step is
# deterministic and SQL-checkable; K-means itself is q_kmeans_init).
_INIT_LABEL = "CASE WHEN inten_m < 400 THEN 0 WHEN inten_m < 580 THEN 1 ELSE 2 END"

_NBR_OFFS = "(VALUES (1,0,0),(-1,0,0),(0,1,0),(0,-1,0),(0,0,1),(0,0,-1)) AS o(dz, dy, dx)"


def _voxels(spark: SparkSession) -> DataFrame:
    return spark.sql(VOXELS_SQL)


@query(
    "voxel_normalize",
    oracle=f"""
    WITH vox AS ({VOXELS_SQL}),
    m AS (SELECT * FROM vox WHERE in_mask),
    p AS (
      SELECT PERCENTILE_CONT(0.02) WITHIN GROUP (ORDER BY inten_m) AS p2,
             PERCENTILE_CONT(0.98) WITHIN GROUP (ORDER BY inten_m) AS p98
      FROM m
    )
    SELECT ROUND(FLOOR(((LEAST(GREATEST(CAST(inten_m AS DOUBLE), p2), p98) - p2)
                 / (p98 - p2)) * 20) / 20, 2) AS norm_bucket,
           COUNT(*) AS n
    FROM m, p
    GROUP BY 1
    """,
)
def q_voxel_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust 2-98% percentile clip + min-max normalize, as a histogram
    (SURVEY F8/A7; ref brain_segmentation.py:67-73 robust_normalize).

    The percentiles are two scalars (one reduce); the remap is pure
    column arithmetic.  Bucketed output keeps the oracle compact.
    """
    vox = _voxels(spark).filter(F.col("in_mask"))
    p = vox.agg(
        F.expr("percentile(inten_m, 0.02)").alias("p2"),
        F.expr("percentile(inten_m, 0.98)").alias("p98"),
    )
    j = vox.crossJoin(F.broadcast(p))
    clipped = F.least(F.greatest(F.col("inten_m").cast("double"), F.col("p2")), F.col("p98"))
    norm = (clipped - F.col("p2")) / (F.col("p98") - F.col("p2"))
    return (
        j.select(F.round(F.floor(norm * 20) / 20, 2).alias("norm_bucket"))
        .groupBy("norm_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "mstep_class_stats",
    oracle=f"""
    WITH vox AS ({VOXELS_SQL})
    SELECT {_INIT_LABEL} AS label,
           COUNT(*) AS n,
           ROUND(CAST(SUM(inten_m) AS DOUBLE) / COUNT(*), 6) AS mean_m,
           ROUND(CAST(COUNT(*) * SUM(inten_m * inten_m) - SUM(inten_m) * SUM(inten_m) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * COUNT(*)), 6) AS var_m
    FROM vox WHERE in_mask
    GROUP BY 1
    """,
    order_sensitive=True,
)
def q_mstep_class_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M-step: per-class mean/variance (SURVEY A9; ref
    brain_segmentation.py:174-186).  Variance via the integer identity
    (n*Σx² - (Σx)²)/n² — exact rational, engine-independent."""
    vox = _voxels(spark).filter(F.col("in_mask"))
    lbl = F.expr(_INIT_LABEL).alias("label")
    n = F.count(F.lit(1))
    s = F.sum("inten_m")
    ss = F.sum(F.col("inten_m") * F.col("inten_m"))
    return vox.groupBy(lbl).agg(
        n.alias("n"),
        F.round(s.cast("double") / n, 6).alias("mean_m"),
        F.round((n * ss - s * s).cast("double") / (n.cast("double") * n), 6).alias("var_m"),
    )


_ICM_ORACLE = f"""
WITH vox AS ({VOXELS_SQL}),
lab AS (
  SELECT z, y, x, inten_m, {_INIT_LABEL} AS label
  FROM vox WHERE in_mask
),
nbr AS (
  SELECT l.z, l.y, l.x,
         COUNT(n.label) AS n_nbr,
         COUNT(n.label) FILTER (WHERE n.label = 0) AS c0,
         COUNT(n.label) FILTER (WHERE n.label = 1) AS c1,
         COUNT(n.label) FILTER (WHERE n.label = 2) AS c2
  FROM lab l
  CROSS JOIN {_NBR_OFFS}
  LEFT JOIN lab n ON n.z = l.z + o.dz AND n.y = l.y + o.dy AND n.x = l.x + o.dx
  GROUP BY 1, 2, 3
),
energy AS (
  SELECT l.z, l.y, l.x, l.label AS old_label,
         5 * (l.inten_m - 340) * (l.inten_m - 340) + {_POTTS_W} * (b.n_nbr - b.c0) AS e0,
         5 * (l.inten_m - 460) * (l.inten_m - 460) + {_POTTS_W} * (b.n_nbr - b.c1) AS e1,
         5 * (l.inten_m - 700) * (l.inten_m - 700) + {_POTTS_W} * (b.n_nbr - b.c2) AS e2
  FROM lab l JOIN nbr b ON b.z = l.z AND b.y = l.y AND b.x = l.x
)
SELECT old_label,
       CASE WHEN e0 <= e1 AND e0 <= e2 THEN 0
            WHEN e1 <= e2 THEN 1 ELSE 2 END AS new_label,
       COUNT(*) AS n
FROM energy
GROUP BY 1, 2
"""


def _neighbor_energies(spark: SparkSession, lab: DataFrame, means) -> DataFrame:
    """(z, y, x, inten_m, label, e0..e2) for one Jacobi step: 6-offset
    explode + self-equi-join neighbor counts and the 10v-scaled Potts
    energies 5*(I-mu_k)^2 + POTTS_W*(n_nbr - c_k) — THE energy block,
    defined once for the transitions query, the relational EM loop and
    the posterior softmax (plus two oracle CTEs that replay it in SQL).
    Also the canonical argmin tie-break lives with it (_ARGMIN_LABEL)."""
    offs = spark.sql(f"SELECT * FROM {_NBR_OFFS}")
    l, nb = lab.alias("l"), lab.alias("n")
    cnt = (
        l.crossJoin(F.broadcast(offs.alias("o")))
        .join(
            nb,
            (F.col("n.z") == F.col("l.z") + F.col("o.dz"))
            & (F.col("n.y") == F.col("l.y") + F.col("o.dy"))
            & (F.col("n.x") == F.col("l.x") + F.col("o.dx")),
            "left",
        )
        .groupBy("l.z", "l.y", "l.x")
        .agg(
            F.count("n.label").alias("n_nbr"),
            *[F.count(F.when(F.col("n.label") == k, 1)).alias(f"c{k}") for k in range(3)],
        )
    )
    e = lab.join(cnt, ["z", "y", "x"])
    es = [
        (5 * (F.col("inten_m") - mu) * (F.col("inten_m") - mu)
         + _POTTS_W * (F.col("n_nbr") - F.col(f"c{k}"))).alias(f"e{k}")
        for k, mu in enumerate(means)
    ]
    return e.select("z", "y", "x", "inten_m", "label", *es)


def _argmin_label():
    """ties -> lowest k, matching the oracle's CASE chain."""
    return (
        F.when((F.col("e0") <= F.col("e1")) & (F.col("e0") <= F.col("e2")), 0)
        .when(F.col("e1") <= F.col("e2"), 1)
        .otherwise(2)
    )


@query("icm_step_transitions", oracle=_ICM_ORACLE, bench=True)
def q_icm_step_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Jacobi ICM step: MAP label update with Potts prior over the
    6-neighborhood, reported as an old->new transition matrix
    (SURVEY J3/U7; ref brain_segmentation.py:124-171).

    Energy argmin multiplied through by 10*var so the comparison is
    pure integer: 5*(I-mu_k)^2 + 2*var*beta_num*(#nbrs != k).  The
    neighbor counts come from a 6-offset explode + self-equi-join —
    the relational form of the reference's shifted-array sums.
    """
    vox = _voxels(spark).filter(F.col("in_mask"))
    lab = vox.select("z", "y", "x", "inten_m", F.expr(_INIT_LABEL).alias("label"))
    e = _neighbor_energies(spark, lab, MEANS_M)
    return (
        e.select(F.col("label").alias("old_label"), _argmin_label().alias("new_label"))
        .groupBy("old_label", "new_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "segmentation_convergence",
    oracle=f"""
    WITH t AS ({_ICM_ORACLE})
    SELECT CAST(SUM(CASE WHEN old_label <> new_label THEN n ELSE 0 END) AS BIGINT) AS changed,
           CAST(SUM(n) AS BIGINT) AS total,
           ROUND(CAST(SUM(CASE WHEN old_label <> new_label THEN n ELSE 0 END) AS DOUBLE)
                 / SUM(n), 6) AS change_ratio
    FROM t
    """,
)
def q_segmentation_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence metric: changed-label count/ratio after one step
    (SURVEY A15; ref brain_segmentation.py:307-315 stop_ratio)."""
    t = q_icm_step_transitions(spark, sf_dir)
    changed = F.sum(F.when(F.col("old_label") != F.col("new_label"), F.col("n")).otherwise(0))
    total = F.sum("n")
    return t.agg(
        changed.cast("bigint").alias("changed"),
        total.cast("bigint").alias("total"),
        F.round(changed.cast("double") / total, 6).alias("change_ratio"),
    )


# deterministic 1-D k-means: fixed-point centroids in micro-units
# (Q = 1000) so every assignment and M-step is exact integer math,
# replayable verbatim as SQL — no RNG anywhere
KM_Q = 1000
KM_ITERS = 8  # fixpoint by iteration 2 on the fixture; extra Lloyd
              # steps are exact no-ops, so a fixed unroll stays correct


def _kmeans_1d_oracle() -> str:
    """The deterministic 1-D k-means as ONE DuckDB statement: intensity
    histogram -> farthest-point seeds (min, max, argmax-of-min-distance)
    -> {KM_ITERS} unrolled exact-integer Lloyd steps."""
    ctes = [
        f"hist AS (SELECT inten_m * {KM_Q} AS vq, COUNT(*) AS c"
        f" FROM ({VOXELS_SQL}) WHERE in_mask GROUP BY 1)",
        "ext AS (SELECT MIN(vq) AS lo, MAX(vq) AS hi FROM hist)",
        # third seed: farthest point from both extremes, tie -> lowest
        "seed3 AS (SELECT vq FROM hist, ext"
        " ORDER BY LEAST(ABS(vq - lo), ABS(vq - hi)) DESC, vq ASC LIMIT 1)",
        "mu0 AS (SELECT lo AS m0, (SELECT vq FROM seed3) AS m1, hi AS m2 FROM ext)",
    ]
    for i in range(1, KM_ITERS + 1):
        ctes.append(f"""asg{i} AS MATERIALIZED (
          SELECT h.vq, h.c,
                 CASE WHEN (h.vq - m.m0) * (h.vq - m.m0) <= (h.vq - m.m1) * (h.vq - m.m1)
                       AND (h.vq - m.m0) * (h.vq - m.m0) <= (h.vq - m.m2) * (h.vq - m.m2) THEN 0
                      WHEN (h.vq - m.m1) * (h.vq - m.m1) <= (h.vq - m.m2) * (h.vq - m.m2) THEN 1
                      ELSE 2 END AS k
          FROM hist h, mu{i - 1} m
        )""")
        ctes.append(f"st{i} AS MATERIALIZED (SELECT k, SUM(vq * c) AS s, SUM(c) AS c FROM asg{i} GROUP BY k)")
        mus = ", ".join(
            f"COALESCE(MAX(CASE WHEN k = {k} THEN (2 * s + c) // (2 * c) END),"
            f" (SELECT m{k} FROM mu{i - 1})) AS m{k}"
            for k in range(3)
        )
        ctes.append(f"mu{i} AS MATERIALIZED (SELECT {mus} FROM st{i})")
    # rank by the EXACT unrounded mean (one IEEE double division,
    # identical to the Python side's sort key), not the 6-dp ROUND —
    # two classes agreeing to 1e-6 but differing beyond it must not
    # swap ranks between engines (round-12 advice)
    return (
        "WITH " + ",\n".join(ctes) + f"""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY mc, n) - 1 AS INT) AS rank, center, n
    FROM (
      SELECT CAST(s AS DOUBLE) / c / {KM_Q} AS mc,
             ROUND(CAST(s AS DOUBLE) / c / {KM_Q}, 6) AS center, CAST(c AS BIGINT) AS n
      FROM st{KM_ITERS}
    )"""
    )


# exchanges: the histogram agg runs eagerly inside the bounded collect; the
# returned frame is a LocalRelation
@query("kmeans_init", oracle=_kmeans_1d_oracle(), exchanges=0, order_sensitive=True)
def q_kmeans_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means intensity init, classes ordered by mean (SURVEY U6/O3;
    ref brain_segmentation.py:100-116 — sklearn KMeans(n_init=4,
    random_state=0) there; HERE a fully deterministic 1-D k-means:
    farthest-point seeding + exact fixed-point Lloyd over the bounded
    intensity HISTOGRAM, so the whole trajectory is RNG-free and
    value-oracled as unrolled SQL, where seeded pyspark.ml KMeans was
    rows-only AND partition-dependent (k-means|| samples per split).

    Scale shape: ONE distributed groupBy builds the histogram — its
    size is bounded by the intensity domain (milli-units of a 12-bit
    scanner range), not the corpus, so the driver-side Lloyd loop is
    O(domain * k * iters) no matter how many voxels stream in.

    Returns per-class (rank, center, n) with rank assigned ascending
    by center so labels are order-stable like the reference's argsort
    remap (brain_segmentation.py:109-116).
    """
    hist = sorted(
        (int(r.vq), int(r.c))
        for r in _voxels(spark)
        .filter(F.col("in_mask"))
        .groupBy((F.col("inten_m") * KM_Q).alias("vq"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    lo, hi = hist[0][0], hist[-1][0]
    seed3 = max(hist, key=lambda vc: (min(abs(vc[0] - lo), abs(vc[0] - hi)), -vc[0]))[0]
    mus = [lo, seed3, hi]
    s_fin = c_fin = None
    for _ in range(KM_ITERS):
        s, c = [0, 0, 0], [0, 0, 0]
        for vq, cnt in hist:
            d = [(vq - m) * (vq - m) for m in mus]
            k = d.index(min(d))  # ties -> lowest k, like the SQL CASE
            s[k] += vq * cnt
            c[k] += cnt
        # round-half-up integer mean (all positive -> // is floor)
        mus = [(2 * s[k] + c[k]) // (2 * c[k]) if c[k] else mus[k] for k in range(3)]
        s_fin, c_fin = s, c
    rows = sorted(
        ((s_fin[k] / c_fin[k] / KM_Q, c_fin[k]) for k in range(3) if c_fin[k]),
    )
    return spark.createDataFrame(
        [(rank, round(center, 6), int(n)) for rank, (center, n) in enumerate(rows)],
        "rank INT, center DOUBLE, n BIGINT",
    )


# early-stop threshold as an exact rational (changed/total < 1/100),
# so the Spark loop and the unrolled SQL oracle compare identically —
# integer cross-multiplication, no float ratio on either side
STOP_NUM, STOP_DEN = 1, 100


def _em_unrolled_oracle(src_sql: str, n_iters: int = 3) -> str:
    """The FULL bounded EM loop as ONE DuckDB statement: the driver-side
    Python iteration unrolls into chained CTEs (one nbr/energy/label/
    M-step block per iteration), and the early stop becomes a CASE that
    selects which iteration's labeling is final.  Every quantity the
    loop compares is exact (integer neighbor counts and changed-counts;
    means as double(SUM)/COUNT — a single deterministic IEEE division),
    so the oracle replays the Spark trajectory bit-for-bit.

    ``src_sql`` must yield the masked voxel table (z, y, x, inten_m).
    """
    ctes = [f"src AS ({src_sql})",
            f"lab0 AS MATERIALIZED (SELECT z, y, x, inten_m, {_INIT_LABEL} AS label FROM src)",
            "tot AS (SELECT COUNT(*) AS n FROM lab0)"]
    init_mu = [f"CAST({m} AS DOUBLE)" for m in MEANS_M]
    for i in range(1, n_iters + 1):
        prev = f"lab{i - 1}"
        if i == 1:
            mus = ", ".join(f"{e} AS mu{k}" for k, e in enumerate(init_mu))
            ctes.append(f"mu{i} AS MATERIALIZED (SELECT {mus})")
        else:
            # M-step over the previous labeling; empty classes carry the
            # prior mean forward (COALESCE), like the loop's params dict
            ctes.append(
                f"st{i} AS MATERIALIZED (SELECT label, CAST(SUM(inten_m) AS DOUBLE) / COUNT(*) AS mu"
                f" FROM {prev} GROUP BY label)"
            )
            fb = (init_mu if i == 2
                  else [f"(SELECT mu{k} FROM mu{i - 1})" for k in range(3)])
            mus = ", ".join(
                f"COALESCE(MAX(CASE WHEN label = {k} THEN mu END), {fb[k]}) AS mu{k}"
                for k in range(3)
            )
            ctes.append(f"mu{i} AS MATERIALIZED (SELECT {mus} FROM st{i})")
        ctes.append(f"""nbr{i} AS MATERIALIZED (
          SELECT l.z, l.y, l.x,
                 COUNT(n.label) AS n_nbr,
                 COUNT(n.label) FILTER (WHERE n.label = 0) AS c0,
                 COUNT(n.label) FILTER (WHERE n.label = 1) AS c1,
                 COUNT(n.label) FILTER (WHERE n.label = 2) AS c2
          FROM {prev} l
          CROSS JOIN {_NBR_OFFS}
          LEFT JOIN {prev} n ON n.z = l.z + o.dz AND n.y = l.y + o.dy AND n.x = l.x + o.dx
          GROUP BY 1, 2, 3
        )""")
        ctes.append(f"""en{i} AS MATERIALIZED (
          SELECT l.z, l.y, l.x, l.inten_m, l.label AS old,
                 5 * (l.inten_m - m.mu0) * (l.inten_m - m.mu0) + {_POTTS_W} * (b.n_nbr - b.c0) AS e0,
                 5 * (l.inten_m - m.mu1) * (l.inten_m - m.mu1) + {_POTTS_W} * (b.n_nbr - b.c1) AS e1,
                 5 * (l.inten_m - m.mu2) * (l.inten_m - m.mu2) + {_POTTS_W} * (b.n_nbr - b.c2) AS e2
          FROM {prev} l JOIN nbr{i} b ON b.z = l.z AND b.y = l.y AND b.x = l.x, mu{i} m
        )""")
        ctes.append(
            f"lab{i} AS MATERIALIZED (SELECT z, y, x, inten_m, old,"
            " CASE WHEN e0 <= e1 AND e0 <= e2 THEN 0 WHEN e1 <= e2 THEN 1 ELSE 2 END AS label"
            f" FROM en{i})"
        )
        ctes.append(
            f"ch{i} AS MATERIALIZED (SELECT SUM(CASE WHEN old <> label THEN 1 ELSE 0 END) AS ch FROM lab{i})"
        )
    stop = [
        f"WHEN (SELECT ch FROM ch{i}) * {STOP_DEN} < {STOP_NUM} * (SELECT n FROM tot) THEN {i}"
        for i in range(1, n_iters)
    ]
    ctes.append(f"sel AS (SELECT CASE {' '.join(stop)} ELSE {n_iters} END AS fin)")
    branches = " UNION ALL ".join(
        f"SELECT z, y, x, inten_m, label FROM lab{i} WHERE (SELECT fin FROM sel) = {i}"
        for i in range(1, n_iters + 1)
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT label, COUNT(*) AS n, ROUND(AVG(inten_m), 3) AS mean_m"
        + f"\nFROM ({branches}) GROUP BY label"
    )


_EM_SRC_RAW = f"SELECT z, y, x, inten_m FROM ({VOXELS_SQL}) WHERE in_mask"


def hmrf_em(
    spark: SparkSession,
    n_iters: int = 3,
    vox: DataFrame | None = None,
) -> DataFrame:
    """Full HMRF-EM loop (ref brain_segmentation.py:274-318): driver-side
    iteration over distributed Jacobi-ICM + M-step, with per-iteration
    lineage checkpointing to truncate lineage and an aggregate-driven early
    stop — the Spark shape of the reference's convergence loop.

    ``vox`` lets a preprocessing chain (denoise, bias-field) hand in
    transformed intensities; default is the raw fixture volume.

    Value-oracled end to end: ``_em_unrolled_oracle`` replays this exact
    loop (bounded iterations + early stop) as chained CTEs in DuckDB.
    """
    if vox is None:
        vox = _voxels(spark)
    vox = vox.filter(F.col("in_mask"))
    lab = vox.select("z", "y", "x", "inten_m", F.expr(_INIT_LABEL).alias("label"))
    lab = lineage_checkpoint(lab)
    params = list(MEANS_M)
    total = lab.count()
    for _ in range(n_iters):
        e = _neighbor_energies(spark, lab, params)
        new_lbl = _argmin_label()
        nxt = e.select("z", "y", "x", "inten_m", F.col("label").alias("old"), new_lbl.alias("label"))
        nxt = lineage_checkpoint(nxt)  # truncate lineage per iteration
        # M-step + convergence in ONE job: the changed-label count
        # rides the same groupBy pass (a separate .count() action
        # would scan the checkpointed table twice per iteration).
        # Exact integer sum / count, NOT float avg: float avg is
        # association-order dependent, so two physical plans of the
        # same EM (relational vs slab) would drift apart on knife-edge
        # energy ties.  sum(long)/count is bit-deterministic.
        stats = nxt.groupBy("label").agg(
            F.sum("inten_m").alias("s"),
            F.count(F.lit(1)).alias("c"),
            F.sum(F.when(F.col("old") != F.col("label"), 1).otherwise(0)).alias("ch"),
        ).collect()
        changed = sum(int(r.ch) for r in stats)
        got = {int(r.label): float(r.s) / float(r.c) for r in stats}
        params = [got.get(k, params[k]) for k in range(3)]
        lab = nxt.drop("old")
        # exact rational early stop (changed/total < STOP_NUM/STOP_DEN):
        # integer cross-multiply so the SQL oracle compares identically
        if changed * STOP_DEN < STOP_NUM * total:
            break
    return lab.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("inten_m"), 3).alias("mean_m"),
    )


@query("hmrf_em_segmentation", oracle=_em_unrolled_oracle(_EM_SRC_RAW))
def q_hmrf_em_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end HMRF-EM (3 iterations or converged) — final per-class
    voxel counts + means (the reference report's summary table).

    Value-oracled (round 12): the bounded driver loop unrolls into one
    chained-CTE DuckDB statement with a CASE-selected early stop."""
    return hmrf_em(spark)


# 3x3 in-plane binomial (Gaussian sigma~0.85) kernel: weight
# (2-|oy|)*(2-|ox|) -> 1/2/1, 2/4/2, 1/2/1 — the reference's per-slice
# Gaussian denoise (brain_segmentation.py:384-395) in integer form.
_DENOISE_OFFS = """
offs AS (
  SELECT CAST(FLOOR(id / 3) AS BIGINT) - 1 AS oy, id % 3 - 1 AS ox
  FROM range(9) AS r(id)
)
"""


def _denoised_voxels(spark: SparkSession) -> DataFrame:
    """(z, y, x, inten_m, in_mask) with inten_m replaced by the
    weighted-neighborhood average, floor-divided by the present weight
    sum (exact integers -> bit-identical cross-engine).  Denoise sees
    the FULL slice (outside-mask neighbors included), like the
    reference denoising before masking."""
    vox = _voxels(spark)
    offs = spark.sql(f"WITH {_DENOISE_OFFS} SELECT * FROM offs")
    a, b = vox.alias("a"), vox.alias("b")
    wgt = (2 - F.abs(F.col("o.oy"))) * (2 - F.abs(F.col("o.ox")))
    sm = (
        a.crossJoin(F.broadcast(offs.alias("o")))
        .join(
            b,
            (F.col("b.z") == F.col("a.z"))
            & (F.col("b.y") == F.col("a.y") + F.col("o.oy"))
            & (F.col("b.x") == F.col("a.x") + F.col("o.ox")),
        )
        .groupBy(
            F.col("a.z").alias("z"),
            F.col("a.y").alias("y"),
            F.col("a.x").alias("x"),
            F.col("a.in_mask").alias("in_mask"),
        )
        .agg(
            F.sum(F.col("b.inten_m") * wgt).alias("swv"),
            F.sum(wgt).alias("sw"),
        )
    )
    return sm.select(
        "z", "y", "x", F.expr("CAST(swv div sw AS BIGINT)").alias("inten_m"), "in_mask"
    )


@query(
    "gaussian_denoise",
    oracle=f"""
    WITH vox AS ({VOXELS_SQL}),
    {_DENOISE_OFFS},
    sm AS (
      SELECT a.z, a.y, a.x, a.in_mask,
             SUM(b.inten_m * (2 - ABS(o.oy)) * (2 - ABS(o.ox))) AS swv,
             SUM((2 - ABS(o.oy)) * (2 - ABS(o.ox))) AS sw
      FROM vox a
      CROSS JOIN offs o
      JOIN vox b ON b.z = a.z AND b.y = a.y + o.oy AND b.x = a.x + o.ox
      GROUP BY 1, 2, 3, 4
    )
    SELECT z, y, x, CAST(swv // sw AS BIGINT) AS dn_m
    FROM sm WHERE in_mask
    """,
    bench=True,
)
def q_gaussian_denoise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-slice Gaussian denoise as a 9-offset weighted neighborhood
    join (SURVEY U8; ref brain_segmentation.py:384-395 denoises each
    slice before bias-field correction and EM) — the binomial 1-2-1
    kernel, all-integer arithmetic (weighted sum floor-divided by the
    present-weight sum), masked output.

    Scale shape: one equi-join shuffle on (z, y, x) regardless of
    volume count; partitions by z-slab at cluster scale."""
    return _denoised_voxels(spark).filter(F.col("in_mask")).select(
        "z", "y", "x", F.col("inten_m").alias("dn_m")
    )


NLM_T = 60000  # patch-distance cutoff: same-class pairs cluster ~24k,
               # cross-class ~1.2M on this fixture (measured), so the
               # threshold sits in a wide empirical gap


@query(
    "nlm_denoise",
    oracle=f"""
    WITH vox AS ({VOXELS_SQL}),
    w_offs AS (SELECT CAST(FLOOR(id / 5) AS BIGINT) - 2 AS wy, id % 5 - 2 AS wx
               FROM range(25) AS r(id)),
    p_offs AS (SELECT CAST(FLOOR(id / 3) AS BIGINT) - 1 AS py, id % 3 - 1 AS px
               FROM range(9) AS r(id)),
    pairs AS (
      SELECT a.z, a.y, a.x, a.in_mask, b.y AS by, b.x AS bx, b.inten_m AS vb
      FROM vox a CROSS JOIN w_offs w
      JOIN vox b ON b.z = a.z AND b.y = a.y + w.wy AND b.x = a.x + w.wx
    ),
    pd AS (
      SELECT p.z, p.y, p.x, ANY_VALUE(p.in_mask) AS in_mask, p.by, p.bx, p.vb,
             SUM((pa.inten_m - pb.inten_m) * (pa.inten_m - pb.inten_m)) AS d2,
             COUNT(*) AS np
      FROM pairs p CROSS JOIN p_offs o
      JOIN vox pa ON pa.z = p.z AND pa.y = p.y + o.py AND pa.x = p.x + o.px
      JOIN vox pb ON pb.z = p.z AND pb.y = p.by + o.py AND pb.x = p.bx + o.px
      GROUP BY 1, 2, 3, 5, 6, 7
    )
    SELECT z, y, x,
           CAST(SUM(CASE WHEN d2 <= {NLM_T} THEN vb ELSE 0 END)
                // SUM(CASE WHEN d2 <= {NLM_T} THEN 1 ELSE 0 END) AS BIGINT) AS nlm_m,
           CAST(SUM(CASE WHEN d2 <= {NLM_T} THEN 1 ELSE 0 END) AS BIGINT) AS n_used
    FROM pd WHERE np = 9 AND in_mask
    GROUP BY 1, 2, 3
    """,
    bench=True,
)
def q_nlm_denoise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-local-means denoise, relational form (SURVEY U8; ref
    brain_segmentation.py:384-395 prefers per-slice NLM over Gaussian):
    each voxel averages the centers of the 5x5 in-plane search window
    whose 3x3 patches are similar — here "similar" is an integer
    patch-distance cutoff in the fixture's wide same-class/cross-class
    gap, so the whole computation stays exact BIGINT math and
    hash-matches DuckDB.  Unlike `gaussian_denoise` it does NOT blur
    across class boundaries (measured: 77-91% deviation reduction vs
    the Gaussian's ~45%, asserted in tests).

    Scale shape: three coordinate equi-joins (window pairs, then the
    two patch lookups) — rows are bounded by voxels x 25 x 9, shuffled
    on (z, y, x) keys; partitions by z-slab at cluster scale like the
    ICM neighbor join."""
    vox = _voxels(spark)
    w_offs = spark.sql(
        "SELECT CAST(FLOOR(id / 5) AS BIGINT) - 2 AS wy, id % 5 - 2 AS wx FROM range(25) AS r(id)"
    )
    p_offs = spark.sql(
        "SELECT CAST(FLOOR(id / 3) AS BIGINT) - 1 AS py, id % 3 - 1 AS px FROM range(9) AS r(id)"
    )
    a, b = vox.alias("a"), vox.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(w_offs.alias("w")))
        .join(
            b,
            (F.col("b.z") == F.col("a.z"))
            & (F.col("b.y") == F.col("a.y") + F.col("w.wy"))
            & (F.col("b.x") == F.col("a.x") + F.col("w.wx")),
        )
        .select(
            F.col("a.z").alias("z"), F.col("a.y").alias("y"), F.col("a.x").alias("x"),
            F.col("a.in_mask").alias("in_mask"),
            F.col("b.y").alias("by"), F.col("b.x").alias("bx"), F.col("b.inten_m").alias("vb"),
        )
        .alias("p")
    )
    pa, pb = vox.alias("pa"), vox.alias("pb")
    pd = (
        pairs.crossJoin(F.broadcast(p_offs.alias("o")))
        .join(
            pa,
            (F.col("pa.z") == F.col("p.z"))
            & (F.col("pa.y") == F.col("p.y") + F.col("o.py"))
            & (F.col("pa.x") == F.col("p.x") + F.col("o.px")),
        )
        .join(
            pb,
            (F.col("pb.z") == F.col("p.z"))
            & (F.col("pb.y") == F.col("p.by") + F.col("o.py"))
            & (F.col("pb.x") == F.col("p.bx") + F.col("o.px")),
        )
        .groupBy("p.z", "p.y", "p.x", "p.in_mask", "p.by", "p.bx", "p.vb")
        .agg(
            F.sum(
                (F.col("pa.inten_m") - F.col("pb.inten_m"))
                * (F.col("pa.inten_m") - F.col("pb.inten_m"))
            ).alias("d2"),
            F.count(F.lit(1)).alias("np"),
        )
    )
    keep = F.col("d2") <= NLM_T
    return (
        pd.filter((F.col("np") == 9) & F.col("in_mask"))
        .groupBy("z", "y", "x")
        .agg(
            F.expr(
                f"CAST(SUM(CASE WHEN d2 <= {NLM_T} THEN vb ELSE 0 END)"
                f" div SUM(CASE WHEN d2 <= {NLM_T} THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("nlm_m"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_used"),
        )
    )


_EM_SRC_DENOISED = f"""
SELECT z, y, x, CAST(swv // sw AS BIGINT) AS inten_m FROM (
  SELECT a.z, a.y, a.x, a.in_mask,
         SUM(b.inten_m * (2 - ABS(o.oy)) * (2 - ABS(o.ox))) AS swv,
         SUM((2 - ABS(o.oy)) * (2 - ABS(o.ox))) AS sw
  FROM ({VOXELS_SQL}) a
  CROSS JOIN (SELECT CAST(FLOOR(id / 3) AS BIGINT) - 1 AS oy, id % 3 - 1 AS ox
              FROM range(9) AS r(id)) o
  JOIN ({VOXELS_SQL}) b ON b.z = a.z AND b.y = a.y + o.oy AND b.x = a.x + o.ox
  GROUP BY 1, 2, 3, 4
) WHERE in_mask
"""


@query("hmrf_em_denoised", oracle=_em_unrolled_oracle(_EM_SRC_DENOISED))
def q_hmrf_em_denoised(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's actual preprocessing chain wired together:
    Gaussian denoise -> HMRF-EM (brain_segmentation.py:384-395 then
    :274-318).  Same EM loop as `hmrf_em_segmentation`, consuming the
    denoised intensities.

    Value-oracled (round 12): the unrolled EM oracle over the denoise
    CTE (same integer binomial kernel as `gaussian_denoise`'s)."""
    return hmrf_em(spark, vox=_denoised_voxels(spark))


_POSTERIOR_ORACLE = f"""
WITH vox AS ({VOXELS_SQL}),
lab AS (
  SELECT z, y, x, inten_m, {_INIT_LABEL} AS label
  FROM vox WHERE in_mask
),
nbr AS (
  SELECT l.z, l.y, l.x,
         COUNT(n.label) AS n_nbr,
         COUNT(n.label) FILTER (WHERE n.label = 0) AS c0,
         COUNT(n.label) FILTER (WHERE n.label = 1) AS c1,
         COUNT(n.label) FILTER (WHERE n.label = 2) AS c2
  FROM lab l
  CROSS JOIN {_NBR_OFFS}
  LEFT JOIN lab n ON n.z = l.z + o.dz AND n.y = l.y + o.dy AND n.x = l.x + o.dx
  GROUP BY 1, 2, 3
),
energy AS (
  SELECT l.z, l.y, l.x,
         (5 * (l.inten_m - 340) * (l.inten_m - 340) + {_POTTS_W} * (b.n_nbr - b.c0)) AS e0,
         (5 * (l.inten_m - 460) * (l.inten_m - 460) + {_POTTS_W} * (b.n_nbr - b.c1)) AS e1,
         (5 * (l.inten_m - 700) * (l.inten_m - 700) + {_POTTS_W} * (b.n_nbr - b.c2)) AS e2
  FROM lab l JOIN nbr b ON b.z = l.z AND b.y = l.y AND b.x = l.x
),
soft AS (
  SELECT z, y, x,
         EXP(-CAST(e0 - LEAST(e0, e1, e2) AS DOUBLE) / {10.0 * VAR_M * 1000}) AS w0,
         EXP(-CAST(e1 - LEAST(e0, e1, e2) AS DOUBLE) / {10.0 * VAR_M * 1000}) AS w1,
         EXP(-CAST(e2 - LEAST(e0, e1, e2) AS DOUBLE) / {10.0 * VAR_M * 1000}) AS w2
  FROM energy
)
SELECT z, y, x,
       ROUND(w0 / (w0 + w1 + w2), 5) AS p0,
       ROUND(w1 / (w0 + w1 + w2), 5) AS p1,
       ROUND(w2 / (w0 + w1 + w2), 5) AS p2
FROM soft
"""


@query("posterior_softmax", oracle=_POSTERIOR_ORACLE)
def q_posterior_softmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-voxel class posterior (SURVEY U9/F9; ref
    brain_segmentation.py:213-244 posterior maps): softmax of the
    negated ICM energies, max-shifted for numerical stability.

    Pure column expressions (exp/normalize) — no UDF; the only
    cross-engine risk is 1-ulp libm exp drift, absorbed by round(5)
    at the row level (no float aggregation anywhere).
    """
    vox = _voxels(spark).filter(F.col("in_mask"))
    lab = vox.select("z", "y", "x", "inten_m", F.expr(_INIT_LABEL).alias("label"))
    e = _neighbor_energies(spark, lab, MEANS_M).select("z", "y", "x", "e0", "e1", "e2")
    emin = F.least("e0", "e1", "e2")
    scale = 10.0 * VAR_M * 1000
    ws = [F.exp(-(F.col(f"e{k}") - emin).cast("double") / scale).alias(f"w{k}") for k in range(3)]
    soft = e.select("z", "y", "x", *ws)
    tot = F.col("w0") + F.col("w1") + F.col("w2")
    return soft.select(
        "z", "y", "x",
        F.round(F.col("w0") / tot, 5).alias("p0"),
        F.round(F.col("w1") / tot, 5).alias("p1"),
        F.round(F.col("w2") / tot, 5).alias("p2"),
    )


@query("icm_step_slab", oracle=_ICM_ORACLE)  # shares the relational twin's oracle
def q_icm_step_slab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-out form of the ICM neighbor join (SURVEY §4.3): the
    volume splits into z-slabs, each voxel is duplicated into the
    neighboring slab when it sits on a boundary plane (1-voxel halo
    exchange), and each slab computes its Jacobi step densely in numpy
    via applyInPandas — node-local neighborhoods, no global shuffle of
    the 6-way join.  Verified equal to the relational
    `icm_step_transitions` in tests.

    At 100 TB this is the plan you want: slab partitioning makes the
    neighbor access pattern local, and the halo is 2/SLAB_Z of the
    data instead of a 6x explode.
    """
    # ONE slab kernel serves this query AND the EM loop
    # (_slab_label_step): the halo construction and the numpy Jacobi
    # step must not drift between the audited single step and the
    # iterated path.  Integer init means are exact in the kernel's
    # double arithmetic, so the shared relational oracle still matches
    # bit-for-bit.
    vox = _voxels(spark).filter(F.col("in_mask"))
    lab = vox.select("z", "y", "x", "inten_m", F.expr(_INIT_LABEL).alias("label"))
    stepped = _slab_label_step(spark, lab, MEANS_M)
    return stepped.groupBy(
        F.col("old").cast("int").alias("old_label"),
        F.col("label").cast("int").alias("new_label"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))

SLAB_Z_CC = 8
# ~26% random speckle: below the 3-D site-percolation threshold, so the
# volume fragments into many components, several crossing slab faces.
_SPECKLE = "(z * 73856093 + y * 19349663 + x * 83492791) % 97 < 25"


@query(
    "largest_component_3d",
    # recursive-CTE transitive closure over the 6-neighbor edge list —
    # tractable because the 25/97 speckle density sits below the cubic
    # site-percolation threshold, so components stay small and the
    # closure is sum(|component|^2) rows, not volume^2.
    oracle=f"""
    WITH RECURSIVE vox AS ({VOXELS_SQL}),
    cells AS (SELECT (z * {Y} + y) * {X} + x AS cell, z, y, x
              FROM vox WHERE {_SPECKLE}),
    offs(dz, dy, dx) AS (VALUES (1,0,0),(-1,0,0),(0,1,0),(0,-1,0),(0,0,1),(0,0,-1)),
    edges AS (
      SELECT a.cell AS src, b.cell AS dst
      FROM cells a CROSS JOIN offs o
      JOIN cells b ON b.z = a.z + o.dz AND b.y = a.y + o.dy AND b.x = a.x + o.dx
    ),
    reach(root, cell) AS (
      SELECT cell, cell FROM cells
      UNION
      SELECT r.root, e.dst FROM reach r JOIN edges e ON e.src = r.cell
    ),
    comp AS (SELECT root, MIN(cell) AS comp FROM reach GROUP BY root),
    sizes AS (SELECT comp, COUNT(*) AS size FROM comp GROUP BY comp),
    top AS (SELECT size, comp FROM sizes ORDER BY size DESC, comp LIMIT 10)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY size DESC, comp) AS BIGINT) AS rank,
           CAST(size AS BIGINT) AS size
    FROM top
    """,
)
def q_largest_component_3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-D connected components at scale (SURVEY A14 / §8 open item):
    the distributed BSP pattern — label each z-slab locally (dense
    numpy min-propagation inside applyInPandas, no cross-slab
    traffic), then merge across slab faces with the distributed
    ``components.connected_components`` over the contracted component
    graph (nodes = slab-local roots, edges = face adjacencies from one
    equi-join) —
    nothing proportional to the volume, faces, or component count ever
    reaches the driver, so the merge scales with executors like
    everything else.  Verified against a whole-volume numpy labeling
    in tests.  Returns the top component sizes (6-connectivity)."""
    vox = _voxels(spark).filter(F.expr(_SPECKLE)).select("z", "y", "x")
    slabbed = vox.withColumn("slab", F.floor(F.col("z") / SLAB_Z_CC).cast("bigint"))
    yy, xx = Y, X

    def local_cc(pdf):
        import numpy as np
        import pandas as pd

        zs = pdf["z"].to_numpy()
        z0 = int(zs.min())
        dz = int(zs.max()) - z0 + 1
        zi, yi, xi = zs - z0, pdf["y"].to_numpy(), pdf["x"].to_numpy()
        lab = np.full((dz, yy, xx), -1, dtype=np.int64)
        lab[zi, yi, xi] = (zs * yy + yi) * xx + xi  # global voxel id
        present = lab >= 0
        big = np.iinfo(np.int64).max
        while True:
            cur = np.where(present, lab, big)
            nbr_min = np.full_like(cur, big)
            for ax in (0, 1, 2):
                for s in (1, -1):
                    sh = np.full_like(cur, big)
                    src = [slice(None)] * 3
                    dst = [slice(None)] * 3
                    src[ax], dst[ax] = (
                        (slice(0, -1), slice(1, None)) if s == 1 else (slice(1, None), slice(0, -1))
                    )
                    sh[tuple(dst)] = cur[tuple(src)]
                    nbr_min = np.minimum(nbr_min, sh)
            new = np.where(present, np.minimum(lab, nbr_min), lab)
            if (new == lab).all():
                break
            lab = new
        return pd.DataFrame({"z": zs, "y": yi, "x": xi, "root": lab[zi, yi, xi]})

    roots = slabbed.groupBy("slab").applyInPandas(
        local_cc, "z BIGINT, y BIGINT, x BIGINT, root BIGINT"
    )
    roots = lineage_checkpoint(roots)  # local CC runs once, reused below
    comp_sizes = roots.groupBy("root").agg(F.count(F.lit(1)).alias("n"))

    # Slab-boundary adjacency as a DISTRIBUTED equi-join (last-z rows of
    # one slab against first-z rows of the next), labelled over the
    # contracted component graph (nodes = slab-local roots): nothing
    # proportional to components or faces ever reaches the driver.
    lo = roots.filter(F.col("z") % SLAB_Z_CC == SLAB_Z_CC - 1).select(
        "z", "y", "x", F.col("root").alias("a")
    )
    hi = roots.filter(F.col("z") % SLAB_Z_CC == 0).select(
        (F.col("z") - 1).alias("z"), "y", "x", F.col("root").alias("b")
    )
    lab = connected_components(
        comp_sizes.select(F.col("root").alias("id")),
        lo.join(hi, ["z", "y", "x"]).select("a", "b"),
    ).select(F.col("id").alias("root"), "comp")

    merged = (
        comp_sizes.join(lab, "root")
        .groupBy("comp")
        .agg(F.sum("n").alias("size"))
        .orderBy(F.desc("size"), F.asc("comp"))
        .limit(10)
    )
    w = Window.orderBy(F.desc("size"), F.asc("comp"))
    return merged.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        F.col("size").cast("bigint").alias("size"),
    )


def _slab_label_step(spark: SparkSession, lab: DataFrame, means, slab_z: int = 4) -> DataFrame:
    """One Jacobi-ICM step on the halo-slab physical plan, emitting
    per-voxel (z, y, x, inten_m, old, label) — the building block of
    the slab-path EM loop (same semantics as the relational step in
    ``hmrf_em``; equality asserted in tests)."""
    own = lab.withColumn("slab", F.floor(F.col("z") / slab_z).cast("bigint")).withColumn(
        "is_halo", F.lit(False)
    )
    up = (
        lab.filter(F.col("z") % slab_z == 0)
        .withColumn("slab", (F.floor(F.col("z") / slab_z) - 1).cast("bigint"))
        .withColumn("is_halo", F.lit(True))
        .filter(F.col("slab") >= 0)
    )
    down = (
        lab.filter(F.col("z") % slab_z == slab_z - 1)
        .withColumn("slab", (F.floor(F.col("z") / slab_z) + 1).cast("bigint"))
        .withColumn("is_halo", F.lit(True))
        # symmetric to up's slab >= 0 guard: without it the LAST plane
        # manufactures a phantom all-halo slab past the end — a wasted
        # shuffle + densify + kernel invocation every step
        .filter(F.col("slab") <= (Z - 1) // slab_z)
    )
    haloed = own.unionByName(up).unionByName(down)
    yy, xx, pw = Y, X, _POTTS_W
    mus = [float(m) for m in means]

    def step(pdf):
        import numpy as np
        import pandas as pd

        zs = pdf["z"].to_numpy()
        z0 = int(zs.min())
        dz = int(zs.max()) - z0 + 1
        zi, yi, xi = zs - z0, pdf["y"].to_numpy(), pdf["x"].to_numpy()
        inten = np.zeros((dz, yy, xx), dtype=np.int64)
        labs = np.full((dz, yy, xx), -1, dtype=np.int64)
        inten[zi, yi, xi] = pdf["inten_m"].to_numpy()
        labs[zi, yi, xi] = pdf["label"].to_numpy()
        cnt = np.zeros((3, dz, yy, xx), dtype=np.int64)
        nnbr = np.zeros((dz, yy, xx), dtype=np.int64)
        for sz, sy, sx in ((1, 0, 0), (-1, 0, 0), (0, 1, 0), (0, -1, 0), (0, 0, 1), (0, 0, -1)):
            sh_lab = np.full_like(labs, -1)
            src = [slice(None)] * 3
            dst = [slice(None)] * 3
            for ax, s in enumerate((sz, sy, sx)):
                if s == 1:
                    src[ax], dst[ax] = slice(0, -1), slice(1, None)
                elif s == -1:
                    src[ax], dst[ax] = slice(1, None), slice(0, -1)
            sh_lab[tuple(dst)] = labs[tuple(src)]
            ok = sh_lab >= 0
            nnbr += ok
            for k in range(3):
                cnt[k] += ok & (sh_lab == k)
        # float means (M-step updated) -> same double expr as the
        # relational plan: 5*(i-mu)*(i-mu) + pw*(nnbr - cnt_k)
        e = np.stack(
            [5.0 * (inten - mu) * (inten - mu) + pw * (nnbr - cnt[k]) for k, mu in enumerate(mus)]
        )
        new_lab = np.argmin(e, axis=0)  # ties -> lowest k, same as SQL CASE
        keep = pdf["is_halo"].to_numpy() == False  # noqa: E712
        return pd.DataFrame(
            {
                "z": zs[keep],
                "y": yi[keep],
                "x": xi[keep],
                "inten_m": pdf["inten_m"].to_numpy()[keep],
                "old": pdf["label"].to_numpy()[keep],
                "label": new_lab[zi[keep], yi[keep], xi[keep]],
            }
        )

    return haloed.groupBy("slab").applyInPandas(
        step, "z BIGINT, y BIGINT, x BIGINT, inten_m BIGINT, old BIGINT, label BIGINT"
    )


@query("hmrf_em_slab", oracle=_em_unrolled_oracle(_EM_SRC_RAW))  # shares the relational twin's oracle
def q_hmrf_em_slab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL EM loop on the halo-slab physical plan (SURVEY §4.3's
    cluster-deploy refinement, end-to-end): per iteration one
    applyInPandas slab pass replaces the 6-way neighbor join, the
    M-step re-estimates means with exact integer sums, and the driver
    early-stops on the changed-voxel ratio.  Produces EXACTLY the
    relational ``hmrf_em_segmentation`` result (asserted in tests) —
    same Jacobi trajectory, different shuffle geometry: per-iteration
    traffic is slab-local + two halo faces instead of a full
    coordinate-join shuffle."""
    n_iters = 3
    vox = _voxels(spark).filter(F.col("in_mask"))
    lab = vox.select("z", "y", "x", "inten_m", F.expr(_INIT_LABEL).alias("label"))
    lab = lineage_checkpoint(lab)
    params = list(MEANS_M)
    total = lab.count()
    for _ in range(n_iters):
        nxt = lineage_checkpoint(_slab_label_step(spark, lab, params))
        # convergence count folded into the M-step pass (one job, not two)
        stats = nxt.groupBy("label").agg(
            F.sum("inten_m").alias("s"),
            F.count(F.lit(1)).alias("c"),
            F.sum(F.when(F.col("old") != F.col("label"), 1).otherwise(0)).alias("ch"),
        ).collect()
        changed = sum(int(r.ch) for r in stats)
        got = {int(r.label): float(r.s) / float(r.c) for r in stats}
        params = [got.get(k, params[k]) for k in range(3)]
        lab = nxt.drop("old")
        if changed * STOP_DEN < STOP_NUM * total:
            break
    return lab.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("inten_m"), 3).alias("mean_m"),
    )


# ------------------------------------------- precomputed-mask artifact

@query(
    "mask_npy_join",
    oracle=f"""
    WITH vox AS ({VOXELS_SQL})
    SELECT in_mask,
           CAST(COUNT(*) AS BIGINT) AS n_vox,
           CAST(SUM(inten_m) AS BIGINT) AS inten_sum,
           CAST(bit_xor(z * {Y * X} + y * {X} + x) AS BIGINT) AS coord_checksum
    FROM vox GROUP BY in_mask
    """,
    exchanges=1,  # broadcast mask join + final group agg
)
def q_mask_npy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 done for real: the brain mask arrives as a PRECOMPUTED .npy
    ARTIFACT on disk (reference `brain_segmentation.py` loads exactly
    such a mask), not as a column the SQL generator happens to carry.
    numpy writes the (Z,Y,X) boolean volume; Spark reads the file
    through ``binaryFile`` and a mapInPandas kernel np.loads it and
    unrolls it to (z, y, x, in_mask) rows; the mask then joins the
    voxel table on coordinates — the same "sidecar artifact joined to
    the fact table" shape as loading a segmentation mask, a bad-pixel
    map, or a tombstone bitmap.

    The Spark side's in_mask comes ONLY from the decoded bytes, while
    the oracle replays the mask RULE arithmetically — value equality
    proves the artifact round trip bit-for-bit.  At scale: one mask
    file per volume rides binaryFile's existing partitioning; the
    unroll is batch-columnar (numpy reshape, no per-voxel Python) and
    the coordinate join is an equi-join Catalyst plans like any other.
    """
    def write_mask(stage: str) -> None:
        zz, yy, xx = np.ogrid[0:Z, 0:Y, 0:X]
        d2 = (zz - 8) ** 2 * 4 + (yy - 16) ** 2 + (xx - 16) ** 2
        np.save(os.path.join(stage, "mask.npy"), d2 < 256)

    mask_dir = staged_fixture(spark, "maskfile", write_mask)

    def unroll(_path: str, blob: bytes) -> dict:
        m = np.load(io.BytesIO(blob))
        assert m.shape == (Z, Y, X)
        idx = np.arange(m.size, dtype=np.int64)
        return {"z": idx // (Y * X), "y": (idx // X) % Y, "x": idx % X, "in_mask": m.reshape(-1)}

    mask = decode_files(
        staged_files(spark, mask_dir, "*.npy"), unroll, "z BIGINT, y BIGINT, x BIGINT, in_mask BOOLEAN"
    )
    vox = _voxels(spark).select("z", "y", "x", "inten_m")  # NO generator mask
    return (
        vox.join(mask, ["z", "y", "x"])
        .groupBy("in_mask")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vox"),
            F.sum("inten_m").cast("bigint").alias("inten_sum"),
            F.bit_xor(F.col("z") * (Y * X) + F.col("y") * X + F.col("x"))
            .cast("bigint")
            .alias("coord_checksum"),
        )
    )


def _export_volume(
    spark: SparkSession, tag: str, ext: str, encode: Callable[[int, np.ndarray], bytes]
) -> str:
    """Export the threshold-labelled volume as one ``vol-{id}.{ext}``
    file per volume into a fresh stage dir and return the dir.  One
    bounded task per volume scatters its rows into a dense (Z,Y,X)
    int8 array — volumes are per-patient bounded, which is what makes
    the per-group densify safe — and ``encode(vol_id, arr)`` turns it
    into the file's bytes."""
    labeled = _voxels(spark).select(
        F.lit(0).alias("vol_id"), "z", "y", "x",
        F.expr(_INIT_LABEL).alias("label"),
    )

    def write_one(vol: int, pdf: pd.DataFrame) -> tuple[str, bytes]:
        arr = np.full((Z, Y, X), -1, dtype=np.int8)
        arr[pdf["z"].to_numpy(), pdf["y"].to_numpy(), pdf["x"].to_numpy()] = (
            pdf["label"].to_numpy()
        )
        assert (arr >= 0).all()  # every voxel present exactly once
        return f"vol-{vol}.{ext}", encode(vol, arr)

    out_dir = stage_dir(spark, tag)
    manifest = write_shards(labeled, "vol_id", write_one, out_dir)
    assert sum(r.n for r in manifest) == NVOX
    return out_dir


_LABEL_STATS = "label BIGINT, n_vox BIGINT, coord_checksum BIGINT"


def _label_rows(vol: np.ndarray) -> list[tuple]:
    """(label, n_vox, coord_checksum) per label of a read-back label
    volume; the checksum xors the voxels' flat C-order positions."""
    flat = vol.reshape(-1)
    idx = np.arange(flat.size, dtype=np.int64)
    rows = []
    for lab in np.unique(flat):
        sel = idx[flat == lab]
        rows.append((int(lab), len(sel), int(np.bitwise_xor.reduce(sel))))
    return rows


@query(
    "volume_npy_export",
    oracle=f"""
    WITH vox AS ({VOXELS_SQL})
    SELECT CASE WHEN inten_m < 400 THEN 0 WHEN inten_m < 580 THEN 1 ELSE 2 END AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vox,
           CAST(bit_xor(z * {Y * X} + y * {X} + x) AS BIGINT) AS coord_checksum
    FROM vox GROUP BY 1
    """,
    exchanges=1,  # read-back label agg (the export runs eagerly)
)
def q_volume_npy_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 made real (minus the NIfTI header — nibabel stays absent,
    so the container is .npy): the segmented volume is EXPORTED as a
    dense array artifact by a grouped applyInPandas kernel (one task
    per volume scatters its rows into a (Z,Y,X) ndarray and np.saves
    it — volumes are per-patient bounded, which is what makes the
    per-group densify safe), then read BACK through binaryFile +
    np.load, and the returned per-label stats are computed FROM THE
    ARTIFACT — the oracle replays the label rule arithmetically, so
    value equality proves the voxel->file->voxel round trip is exact.

    At scale the export dir is shared storage; each volume is one
    bounded task and the artifact write is embarrassingly parallel —
    the reference's `nib.save` loop (`brain_segmentation.py:425-438`),
    distributed."""
    def encode(_vol: int, arr: np.ndarray) -> bytes:
        buf = io.BytesIO()
        np.save(buf, arr)
        return buf.getvalue()

    out_dir = _export_volume(spark, "volexport", "npy", encode)
    per_file = decode_files(
        staged_files(spark, out_dir, "*.npy"),
        lambda _path, blob: _label_rows(np.load(io.BytesIO(blob))),
        _LABEL_STATS,
    )
    # re-aggregate across volumes (bit_xor merges, counts sum)
    return per_file.groupBy("label").agg(
        F.sum("n_vox").cast("bigint").alias("n_vox"),
        F.bit_xor("coord_checksum").cast("bigint").alias("coord_checksum"),
    )


@query(
    "volume_nifti_export",
    oracle=f"""
    WITH vox AS ({VOXELS_SQL})
    SELECT CASE WHEN inten_m < 400 THEN 0 WHEN inten_m < 580 THEN 1 ELSE 2 END AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vox,
           CAST(bit_xor(z * {Y * X} + y * {X} + x) AS BIGINT) AS coord_checksum,
           CAST({X} AS BIGINT) AS nx, CAST({Y} AS BIGINT) AS ny, CAST({Z} AS BIGINT) AS nz,
           CAST(256 AS BIGINT) AS datatype, CAST(8 AS BIGINT) AS bitpix,
           CAST(352 AS BIGINT) AS vox_offset,
           CAST(10 AS BIGINT) AS pixdim_x10_x, CAST(10 AS BIGINT) AS pixdim_x10_y,
           CAST(25 AS BIGINT) AS pixdim_x10_z,
           'n+1' AS magic
    FROM vox GROUP BY 1
    """,
    bench=True, exchanges=1,
)
def q_volume_nifti_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 complete: the segmented volume is exported as a REAL
    single-file NIfTI-1 ``.nii`` artifact (hand-rolled 348-byte header,
    functions/nifti.py — public nifti1.h spec), read BACK through
    binaryFile, and EVERY returned column is decoded from the parsed
    bytes: per-label voxel stats from the data segment, header fields
    (dim, datatype, bitpix, vox_offset, pixdim, magic) from the parsed
    header.  The oracle replays the label rule arithmetically and pins
    the header fields as literals — value equality proves the
    writer→file→parser round trip is exact, end to end.  Mirrors the
    reference's ``nib.save`` export loop
    (`Hidden_MarkovModels/brain_segmentation.py:433-438`).

    At scale: one bounded task per volume densifies and writes its
    ``.nii`` to shared storage (embarrassingly parallel); the read-back
    rides binaryFile's split-by-file partitioning, and the header parse
    is O(1) per file."""
    def encode(vol: int, arr: np.ndarray) -> bytes:
        return nifti1_bytes(arr, (1.0, 1.0, 2.5), descrip=f"bd3 seg vol {vol}")

    def decode_one(_path: str, blob: bytes) -> list[tuple]:
        fields, arr = parse_nifti1(blob)
        header = (
            *fields["dim"], fields["datatype"], fields["bitpix"], fields["vox_offset"],
            *(int(round(p * 10)) for p in fields["pixdim"][:3]),
            fields["magic"][:3].decode(),
        )
        return [stats + header for stats in _label_rows(arr)]

    out_dir = _export_volume(spark, "niftiexport", "nii", encode)
    per_file = decode_files(
        staged_files(spark, out_dir, "*.nii"),
        decode_one,
        _LABEL_STATS + ", nx BIGINT, ny BIGINT, nz BIGINT, datatype BIGINT, bitpix BIGINT, "
        "vox_offset BIGINT, pixdim_x10_x BIGINT, pixdim_x10_y BIGINT, "
        "pixdim_x10_z BIGINT, magic STRING",
    )
    # re-aggregate across volumes (bit_xor merges, counts sum); header
    # fields are per-file constants — min() keeps them decoded-not-assumed
    return per_file.groupBy("label").agg(
        F.sum("n_vox").cast("bigint").alias("n_vox"),
        F.bit_xor("coord_checksum").cast("bigint").alias("coord_checksum"),
        F.min("nx").alias("nx"), F.min("ny").alias("ny"), F.min("nz").alias("nz"),
        F.min("datatype").alias("datatype"), F.min("bitpix").alias("bitpix"),
        F.min("vox_offset").alias("vox_offset"),
        F.min("pixdim_x10_x").alias("pixdim_x10_x"),
        F.min("pixdim_x10_y").alias("pixdim_x10_y"),
        F.min("pixdim_x10_z").alias("pixdim_x10_z"),
        F.min("magic").alias("magic"),
    )

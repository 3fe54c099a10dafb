"""Adaptive block-matching searches (SURVEY U5; reference:
Motion_estimation/motion_codec.py:92-171 diamond / three-step search).

Diamond and TSS are data-dependent walks — each probe position depends
on the previous winner — so they are not relational.  They run as
``applyInPandas`` per frame pair: the group carries both frames'
pixels (aligned by coordinate), numpy reconstructs the 2-D arrays and
walks the pattern per block.  The *full* search stays relational
(operators/motion.py block_match_full) and is the optimality bound the
adaptive results are verified against (cost_adaptive >= cost_full,
exact recovery on the planted clip — SURVEY §7.4).

Scale notes: one group = one frame pair — the natural parallel grain
(a 10^6-frame corpus fans out to 10^6 independent tasks).  Arrow
moves each group once; the walk is O(blocks x pattern-steps), ~10-20x
fewer SAD evaluations than full search (the reference's measured
speedup).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from .motion import BLK, H, SEARCH, W, _px

_OUT_SCHEMA = (
    "frame_idx BIGINT, by BIGINT, bx BIGINT, dy BIGINT, dx BIGINT, "
    "cost BIGINT, n_probes BIGINT"
)


def _paired_pixels(spark: SparkSession) -> DataFrame:
    """(frame_idx, y, x, vc, vp): current + previous frame values of the
    'moderate' clip aligned by coordinate — enough for the UDF to
    rebuild both 2-D frames."""
    px = _px(spark).filter(F.col("video_id") == "moderate")
    c, p = px.alias("c"), px.alias("p")
    return c.join(
        p,
        (F.col("p.frame_idx") == F.col("c.frame_idx") - 1)
        & (F.col("p.y") == F.col("c.y"))
        & (F.col("p.x") == F.col("c.x")),
    ).select(
        F.col("c.frame_idx").alias("frame_idx"),
        F.col("c.y").alias("y"),
        F.col("c.x").alias("x"),
        F.col("c.v").alias("vc"),
        F.col("p.v").alias("vp"),
    )


# diamond search patterns, large then small (motion_codec.py diamond
# search); the kernel and the oracle replay (_diamond_walk_sql) share them
_LDP = [(-2, 0), (2, 0), (0, -2), (0, 2), (-1, -1), (-1, 1), (1, -1), (1, 1)]
_SDP = [(-1, 0), (1, 0), (0, -1), (0, 1)]


def _make_search(kind: str):
    """Build the per-group pandas function for search ``kind``."""
    blk, search, h, w, ldp, sdp = BLK, SEARCH, H, W, _LDP, _SDP

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        t = int(pdf["frame_idx"].iloc[0])
        cur = np.zeros((h, w), dtype=np.int64)
        prv = np.zeros((h, w), dtype=np.int64)
        ys = pdf["y"].to_numpy()
        xs = pdf["x"].to_numpy()
        cur[ys, xs] = pdf["vc"].to_numpy()
        prv[ys, xs] = pdf["vp"].to_numpy()

        def sad(top: int, left: int, oy: int, ox: int) -> int:
            ty, tx = top + oy, left + ox
            if ty < 0 or tx < 0 or ty + blk > h or tx + blk > w:
                return None
            block = cur[top : top + blk, left : left + blk]
            cand = prv[ty : ty + blk, tx : tx + blk]
            return int(np.abs(block - cand).sum())

        rows = []
        for by in range(h // blk):
            for bx in range(w // blk):
                top, left = by * blk, bx * blk
                best_y = best_x = 0
                best = sad(top, left, 0, 0)
                probes = 1
                if kind == "diamond":
                    # large diamond until center wins, then small diamond
                    moved = True
                    while moved:
                        moved = False
                        for oy, ox in ldp:
                            ny, nx = best_y + oy, best_x + ox
                            if abs(ny) > search or abs(nx) > search:
                                continue
                            c = sad(top, left, ny, nx)
                            probes += 1
                            if c is not None and c < best:
                                best, best_y, best_x, moved = c, ny, nx, True
                    for oy, ox in sdp:
                        ny, nx = best_y + oy, best_x + ox
                        if abs(ny) > search or abs(nx) > search:
                            continue
                        c = sad(top, left, ny, nx)
                        probes += 1
                        if c is not None and c < best:
                            best, best_y, best_x = c, ny, nx
                else:  # three-step search (motion_codec.py TSS)
                    # Canonical ladder: one round per step, halving from
                    # search//2.  Known reach limit: covered displacement
                    # is search//2 + search//4 + ... + 1 < search, so a
                    # true match at the window edge can be missed — that
                    # is inherent to TSS (wider first hops or
                    # repeat-while-improving variants were tried and walk
                    # into periodic-texture aliasing minima instead).
                    # The routed pipeline compensates by sending
                    # MEDIUM/HIGH-motion frames to full search
                    # (block_match_routed_full), which is the production
                    # answer to edge-of-window motion.
                    step = max(1, search // 2)
                    while step >= 1:
                        improved_y, improved_x = best_y, best_x
                        for oy in (-step, 0, step):
                            for ox in (-step, 0, step):
                                if oy == 0 and ox == 0:
                                    continue
                                ny, nx = best_y + oy, best_x + ox
                                if abs(ny) > search or abs(nx) > search:
                                    continue
                                c = sad(top, left, ny, nx)
                                probes += 1
                                if c is not None and c < best:
                                    best, improved_y, improved_x = c, ny, nx
                        best_y, best_x = improved_y, improved_x
                        step //= 2
                if best is None:
                    best, best_y, best_x = 0, 0, 0
                rows.append((t, by, bx, best_y, best_x, best, probes))
        return pd.DataFrame(
            rows, columns=["frame_idx", "by", "bx", "dy", "dx", "cost", "n_probes"]
        )

    return run


def _diamond_walk_sql(seed_filter: str = "") -> str:
    """Recursive-CTE replay of the diamond walk: the numpy loop is a
    deterministic finite automaton over (phase, step, center, best),
    so each probe becomes one recursion step — phase 0 walks the
    large-diamond pattern (repeating while a pass moved the center,
    with IN-pass center movement, exactly like the sequential loop),
    phase 1 runs the small-diamond refinement, phase 2 is terminal.
    Probes are counted only for candidates inside the search window
    (out-of-frame candidates count but can't win), mirroring the
    kernel's bookkeeping.  Assumes the CTE context already defines
    ``px``; emits MATERIALIZED sad (17x faster than re-deriving it
    inside the recursion).  ``seed_filter`` restricts which blocks
    start a walk (the routed pipeline seeds MEDIUM frames only)."""
    from .motion import BLK, H, SEARCH, W

    n_off = 2 * SEARCH + 1
    pat_vals = ",".join(
        [f"(0,{i},{oy},{ox})" for i, (oy, ox) in enumerate(_LDP)]
        + [f"(1,{i},{oy},{ox})" for i, (oy, ox) in enumerate(_SDP)]
    )
    return f"""
cur AS (SELECT * FROM px WHERE video_id = 'moderate' AND frame_idx >= 1),
prev AS (SELECT * FROM px WHERE video_id = 'moderate'),
woffsets AS (
  SELECT CAST(FLOOR(id / {n_off}) AS BIGINT) - {SEARCH} AS oy,
         id % {n_off} - {SEARCH} AS ox
  FROM range({n_off ** 2}) AS r(id)
),
wsad AS MATERIALIZED (
  SELECT c.frame_idx,
         CAST(FLOOR(c.y / {BLK}) AS BIGINT) AS by,
         CAST(FLOOR(c.x / {BLK}) AS BIGINT) AS bx,
         o.oy AS dy, o.ox AS dx,
         SUM(ABS(c.v - p.v)) AS cost
  FROM cur c
  JOIN woffsets o
    ON CAST(FLOOR(c.y / {BLK}) AS BIGINT) * {BLK} + o.oy BETWEEN 0 AND {H - BLK}
   AND CAST(FLOOR(c.x / {BLK}) AS BIGINT) * {BLK} + o.ox BETWEEN 0 AND {W - BLK}
  JOIN prev p ON p.frame_idx = c.frame_idx - 1
             AND p.y = c.y + o.oy AND p.x = c.x + o.ox
  GROUP BY 1, 2, 3, 4, 5
),
pat(phase, i, oy, ox) AS (VALUES {pat_vals}),
walk(frame_idx, by, bx, phase, step, cy, cx, best, probes, moved) AS (
  SELECT s.frame_idx, s.by, s.bx, 0, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         s.cost, CAST(1 AS BIGINT), FALSE
  FROM wsad s {seed_filter}
  WHERE s.dy = 0 AND s.dx = 0
  UNION ALL
  SELECT w.frame_idx, w.by, w.bx,
         CASE WHEN w.phase = 0 AND w.step < {len(_LDP) - 1} THEN 0
              WHEN w.phase = 0 AND (w.moved OR improved) THEN 0
              WHEN w.phase = 0 THEN 1
              WHEN w.step < {len(_SDP) - 1} THEN 1 ELSE 2 END,
         CASE WHEN w.phase = 0 AND w.step < {len(_LDP) - 1} THEN w.step + 1
              WHEN w.phase = 0 THEN 0
              WHEN w.step < {len(_SDP) - 1} THEN w.step + 1 ELSE 0 END,
         CASE WHEN improved THEN w.cy + p.oy ELSE w.cy END,
         CASE WHEN improved THEN w.cx + p.ox ELSE w.cx END,
         CASE WHEN improved THEN s.cost ELSE w.best END,
         w.probes + CASE WHEN in_range THEN 1 ELSE 0 END,
         CASE WHEN w.phase = 0 AND w.step < {len(_LDP) - 1}
              THEN (w.moved OR improved) ELSE FALSE END
  FROM walk w
  JOIN pat p ON p.phase = w.phase AND p.i = w.step
  LEFT JOIN wsad s ON s.frame_idx = w.frame_idx AND s.by = w.by AND s.bx = w.bx
                  AND s.dy = w.cy + p.oy AND s.dx = w.cx + p.ox,
  LATERAL (SELECT (ABS(w.cy + p.oy) <= {SEARCH}
                   AND ABS(w.cx + p.ox) <= {SEARCH}) AS in_range,
                  (s.cost IS NOT NULL
                   AND ABS(w.cy + p.oy) <= {SEARCH} AND ABS(w.cx + p.ox) <= {SEARCH}
                   AND s.cost < w.best) AS improved) f
  WHERE w.phase < 2
)"""


def _diamond_oracle() -> str:
    from .motion import FRAME_PIXELS_SQL

    return f"""
    WITH RECURSIVE px AS MATERIALIZED ({FRAME_PIXELS_SQL}),
    {_diamond_walk_sql()}
    SELECT frame_idx, by, bx,
           CAST(cy AS BIGINT) AS dy, CAST(cx AS BIGINT) AS dx,
           CAST(best AS BIGINT) AS cost, CAST(probes AS BIGINT) AS n_probes
    FROM walk WHERE phase = 2
    """


@query("block_match_diamond", oracle=_diamond_oracle())
def q_block_match_diamond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diamond search per frame pair via applyInPandas — the ~10-20x
    cheaper adaptive search; optimality checked against the relational
    full search in tests (cost_diamond >= cost_full, planted motion
    recovered exactly).

    Value-oracled: the sequential walk is a deterministic automaton,
    so DuckDB replays it probe-by-probe as a recursive CTE
    (:func:`_diamond_walk_sql`) — every vector, cost, and probe count
    bit-equal between the numpy kernel and the declarative replay."""
    paired = _paired_pixels(spark)
    return paired.groupBy("frame_idx").applyInPandas(_make_search("diamond"), _OUT_SCHEMA)


def _tss_oracle() -> str:
    """Declarative replay of the TSS walk: the ladder has a FIXED probe
    schedule (steps {SEARCH//2, //4, ..., 1}), so each round is one
    argmin over 8 candidate offsets around the previous round's winner
    — strict-< improvement with first-probe tie-break is exactly
    ROW_NUMBER ordered by (improves, cost, probe index).  Valid only
    while sum(steps) <= SEARCH (every probe stays inside the search
    window, making n_probes the constant 1 + 8*rounds), which holds
    for the module's SEARCH; asserted below so a constant bump can't
    silently skew the oracle."""
    from .motion import FRAME_PIXELS_SQL, H, W

    steps = []
    s = max(1, SEARCH // 2)
    while s >= 1:
        steps.append(s)
        s //= 2
    assert sum(steps) <= SEARCH, "TSS probes would leave the search window"

    def probe_values(step: int) -> str:
        rows, i = [], 0
        for oy in (-step, 0, step):
            for ox in (-step, 0, step):
                if (oy, ox) != (0, 0):
                    i += 1
                    rows.append(f"({i},{oy},{ox})")
        return ",".join(rows)

    n_off = 2 * SEARCH + 1
    sql = f"""
    WITH px AS ({FRAME_PIXELS_SQL}),
    cur AS (SELECT * FROM px WHERE video_id = 'moderate' AND frame_idx >= 1),
    prev AS (SELECT * FROM px WHERE video_id = 'moderate'),
    offsets AS (
      SELECT CAST(FLOOR(id / {n_off}) AS BIGINT) - {SEARCH} AS oy,
             id % {n_off} - {SEARCH} AS ox
      FROM range({n_off ** 2}) AS r(id)
    ),
    sad AS (
      SELECT c.frame_idx,
             CAST(FLOOR(c.y / {BLK}) AS BIGINT) AS by,
             CAST(FLOOR(c.x / {BLK}) AS BIGINT) AS bx,
             o.oy AS dy, o.ox AS dx,
             SUM(ABS(c.v - p.v)) AS cost
      FROM cur c
      JOIN offsets o
        ON CAST(FLOOR(c.y / {BLK}) AS BIGINT) * {BLK} + o.oy BETWEEN 0 AND {H - BLK}
       AND CAST(FLOOR(c.x / {BLK}) AS BIGINT) * {BLK} + o.ox BETWEEN 0 AND {W - BLK}
      JOIN prev p ON p.frame_idx = c.frame_idx - 1
                 AND p.y = c.y + o.oy AND p.x = c.x + o.ox
      GROUP BY 1, 2, 3, 4, 5
    ),
    c0 AS (SELECT frame_idx, by, bx, CAST(0 AS BIGINT) AS cy,
                  CAST(0 AS BIGINT) AS cx, cost AS best
           FROM sad WHERE dy = 0 AND dx = 0)"""
    prev_c = "c0"
    for k, step in enumerate(steps, start=1):
        sql += f""",
    p{k}(i, oy, ox) AS (VALUES {probe_values(step)}),
    r{k} AS (
      SELECT c.frame_idx, c.by, c.bx, c.cy, c.cx, c.best, p.i,
             c.cy + p.oy AS ny, c.cx + p.ox AS nx, s.cost
      FROM {prev_c} c CROSS JOIN p{k} p
      LEFT JOIN sad s ON s.frame_idx = c.frame_idx AND s.by = c.by AND s.bx = c.bx
                     AND s.dy = c.cy + p.oy AND s.dx = c.cx + p.ox
    ),
    w{k} AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY frame_idx, by, bx
        ORDER BY (cost IS NULL OR cost >= best), cost, i) AS rn
      FROM r{k}
    ),
    c{k} AS (
      SELECT frame_idx, by, bx,
             CASE WHEN cost IS NOT NULL AND cost < best THEN ny ELSE cy END AS cy,
             CASE WHEN cost IS NOT NULL AND cost < best THEN nx ELSE cx END AS cx,
             CASE WHEN cost IS NOT NULL AND cost < best THEN cost ELSE best END AS best
      FROM w{k} WHERE rn = 1
    )"""
        prev_c = f"c{k}"
    sql += f"""
    SELECT frame_idx, by, bx,
           CAST(cy AS BIGINT) AS dy, CAST(cx AS BIGINT) AS dx,
           CAST(best AS BIGINT) AS cost,
           CAST({1 + 8 * len(steps)} AS BIGINT) AS n_probes
    FROM {prev_c}
    """
    return sql


@query("block_match_tss", oracle=_tss_oracle())
def q_block_match_tss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step search per frame pair via applyInPandas (same harness
    as diamond, log-step probe pattern).

    Value-oracled: TSS's probe schedule is fixed (unlike diamond's
    open-ended walk), so the whole search unrolls into one chained-CTE
    argmin ladder in DuckDB — the numpy walk and the declarative
    replay agree on every vector, cost, and probe count."""
    paired = _paired_pixels(spark)
    return paired.groupBy("frame_idx").applyInPandas(_make_search("tss"), _OUT_SCHEMA)


def _routed_oracle() -> str:
    from .motion import _CLASSIFY_SQL, _MAD_SQL, _THRESH_SQL, FRAME_PIXELS_SQL

    seed = "JOIN (SELECT frame_idx FROM cls WHERE video_id = 'moderate' AND motion_class = 'MEDIUM') mm ON mm.frame_idx = s.frame_idx"
    return f"""
    WITH RECURSIVE px AS MATERIALIZED ({FRAME_PIXELS_SQL}),
    mad AS ({_MAD_SQL}), th AS ({_THRESH_SQL}), cls AS ({_CLASSIFY_SQL}),
    {_diamond_walk_sql(seed)},
    vec AS (SELECT frame_idx, by, bx, cy, cx, best FROM walk WHERE phase = 2)
    SELECT c.frame_idx, c.motion_class,
           CAST(v.by AS BIGINT) AS by, CAST(v.bx AS BIGINT) AS bx,
           CAST(v.cy AS BIGINT) AS dy, CAST(v.cx AS BIGINT) AS dx,
           CAST(v.best AS BIGINT) AS cost
    FROM (SELECT frame_idx, motion_class FROM cls WHERE video_id = 'moderate') c
    LEFT JOIN vec v ON v.frame_idx = c.frame_idx
    """


@query("block_match_routed", oracle=_routed_oracle())
def q_block_match_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full cheap-first pipeline (motion_codec.py:
    252-289): classify every frame pair LOW/MEDIUM/HIGH from MAD
    thresholds, then run block matching ONLY on MEDIUM pairs — the
    class filter is manual predicate pushdown below the expensive UDF
    (SURVEY §4.1 'cheap-first routing').  LOW/HIGH pairs short-circuit
    with no motion vectors, exactly like the reference."""
    from .motion import _classified_frames

    cls = _classified_frames(spark)
    medium = cls.filter(
        (F.col("video_id") == "moderate") & (F.col("motion_class") == "MEDIUM")
    ).select("frame_idx")
    paired = _paired_pixels(spark).join(medium, "frame_idx")
    vectors = paired.groupBy("frame_idx").applyInPandas(_make_search("diamond"), _OUT_SCHEMA)
    return (
        cls.filter(F.col("video_id") == "moderate")
        .join(vectors, "frame_idx", "left")
        .select(
            "frame_idx",
            "motion_class",
            "by",
            "bx",
            "dy",
            "dx",
            "cost",
        )
    )

"""Self-oracle semantic checks (SURVEY §5: planted ground truth).

The reference's only real correctness oracle is synthetic data with an
analytically known answer (demo_synthetic.py: planted motion must be
recovered).  These tests assert the same invariants on our fixtures.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_assigment3_spark.registry import REGISTRY, _load_all
from tests.conftest import SF_ORACLE, SF_SMOKE

_load_all()


def test_block_match_recovers_planted_motion(spark):
    """'moderate' clip square moves at (vy,vx)=(1,2) — full-search block
    matching must find exactly that vector for blocks containing the
    square (ref demo_synthetic.py:14-23 + motion_codec.py:83-90)."""
    bm = REGISTRY["block_match_full"].fn(spark, SF_ORACLE)
    # Compensation vector points back to the previous frame: the square
    # translates by (vy,vx)=(1,2), so square blocks must win at exactly
    # (dy,dx)=(-1,-2) with cost 0 (texture rides with the square);
    # static background blocks must stay at (0,0) with cost 0.
    rows = bm.collect()
    moving = [r for r in rows if (r.dy, r.dx) != (0, 0)]
    assert len(moving) > 0, "no moving blocks detected"
    exact = [r for r in moving if r.cost == 0]
    assert len(exact) > 0, "square interior should match exactly somewhere"
    assert all((r.dy, r.dx) == (-1, -2) for r in exact), exact[:5]
    # pure-background blocks match themselves exactly at (0,0); blocks
    # straddling the square boundary may also settle at (0,0) with cost>0.
    static_exact = [r for r in rows if (r.dy, r.dx) == (0, 0) and r.cost == 0]
    assert len(static_exact) >= 200, len(static_exact)


def test_psnr_high_on_exact_compensation(spark):
    """Compensation with recovered vectors reconstructs the clip almost
    exactly -> PSNR at/near the 99 dB clamp (ref motion_codec.py:270)."""
    rows = REGISTRY["motion_psnr"].fn(spark, SF_ORACLE).collect()
    assert len(rows) == 15
    assert sum(1 for r in rows if r.psnr >= 40) >= 10, sorted(r.psnr for r in rows)


def test_illum_norm_kills_flicker(spark):
    """Mean-normalized MAD must collapse on the flicker clip while raw
    MAD sees the brightness flash (ref motion_codec.py:44-52 intent)."""
    df = REGISTRY["illum_invariant_mad"].fn(spark, SF_ORACLE)
    flick = df.filter(F.col("video_id") == "flicker").agg(
        F.avg("mad_raw").alias("raw"), F.avg("mad_norm").alias("norm")
    ).collect()[0]
    assert flick.raw > 10, flick
    assert flick.norm < 0.5, flick


def test_decision_counts_route_by_motion(spark):
    """Static clip pairs must not be HIGH; every clip classifies all
    15 pairs (ref motion_codec.py:215-221)."""
    rows = REGISTRY["motion_decision_counts"].fn(spark, SF_ORACLE).collect()
    per_video = {}
    for r in rows:
        per_video.setdefault(r.video_id, {})[r.motion_class] = r.n
    assert set(per_video) == {"low", "moderate", "high", "flicker"}
    for vid, counts in per_video.items():
        assert sum(counts.values()) == 15, (vid, counts)
    assert per_video["low"].get("HIGH", 0) == 0, per_video["low"]


def test_hough_peak_finds_planted_centers(spark):
    """Vote peak must land on the planted circle center (±1 px) for the
    five circle images and report NO_CIRCLE for the noise-only image
    (ref hough_heart_detector.py:116-157 + FIXTURES.md §6)."""
    rows = {r.image_id: r for r in REGISTRY["hough_peak"].fn(spark, SF_ORACLE).collect()}
    assert len(rows) == 6
    for img in range(5):
        r = rows[img]
        assert r.status == "OK", r
        assert abs(r.cy - (20 + img * 2)) <= 1 and abs(r.cx - (24 + img * 3)) <= 1, r
    assert rows[5].status == "NO_CIRCLE", rows[5]


def test_candidate_score_recovers_circle_params(spark):
    """Best-scoring candidate must be the planted (cy, cx, r=14) for
    circle images (ref hough_heart_detector2.py:259-271 argmax)."""
    rows = {r.image_id: r for r in REGISTRY["circle_candidate_score"].fn(spark, SF_ORACLE).collect()}
    for img in range(5):
        r = rows[img]
        assert (r.cy0, r.cx0, r.r0) == (20 + img * 2, 24 + img * 3, 14), r


def test_kmeans_recovers_planted_means(spark):
    """K-means on the 3-shell volume must recover centers near the
    planted milli-means 340/460/700, ordered ascending (ref
    brain_segmentation.py:100-116 + report.pdf means)."""
    rows = REGISTRY["kmeans_init"].fn(spark, SF_ORACLE).collect()
    centers = [r.center for r in sorted(rows, key=lambda r: r.rank)]
    assert len(centers) == 3
    for got, want in zip(centers, (340, 460, 700)):
        assert abs(got - want) < 30, (centers,)


def test_hmrf_em_converges_to_planted_classes(spark):
    """Full EM loop: final class means near planted values and all
    three classes populated (report.pdf summary table shape)."""
    rows = {r.label: r for r in REGISTRY["hmrf_em_segmentation"].fn(spark, SF_ORACLE).collect()}
    assert set(rows) == {0, 1, 2}
    for k, want in enumerate((340, 460, 700)):
        assert abs(rows[k].mean_m - want) < 30, rows
        assert rows[k].n > 100, rows


def test_icm_step_denoises(spark):
    """The Potts prior must flip some noisy labels but preserve the
    bulk labeling (one step changes a small fraction)."""
    r = REGISTRY["segmentation_convergence"].fn(spark, SF_ORACLE).collect()[0]
    assert r.total > 3000
    assert 0 < r.changed < r.total * 0.2, r


def test_gaussian_denoise_reduces_noise(spark):
    """The binomial kernel must shrink the fixture's +-48 hash noise:
    mean |denoised - class_mean| < mean |raw - class_mean| over interior
    voxels of each planted class (ref brain_segmentation.py:384-395
    denoises before EM for exactly this reason)."""
    from bigdata_assigment3_spark.operators.hmrf import VOXELS_SQL

    raw = spark.sql(VOXELS_SQL).filter(F.col("in_mask"))
    dn = REGISTRY["gaussian_denoise"].fn(spark, SF_ORACLE)
    j = raw.join(dn, ["z", "y", "x"])
    # class by distance band (the fixture's own definition, interior
    # bands only so blur across class borders doesn't pollute)
    d2 = "(z - 8) * (z - 8) * 4 + (y - 16) * (y - 16) + (x - 16) * (x - 16)"
    for lo, hi, mu in ((0, 36, 340), (81, 121, 460), (169, 225, 700)):
        band = j.filter(F.expr(f"{d2} >= {lo} AND {d2} < {hi}"))
        r = band.agg(
            F.avg(F.abs(F.col("inten_m") - mu)).alias("raw_dev"),
            F.avg(F.abs(F.col("dn_m") - mu)).alias("dn_dev"),
        ).collect()[0]
        assert r.dn_dev < r.raw_dev * 0.6, (mu, r.raw_dev, r.dn_dev)


def test_nlm_preserves_edges_better_than_gaussian(spark):
    """NLM must denoise harder than the Gaussian kernel WITHOUT
    blurring across class boundaries: per planted class band, NLM
    deviation < 0.35x raw and < the Gaussian's deviation."""
    from bigdata_assigment3_spark.operators.hmrf import VOXELS_SQL

    raw = spark.sql(VOXELS_SQL).filter(F.col("in_mask"))
    nlm = REGISTRY["nlm_denoise"].fn(spark, SF_ORACLE)
    gau = REGISTRY["gaussian_denoise"].fn(spark, SF_ORACLE)
    j = raw.join(nlm, ["z", "y", "x"]).join(gau, ["z", "y", "x"])
    d2 = "(z - 8) * (z - 8) * 4 + (y - 16) * (y - 16) + (x - 16) * (x - 16)"
    for lo, hi, mu in ((0, 36, 340), (81, 121, 460), (169, 225, 700)):
        r = (
            j.filter(F.expr(f"{d2} >= {lo} AND {d2} < {hi}"))
            .agg(
                F.avg(F.abs(F.col("inten_m") - mu)).alias("raw_dev"),
                F.avg(F.abs(F.col("nlm_m") - mu)).alias("nlm_dev"),
                F.avg(F.abs(F.col("dn_m") - mu)).alias("gau_dev"),
            )
            .collect()[0]
        )
        assert r.nlm_dev < r.raw_dev * 0.35, (mu, r)
        assert r.nlm_dev < r.gau_dev, (mu, r)


def test_denoised_em_recovers_planted_means(spark):
    """EM on denoised intensities must still find the three planted
    classes with means near (340, 460, 700)."""
    rows = {r.label: r for r in REGISTRY["hmrf_em_denoised"].fn(spark, SF_ORACLE).collect()}
    for k, want in enumerate((340, 460, 700)):
        assert abs(rows[k].mean_m - want) < 30, rows
        assert rows[k].n > 100, rows


def test_ellipse_sweep_recovers_planted_params(spark):
    """The candidate sweep must recover each image's planted ellipse
    (ey, ex, ea, eb) exactly with full support, and flag the noise-only
    image NO_ELLIPSE (ref hough_heart_detector2.py:315-358,390)."""
    rows = {r.image_id: r for r in REGISTRY["ellipse_candidate_score"].fn(spark, SF_ORACLE).collect()}
    for img in range(3):
        r = rows[img]
        assert r.status == "OK", r
        assert (r.ey, r.ex, r.ea, r.eb) == (28 + 2 * img, 30 + 2 * img, 10 + 2 * img, 6 + img), r
        assert r.support == 1.0, r
    assert rows[3].status == "NO_ELLIPSE", rows[3]


def test_jaccard_long_docs_not_capped(spark, tmp_path):
    """Shingling must cover the WHOLE document, not a fixed prefix: two
    2000-char docs that agree only on their first 600 chars are NOT
    near-dups (a prefix-capped shingler would call them identical),
    while two docs sharing a 1600-char prefix ARE.  Also asserts Spark
    and DuckDB agree on the long-doc fixture (oracle parity beyond the
    driver's stock documents table)."""
    import hashlib

    import duckdb
    import pandas as pd

    from tests.oracle_utils import compare

    def gen(key: str, n: int) -> str:
        out = []
        i = 0
        while sum(len(c) for c in out) < n:
            out.append(hashlib.md5(f"{key}:{i}".encode()).hexdigest())
            i += 1
        return "".join(out)[:n]

    prefix = gen("prefix", 1600)
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                prefix + gen("tailA", 400),          # 0: near-dup of 1
                prefix + gen("tailB", 400),          # 1
                prefix[:600] + gen("tailC", 1400),   # 2: shares ONLY first 600 chars with 0
                gen("other", 300),                   # 3: unrelated
            ],
        }
    )
    fdir = tmp_path / "longdocs"
    fdir.mkdir()
    docs.to_parquet(fdir / "documents.parquet", index=False)

    spec = REGISTRY["dedup_jaccard_pairs"]
    sdf = spec.fn(spark, str(fdir))
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in sdf.collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] >= 0.5, pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs, pairs

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{fdir}/documents.parquet')"
    )
    assert compare(sdf, con.sql(spec.oracle), "dedup_jaccard_pairs[longdocs]") == []


def test_jaccard_finds_planted_near_dups(spark):
    """documents has planted near-duplicate groups (23 shared-prefix
    groups at sf0.01) — shingle-Jaccard must surface pairs, and every
    reported pair must share a long substring."""
    pairs = REGISTRY["dedup_jaccard_pairs"].fn(spark, SF_ORACLE).collect()
    assert len(pairs) > 0, "no near-dup pairs found"
    assert all(p.jaccard >= 0.5 for p in pairs)


def test_minhash_lsh_recall(spark):
    """LSH candidates must cover most true Jaccard>=0.5 pairs (banding
    4x2 over J=8 gives high recall at this threshold)."""
    truth = {(r.doc_a, r.doc_b) for r in REGISTRY["dedup_jaccard_pairs"].fn(spark, SF_ORACLE).collect()}
    cand = {(r.doc_a, r.doc_b) for r in REGISTRY["dedup_minhash_lsh"].fn(spark, SF_ORACLE).collect()}
    assert truth, "need truth pairs"
    recall = len(truth & cand) / len(truth)
    assert recall >= 0.8, (recall, len(truth), len(cand))


def test_ann_topk_matches_numpy_bruteforce(spark):
    """Independent ground truth: the Spark cosine top-1 per query must
    equal a numpy brute-force on the same quantized vectors.  (The
    testdata's `label` column is NOT cosine-coherent — verified — so
    correctness is checked against an independent implementation.)"""
    import numpy as np

    from bigdata_assigment3_spark.sources import load_table

    rows = load_table(spark, SF_ORACLE, "embeddings").collect()
    ids = np.array([r.vec_id for r in rows])
    m = np.round(np.array([r.embedding for r in rows], dtype=np.float64) * 1000)
    norms = np.sqrt((m * m).sum(axis=1))
    top1 = {r.query_id: r.cand_id for r in REGISTRY["ann_cosine_topk"].fn(spark, SF_ORACLE).collect() if r.rank == 1}
    assert top1
    for qid, got in top1.items():
        qi = int(np.where(ids == qid)[0][0])
        cos = (m @ m[qi]) / (norms * norms[qi])
        cos[qi] = -2  # exclude self
        best = ids[int(np.argmax(cos))]
        assert best == got, (qid, got, best)


def test_simhash_buckets_near_dups_together(spark):
    """Planted near-dup pairs should collide (or nearly collide) in
    simhash space far more often than random docs."""
    sim = {r.doc_id: r.simhash for r in REGISTRY["dedup_simhash"].fn(spark, SF_ORACLE).collect()}
    pairs = REGISTRY["dedup_jaccard_pairs"].fn(spark, SF_ORACLE).collect()
    assert pairs

    def ham(a, b):
        return bin(a ^ b).count("1")

    dists = [ham(sim[p.doc_a], sim[p.doc_b]) for p in pairs]
    assert sum(dists) / len(dists) <= 6, dists


def test_adaptive_search_bounded_by_full(spark):
    """Diamond/TSS are heuristics: per-block cost must be >= the full
    search optimum, with far fewer probes; on the planted clip the
    exact-match blocks must still be found (SURVEY §7.4 resolution)."""
    full = {(r.frame_idx, r.by, r.bx): r.cost
            for r in REGISTRY["block_match_full"].fn(spark, SF_ORACLE).collect()}
    for name in ("block_match_diamond", "block_match_tss"):
        rows = REGISTRY[name].fn(spark, SF_ORACLE).collect()
        assert len(rows) == len(full), (name, len(rows), len(full))
        worse = 0
        for r in rows:
            opt = full[(r.frame_idx, r.by, r.bx)]
            assert r.cost >= opt, (name, r, opt)
            if r.cost > opt:
                worse += 1
        # heuristic may miss some optima but not most
        assert worse / len(rows) < 0.5, (name, worse, len(rows))
        # planted motion blocks (cost 0 at (-1,-2)) must be recovered
        exact = [r for r in rows if r.cost == 0 and (r.dy, r.dx) != (0, 0)]
        assert all((r.dy, r.dx) == (-1, -2) for r in exact), (name, exact[:5])
        assert len(exact) > 0, name
        # and it must actually probe fewer positions than full search
        avg_probes = sum(r.n_probes for r in rows) / len(rows)
        assert avg_probes < (2 * 4 + 1) ** 2 / 2, (name, avg_probes)


def test_largest_component_is_whole_square(spark):
    """The thresholded square (144 px, 4-connected) must come back as
    exactly one component of size 144 (ref keep-largest-CC,
    brain_segmentation.py:88-92)."""
    rows = REGISTRY["largest_component"].fn(spark, SF_ORACLE).collect()
    assert len(rows) == 1 and rows[0].size == 144, rows


def _long_chain_graph():
    """A 2,000-node path whose ids are a fixed shuffle of its positions,
    a 3-node component, isolated nodes, a duplicate edge (both ways) and
    self edges; and its labels by a Python union-find (component
    minimum)."""
    import random

    path = list(range(2000))
    random.Random(18).shuffle(path)
    edges = list(zip(path, path[1:]))
    edges += [(path[7], path[6]), (path[6], path[7]), (path[9], path[9])]
    edges += [(5003, 5001), (5002, 5001), (5000, 5000)]
    nodes = path + [5000, 5001, 5002, 5003, 6000, 6001]
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return nodes, edges, {v: find(v) for v in nodes}


def test_connected_components_long_chain(spark):
    """Every node's label is its component minimum, also on a component
    whose diameter is 1,999 hops."""
    from bigdata_assigment3_spark.operators.components import connected_components

    nodes, edges, want = _long_chain_graph()
    got = connected_components(
        spark.createDataFrame([(v,) for v in nodes], "id BIGINT"),
        spark.createDataFrame(edges, "a BIGINT, b BIGINT"),
    )
    assert {r.id: r.comp for r in got.collect()} == want


def test_connected_components_cap_raises(spark, monkeypatch):
    """Reaching the round cap raises instead of returning unconverged
    labels."""
    from bigdata_assigment3_spark.operators import components

    nodes, edges, _ = _long_chain_graph()
    monkeypatch.setattr(components, "ROUND_CAP", 2)
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        components.connected_components(
            spark.createDataFrame([(v,) for v in nodes], "id BIGINT"),
            spark.createDataFrame(edges, "a BIGINT, b BIGINT"),
        )


def test_otsu_separates_square_from_background(spark):
    """Otsu's threshold (class0 = v <= t) on the bimodal clip must
    separate background (10..20) from square (>=200): t in [20, 200)."""
    r = REGISTRY["otsu_threshold"].fn(spark, SF_ORACLE).collect()[0]
    assert 20 <= r.threshold < 200, r


def test_hough_udf_agrees_with_relational(spark):
    """The per-image numpy accumulator (U3 vehicle) must return the same
    rows as the relational vote pipeline: both match one oracle, so
    every column of every image agrees exactly."""
    rel, udf = (
        sorted(REGISTRY[name].fn(spark, SF_ORACLE).collect(), key=lambda r: r.image_id)
        for name in ("hough_peak", "hough_peak_udf")
    )
    assert rel == udf


def test_slab_icm_equals_relational(spark):
    """The halo-slab mapInPandas ICM step must produce exactly the
    relational neighbor-join step's transition matrix (same Jacobi
    semantics, different physical plan — SURVEY §4.3)."""
    rel = {(r.old_label, r.new_label): r.n
           for r in REGISTRY["icm_step_transitions"].fn(spark, SF_ORACLE).collect()}
    slab = {(r.old_label, r.new_label): r.n
            for r in REGISTRY["icm_step_slab"].fn(spark, SF_ORACLE).collect()}
    assert rel == slab, (rel, slab)


def test_largest_component_3d_matches_numpy(spark):
    """The slab-local CC + boundary union-find must produce exactly
    the whole-volume component sizes (6-connectivity), computed here
    by a single-array numpy reference."""
    import numpy as np
    from bigdata_assigment3_spark.operators.hmrf import X, Y, Z

    z, y, x = np.meshgrid(np.arange(Z), np.arange(Y), np.arange(X), indexing="ij")
    mask = (z * 73856093 + y * 19349663 + x * 83492791) % 97 < 25
    lab = np.where(mask, (z * Y + y) * X + x, -1).astype(np.int64)
    big = np.iinfo(np.int64).max
    while True:
        cur = np.where(mask, lab, big)
        nbr = np.full_like(cur, big)
        for ax in (0, 1, 2):
            for s in (1, -1):
                sh = np.full_like(cur, big)
                src = [slice(None)] * 3
                dst = [slice(None)] * 3
                src[ax], dst[ax] = (
                    (slice(0, -1), slice(1, None)) if s == 1 else (slice(1, None), slice(0, -1))
                )
                sh[tuple(dst)] = cur[tuple(src)]
                nbr = np.minimum(nbr, sh)
        new = np.where(mask, np.minimum(lab, nbr), lab)
        if (new == lab).all():
            break
        lab = new
    _, counts = np.unique(lab[mask], return_counts=True)
    expect = sorted(counts.tolist(), reverse=True)[:10]
    got = [r.size for r in REGISTRY["largest_component_3d"].fn(spark, SF_ORACLE)
           .orderBy("rank").collect()]
    assert got == expect, (got, expect)


def test_ann_ivf_recall(spark):
    """IVF with nprobe=2 of 8 lists must beat the probed-fraction
    baseline by a wide margin (seeded KMeans -> deterministic):
    measured recall@5 vs brute force is 0.64 on this corpus."""
    brute = {(r.query_id, r.cand_id)
             for r in REGISTRY["ann_cosine_topk"].fn(spark, SF_ORACLE).collect()}
    ivf = {(r.query_id, r.cand_id)
           for r in REGISTRY["ann_ivf_probe"].fn(spark, SF_ORACLE).collect()}
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.55, recall


def test_centroid_assignment_dispatch_parity(spark):
    """The Arrow centroid-assignment kernel must reproduce the literal
    expression path exactly (same d2, same nearest-na, same ties ->
    lowest k) — the k-threshold dispatch may never change values."""
    from bigdata_assigment3_spark.operators.similarity import (
        _nearest_lists_arrow,
        _sph_frame,
        _sph_lists_expr,
        _sph_train_cents,
    )

    cents = _sph_train_cents(spark, SF_ORACLE, 16)
    frame = _sph_frame(spark, SF_ORACLE)
    lit = {
        r.vec_id: [(s.d2, s.k) for s in r.nl]
        for r in frame.withColumn("nl", F.expr(_sph_lists_expr(cents, 2)))
        .select("vec_id", "nl").collect()
    }
    arr = {
        r.vec_id: [(s.d2, s.k) for s in r.nl]
        for r in _nearest_lists_arrow(frame, cents, 2).select("vec_id", "nl").collect()
    }
    assert lit == arr


def test_centroid_assignment_large_k_plan(spark):
    """k=256 centroids through the dispatch: takes the Arrow path, the
    plan stays O(1) in k (no O(k * dim) literal blowup), and the
    assignment value-matches an independent exact-int64 reference with
    the literal path's tie-break (stable, lowest k)."""
    import numpy as np

    from bigdata_assigment3_spark.operators.similarity import (
        E2_DIM,
        _sph_frame,
        _sph_lists_expr,
        _with_nearest_lists,
    )

    k = 256
    cents = [
        [((i + 1) * 73856093 + j * 19349663) % 2_600_000 for j in range(E2_DIM)]
        for i in range(k)
    ]
    frame = _sph_frame(spark, SF_ORACLE)
    out = _with_nearest_lists(frame, cents, 2)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "mapinarrow" in plan.lower().replace("_", ""), plan[:500]
    assert len(plan) < 20_000, f"plan is {len(plan)} chars — literal blowup leaked in"
    # the literal expression for the same k documents the blowup the
    # dispatch avoids: O(k * dim) literals in ONE expression string
    assert len(_sph_lists_expr(cents, 2)) > 150_000

    got = {
        r.vec_id: [(s.d2, s.k) for s in r.nl]
        for r in out.select("vec_id", "nl").collect()
    }
    C = np.asarray(cents, dtype=np.int64)
    rows = frame.select("vec_id", "xp").collect()
    X = np.asarray([r.xp for r in rows], dtype=np.int64)
    d2 = (X * X).sum(1, keepdims=True) - 2 * (X @ C.T) + (C * C).sum(1)[None, :]
    order = np.argsort(d2, axis=1, kind="stable")[:, :2]
    expect = {
        r.vec_id: [(int(d2[i, j]), int(j)) for j in order[i]]
        for i, r in enumerate(rows)
    }
    assert got == expect


def test_ann_pq_rerank_recall(spark):
    """PQ codes + exact re-rank must recover most brute-force top-5
    neighbors (numpy prototype: ADC-only recall 0.28, shortlist-50 +
    exact re-rank 0.84 on this corpus; floor leaves margin for the
    seeded codebook training)."""
    brute = {(r.query_id, r.cand_id)
             for r in REGISTRY["ann_cosine_topk"].fn(spark, SF_ORACLE).collect()}
    pq = {(r.query_id, r.cand_id)
          for r in REGISTRY["ann_pq_rerank"].fn(spark, SF_ORACLE).collect()}
    recall = len(brute & pq) / len(brute)
    assert recall >= 0.6, recall


def test_slab_em_equals_relational_em(spark):
    """The full EM loop on the halo-slab plan must reproduce the
    relational EM loop exactly (same Jacobi trajectory, deterministic
    integer M-step)."""
    rel = {(r.label): (r.n, r.mean_m)
           for r in REGISTRY["hmrf_em_segmentation"].fn(spark, SF_ORACLE).collect()}
    slab = {(r.label): (r.n, r.mean_m)
            for r in REGISTRY["hmrf_em_slab"].fn(spark, SF_ORACLE).collect()}
    assert rel == slab, (rel, slab)


def test_pack_sequences_conserves_tokens(spark):
    """Concat-and-chunk packing must conserve the token stream: per
    source, chunk token counts sum to the source's total and chunk ids
    are contiguous from 0 (no chunk skipped, none duplicated)."""
    rows = REGISTRY["pack_sequences"].fn(spark, SF_ORACLE).collect()
    docs = REGISTRY["domain_mixture_weights"].fn(spark, SF_ORACLE).collect()
    totals = {r.source: r.n_tokens for r in docs}
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert set(by_src) == set(totals)
    for src, chunks in by_src.items():
        assert sum(c.n_tokens for c in chunks) == totals[src], src
        ids = sorted(c.chunk_id for c in chunks)
        assert ids == list(range(len(ids))), (src, ids)


def test_pii_scrub_counts_planted_exactly(spark):
    """The corpus is letters-only, so the planted PII is the only PII:
    emails on doc_id%5==0, phones on doc_id%7==0 — 1/5 and 1/7 of the
    500 sf0.01 docs exactly."""
    row = REGISTRY["pii_scrub"].fn(spark, SF_ORACLE).collect()[0]
    assert row.docs_with_email == 100, row
    assert row.docs_with_phone == 72, row
    assert row.n_emails == 100 and row.n_phones == 72, row
    # every redaction replaces a longer literal with <EMAIL>/<PHONE>
    assert row.total_chars_delta > 0, row


def test_quality_filter_partitions_corpus(spark):
    """First-match CASE chain: every document gets exactly one verdict
    and most of the synthetic corpus (plain word salad) is kept."""
    rows = REGISTRY["quality_filter_chain"].fn(spark, SF_ORACLE).collect()
    assert sum(r.n for r in rows) == 500
    kept = {r.verdict: r.n for r in rows}.get("keep", 0)
    assert kept >= 250, rows


def test_span_dedup_separates_planted_near_dups(spark):
    """The sf0.01 corpus contains planted near-duplicate documents
    (verbatim-span copies): those must score dup_ratio == 1.0, while
    the clean majority shares no 8-word span (median ratio 0)."""
    import statistics

    rows = REGISTRY["span_dedup_ratio"].fn(spark, SF_ORACLE).collect()
    assert len(rows) == 500
    full = [r.doc_id for r in rows if r.dup_ratio == 1.0]
    assert len(full) >= 10, len(full)
    assert statistics.median(r.dup_ratio for r in rows) == 0.0


def test_lm_score_flags_repetitive_doc(spark, tmp_path):
    """A planted doc that repeats one novel bigram 200 times must get
    a far lower mean negative log-likelihood than every natural doc
    (its bigram is self-evident to the corpus LM)."""
    import shutil

    from bigdata_assigment3_spark.sources import load_table

    src = load_table(spark, SF_ORACLE, "documents")
    sf_dir = str(tmp_path)
    rep = " ".join(["xrep yrep"] * 200)
    extra = spark.createDataFrame(
        [(20001, rep, "en", "srcX", len(rep))], schema=src.schema
    )
    src.unionByName(extra).write.parquet(f"{sf_dir}/documents.parquet")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        shutil.copy(f"{SF_ORACLE}/{t}.parquet", f"{sf_dir}/{t}.parquet")
    rows = REGISTRY["lm_bigram_score"].fn(spark, sf_dir).collect()
    planted = next(r.mean_nll for r in rows if r.doc_id == 20001)
    natural_min = min(r.mean_nll for r in rows if r.doc_id != 20001)
    assert planted < 1.0 < natural_min - 1.0, (planted, natural_min)


def _python_link_graph(spark):
    from bigdata_assigment3_spark.sources import load_table

    ids = [r.doc_id for r in
           load_table(spark, SF_ORACLE, "documents").select("doc_id").collect()]
    n = len(ids)
    edges = {(s, (s * 7 + k * 131 + 17) % n)
             for s in ids for k in range(1, 6)}
    return ids, {(s, d) for (s, d) in edges if s != d}


def test_pagerank_matches_python_integer_recompute(spark):
    """The scaled-integer PageRank trajectory is fully deterministic:
    an independent pure-Python recompute must match every rank_i
    exactly (no tolerance)."""
    ids, edges = _python_link_graph(spark)
    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    verts = {v for e in edges for v in e}
    scale = 10**12
    rank = {v: scale for v in verts}
    for _ in range(5):
        inflow = {v: 0 for v in verts}
        for s, d in edges:
            inflow[d] += rank[s] // deg[s]
        rank = {v: (15 * scale + 85 * inflow[v]) // 100 for v in verts}
    got = {r.v: r.rank_i for r in
           REGISTRY["pagerank"].fn(spark, SF_ORACLE).collect()}
    assert got == rank
    # rank mass is conserved up to integer-division truncation
    assert 0.99 * len(verts) * scale < sum(got.values()) <= len(verts) * scale


def test_triangle_count_matches_python_recompute(spark):
    """Degree-oriented triangle enumeration must equal the brute-force
    count over all undirected edge triples."""
    import itertools

    _, edges = _python_link_graph(spark)
    und = {(min(s, d), max(s, d)) for s, d in edges}
    adj: dict[int, set] = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    n_tri = sum(
        1
        for a in adj
        for b, c in itertools.combinations(sorted(adj[a]), 2)
        if a < b and c in adj.get(b, set())
    )
    row = REGISTRY["triangle_count"].fn(spark, SF_ORACLE).collect()[0]
    assert row.n_triangles == n_tri, (row.n_triangles, n_tri)
    assert row.n_edges == len(und)


def test_image_phash_recovers_planted_variants(spark):
    """The perceptual-hash pipeline must recover exactly the planted
    (original, re-encoded-variant) image pairs: every 10th doc plants
    one variant at -(img_id + 1) (the negative id space can never
    collide with a real doc_id at any corpus size) with 3 perturbed
    pixels (hamming
    <= 3 after threshold-crossing slack), and no random pair sits
    within the hamming-6 verify radius."""
    rows = REGISTRY["image_phash_dedup"].fn(spark, SF_ORACLE).collect()
    got = {(r.img_a, r.img_b): r.hamming for r in rows}
    want = {(-(d + 1), d) for d in range(0, 500, 10)}
    assert set(got) == want, set(got) ^ want
    assert all(h <= 3 for h in got.values()), got


def test_stream_late_drop_semantics(spark):
    """The late batch must actually be dropped by the watermark (the
    state-store metric is exposed after the run), and only windows
    closed by the on-time watermark may be emitted."""
    rows = REGISTRY["stream_late_data_drop"].fn(spark, SF_ORACLE).collect()
    dropped = int(spark.conf.get("bd3.stream_late_drop.dropped"))
    assert dropped > 0
    from bigdata_assigment3_spark.sources import load_table

    ev = load_table(spark, SF_ORACLE, "events")
    on_time = ev.filter(F.col("event_id") % 4 != 0)
    wm = on_time.agg(
        F.max(F.unix_timestamp("ts")).alias("m")
    ).collect()[0].m - 2 * 86400
    assert rows and all(r.window_start + 86400 <= wm for r in rows)


def test_stream_dedup_delivered_is_measured(spark):
    """Fault injection for the exactly-once metric: with the replay
    leg removed (single source, no duplication), the observed
    delivered count must equal the unique count — NOT report 2x —
    proving n_delivered is measured from the flowing stream via
    df.observe, not derived from the deduped output."""
    from bigdata_assigment3_spark.streaming.queries import _stream_events

    s1 = _stream_events(spark, SF_ORACLE)
    faulty = (
        s1.observe("delivered_fault", F.count(F.lit(1)).alias("n"))
        .withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        faulty.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_fault_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    delivered = sum(
        p.observedMetrics["delivered_fault"].n
        for p in q.recentProgress
        if "delivered_fault" in p.observedMetrics
    )
    n_unique = spark.table("dedup_fault_sink").count()
    assert delivered == n_unique, (delivered, n_unique)

    # and the real (two-source) query measures exactly 2x
    rows = REGISTRY["stream_dedup_exactly_once"].fn(spark, SF_ORACLE).collect()
    assert rows and all(r.n_delivered == 2 * r.n_unique for r in rows)


def test_canonical_docs_match_union_find(spark):
    """Label propagation must produce exactly the union-find components
    of the verified dup pairs, with min doc_id as survivor."""
    pairs = [
        (r.doc_a, r.doc_b)
        for r in REGISTRY["dedup_minhash_lsh"].fn(spark, SF_ORACLE).collect()
        if r.is_dup
    ]
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    want = {v: min(u for u in parent if find(u) == find(v)) for v in parent}
    got = {r.doc_id: (r.canonical_id, r.is_survivor)
           for r in REGISTRY["dedup_canonical_docs"].fn(spark, SF_ORACLE).collect()}
    assert {v: c for v, (c, _) in got.items()} == want
    assert all(s == (c == v) for v, (c, s) in got.items())


def test_approx_stats_within_error_bounds(spark):
    """approx_stats now carries its sketch-error contract IN the
    result (oracle-checked booleans); this test asserts the booleans
    are genuinely computed from the sketches (all true, with real
    per-type rows) rather than vacuously empty."""
    rows = REGISTRY["approx_stats"].fn(spark, SF_ORACLE).collect()
    assert len(rows) >= 3
    for r in rows:
        assert r.n_exact_users > 0, r
        assert r.hll_within_10pct, r
        assert r.p50_in_bracket, r
        assert r.p95_in_bracket, r


def test_stream_upsert_incremental(spark):
    """The foreachBatch merge must actually run incrementally (3
    non-empty micro-batches), with the final table equal to the batch
    aggregate (checked by the oracle test)."""
    REGISTRY["stream_foreachbatch_upsert"].fn(spark, SF_ORACLE).collect()
    assert int(spark.conf.get("bd3.upsert.n_batches")) == 3


def test_capstone_staged_oracle_equals_single_statement(duck):
    """The staged capstone oracle (constituents as temp TABLES — the
    100x-audit spill-bounding path, tests/scale_audit.py) must return
    exactly the single-statement registered oracle's rows, so the two
    forms can never drift."""
    from bigdata_assigment3_spark.operators.pipeline import capstone_oracle_stages

    single = duck.sql(REGISTRY["curation_pipeline_verdict"].oracle).fetchall()
    stmts, final = capstone_oracle_stages()
    try:
        for stmt in stmts:
            duck.execute(stmt)
        staged = duck.sql(final).fetchall()
    finally:
        for t in ("stg_q", "stg_lm", "stg_shingles", "stg_doc_sizes",
                  "stg_sig", "stg_bands", "stg_cand", "stg_jacc",
                  "stg_mh", "stg_canon"):
            duck.execute(f"DROP TABLE IF EXISTS {t}")
    assert sorted(map(str, staged)) == sorted(map(str, single))


def test_pipeline_verdict_composes_consistently(spark):
    """The composed verdict must agree with its constituents: every
    dup-cluster loser is dropped regardless of quality, every kept doc
    has quality verdict 'keep', and the whole corpus is covered."""
    rows = {r.doc_id: r for r in
            REGISTRY["curation_pipeline_verdict"].fn(spark, SF_ORACLE).collect()}
    assert len(rows) == 500
    losers = {r.doc_id for r in
              REGISTRY["dedup_canonical_docs"].fn(spark, SF_ORACLE).collect()
              if not r.is_survivor}
    assert losers and all(not rows[d].final_keep for d in losers)
    for r in rows.values():
        assert r.final_keep == ((r.verdict == "keep") and not r.is_dup_loser)


def _bpe_token_merge(syms: list, p1: str, p2: str) -> list:
    """Left-to-right non-overlapping TOKEN-level merge (true BPE): a
    merge consumes sym[i], sym[i+1]; a merged symbol never re-matches
    p1 (p2 is non-empty), so a single forward scan is exact."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == p1 and syms[i + 1] == p2:
            out.append(p1 + p2)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _bpe_python(word_freq: dict, rounds: int) -> list:
    import collections

    want = []
    words = dict(word_freq)
    for rnd in range(1, rounds + 1):
        pc: collections.Counter = collections.Counter()
        for s, n in words.items():
            syms = s.split(" ")
            for i in range(len(syms) - 1):
                pc[f"{syms[i]} {syms[i + 1]}"] += n
        pair, cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rnd, pair, cnt))
        p1, p2 = pair.split(" ")
        nxt: dict = {}
        for s, n in words.items():
            k = " ".join(_bpe_token_merge(s.split(" "), p1, p2))
            nxt[k] = nxt.get(k, 0) + n
        words = nxt
    return want


def test_bpe_merges_match_python_recompute(spark):
    """The learned merge rules must equal a pure-Python BPE run
    (count adjacent pairs over the word-frequency table, argmax with
    lexicographic tie-break, left-to-right non-overlapping TOKEN-level
    merge)."""
    import collections

    from bigdata_assigment3_spark.sources import load_table

    docs = load_table(spark, SF_ORACLE, "documents").select("text").collect()
    freq: collections.Counter = collections.Counter()
    for r in docs:
        for w in r.text.split():
            if w:
                freq[" ".join(w)] += 1
    want = _bpe_python(freq, 3)
    got = [(r.round, r.pair, r.cnt)
           for r in REGISTRY["bpe_pair_merge"].fn(spark, SF_ORACLE).collect()]
    assert sorted(got) == want, (got, want)


def test_bpe_cross_boundary_collision(spark, tmp_path):
    """Planted corpus where substring-replace BPE and token-level BPE
    disagree: round 1 adopts (t,h), round 2 adopts (h,e).  The word
    'the' is then symbols [th, e] — a substring replace of 'h e' on
    the space-joined form would glue th+e into one symbol, erasing the
    (th, e) pair that true BPE must still see and adopt in round 3."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    text = " ".join(["th"] * 10 + ["he"] * 8 + ["the"] * 5)
    pq.write_table(
        pa.table({"doc_id": pa.array([1], type=pa.int64()), "text": [text]}),
        f"{tmp_path}/documents.parquet",
    )
    expected = [(1, "t h", 15), (2, "h e", 8), (3, "th e", 5)]

    got = [
        (r.round, r.pair, r.cnt)
        for r in REGISTRY["bpe_pair_merge"].fn(spark, str(tmp_path)).collect()
    ]
    assert sorted(got) == expected, got

    # hand recompute agrees
    assert _bpe_python({" ".join(w): n for w, n in
                        [("th", 10), ("he", 8), ("the", 5)]}, 3) == expected

    # and the DuckDB oracle implements the same token-level semantics
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    oracle = sorted(tuple(r) for r in
                    con.execute(REGISTRY["bpe_pair_merge"].oracle).fetchall())
    con.close()
    assert oracle == expected, oracle


def test_decontamination_flags_verbatim_copy(spark, tmp_path):
    """A held-out doc whose text verbatim-duplicates a training doc
    must score contamination_ratio == 1.0; a held-out doc with a
    vocabulary no training doc shares must score 0.0."""
    import shutil

    from bigdata_assigment3_spark.sources import load_table

    src = load_table(spark, SF_ORACLE, "documents")
    sf_dir = str(tmp_path)
    train_text = src.filter(F.col("doc_id") == 1).collect()[0].text
    extra = spark.createDataFrame(
        [
            (10000, train_text, "en", "srcX", len(train_text)),  # 10000 % 25 == 0
            (10025, "zz qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg", "en", "srcX", 48),
        ],
        schema=src.schema,
    )
    src.unionByName(extra).write.parquet(f"{sf_dir}/documents.parquet")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        shutil.copy(f"{SF_ORACLE}/{t}.parquet", f"{sf_dir}/{t}.parquet")
    out = {r.doc_id: r.contamination_ratio
           for r in REGISTRY["decontamination_overlap"].fn(spark, sf_dir).collect()}
    assert out[10000] == 1.0, out.get(10000)
    assert out[10025] == 0.0, out.get(10025)


def test_temperature_sample_semantics(spark):
    """Alpha-sampling invariants: the smallest source keeps everything
    (rate 1.0), keep rates decrease with source size, and kept counts
    land near rate * n_docs."""
    rows = REGISTRY["temperature_sample"].fn(spark, SF_ORACLE).collect()
    assert rows
    smallest = min(rows, key=lambda r: r.n_docs)
    assert smallest.keep_rate == 1.0 and smallest.n_kept == smallest.n_docs
    for r in rows:
        assert 0 < r.keep_rate <= 1.0
        assert abs(r.n_kept - r.keep_rate * r.n_docs) <= max(10, 0.2 * r.n_docs), r
    by_size = sorted(rows, key=lambda r: r.n_docs)
    rates = [r.keep_rate for r in by_size]
    assert rates == sorted(rates, reverse=True), rates


def test_bpe_encode_consistent_with_merges(spark):
    """Encoding stats must reflect the learned merges: every word's
    token count is at most its char count, at least 1, and total
    tokens across docs shrink vs. pure char tokenization by exactly
    the number of merge-rule applications."""
    rows = REGISTRY["bpe_encode_stats"].fn(spark, SF_ORACLE).collect()
    assert len(rows) == 500
    for r in rows:
        assert 1 <= r.n_tokens <= r.n_chars
        assert r.n_words <= r.n_tokens
        assert abs(r.chars_per_token - r.n_chars / r.n_tokens) < 1e-6


def test_regression_stats_match_builtins(spark):
    """The DECIMAL-exact closed-form slope/corr must agree with
    Spark's built-in regr_slope/regr_intercept/corr aggregates within
    float tolerance — independent check that the hand-rolled
    sufficient-statistics math is the real regression."""
    from pyspark.sql import functions as F
    from bigdata_assigment3_spark.sources import load_table

    ours = {r.l_returnflag: r
            for r in REGISTRY["regression_stats"].fn(spark, SF_ORACLE).collect()}
    li = load_table(spark, SF_ORACLE, "lineitem")
    ref = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("regr_slope(l_extendedprice, l_quantity)").alias("slope"),
            F.expr("regr_intercept(l_extendedprice, l_quantity)").alias("icpt"),
            F.corr("l_extendedprice", "l_quantity").alias("corr"),
            F.expr("regr_r2(l_extendedprice, l_quantity)").alias("r2"),
        )
        .collect()
    }
    assert set(ours) == set(ref) and ours
    for k, o in ours.items():
        r = ref[k]
        assert abs(o.slope - r.slope) < 1e-3, (k, o.slope, r.slope)
        assert abs(o.intercept - r.icpt) < 1e-2, (k, o.intercept, r.icpt)
        assert abs(o.corr - r.corr) < 1e-6, (k, o.corr, r.corr)
        assert abs(o.r2 - r.r2) < 1e-6, (k, o.r2, r.r2)


def test_frequent_triples_python_recount(spark):
    """Recount the reported triples' support in pure Python from the
    raw baskets — verifies the chained posexplode combination
    generation against an independent itertools enumeration."""
    from collections import Counter
    from itertools import combinations
    from bigdata_assigment3_spark.sources import load_table

    rows = REGISTRY["frequent_triples"].fn(spark, SF_ORACLE).collect()
    assert len(rows) == 10
    li = (load_table(spark, SF_ORACLE, "lineitem")
          .select("l_orderkey", "l_partkey").distinct().collect())
    baskets = {}
    for r in li:
        baskets.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    support = Counter()
    for items in baskets.values():
        if 3 <= len(items) <= 64:
            for t in combinations(sorted(items), 3):
                support[t] += 1
    expected = sorted(support.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [((r.p1, r.p2, r.p3), r.support) for r in rows]
    assert got == expected


def test_max_concurrent_orders_python_sweep(spark):
    """Independent O(n log n) Python sweep over the collected
    intervals reproduces every nation's peak concurrency."""
    from bigdata_assigment3_spark.sources import load_table

    got = {r.n_name: r.peak_concurrent
           for r in REGISTRY["max_concurrent_orders"].fn(spark, SF_ORACLE).collect()}
    o = load_table(spark, SF_ORACLE, "orders")
    c = load_table(spark, SF_ORACLE, "customer")
    n = load_table(spark, SF_ORACLE, "nation")
    rows = (o.join(c, o.o_custkey == c.c_custkey)
            .join(n, c.c_nationkey == n.n_nationkey)
            .select("n_name", "o_orderdate").collect())
    from collections import defaultdict
    import datetime
    per = defaultdict(list)
    for r in rows:
        t0 = r.o_orderdate
        per[r.n_name].append((t0, 1))
        per[r.n_name].append((t0 + datetime.timedelta(days=30), -1))
    for name, evs in per.items():
        # RANGE frame semantics: net all deltas at the same instant.
        by_t = defaultdict(int)
        for t, d in evs:
            by_t[t] += d
        cur = peak = 0
        for t in sorted(by_t):
            cur += by_t[t]
            peak = max(peak, cur)
        assert got[name] == peak, (name, got[name], peak)


def test_cdc_feed_reproduces_new_snapshot(spark):
    """The CDC contract behind snapshot_cdc_extract: applying the
    emitted change feed to the OLD snapshot must reproduce the NEW
    snapshot exactly (delete the deletes, upsert the updates+inserts).
    Runs the PRODUCTION helpers (cdc_snapshots + cdc_diff), not a
    private copy, and checks the full row-level diff — not just the
    op counts the oracle hashes."""
    from bigdata_assigment3_spark.operators.pipeline import cdc_diff, cdc_snapshots

    old, new = cdc_snapshots(spark, SF_ORACLE)
    feed = cdc_diff(old, new)
    applied = (
        old.join(feed, "k", "left")
        .filter((F.col("op").isNull()) | (F.col("op") != "delete"))
        .select("k", F.coalesce("new_bal", "bal").alias("bal"))
        .unionByName(feed.filter(F.col("op") == "insert").select("k", F.col("new_bal").alias("bal")))
    )
    diff = applied.exceptAll(new).count() + new.exceptAll(applied).count()
    assert diff == 0


def test_custom_sink_manifest_ignores_orphans(spark, tmp_path):
    """Two-phase-commit contract of the Python DataSource writer: a
    part file that lands WITHOUT being acknowledged in the manifest
    (a speculative duplicate, a dead task's orphan) must never leak
    into a manifest-honoring read."""
    import json

    from bigdata_assigment3_spark.sources.custom import (
        register_synthtx,
        register_synthtx_sink,
    )

    register_synthtx(spark)
    register_synthtx_sink(spark)
    out = str(tmp_path / "sink")
    src = spark.read.format("synthtx").option("rows", 1000).load()
    src.write.format("synthtxsink").option("path", out).mode("append").save()
    manifest = json.load(open(f"{out}/_manifest/manifest.json"))
    # plant an orphan duplicate of a committed file
    orphan = f"{out}/part-99999.json"
    with open(manifest["files"][0]) as fh, open(orphan, "w") as oh:
        oh.write(fh.read())
    back = spark.read.schema("tx_id BIGINT, user_id BIGINT, amount BIGINT").json(
        manifest["files"]
    )
    assert back.count() == 1000 == manifest["n_rows"]
    # a naive directory read WOULD see the orphan — that's the trap
    naive = spark.read.schema("tx_id BIGINT, user_id BIGINT, amount BIGINT").json(
        f"{out}/part-*.json"
    )
    assert naive.count() > 1000


def test_cdc_diff_edge_cases(spark):
    """cdc_diff on the degenerate snapshots a real pipeline WILL hit:
    empty old (initial load => all inserts), empty new (truncation =>
    all deletes), identical snapshots (=> empty feed), total update
    churn — each checked for exact op multisets."""
    from bigdata_assigment3_spark.operators.pipeline import cdc_diff

    schema = "k BIGINT, bal DOUBLE"

    def df(rows):
        return spark.createDataFrame(rows, schema)

    a = df([(1, 10.0), (2, 20.0), (3, 30.0)])
    empty = df([])

    def ops(old, new):
        out = {}
        for r in cdc_diff(old, new).collect():
            out.setdefault(r.op, set()).add(r.k)
        return out

    assert ops(empty, a) == {"insert": {1, 2, 3}}
    assert ops(a, empty) == {"delete": {1, 2, 3}}
    assert ops(a, a) == {}
    assert ops(a, df([(1, 11.0), (2, 22.0), (3, 33.0)])) == {"update": {1, 2, 3}}
    mixed = ops(df([(1, 10.0), (2, 20.0)]), df([(2, 25.0), (9, 90.0)]))
    assert mixed == {"delete": {1}, "update": {2}, "insert": {9}}
    # NULL transitions ARE updates (null-safe compare), equal NULLs are not
    assert ops(df([(1, 10.0), (2, None)]), df([(1, None), (2, None)])) == {
        "update": {1}
    }


def test_arrow_norm_kernel_trailing_empty_exact():
    """Regression: a TRAILING empty embedding list must not corrupt the
    preceding vector's norm (the old reduceat clamp summed the last
    non-empty segment short by its final element: [[1,2,3],[]] gave
    norm2 [5,0] instead of [14,0]).  Exercises empty-first, interior,
    trailing, all-empty, and sliced-offset shapes directly against the
    mapInArrow kernel."""
    import pyarrow as pa

    from bigdata_assigment3_spark.operators.similarity import _arrow_norm_batches

    def norms(lists):
        batch = pa.RecordBatch.from_arrays(
            [
                pa.array(list(range(len(lists))), type=pa.int32()),
                pa.array(lists, type=pa.list_(pa.float32())),
            ],
            names=["label", "embedding"],
        )
        (out,) = list(_arrow_norm_batches([batch]))
        return out.column(1).to_pylist()

    mm = 1000 * 1000  # milli-unit quantization: x -> round(x*1000)
    assert norms([[1.0, 2.0, 3.0], []]) == [14 * mm, 0]
    assert norms([[], [2.0], [], [3.0, 4.0], []]) == [0, 4 * mm, 0, 25 * mm, 0]
    assert norms([[], [], []]) == [0, 0, 0]
    assert norms([]) == []
    # sliced ListArray: offsets need not start at 0
    full = pa.array([[9.0], [1.0, 2.0], []], type=pa.list_(pa.float32()))
    sliced = full.slice(1, 2)
    batch = pa.RecordBatch.from_arrays(
        [pa.array([0, 1], type=pa.int32()), sliced], names=["label", "embedding"]
    )
    (out,) = list(_arrow_norm_batches([batch]))
    assert out.column(1).to_pylist() == [5 * mm, 0]


def test_insert_unique_guard_empty_staged(spark, tmp_path):
    """Regression: with ZERO staged signup events the guard must report
    one 0/0/0 row in BOTH engines (pre-fix, the left-join aggregate
    returned NULL n_inserted/n_rejected because SUM over zero rows is
    NULL).  The sf0.01 oracle run never exercises this path — every SF
    has signups — so without this fixture the bug could return."""
    import duckdb

    from bigdata_assigment3_spark.sources import load_table

    sf_dir = str(tmp_path)
    load_table(spark, SF_ORACLE, "events").filter(
        "event_type <> 'signup'"
    ).write.parquet(f"{sf_dir}/events.parquet")
    spec = REGISTRY["insert_unique_guard"]
    (row,) = spec.fn(spark, sf_dir).collect()
    assert (row.n_staged, row.n_inserted, row.n_rejected) == (0, 0, 0)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    assert con.sql(spec.oracle).fetchall() == [(0, 0, 0)]
    con.close()


def test_hll_int_sum_exact_past_float53(spark):
    """Regression: the HLL harmonic denominator must accumulate as
    exact BIGINTs in both engines.  Four rho=0 registers (2^51 each)
    plus one rho=51 register (term 1) sum to 2^53 + 1 — a value with
    54 significant bits that double accumulation (the pre-fix `**`)
    collapses to 2^53 in EVERY addition order.  Pins the shared
    production expressions HLL_TERM_SPARK / HLL_TERM_DUCK."""
    import duckdb

    from bigdata_assigment3_spark.operators.sketches import (
        HLL_TERM_DUCK,
        HLL_TERM_SPARK,
    )

    grid = spark.createDataFrame([(0,), (0,), (0,), (0,), (51,)], "rho INT")
    (row,) = grid.agg(
        F.sum(F.expr(HLL_TERM_SPARK)).alias("int_sum"),
        F.sum(F.expr("POWER(CAST(2 AS DOUBLE), 51 - rho)")).alias("float_sum"),
    ).collect()
    assert row.int_sum == 2**53 + 1
    assert row.float_sum == float(2**53)  # the ULP the integer fix recovers
    con = duckdb.connect()
    duck_sum = con.sql(
        f"SELECT SUM({HLL_TERM_DUCK}) FROM (VALUES (0), (0), (0), (0), (51)) t(rho)"
    ).fetchone()[0]
    assert int(duck_sum) == 2**53 + 1
    con.close()


def test_arrow_norm_kernel_overflow_semantics():
    """int64 edge behavior of the Arrow norm kernel: representable
    results are COMPUTED (even when the batch-wide cumsum would wrap —
    per-segment exact fallback), and only genuinely unrepresentable
    ones raise.  Covers the positive-wrap hole (|q| > sqrt(2^63) can
    square to a positive wrapped value a sign check misses) and NaN
    (casts to INT64_MIN, squares to 0 — a silent zero contribution)."""
    import pyarrow as pa
    import pytest as _pytest

    from bigdata_assigment3_spark.operators.similarity import _arrow_norm_batches

    def run(lists):
        batch = pa.RecordBatch.from_arrays(
            [
                pa.array(list(range(len(lists))), type=pa.int32()),
                pa.array(lists, type=pa.list_(pa.float64())),
            ],
            names=["label", "embedding"],
        )
        return list(_arrow_norm_batches([batch]))

    # per-segment norm2 fits int64 but the batch total wraps: the
    # fallback must COMPUTE the exact answers, not refuse
    (out,) = run([[3.0e6], [3.0e6]])
    assert out.column(1).to_pylist() == [9 * 10**18, 9 * 10**18]
    # a single vector whose own norm2 exceeds int64: unrepresentable
    with _pytest.raises(OverflowError, match="single embedding"):
        run([[3.0e6, 3.0e6]])
    # |q| just past the square-safe bound, wrapping NEGATIVE
    with _pytest.raises(OverflowError, match="magnitude"):
        run([[3.1e6]])
    # |q| ~ 2^32: the square wraps POSITIVE — the sign-check hole
    with _pytest.raises(OverflowError, match="magnitude"):
        run([[4.3e6]])
    with _pytest.raises(ValueError, match="non-finite"):
        run([[float("nan"), 1.0]])
    # sanity: unit-scale embeddings stay on the happy path
    (out,) = run([[1.0, 2.0], [3.0]])
    assert out.column(1).to_pylist() == [5 * 1000 * 1000, 9 * 1000 * 1000]


def test_semantic_dedup_planted_twin(spark, tmp_path):
    """A planted identical-embedding twin must land in the same
    cluster as its original and be flagged is_dup (cosine 1.0 >= the
    threshold); identical vectors share the nearest-seed argmax by
    construction, so the pair can never be split across clusters."""
    from bigdata_assigment3_spark.sources import load_table

    src = load_table(spark, SF_ORACLE, "embeddings")
    base = src.collect()[0]
    sf_dir = str(tmp_path)
    extra = spark.createDataFrame(
        [(9000, base.embedding, 0), (9001, base.embedding, 0)],
        schema=src.schema,
    )
    # the query reads only the embeddings table
    src.unionByName(extra).write.parquet(f"{sf_dir}/embeddings.parquet")
    out = {r.vec_id: r for r in
           REGISTRY["dedup_semantic_clustered"].fn(spark, sf_dir).collect()}
    assert out[9000].cluster_id == out[9001].cluster_id
    assert out[9001].is_dup and out[9001].n_dup_peers >= 1, out[9001]


def test_langid_nb_separates_disjoint_vocabularies(spark, tmp_path):
    """With per-language disjoint vocabularies the NB classifier must
    recover every label exactly — the planted-ground-truth analogue of
    a perfectly separable training set."""
    words = {"en": "alpha beta gamma", "de": "delta epsilon zeta",
             "zh": "eta theta iota"}
    rows = []
    i = 0
    for lang, vocab in words.items():
        for _ in range(4):
            text = (vocab + " ") * 3
            rows.append((i, text.strip(), lang, "srcX", len(text)))
            i += 1
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, schema="doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.parquet(f"{sf_dir}/documents.parquet")
    out = REGISTRY["langid_nb_classifier"].fn(spark, sf_dir).collect()
    assert len(out) == 12
    assert all(r.correct for r in out), [(r.doc_id, r.lang, r.predicted) for r in out]


def test_cascade_attrition_counts_planted_exact_dup(spark, tmp_path):
    """A byte-identical planted copy must be removed by the EXACT
    stage (not survive to inflate the near-dup stage), and the funnel
    rows must chain: stage-1 docs_out == stage-2 docs_in, and
    docs_in - removed == docs_out on every row."""
    from bigdata_assigment3_spark.sources import load_table

    src = load_table(spark, SF_ORACLE, "documents")
    twin_text = src.filter(F.col("doc_id") == 1).collect()[0].text
    sf_dir = str(tmp_path)
    extra = spark.createDataFrame(
        [(10000, twin_text, "en", "srcX", len(twin_text))], schema=src.schema
    )
    # the cascade reads only the documents table
    src.unionByName(extra).write.parquet(f"{sf_dir}/documents.parquet")
    rows = {r.stage: r for r in
            REGISTRY["dedup_cascade_attrition"].fn(spark, sf_dir).collect()}
    ex, mh = rows["1_exact"], rows["2_minhash"]
    assert ex.removed >= 1                      # the planted copy
    assert ex.docs_in - ex.removed == ex.docs_out
    assert ex.docs_out == mh.docs_in
    assert mh.docs_in - mh.removed == mh.docs_out


def test_keep_longest_prefers_longer_twin(spark, tmp_path):
    """A planted near-dup pair where the HIGHER id is strictly longer
    must survive over the shorter lower-id original — the rule that
    distinguishes keep-longest from keep-lowest-id."""
    from bigdata_assigment3_spark.sources import load_table

    src = load_table(spark, SF_ORACLE, "documents")
    base_text = src.filter(F.col("doc_id") == 1).collect()[0].text
    longer = base_text + " " + base_text[: len(base_text) // 2]
    sf_dir = str(tmp_path)
    extra = spark.createDataFrame(
        [(10000, longer, "en", "srcX", len(longer))], schema=src.schema
    )
    # the survivor rule reads only the documents table
    src.unionByName(extra).write.parquet(f"{sf_dir}/documents.parquet")
    out = {r.doc_id: r for r in
           REGISTRY["dedup_keep_longest"].fn(spark, sf_dir).collect()}
    assert out[10000].component_id == out[1].component_id, (
        "planted 1.5x copy must join doc 1's component",
        out[10000], out[1],
    )
    assert out[10000].is_survivor and not out[1].is_survivor


def test_mixture_token_budget_semantics(spark):
    """Equal-token-budget invariants: under-budget sources keep
    everything (ppm == SCALE, all docs kept), over-budget sources are
    thresholded, kept tokens track ppm * tokens_total, and keep_ppm is
    non-increasing in source token mass."""
    from bigdata_assigment3_spark.operators.sampling import SAMPLE_SCALE

    rows = REGISTRY["mixture_token_budget"].fn(spark, SF_ORACLE).collect()
    assert rows
    grand = sum(r.tokens_total for r in rows)
    budget = grand / len(rows)
    for r in rows:
        assert 0 < r.keep_ppm <= SAMPLE_SCALE
        if r.tokens_total <= budget:
            assert r.keep_ppm == SAMPLE_SCALE and r.n_kept == r.n_docs, r
        expected = r.keep_ppm / SAMPLE_SCALE * r.tokens_total
        assert abs(r.tokens_kept - expected) <= max(200, 0.35 * r.tokens_total), r
    by_tokens = sorted(rows, key=lambda r: r.tokens_total)
    ppms = [r.keep_ppm for r in by_tokens]
    assert ppms == sorted(ppms, reverse=True), ppms


def test_srp_bucketed_finds_planted_twin(spark, tmp_path):
    """A planted exact copy of probe vector 0 must share every SRP
    band bucket with it (identical sketches), surface as a candidate,
    and rerank to cosine 1.0 at rank 1."""
    from bigdata_assigment3_spark.sources import load_table

    src = load_table(spark, SF_ORACLE, "embeddings")
    probe0 = src.filter(F.col("vec_id") == 0).collect()[0]
    sf_dir = str(tmp_path)
    extra = spark.createDataFrame(
        [(9001, probe0.embedding, 0)], schema=src.schema
    )
    # the query reads only the embeddings table
    src.unionByName(extra).write.parquet(f"{sf_dir}/embeddings.parquet")
    rows = [r for r in REGISTRY["ann_srp_bucketed"].fn(spark, sf_dir).collect()
            if r.query_id == 0]
    assert rows, "probe 0 produced no candidates"
    twin = [r for r in rows if r.cand_id == 9001]
    assert twin and twin[0].cosine == 1.0 and twin[0].rank == 1, rows[:6]


def test_ivf_deterministic_finds_planted_twin(spark, tmp_path):
    """An exact copy of probe vector 0 lands in the same one-step-Lloyd
    cluster (identical argmax), so the probe must retrieve it at
    rank 1 with cosine 1.0 — the IVF guarantee for in-list twins."""
    from bigdata_assigment3_spark.sources import load_table

    src = load_table(spark, SF_ORACLE, "embeddings")
    probe0 = src.filter(F.col("vec_id") == 0).collect()[0]
    sf_dir = str(tmp_path)
    extra = spark.createDataFrame(
        [(9001, probe0.embedding, 0)], schema=src.schema
    )
    # the query reads only the embeddings table
    src.unionByName(extra).write.parquet(f"{sf_dir}/embeddings.parquet")
    rows = [r for r in REGISTRY["ann_ivf_deterministic"].fn(spark, sf_dir).collect()
            if r.query_id == 0]
    assert rows, "probe 0 produced no candidates"
    twin = [r for r in rows if r.cand_id == 9001]
    assert twin and twin[0].cosine == 1.0 and twin[0].rank == 1, rows[:6]


def test_pq_deterministic_twin_is_adc_minimal(spark, tmp_path):
    """An exact copy of probe vector 0 encodes to the probe's own
    argmin codes, so its ADC distance is the probe's total residual
    quantization error — the minimum any candidate can achieve.  The
    twin must appear in the top-k with the minimal adc_d2."""
    from bigdata_assigment3_spark.sources import load_table

    src = load_table(spark, SF_ORACLE, "embeddings")
    probe0 = src.filter(F.col("vec_id") == 0).collect()[0]
    sf_dir = str(tmp_path)
    extra = spark.createDataFrame(
        [(9001, probe0.embedding, 0)], schema=src.schema
    )
    # the query reads only the embeddings table
    src.unionByName(extra).write.parquet(f"{sf_dir}/embeddings.parquet")
    rows = [r for r in REGISTRY["ann_pq_deterministic"].fn(spark, sf_dir).collect()
            if r.query_id == 0]
    assert rows, "probe 0 produced no candidates"
    twin = [r for r in rows if r.cand_id == 9001]
    assert twin, rows[:6]
    assert twin[0].adc_d2 == min(r.adc_d2 for r in rows), rows[:6]


def test_grid_overlap_pairs_planted(spark):
    """Grid interval-overlap join: planted intervals pin (a) exact-once
    counting when BOTH intervals of a pair span the same cell boundary
    (the pair appears in two shared cells — the greatest-start rule
    must keep exactly one), (b) touching endpoints count as overlap,
    (c) disjoint intervals in the same cell do NOT pair, and (d) pairs
    never cross suppliers."""
    from bigdata_assigment3_spark.operators.relational import (
        OVERLAP_CELL_DAYS as C,
        grid_overlap_pairs,
    )

    rows = [
        # supplier 1: both intervals span the cell-0/cell-1 boundary ->
        # candidate rows in BOTH shared cells; must count once.
        (1, 10, C - 5, C + 5),
        (1, 11, C - 3, C + 9),
        # supplier 1: touches k=11 at exactly one day (s == r of other)
        (1, 12, C + 9, C + 12),
        # supplier 1: same cell as k=10 but disjoint from everything
        (1, 13, 1, 2),
        # supplier 2: identical interval to k=10 but different supplier
        (2, 14, C - 5, C + 5),
    ]
    it = spark.createDataFrame(rows, "suppkey long, k long, s long, r long")
    got = {
        r["suppkey"]: (r["n_pairs"], r["overlap_days"])
        for r in grid_overlap_pairs(it).collect()
    }
    # supplier 1 pairs: (10,11) overlap C-3..C+5 = 9 days, counted once;
    # (11,12) overlap exactly day C+9 = 1 day; (10,12) disjoint; 13 disjoint.
    assert got == {1: (2, 10)}


def test_ann_recall_eval_invariants(spark):
    """Recall eval: one row per probe query, hits bounded by k, recall
    arithmetically consistent with hits, and the banded SRP index is
    not degenerate (mean recall must clear a floor a broken index —
    empty buckets, wrong band packing — would miss)."""
    from bigdata_assigment3_spark.operators import similarity as sim

    rows = sim.q_ann_recall_eval(spark, SF_SMOKE).collect()
    assert {r["query_id"] for r in rows} == {
        i * sim.QUERY_STRIDE for i in range(sim.N_PROBE_QUERIES)
    }
    for r in rows:
        assert 0 <= r["n_hits"] <= sim.TOP_K
        assert abs(r["recall_at_k"] - r["n_hits"] / sim.TOP_K) < 1e-9
    assert sum(r["recall_at_k"] for r in rows) / len(rows) >= 0.2


def test_html_extract_recovers_exact_content(spark):
    """End-to-end property: for every document, the extraction chain
    must recover EXACTLY the body paragraph (the original text with
    the injected entity round-trip applied) — no nav/head/script/
    footer residue, no lost or split content words."""
    from bigdata_assigment3_spark.operators.text import q_html_text_extract
    from bigdata_assigment3_spark.sources import load_table

    got = q_html_text_extract(spark, SF_SMOKE)
    want = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id",
        F.expr("replace(text, ' table ', ' \"table\" ')").alias("want_text"),
    )
    j = got.join(want, "doc_id")
    n_total = j.count()
    assert n_total > 0
    assert j.filter(F.col("main_text") != F.col("want_text")).count() == 0
    # markup ratio is a real signal: strictly inside (0, 1) everywhere
    assert j.filter(
        (F.col("markup_ratio") <= 0) | (F.col("markup_ratio") >= 1)
    ).count() == 0


def test_sweep_union_coverage_planted(spark):
    """Sweep-line interval union: touching intervals merge into one
    busy run without ever overlapping (max_concurrent stays 1),
    nested intervals raise concurrency but not busy days, and a gap
    splits runs."""
    from bigdata_assigment3_spark.operators.relational import sweep_union_coverage

    rows = [
        # supplier 1: [0,5] and [6,10] touch (contiguous, no overlap),
        # then a gap, then [20,20]
        (1, 1, 0, 5), (1, 2, 6, 10), (1, 3, 20, 20),
        # supplier 2: [0,10] with [3,5] nested inside
        (2, 4, 0, 10), (2, 5, 3, 5),
    ]
    it = spark.createDataFrame(rows, "suppkey long, k long, s long, r long")
    got = {
        r["suppkey"]: (r["busy_days"], r["max_concurrent"])
        for r in sweep_union_coverage(it).collect()
    }
    assert got == {1: (12, 1), 2: (11, 2)}


def test_skyline_2d_planted(spark):
    """Skyline: identical-price+size twins both survive, a strictly
    dominated point dies, a cheaper-same-size point kills the pricier
    one, and dominance never crosses brands."""
    from bigdata_assigment3_spark.operators.relational import skyline_2d

    rows = [
        # brand A frontier: (100, 5) twins + (200, 9)
        ("A", 1, 100, 5), ("A", 2, 100, 5), ("A", 3, 200, 9),
        # dominated: (150, 4) loses to (100,5); (250, 9) loses to (200,9)
        ("A", 4, 150, 4), ("A", 5, 250, 9),
        # brand B: (150, 4) is fine HERE (no dominator in B)
        ("B", 6, 150, 4),
    ]
    p = spark.createDataFrame(rows, "brand string, partkey long, price_c long, size long")
    keys = sorted(r["partkey"] for r in skyline_2d(p).collect())
    assert keys == [1, 2, 3, 6]


def test_bitmap_distinct_matches_count_distinct(spark):
    """The bitmap-word pipeline must equal plain countDistinct on the
    same data — including users that straddle 63-bit word boundaries
    and users appearing in many rows (idempotent OR)."""
    from bigdata_assigment3_spark.operators.sketches import q_bitmap_distinct_users
    from bigdata_assigment3_spark.sources import load_table

    got = {
        r["event_type"]: (r["n_users"], r["n_words"])
        for r in q_bitmap_distinct_users(spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    want = {
        r["event_type"]: (r["n"], r["w"])
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n"),
            F.countDistinct(F.expr("user_id DIV 63")).alias("w"),
        )
        .collect()
    }
    assert got == want
    # word compression is real on this corpus (some word holds >1 user)
    assert any(n > w for n, w in got.values())


def test_systematic_sample_exact_budget(spark):
    """Systematic weighted sampling: per stratum, the selected unit
    count is EXACTLY floor(stratum_mass / step) — the zero-variance
    property that distinguishes it from Bernoulli sampling — and
    every selected doc carries n_units >= 1."""
    from bigdata_assigment3_spark.operators.sampling import (
        SYS_STEP,
        q_systematic_weighted_sample,
    )
    from bigdata_assigment3_spark.sources import load_table

    sel = q_systematic_weighted_sample(spark, SF_SMOKE)
    got = {
        r["source"]: r["units"]
        for r in sel.groupBy("source").agg(F.sum("n_units").alias("units")).collect()
    }
    mass = {
        r["source"]: r["m"]
        for r in load_table(spark, SF_SMOKE, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").alias("m"))
        .collect()
    }
    assert got and got == {s: m // SYS_STEP for s, m in mass.items() if m // SYS_STEP > 0}
    assert sel.filter(F.col("n_units") < 1).count() == 0


def test_rrf_fusion_two_list_dominance(spark):
    """RRF invariant: with ranks <= 5 and k=60, the worst two-list
    score (2/65) beats the best one-list score (1/61), so within
    every query ALL n_lists=2 candidates must outrank ALL n_lists=1
    candidates; and at least one genuine two-list candidate exists."""
    from bigdata_assigment3_spark.operators.similarity import q_ann_rrf_fusion

    rows = q_ann_rrf_fusion(spark, SF_SMOKE).collect()
    assert any(r["n_lists"] == 2 for r in rows)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for rs in by_q.values():
        worst_two = max(
            (r["fused_rank"] for r in rs if r["n_lists"] == 2), default=None
        )
        best_one = min(
            (r["fused_rank"] for r in rs if r["n_lists"] == 1), default=None
        )
        if worst_two is not None and best_one is not None:
            assert worst_two < best_one


def test_band_tuning_nesting_monotone(spark):
    """Banding nests: a pair agreeing on an r=2k band agrees on both
    its r=k halves, so candidate sets shrink monotonically from 8x1
    to 1x8 — and so do detected true pairs; n_true_total is constant
    across configs."""
    from bigdata_assigment3_spark.operators.dedup import q_lsh_band_tuning_audit

    rows = sorted(
        q_lsh_band_tuning_audit(spark, SF_SMOKE).collect(),
        key=lambda r: r["rows_per_band"],
    )
    assert [r["bands"] for r in rows] == [8, 4, 2, 1]
    assert len({r["n_true_total"] for r in rows}) == 1
    for a, b in zip(rows, rows[1:]):
        assert a["n_candidates"] >= b["n_candidates"]
        assert a["n_true_detected"] >= b["n_true_detected"]
    # the recall-greedy end actually finds something on this corpus
    assert rows[0]["n_true_detected"] > 0


def test_bitmap_overlap_matches_set_algebra(spark):
    """The word-aligned AND/popcount intersection plus the
    inclusion-exclusion union must equal naive per-user set algebra
    on the same thresholded audiences, for every type pair."""
    from bigdata_assigment3_spark.operators.sketches import (
        AUDIENCE_VALUE_MIN,
        q_bitmap_audience_overlap,
    )
    from bigdata_assigment3_spark.sources import load_table

    got = {
        (r["type_a"], r["type_b"]): (r["n_a"], r["n_b"], r["n_intersect"], r["n_union"])
        for r in q_bitmap_audience_overlap(spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events").filter(
        F.col("value") >= AUDIENCE_VALUE_MIN
    )
    sets = {
        t: {r["user_id"] for r in rows}
        for t, rows in (
            (t, ev.filter(F.col("event_type") == t).select("user_id").distinct().collect())
            for t in [r["event_type"] for r in ev.select("event_type").distinct().collect()]
        )
    }
    want = {
        (a, b): (len(sets[a]), len(sets[b]), len(sets[a] & sets[b]), len(sets[a] | sets[b]))
        for a in sets for b in sets if a < b
    }
    assert got == want
    # the thresholded audiences genuinely differ (non-trivial overlap)
    assert any(v[2] not in (0, v[0], v[1]) for v in got.values())


def test_power_iteration_converges_to_top_eigenspace(spark):
    """Ground truth via numpy on the IDENTICAL integer Gram: the
    relational power iteration's Rayleigh quotient must sit within a
    few percent of lambda_max and its vector must be a near-
    eigenvector (small relative residual).  The testdata spectrum is
    nearly degenerate at the top, so a unique-eigenvector cosine
    would be ill-posed — ratio + residual is the numerically correct
    acceptance."""
    import numpy as np

    from bigdata_assigment3_spark.operators.similarity import (
        PI_GBITS,
        q_embedding_power_iteration,
    )
    from bigdata_assigment3_spark.sources import load_table

    rows = sorted(
        (r["d"], r["v_scaled"], r["rayleigh"])
        for r in q_embedding_power_iteration(spark, SF_SMOKE).collect()
    )
    v = np.array([r[1] for r in rows], dtype=float)
    ray = rows[0][2]
    emb = [
        r["e"]
        for r in load_table(spark, SF_SMOKE, "embeddings")
        .selectExpr(
            "transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e"
        )
        .collect()
    ]
    E = np.array(emb, dtype=float)
    G = E.T @ E
    gd = 1 + int(np.abs(G).max()) // PI_GBITS
    Gs = np.sign(G) * (np.abs(G) // gd)
    lmax = np.linalg.eigvalsh(Gs)[-1]
    assert ray / lmax >= 0.93, (ray, lmax)
    resid = np.linalg.norm(Gs @ v - ray * v) / (ray * np.linalg.norm(v))
    assert resid <= 0.10, resid
    # deterministic sign convention: lowest-index maximal component > 0
    am = int(np.flatnonzero(np.abs(v) == np.abs(v).max())[0])
    assert v[am] > 0


def test_power_iteration_kernel_gram_equals_relational(spark):
    """The mapInArrow partial-Gram kernel (the 100 TB default plan)
    must produce the BIT-IDENTICAL integer Gram matrix to the
    relational explode + self-join twin — same quantization, same
    exact BIGINT sums, different physical plan; and the two full
    power-iteration queries must agree row-for-row."""
    from bigdata_assigment3_spark.operators.similarity import (
        _gram_arrow,
        _gram_relational,
    )
    from bigdata_assigment3_spark.registry import REGISTRY

    ga = {(r["i"], r["j"]): r["g"] for r in _gram_arrow(spark, SF_SMOKE).collect()}
    gr = {(r["i"], r["j"]): r["g"] for r in _gram_relational(spark, SF_SMOKE).collect()}
    assert ga == gr
    assert len(ga) == 64 * 64
    # symmetric, non-trivial (a degenerate all-zero Gram would also
    # "match"; make sure the corpus actually exercised the kernel)
    assert any(g != 0 for g in ga.values())
    a = sorted(
        map(tuple, REGISTRY["embedding_power_iteration"].fn(spark, SF_SMOKE).collect())
    )
    b = sorted(
        map(
            tuple,
            REGISTRY["embedding_power_iteration_relational"].fn(
                spark, SF_SMOKE
            ).collect(),
        )
    )
    assert a == b


def test_stream_bitmap_overlap_empty_batch_raises(spark, tmp_path):
    """The three-non-empty-batch contract (round-12 advice): a
    conforming >= 3-day events table with an event GAP around the cut
    range must fail with the descriptive span error, not stage an
    empty middle batch.  Events land on day 0 and day 10 only, so the
    derived cuts (day 4 / day 8 — clamped midnights Jan 5 / Jan 9 for
    lo=Jan 1 12:00, hi=Jan 11 12:00) leave the middle slice
    [Jan 4, Jan 9) empty."""
    import datetime
    import shutil

    from bigdata_assigment3_spark.registry import REGISTRY
    from bigdata_assigment3_spark.sources import load_table

    src = load_table(spark, SF_SMOKE, "events")
    assert set(src.schema.fieldNames()) == {
        "event_id", "ts", "user_id", "event_type", "value", "props",
    }, src.schema.fieldNames()
    day0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        {"event_id": i, "ts": day0 + datetime.timedelta(minutes=i),
         "user_id": i % 7, "event_type": "click", "value": 200.0,
         "props": "{}"}
        for i in range(20)
    ] + [
        {"event_id": 99, "ts": day0 + datetime.timedelta(days=10),
         "user_id": 3, "event_type": "view", "value": 200.0, "props": "{}"}
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(rows, schema=src.schema).write.parquet(
        f"{sf_dir}/events.parquet"
    )
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"):
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", f"{sf_dir}/{t}.parquet")
    with pytest.raises(ValueError, match="non-empty midnight-cut"):
        REGISTRY["stream_bitmap_overlap"].fn(spark, sf_dir)


def test_stream_bitmap_overlap_really_updates(spark):
    """The streaming overlap twin must be a REAL update-mode run, not
    a single-batch batch job in disguise: three staged triggers each
    carry rows, and the update log re-emits at least one
    (window, type, word) key — i.e. the sink holds more update rows
    than the folded state has keys (bit_or state genuinely updated
    across micro-batches)."""
    from bigdata_assigment3_spark.registry import REGISTRY

    df = REGISTRY["stream_bitmap_overlap"].fn(spark, SF_ORACLE)
    rows = df.collect()
    assert len(rows) > 0
    n_batches = int(spark.conf.get("bd3.stream_bitmap_overlap.n_batches"))
    n_updates = int(spark.conf.get("bd3.stream_bitmap_overlap.n_updates"))
    assert n_batches == 3, n_batches
    # folded-state key count, recomputed from the filtered input: every
    # staged row is on time (each batch stays inside the watermark the
    # previous one set), so the state holds one key per distinct
    # (day window, type, word) of the high-value events
    from bigdata_assigment3_spark.operators.sketches import (
        AUDIENCE_VALUE_MIN,
        bitmap_word_mask,
    )
    from bigdata_assigment3_spark.sources import load_table

    word, _ = bitmap_word_mask("user_id")
    n_keys = (
        load_table(spark, SF_ORACLE, "events")
        .filter(F.col("value") >= AUDIENCE_VALUE_MIN)
        .select(F.window("ts", "1 day"), "event_type", word)
        .distinct()
        .count()
    )
    assert n_updates > n_keys, (n_updates, n_keys)


def test_langid_char_ngram_beats_words_on_short_novel_doc(spark, tmp_path):
    """The planted short/ambiguous doc: two synthetic languages with
    distinct morphology ('aa' words end -ora, 'bb' words end -ix) and
    a 2-word test doc made ENTIRELY of novel stems with 'aa' suffixes
    ("velora xunora").  The word model sees two singleton vocabulary
    entries drowned by smoothing over the token-rich 'aa' class and
    misclassifies; the char-trigram model reads the '-ora' morphology
    and classifies correctly — the exact failure mode CCNet-style
    sub-word langid exists to fix."""
    import shutil

    from bigdata_assigment3_spark.sources import load_table

    aa_stems = ["kan", "mel", "tas", "bor", "dun", "fip", "gol", "hev",
                "jul", "nim", "pak", "qes", "rud", "sev", "tob", "vog",
                "wix", "yal", "zem", "cob"]
    docs, did = [], 1
    for d in range(5):
        words = [f"{aa_stems[(d * 7 + k) % 20]}ora" for k in range(20)]
        docs.append((did, " ".join(words), "aa", "src")); did += 1
    bb_stems = ["kan", "mel", "tas", "bor"]
    for d in range(4):
        words = [f"{bb_stems[(d + k) % 4]}ix" for k in range(4)]
        docs.append((did, " ".join(words), "bb", "src")); did += 1
    docs.append((999, "velora xunora", "aa", "src"))

    src = load_table(spark, SF_SMOKE, "documents")
    sf_dir = str(tmp_path)
    # named fields, validated against the real schema: a positional
    # tuple would silently mis-assign columns if the documents schema
    # order ever changed (round-11 advice)
    assert set(src.schema.fieldNames()) == {"doc_id", "text", "lang", "source", "n_chars"}, (
        src.schema.fieldNames()
    )
    spark.createDataFrame(
        [{"doc_id": i, "text": t, "lang": l, "source": s, "n_chars": len(t)}
         for i, t, l, s in docs],
        schema=src.schema,
    ).write.parquet(f"{sf_dir}/documents.parquet")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", f"{sf_dir}/{t}.parquet")

    words = {r.doc_id: (r.predicted, r.correct)
             for r in REGISTRY["langid_nb_classifier"].fn(spark, sf_dir).collect()}
    chars = {r.doc_id: (r.predicted, r.correct)
             for r in REGISTRY["langid_char_ngram"].fn(spark, sf_dir).collect()}
    assert words[999] == ("bb", False), words[999]   # words fail it
    assert chars[999] == ("aa", True), chars[999]    # trigrams fix it
    # and the char model loses nothing on the easy majority
    assert all(c for _, c in chars.values())


def test_ann_band_tradeoff_scurve_monotone(spark):
    """The banded-SRP trade-off table must be a proper S-curve sweep:
    as bits-per-band grows (precision-greedy), candidate volume, hit
    count, and the THEORETICAL collision probability of true neighbors
    are all non-increasing; and predicted_p must stay a probability
    computed over the full truth table (n_true constant)."""
    from bigdata_assigment3_spark.registry import REGISTRY

    rows = sorted(
        REGISTRY["ann_band_recall_tradeoff"].fn(spark, SF_SMOKE).collect(),
        key=lambda r: r["band_bits"],
    )
    assert [r["bands"] * r["band_bits"] for r in rows] == [16] * len(rows)
    assert len({r["n_true"] for r in rows}) == 1
    for a, b in zip(rows, rows[1:]):
        assert a["candidate_rows"] >= b["candidate_rows"]
        assert a["n_hits"] >= b["n_hits"]
        assert a["predicted_p"] >= b["predicted_p"]
        assert a["measured_recall"] >= b["measured_recall"]
    for r in rows:
        assert 0.0 <= r["predicted_p"] <= 1.0
        assert r["n_hits"] <= r["candidate_rows"] or r["candidate_rows"] == 0


def test_gram_kernel_overflow_guard_uses_running_amax():
    """The int64 partial-Gram guard must bound the ACCUMULATED sum: a
    large-magnitude batch followed by a small one still tightens the
    n_rows budget (a per-batch-amax check would wave the second batch
    through and let the accumulator wrap silently at real scale)."""
    import numpy as np
    import pyarrow as pa
    import pytest as _pytest

    from bigdata_assigment3_spark.operators.similarity import (
        _arrow_gram_batches,
    )

    def _batch(vals):
        arr = pa.array([list(np.asarray(v, dtype=np.float32)) for v in vals],
                       type=pa.list_(pa.float32()))
        return pa.RecordBatch.from_arrays([arr], names=["embedding"])

    # q = 2e9 after milli-quantization (2_000_000.0 is exact in
    # float32) -> the very first row exhausts the int64 budget
    # (2^62 // (2e9)^2 == 1 row)
    big = [[2_000_000.0, 0.0]]
    small = [[0.001, 0.001]]
    # big batch alone: exactly at the budget, passes
    out = list(_arrow_gram_batches(iter([_batch(big)])))
    assert len(out) == 1
    # big then small: n_rows=2 exceeds the RUNNING-max budget even
    # though the small batch's own amax (1) would allow 2^62 rows
    with _pytest.raises(OverflowError, match="partition too large"):
        list(_arrow_gram_batches(iter([_batch(big), _batch(small)])))


def test_bm25_matches_python_reimplementation(spark):
    """Full BM25 re-scored in plain Python over the collected smoke
    corpus (tokenize, df, avgdl, per-term e4-rounded contributions,
    integer sum, per-query (score desc, doc_id) rank) must reproduce
    the engine's per-query top-15 exactly, for EVERY query in the
    query relation."""
    import math

    from bigdata_assigment3_spark.operators.text import (
        BM25_QUERY_REL,
        BM25_TOPN,
        q_bm25_topk_docs,
    )
    from bigdata_assigment3_spark.sources import load_table

    got = sorted(
        (r["query_id"], r["doc_id"], r["rank"], r["score_e4"], r["n_terms"])
        for r in q_bm25_topk_docs(spark, SF_SMOKE).collect()
    )
    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in load_table(spark, SF_SMOKE, "documents").collect()
    }
    n = len(docs)
    avgdl = sum(len(w) for w in docs.values()) / n
    queries: dict[int, list[str]] = {}
    for qid, term in BM25_QUERY_REL:
        queries.setdefault(qid, []).append(term)
    want = []
    for qid, terms in queries.items():
        scored = []
        for doc_id, ws in docs.items():
            score, hit = 0, 0
            for t in terms:
                tf = sum(1 for w in ws if w == t)
                if tf == 0:
                    continue
                df = sum(1 for ws2 in docs.values() if t in ws2)
                idf = math.log((n - df + 0.5) / (df + 0.5) + 1)
                tfn = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(ws) / avgdl))
                score += int(round(idf * tfn * 10000))
                hit += 1
            if hit:
                scored.append((doc_id, score, hit))
        scored.sort(key=lambda x: (-x[1], x[0]))
        for rank, (doc_id, score, hit) in enumerate(scored[:BM25_TOPN], 1):
            want.append((qid, doc_id, rank, score, hit))
    assert got == sorted(want)
    # the relation genuinely exercises >= 2 distinct term sets, and the
    # df=0 term contributed to no document's n_terms
    assert len({tuple(sorted(t)) for t in queries.values()}) >= 2
    max_terms_q3 = max((g[4] for g in got if g[0] == 3), default=0)
    assert max_terms_q3 < len(queries[3])


# ------------------------- round-9 semantics-fix regression pins
# Each of these fails on the pre-1d3c6b4 code: the fixtures carry no
# negative user_id and no boilerplate-only page, so without them a
# refactor could silently revert the fixes while every oracle stays
# green.


def test_bitmap_word_mask_full_bigint_domain(spark):
    """bitmap_word_mask must floor-divide (DuckDB // semantics) over
    the ENTIRE BIGINT domain — negative ids, word boundaries, and the
    Long.MIN_VALUE edge where the old ``id - pmod(id, 63)`` form
    overflowed — pinned against Python's flooring // and %."""
    from bigdata_assigment3_spark.operators.sketches import bitmap_word_mask

    lmin, lmax = -(2**63), 2**63 - 1
    ids = [
        lmin, lmin + 1, lmin + 61, lmin + 62, lmin + 63,
        -127, -126, -125, -64, -63, -62, -1,
        0, 1, 62, 63, 64, 126, lmax - 1, lmax,
    ]
    df = spark.createDataFrame([(i,) for i in ids], "user_id long")
    word, mask = bitmap_word_mask("user_id")
    got = {
        r["user_id"]: (r["w"], r["m"])
        for r in df.select(
            "user_id", word.alias("w"), mask.alias("m")
        ).collect()
    }
    for i in ids:
        assert got[i] == (i // 63, 1 << (i % 63)), (
            i, got[i], (i // 63, 1 << (i % 63))
        )


def test_html_extract_boilerplate_only_page_zero_words(spark, tmp_path):
    """A page whose every segment falls below the 4-word boilerplate
    floor extracts to the empty string and must report n_words = 0
    (split('') yields [''], size 1 — the bug the round-9 fix pinned),
    in BOTH engines."""
    import duckdb
    import pandas as pd

    from tests.oracle_utils import compare

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["tiny doc here", "this body paragraph has enough words"],
            "lang": ["en", "en"],
            "source": ["web", "web"],
            "n_chars": [13, 37],
        }
    )
    fdir = tmp_path / "boilerplate"
    fdir.mkdir()
    docs.to_parquet(fdir / "documents.parquet", index=False)

    spec = REGISTRY["html_text_extract"]
    sdf = spec.fn(spark, str(fdir))
    rows = {r.doc_id: r for r in sdf.collect()}
    assert rows[0].main_text == "" and rows[0].n_words == 0, rows[0]
    assert rows[1].n_words > 0, rows[1]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{fdir}/documents.parquet')"
    )
    assert compare(sdf, con.sql(spec.oracle), "html_text_extract[boilerplate]") == []


def test_bm25_tf_numerator_parenthesization_ulp():
    """The BM25 tf numerator must be computed as tf * ((k1_e2+100)/100)
    in BOTH engines: the unparenthesized (tf*(k1_e2+100))/100 differs
    by 1 ulp at tf=3 (0x1.a666666666667p+2 vs 0x1.a666666666666p+2),
    which moves the e4-rounded contribution across a .5 boundary for
    some corpora.  Also pins that Spark's k1+1.0 literal equals the
    oracle's (k1_e2+100)/100.0 double exactly."""
    from bigdata_assigment3_spark.operators.text import BM25_K1_E2

    k1 = BM25_K1_E2 / 100.0
    assert k1 + 1.0 == (BM25_K1_E2 + 100) / 100.0
    parenthesized = 3 * ((BM25_K1_E2 + 100) / 100.0)
    unparenthesized = (3 * (BM25_K1_E2 + 100)) / 100.0
    assert parenthesized != unparenthesized  # the 1-ulp trap exists
    assert parenthesized.hex() == "0x1.a666666666667p+2"
    # and tf * (k1 + 1.0) — the Spark-side expression — takes the
    # parenthesized branch for every small tf
    for tf in range(1, 50):
        assert tf * (k1 + 1.0) == tf * ((BM25_K1_E2 + 100) / 100.0)


def test_stream_state_partitions_right_sized(spark):
    """Round-15 optimization pin: keyspace-bounded stateful streams run
    with right-sized state-store partitions (every partition costs a
    provider init + delta write + fsync per micro-batch regardless of
    rows), the caller's conf is never written, and user/id-scaled
    streams keep the session default so their state parallelism still
    scales with the cluster."""
    from bigdata_assigment3_spark.streaming.queries import (
        _STATE_PARTS_DEFAULT,
        _run_to_memory,
        _stream_events,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    ev = _stream_events(spark, SF_SMOKE)
    q, _ = _run_to_memory(
        ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")),
        "state_parts_probe_sink",
        confs={"spark.sql.shuffle.partitions": str(_STATE_PARTS_DEFAULT)},
    )
    ops = q.lastProgress["stateOperators"]
    assert ops and ops[0]["numShufflePartitions"] == _STATE_PARTS_DEFAULT, ops
    # the clone's conf must not leak into the caller's session
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # default (user-scaled) path: session-sized state partitions
    q2, _ = _run_to_memory(
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")),
        "state_parts_probe2_sink",
    )
    ops2 = q2.lastProgress["stateOperators"]
    assert ops2 and ops2[0]["numShufflePartitions"] == int(before), ops2

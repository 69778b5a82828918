"""Differential + invariant gates for the k-means / SemDeDup operators
(off the 50-slot driver registry, same rigor as tests/test_contamination.py):

- the FIT is verified against an exact numpy re-implementation of the same
  algorithm (same md5 seed choice, same left-fold distances, same
  floor(y+0.5) fixed-point quantization) — centroids must match bit-for-bit;
- the post-fit stages (assignment, within-cell join, cosine filter) are
  verified cross-engine against a DuckDB twin given the fitted centroids;
- recall is measured against the exact all-pairs baseline q_emb_near_dup.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
import pyarrow.parquet as pq

from wnba_data_pipeline_spark.operators import clustering, similarity
from wnba_data_pipeline_spark.operators.clustering import (
    SD_ITERS,
    SD_K,
    KMeansModel,
    assign_clusters,
    kmeans_fit,
    q_semantic_dedup,
    semantic_dedup_pairs_sql,
)

from wnba_data_pipeline_spark.functions.hashing import md5_long_py

from .conftest import SF_ORACLE
from .oracle_compare import compare

DIM = similarity.DIM


def _round_half_up(y: np.ndarray) -> np.ndarray:
    # the engine quantizes with floor(y + 0.5) spelled out (round-5 ADVICE:
    # engine-native round() half-modes can diverge in last-ulp cases); the
    # reference uses the literally identical IEEE expression
    return np.floor(y + 0.5)


def _load_vectors(sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    ids = t["vec_id"].to_numpy()
    V = np.stack(t["embedding"].to_numpy()).astype(np.float64)  # f32->f64 exact
    return ids, V


def _fold_sqdists(V: np.ndarray, cents: list[list[float]]) -> np.ndarray:
    """Row-wise squared distances as the SAME 0.0-seeded sequential fold the
    Spark expression uses — elementwise IEEE ops, identical association."""
    D = np.empty((len(V), len(cents)))
    for j, c in enumerate(cents):
        acc = np.zeros(len(V))
        for d in range(V.shape[1]):
            diff = V[:, d] - c[d]
            acc = acc + diff * diff
        D[:, j] = acc
    return D


def seed_hash(vec_id: int) -> int:
    """The md5 seed rank of ``vec_id`` under the default ``km`` seed tag."""
    return md5_long_py(f"km:{vec_id}")


def ref_kmeans(ids: np.ndarray, V: np.ndarray, k: int, max_iter: int, rank=seed_hash) -> KMeansModel:
    """Lloyd's as the module docstring specifies it; ``rank(id)`` is the
    md5 seed rank (``seed_hash`` for the default ``km`` seed tag)."""
    order = sorted(range(len(ids)), key=lambda i: (rank(int(ids[i])), int(ids[i])))
    cents = [[float(x) for x in V[i]] for i in order[:k]]
    inertia_hist, sizes, converged, n_iter = [], {}, False, 0
    for _ in range(max_iter):
        n_iter += 1
        D = _fold_sqdists(V, cents)
        cl = np.argmin(D, axis=1)  # first-min, same tie-break as array_position
        mind = D[np.arange(len(V)), cl]
        inertia_hist.append(
            int(_round_half_up(mind * clustering.INERTIA_SCALE).astype(np.int64).sum())
            / clustering.INERTIA_SCALE
        )
        Q = _round_half_up(V * clustering.COMP_SCALE).astype(np.int64)
        sizes = {}
        new_cents = []
        for j, old in enumerate(cents):
            mask = cl == j
            n = int(mask.sum())
            if n == 0:
                new_cents.append(old)
                continue
            sizes[j] = n
            s = Q[mask].sum(axis=0)
            new_cents.append([float(int(si)) / (clustering.COMP_SCALE * n) for si in s])
        if new_cents == cents:
            converged = True
            break
        cents = new_cents
    return KMeansModel(cents, n_iter, inertia_hist, sizes, converged)


def test_kmeans_fit_matches_numpy_reference_bitexact(spark):
    from wnba_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    model = kmeans_fit(emb, k=SD_K, max_iter=SD_ITERS)
    ids, V = _load_vectors(SF_ORACLE)
    ref = ref_kmeans(ids, V, SD_K, SD_ITERS)
    assert model.centroids == ref.centroids  # bit-exact, no tolerance
    assert model.n_iter == ref.n_iter
    assert model.inertia == ref.inertia
    assert model.sizes == ref.sizes

    # and the distributed assignment agrees with the reference argmin
    D = _fold_sqdists(V, model.centroids)
    ref_cl = dict(zip(ids.tolist(), np.argmin(D, axis=1).tolist()))
    got = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters(emb, model.centroids).select("vec_id", "cluster").collect()
    }
    assert got == ref_cl


def test_kmeans_rerun_is_deterministic(spark):
    from wnba_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings").repartition(7)  # hostile layout
    a = kmeans_fit(emb, k=SD_K, max_iter=2)
    b = kmeans_fit(emb.repartition(3), k=SD_K, max_iter=2)
    assert a.centroids == b.centroids  # fixed-point sums: layout-independent
    assert a.inertia == b.inertia


def test_kmeans_inertia_non_increasing(spark):
    from wnba_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    model = kmeans_fit(emb, k=SD_K, max_iter=6)
    # 1e-3 slack: centroids are quantized to 1e-9 per component, so exact
    # Lloyd's monotonicity holds only up to the quantization perturbation
    for prev, cur in zip(model.inertia, model.inertia[1:]):
        assert cur <= prev + 1e-3, model.inertia
    assert sum(model.sizes.values()) == emb.count()


def test_kmeans_recovers_planted_clusters(spark):
    # three tight planted blobs, far apart; k=3 must recover the partition
    rng = np.random.default_rng(7)
    rows = []
    for g, center in enumerate([-10.0, 0.0, 10.0]):
        for i in range(30):
            v = (center + 0.05 * rng.standard_normal(DIM)).astype(np.float32)
            rows.append((g * 100 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    model = kmeans_fit(df, k=3, max_iter=5)
    assigned = assign_clusters(df, model.centroids).select("vec_id", "cluster").collect()
    by_group = {}
    for r in assigned:
        by_group.setdefault(r["vec_id"] // 100, set()).add(r["cluster"])
    assert all(len(cls) == 1 for cls in by_group.values()), by_group  # pure cells
    assert len(set().union(*by_group.values())) == 3  # all three separated
    assert model.converged


def test_assignment_pandas_path_matches_expr_bitexact(spark):
    # the k-scalable Arrow path must agree with the unrolled-expression
    # path on EVERY cluster id (same fold association, same first-min
    # tie-break) — on the augmented corpus, whose planted near-dups sit
    # close to Voronoi boundaries
    aug = similarity._augmented_corpus(spark, SF_ORACLE)
    model = kmeans_fit(aug, k=SD_K, max_iter=SD_ITERS)
    expr = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters(aug, model.centroids, path="expr").select("vec_id", "cluster").collect()
    }
    pand = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters(aug, model.centroids, path="pandas").select("vec_id", "cluster").collect()
    }
    assert expr == pand
    # and the multi-probe expansion agrees cell-for-cell
    from wnba_data_pipeline_spark.operators.clustering import probe_assignments

    pe = {
        (r["vec_id"], r["cell"])
        for r in probe_assignments(aug, model.centroids, path="expr").select("vec_id", "cell").collect()
    }
    pp = {
        (r["vec_id"], r["cell"])
        for r in probe_assignments(aug, model.centroids, path="pandas").select("vec_id", "cell").collect()
    }
    assert pe == pp


def test_kmeans_k256_pandas_path_bitexact_vs_reference(spark):
    # production-SemDeDup-shaped k: 256 > KM_EXPR_MAX_K runs the fit's
    # assignments through the gemm kernel and the full-corpus assignment
    # through the Arrow path; both must STILL be bit-exact against the
    # left-fold numpy reference — the standing canary of the gemm kernel
    from wnba_data_pipeline_spark.operators.clustering import KM_EXPR_MAX_K
    from wnba_data_pipeline_spark.sources.tables import load_table

    assert 256 > KM_EXPR_MAX_K
    sf_dir = SF_ORACLE.replace("sf0.01", "sf0.1")  # 2000 vectors ≥ k
    emb = load_table(spark, sf_dir, "embeddings")
    model = kmeans_fit(emb, k=256, max_iter=2)
    ids, V = _load_vectors(sf_dir)
    ref = ref_kmeans(ids, V, 256, 2)
    assert model.centroids == ref.centroids
    assert model.sizes == ref.sizes
    assert model.inertia == ref.inertia
    got = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters(emb, model.centroids).select("vec_id", "cluster").collect()
    }
    D = _fold_sqdists(V, model.centroids)
    assert got == dict(zip(ids.tolist(), np.argmin(D, axis=1).tolist()))


def test_fit_sample_over_budget_raises_sample_mod(spark, monkeypatch):
    """Over FIT_SAMPLE_MAX_VALUES the fit counts the gated frame once and
    retakes its sample at the modulus the count implies — two collects,
    neither over the budget's rows (+1, the over-budget probe) — records
    the modulus it used, and equals a direct fit — and the numpy
    reference on the kms: hash-sample — at it."""
    from wnba_data_pipeline_spark.functions.hashing import md5_long_py
    from wnba_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    budget = 200 * DIM  # the 500-row corpus needs sample_mod >= 3
    collected = []
    real = type(emb).toPandas

    def spy(self):
        pdf = real(self)
        collected.append(len(pdf))
        return pdf

    monkeypatch.setattr(clustering, "FIT_SAMPLE_MAX_VALUES", budget)
    monkeypatch.setattr(type(emb), "toPandas", spy)
    model = kmeans_fit(emb, k=SD_K, max_iter=3)
    monkeypatch.undo()
    assert model.sample_mod >= 3
    assert len(collected) == 2 and all(n <= budget // DIM + 1 for n in collected)
    assert collected[-1] * DIM <= budget

    direct = kmeans_fit(emb, k=SD_K, max_iter=3, sample_mod=model.sample_mod)
    assert direct.sample_mod == model.sample_mod
    got = (model.centroids, model.n_iter, model.inertia, model.sizes, model.converged)
    assert got == (direct.centroids, direct.n_iter, direct.inertia, direct.sizes, direct.converged)
    ids, V = _load_vectors(SF_ORACLE)
    keep = np.array([md5_long_py(f"kms:{int(i)}") % model.sample_mod == 0 for i in ids])
    assert keep.sum() == collected[-1]
    ref = ref_kmeans(ids[keep], V[keep], SD_K, 3)
    assert model.centroids == ref.centroids and model.inertia == ref.inertia


def test_fit_k_over_sample_budget_raises(spark, monkeypatch):
    """A k that no sample inside FIT_SAMPLE_MAX_VALUES can seed raises a
    ValueError naming the budget before any row is collected."""
    from wnba_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    monkeypatch.setattr(clustering, "FIT_SAMPLE_MAX_VALUES", (SD_K - 1) * DIM)
    monkeypatch.setattr(type(emb), "toPandas", lambda self: pytest.fail("collected"))
    with pytest.raises(ValueError, match="FIT_SAMPLE_MAX_VALUES"):
        kmeans_fit(emb, k=SD_K, max_iter=3)


def test_semantic_dedup_pairs_match_duckdb_twin(spark, duck):
    aug = similarity._augmented_corpus(spark, SF_ORACLE)
    model = kmeans_fit(aug, k=SD_K, max_iter=SD_ITERS)
    sdf = q_semantic_dedup(spark, SF_ORACLE)
    ddf = duck.sql(semantic_dedup_pairs_sql(model.centroids)).df()
    compare(sdf, ddf, "semantic_dedup")


def test_semantic_dedup_recall_vs_exact_baseline(spark):
    from pyspark.sql import functions as F

    from wnba_data_pipeline_spark.operators.clustering import probe_assignments

    exact = {
        (r["vec_a"], r["vec_b"]) for r in similarity.q_emb_near_dup(spark, SF_ORACLE).collect()
    }
    got_rows = q_semantic_dedup(spark, SF_ORACLE).collect()
    got = {(r["vec_a"], r["vec_b"]) for r in got_rows}
    assert exact, "baseline unexpectedly empty"
    assert got <= exact  # same threshold, candidates only narrower
    recall = len(got & exact) / len(exact)
    # with nprobe=2 every planted pair shares a probed cell — measured 32/32
    # at sf0.01 (single-cell assignment measured 27/32); pinned exact
    assert recall == 1.0, (recall, len(exact))

    # pruning: distinct shared-cell candidate pairs must be well under
    # all-pairs even after the nprobe^2 expansion
    aug = similarity._augmented_corpus(spark, SF_ORACLE)
    aug_n = aug.count()
    model = kmeans_fit(aug, k=SD_K, max_iter=SD_ITERS)
    asg = probe_assignments(aug, model.centroids)
    a = asg.select(F.col("vec_id").alias("vec_a"), "cell")
    b = asg.select(F.col("vec_id").alias("vec_b"), "cell")
    cand = (
        a.join(b, ["cell"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
        .count()
    )
    assert cand < 0.6 * aug_n * (aug_n - 1) // 2, (cand, aug_n)


def test_fit_reproduces_checked_in_centroids(spark):
    # Guards the round-7 semantic_dedup driver oracle: the static centroid
    # literals in _semantic_centroids.py must be EXACTLY what the runtime
    # fit recomputes on the same sf dir (the fit is partition-independent
    # fixed-point arithmetic, so inequality means the fit code moved and
    # tools/gen_semantic_oracle.py must be re-run).
    from wnba_data_pipeline_spark.operators._semantic_centroids import CENTROIDS_BY_SF

    sf_name = os.path.basename(SF_ORACLE.rstrip("/"))
    if sf_name not in CENTROIDS_BY_SF:
        pytest.skip(f"no checked-in centroids for {sf_name}")
    model = clustering.kmeans_fit(similarity._augmented_corpus(spark, SF_ORACLE))
    assert model.centroids == CENTROIDS_BY_SF[sf_name]


def test_sd_cells_scale_with_corpus():
    """The funnel's semantic-dedup cell count follows k ~ n/SD_CELL_TARGET
    (bounded per-cell pair volume at scale) while degenerate corpora keep
    k <= n and small corpora keep the SD_K test dial."""
    from wnba_data_pipeline_spark.operators.clustering import (
        SD_CELL_TARGET,
        SD_K,
        sd_cells_for,
    )

    assert sd_cells_for(1) == 1
    assert sd_cells_for(3) == 3  # capped at n: k-means needs k seeds
    assert sd_cells_for(500) == SD_K
    assert sd_cells_for(29_239) == -(-29_239 // SD_CELL_TARGET)
    # per-probed-cell membership stays ~SD_CELL_TARGET as n grows 100x
    for n in (10_000, 100_000, 1_000_000):
        k = sd_cells_for(n)
        assert n / k <= SD_CELL_TARGET + SD_CELL_TARGET // 8


def test_semantic_pairs_gram_path_matches_join_path(spark):
    """The funnel's gram physics (per-cell numpy Gram via applyInPandas)
    reports exactly the join path's pairs with the same 6-decimal cosines
    over the planted-near-dup corpus."""
    from wnba_data_pipeline_spark.operators.clustering import semantic_pairs

    aug = similarity._augmented_corpus(spark, SF_ORACLE)
    join_rows = sorted(
        tuple(r) for r in semantic_pairs(aug, path="join").collect()
    )
    gram_rows = sorted(
        tuple(r) for r in semantic_pairs(aug, path="gram").collect()
    )
    assert join_rows == gram_rows
    assert join_rows, "planted corpus unexpectedly produced no pairs"


def test_sd_fit_mod_keeps_points_per_cell():
    """The funnel's fit-sample dial: ~SD_FIT_PER_CELL points per cell in
    the scaled-k regime, no sampling for small corpora, and the sample
    never shrinks below one point per cell."""
    from wnba_data_pipeline_spark.operators.clustering import (
        SD_FIT_PER_CELL,
        sd_cells_for,
        sd_fit_mod_for,
    )

    assert sd_fit_mod_for(290, sd_cells_for(290)) == 1  # test corpora: exact fit
    for n in (50_000, 878_353, 10_000_000):
        k = sd_cells_for(n)
        mod = sd_fit_mod_for(n, k)
        sample = n // mod
        assert sample >= k  # k-means needs k seeds
        # points per cell stays in a stable band around the dial
        assert SD_FIT_PER_CELL / 2 <= sample / k <= SD_FIT_PER_CELL * 2


def test_kmeans_farthest_init_unmerges_what_hash_init_merges(spark):
    """Round 9: the measured failure mode of uniform hash seeding on
    macro-clustered data — two seeds in one cluster never un-merge under
    Lloyd's (BENCH_SCALE_r09 ivfpq_clustered cells [5000, 5000, 2500...]).
    The deterministic farthest-point init must place one seed per planted
    cluster and recover the pure partition; the default stays "hash"
    (every checked-in fitted fixture pins it)."""
    rng = np.random.default_rng(11)
    centers = rng.normal(0.0, 5.0, (8, DIM))
    n = 800
    rows = [
        (int(i), [float(x) for x in centers[i % 8] + rng.normal(0.0, 0.3, DIM)])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    model = kmeans_fit(df, k=8, max_iter=5, init="farthest")
    assigned = assign_clusters(df, model.centroids).select("vec_id", "cluster").collect()
    by_true = {}
    for r in assigned:
        by_true.setdefault(r["vec_id"] % 8, set()).add(r["cluster"])
    assert all(len(cells) == 1 for cells in by_true.values()), by_true  # pure
    assert len(set().union(*by_true.values())) == 8  # one cell per cluster
    # determinism: seed ranks and the traversal are exact, so a refit is too
    refit = kmeans_fit(df, k=8, max_iter=5, init="farthest")
    assert refit.centroids == model.centroids

"""Distributed k-means over embedding columns + SemDeDup-style semantic
near-dedup (cluster the corpus by its own geometry, then search for
near-duplicates only WITHIN each cluster).

LLM-training-data operators beyond the reference's surface (the reference
has no vector data; its nearest analog is the sklearn feature matrix in
``model_training.py:68-69``). Completes the near-dup family in
``operators/dedup.py`` / ``operators/similarity.py``:

- exact all-pairs cosine  (``q_emb_near_dup``      — ground-truth baseline)
- banded SRP-LSH buckets  (``q_emb_near_dup_bucketed`` — data-INdependent)
- k-means clusters        (``q_semantic_dedup`` here    — data-DEPENDENT,
  the SemDeDup shape: random hyperplanes can split a dense region across
  buckets; centroids follow the density, so near-identical vectors land in
  the same cell unless they straddle a Voronoi boundary)

Execution model: the FIT runs on the driver. ``kmeans_fit`` collects its
hash-sampled training frame once, through Arrow (``_collect_fit_sample``,
bounded by ``FIT_SAMPLE_MAX_VALUES``), and runs seeding, farthest-point
init and every Lloyd's iteration in numpy on that one array — one Spark
job per fit, where a per-iteration scan + aggregate paid Spark's per-job
floor for a few hundred vectors. Only ASSIGNMENT touches the full corpus,
as one zero-shuffle map: k folds over the array column (all JVM-side, no
Python) at small k, an Arrow-batched numpy argmin above it.

Determinism contract: per-component centroid sums are FIXED-POINT —
``floor(x * 10^9 + 0.5)`` as int64, summed exactly — so the centroid
update is exact integer arithmetic, independent of row order, and
bit-replicable by the numpy reference in ``tests/test_clustering.py``
(same quantization, same left-fold distance). The quantizer is
``floor(y + 0.5)`` SPELLED OUT, not a native round(): half-modes differ
across engines (BigDecimal HALF_UP vs numpy HALF_EVEN) in last-ulp cases.
Distances use the 0.0-seeded per-component left fold wherever the Spark
expression path would run (``_expr_path_ok``), so the fit and the
expression assignment cannot disagree on a cell; above that shape the gemm
expansion takes over (see ``_nearest``).

Scale posture (100 TB):
- fit: pass ``sample_mod > 1`` to fit on a deterministic hash-sample
  (md5("kms:" || id) % mod == 0 — uniform over ANY id space, unlike a raw
  id modulus) and assign the full corpus once afterwards — the standard
  big-data k-means recipe. The collected sample holds at most
  ``FIT_SAMPLE_MAX_VALUES`` values: 524,288 rows at dim 64. A sample over
  that budget costs one count of the gated frame, and the fit is retaken
  once at the modulus the count implies (the samples nest: mod f·m ⊂
  mod m); the modulus used is recorded in ``KMeansModel.sample_mod`` and
  logged. A k the budget cannot seed raises ``ValueError``. Driver memory
  is the sample plus ``ROW_BLK`` × ``KBLK`` distance blocks.
- largest corpus each fit trains on as its caller asked, at dim 64 (the
  arithmetic of the budget; the fits were measured at fixture scale, ≤ 2 k
  vectors, and up to the funnel geometry of a 1 M-doc corpus, see
  ``FIT_SAMPLE_MAX_VALUES``): ``kmeans_fit`` / ``pq.pq_fit``, a sample of
  524,288 rows at the caller's ``sample_mod``; the curation funnel's
  semantic fit (k = n/512, sample ≈ n/8), ~4.2 M docs — past it the cells
  get fewer than ``SD_FIT_PER_CELL`` training points, and near 250 M docs
  k outgrows the budget and the fit raises; ``pq.ivfpq_fit``'s auto
  geometry (sample ≈ 64 points × 4√n cells), ~4.2 M vectors — past it
  fewer than 64 points per cell.
- k: the ASSIGNMENT has two physical paths switched on ``_expr_path_ok``:
  unrolled JVM fold expressions at small k (zero Python), an Arrow-batched
  numpy argmin (``_batch_assign_fn``) above it — the shape
  production-SemDeDup k ~ 10k+ requires, bit-identical to the expression
  path by construction and equality-tested.
- semantic dedup: within-cell all-pairs is quadratic per cluster, so
  k must scale with the corpus (k ~ N / target_cell_size keeps per-cell
  candidate counts bounded — production SemDeDup uses 10k+ cells); the
  candidate join shuffles on the cluster id only.
- int64 fixed-point sums are exact while rows-per-cell × max|x| stays
  under ~9·10^9 (e.g. 400 k rows of |x| < 2·10^4); embeddings are O(1).
"""

from __future__ import annotations

import heapq
import logging
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, md5_long_py
from ..sources.tables import collect_bounded
from .similarity import DIM, _augmented_corpus, _cosine_sql, _dot

# fixed-point scales: components are O(1) floats, so round(x*1e9) is exact
# in a double (|x|*1e9 << 2^53) and loses nothing that matters to a mean
COMP_SCALE = 10**9
INERTIA_SCALE = 10**6

SD_K = 8  # semantic-dedup cells for the test corpus (~500 rows; see module doc)
# Production dial: cells SCALE WITH THE CORPUS so per-cell membership (and
# with it the within-cell pair volume, which is quadratic in cell size)
# stays bounded as n grows — k ≈ n / SD_CELL_TARGET, floored at SD_K.
# Round-8 measured negative of the fixed-k dial: the sf1 curation funnel's
# semantic near-dedup stage at k=8 spent 434 s generating ~1e8 within-cell
# candidate pairs over 29k docs (10x the corpus, ~29x the wall of sf0.1);
# scaled k keeps candidate volume linear in n. (The assignment's physical
# path is chosen independently by the k x dim term budget below.)
SD_CELL_TARGET = 512
# Fit-on-sample dial for the scaled-k regime: with k ~ n/512 a full-corpus
# Lloyd's pass costs O(n·k) distance work per iteration. The funnel
# therefore fits on a deterministic hash-sample sized ~SD_FIT_PER_CELL
# points per cell (kmeans_fit(sample_mod=...)) and pays the full-corpus
# cost exactly once, in the final probe assignment. 64 points per cell
# keeps centroid estimates stable while shrinking the fit input by
# n/(64k) ≈ 8x whenever the k-scaling dial is active; small corpora
# (mod == 1) fit on every row.
SD_FIT_PER_CELL = 64

# Value budget (rows × dim) of the one Arrow collect a fit makes of its
# hash-sampled training frame: 2^25 doubles ≈ 268 MB on the driver,
# 524,288 rows at dim 64. The auto geometries reach it at ~4.2 M vectors
# (ivfpq_fit: ~256·√n rows; the curation semantic fit: ~n/8 rows); see the
# module docstring for what happens past it. Measured on a 4-core host at
# the funnel geometry of a 1 M-doc corpus (k = 1954, sample_mod 7,
# 142 k × 64 sample): collect 4.8 s, 4 Lloyd's iterations 13.8 s, driver
# RSS 437 MB; with the budget patched to 65,536 rows the same fit took
# probe + count + collect 10.2 s at sample_mod 21. Lloyd's work grows as
# rows × k; a fit at the budget (524 k rows, k ≈ 8 k at 4.2 M docs) has
# not been run.
FIT_SAMPLE_MAX_VALUES = 1 << 25


def sd_fit_mod_for(n: int, k: int) -> int:
    """Deterministic hash-sample modulus for the funnel's k-means fit:
    keeps ~SD_FIT_PER_CELL sample points per cell, never samples below
    one-point-per-cell, and disables sampling (mod 1) for small corpora."""
    return max(1, n // (SD_FIT_PER_CELL * k))


def sd_cells_for(n: int) -> int:
    """Semantic-dedup cell count for an n-doc corpus: n/SD_CELL_TARGET,
    floored at SD_K, capped at n (k-means needs k distinct seeds)."""
    return max(min(SD_K, n), min(n, (n + SD_CELL_TARGET - 1) // SD_CELL_TARGET))


SD_ITERS = 4
SD_THRESHOLD = 0.9  # same near-dup bar as q_emb_near_dup
SD_NPROBE = 2  # cells probed per vector in the dedup candidate join — the
# recall dial: with 1 probe a near-dup pair straddling a Voronoi boundary is
# lost (measured 27/32 planted pairs at sf0.01); with the top-2 cells both
# sides of a boundary-straddling pair overlap (measured 32/32), at ~nprobe²×
# the candidate volume — still k/nprobe² times under all-pairs


def _sqdist(v: Column, centroid: list[float]) -> Column:
    """Squared L2 distance to a literal centroid as an index-based LEFT FOLD
    ``acc + d*d`` (0.0-seeded) — the association order is part of the
    cross-engine/cross-reference determinism contract."""
    diffs = F.transform(
        F.sequence(F.lit(0), F.lit(len(centroid) - 1)),
        lambda i: F.element_at(v, i + F.lit(1)).cast("double")
        - F.element_at(F.array(*[F.lit(c) for c in centroid]), i + F.lit(1)),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, d: acc + d * d)


def _sqdist_sql(v: str, centroid: list[float]) -> str:
    """DuckDB twin of ``_sqdist`` — unrolled flat left-associative sum (same
    association as the 0.0-seeded fold; indexing literal lists inside
    list_transform is pathological in DuckDB, see ``_nd_band_key_sql``)."""
    terms = [
        f"((CAST({v}[{i + 1}] AS DOUBLE) - ({c!r})) * (CAST({v}[{i + 1}] AS DOUBLE) - ({c!r})))"
        for i, c in enumerate(centroid)
    ]
    return "(" + " + ".join(terms) + ")"


def _assignment_cols(vec: Column, centroids: list[list[float]]) -> tuple[Column, Column]:
    """(cluster id, min squared distance). First-min tie-break via
    array_position — deterministic, and bitwise-identical to the reference
    implementation's argmin-of-left-folds."""
    dists = F.array(*[_sqdist(vec, c) for c in centroids])
    mind = F.array_min(dists)
    cluster = (F.array_position(dists, mind) - 1).cast("int")
    return cluster, mind


# Beyond this k the expression path stops being the right physical shape:
# the plan carries k x dim centroid literals and k unrolled fold chains
# (analysis/codegen cost grows linearly in k, and production SemDeDup wants
# k ~ 10k+ cells). Above it, assignment switches to an Arrow-batched
# numpy argmin over the same centroids (``_batch_assign_fn``) —
# equality-tested (tests/test_clustering.py: both paths agree exactly at
# k=8, and a k=256 fit is bit-exact vs the numpy reference).
KM_EXPR_MAX_K = 64
# Round 8: the switch must weigh k x dim, not k alone — the expression
# path's per-row cost is the FULL unrolled term count (k fold chains of
# dim multiply-adds, evaluated as a Catalyst expression tree once the
# generated method blows past JIT limits), while the Arrow path amortizes
# the same arithmetic into one numpy (rows x dim) @ (dim x k) matmul per
# batch. Measured at sf1 (n=20k, dim=64): k=40 on the expression path
# spent 268 s in probe_assignments and 11 s per fit iteration; the same
# shapes through Arrow run in low single-digit seconds. 512 terms keeps
# the k=8 x dim=64 test dial (the registry query's fitted-centroid shape,
# measured fine through seven rounds) on the zero-shuffle path and hands
# anything bigger to Arrow.
KM_EXPR_TERM_BUDGET = 512


def _expr_path_ok(centroids) -> bool:
    k = len(centroids)
    return k <= KM_EXPR_MAX_K and k * len(centroids[0]) <= KM_EXPR_TERM_BUDGET


# Block sizes of ``_nearest``: each distance block is at most
# ROW_BLK × KBLK doubles (16 MB), whatever the row count or k. At the auto
# IVF-PQ geometry (k ≈ 5.7 k) an unblocked (rows × k) matrix per Arrow
# batch was ~450 MB and stalled the encode stage at sf100 (round 11).
ROW_BLK = 4096
KBLK = 512


def _fold_sqdists(X, C):
    """(rows × k) squared distances accumulated COMPONENT-BY-COMPONENT in
    index order from 0.0 — elementwise IEEE doubles in the association of
    ``_sqdist``'s left fold (array<float> inputs widen f32→f64 exactly in
    both), so every numpy path that ranks by these agrees bit-for-bit
    with the Spark expressions and their DuckDB twins."""
    import numpy as np

    D = np.zeros((len(X), len(C)))
    for d in range(X.shape[1]):
        diff = X[:, d, None] - C[None, :, d]
        D += diff * diff
    return D


def _nearest(X, C):
    """(index, squared distance) of each row's nearest centroid, first
    minimum on ties (≡ ``array_position``). The kernel follows the
    centroids: the left fold where ``_expr_path_ok`` holds
    (bit-identical to the expression path by construction) and the gemm
    expansion ||x||² − 2x·c + ||c||² above it — BLAS associates
    differently, so identity with the fold is measured (the k=256 and
    ksub=96 numpy-reference tests are its canaries), not structural; it
    cut the 1 M-vector coarse fit iterations 230→18 s and the encode
    271.8→37.1 s with identical outputs (BENCH_SCALE_r13). A later block
    replaces the running best only when strictly smaller, which keeps the
    first minimum across blocks."""
    import numpy as np

    C = np.asarray(C, dtype=np.float64)
    gemm = not _expr_path_ok(C)
    CT = np.ascontiguousarray(C.T)
    c2 = (C * C).sum(axis=1) if gemm else None
    idx = np.zeros(len(X), dtype=np.int64)
    dist = np.full(len(X), np.inf)
    for r0 in range(0, len(X), ROW_BLK):
        Xb = X[r0 : r0 + ROW_BLK]
        best_i, best_d = idx[r0 : r0 + ROW_BLK], dist[r0 : r0 + ROW_BLK]  # views
        rows = np.arange(len(Xb))
        for k0 in range(0, len(C), KBLK):
            k1 = min(k0 + KBLK, len(C))
            if gemm:  # ||x||² is constant per row — added after the argmin
                Db = c2[None, k0:k1] - 2.0 * (Xb @ CT[:, k0:k1])
            else:
                Db = _fold_sqdists(Xb, C[k0:k1])
            bi = Db.argmin(axis=1)
            bd = Db[rows, bi]
            upd = bd < best_d
            best_d[upd] = bd[upd]
            best_i[upd] = bi[upd] + k0
        if gemm:  # the true distance, clamped against round-off
            best_d[:] = np.maximum(best_d + (Xb * Xb).sum(axis=1), 0.0)
    return idx, dist


def _batch_assign_fn(centroids: list[list[float]], vec_col: str, out_col: str):
    """mapInPandas generator: append the nearest-centroid id (``_nearest``).
    Scale shape: zero-shuffle map stage; per-task memory is one Arrow
    batch plus the k × dim centroid matrix, which rides to executors once
    per task via the closure."""
    import numpy as np

    def assign(batches):
        C = np.asarray(centroids, dtype=np.float64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            out = pdf.copy()
            out[out_col] = _nearest(X, C)[0].astype(np.int32)
            yield out

    return assign


def _sample_gate(df: DataFrame, id_col: str, mod: int) -> DataFrame:
    """The fit's hash-sample: rows with md5("kms:" || id) % mod == 0. The
    gate is md5-HASHED, not a raw ``id % mod``: id spaces with modular
    structure (all-odd ids, strided generators) would leave a raw-modulo
    sample empty or biased, while the hash gate is uniform over any id
    space and reshuffle-proof (same recipe as ``text.sample_gate``; "kms:"
    de-correlates it from the seed ranks). Samples nest: mod 2m ⊂ mod m."""
    if mod <= 1:
        return df
    return df.filter(md5_long(F.concat(F.lit("kms:"), F.col(id_col).cast("string"))) % mod == 0)


def _collect_bounded(df: DataFrame, id_col: str, vec_col: str):
    """(ids, X) of ``df`` in ONE Arrow collect, bounded so the job never
    returns more than FIT_SAMPLE_MAX_VALUES // DIM + 1 rows; None when the
    frame is over the value budget."""
    import numpy as np

    pdf = collect_bounded(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")),
        FIT_SAMPLE_MAX_VALUES // DIM,
    )
    if pdf is None:
        return None
    X = np.array(pdf["_v"].tolist(), dtype=np.float64)
    return (pdf["_id"].tolist(), X) if X.size <= FIT_SAMPLE_MAX_VALUES else None


def _collect_fit_sample(df: DataFrame, *, id_col: str, vec_col: str, sample_mod: int, k: int):
    """(ids, X, sample_mod): the ``_sample_gate`` sample of ``df`` on the
    driver, holding at least the k rows a fit seeds from. A sample over
    the value budget is dropped (each task of the over-budget probe stops
    at the limit), the gated frame is counted once, and the sample is
    retaken at the modulus that puts it at 15/16 of the budget's rows —
    a margin of dozens of standard deviations of the hash sample's size;
    a sample still over it (wider vectors than ``DIM``) doubles the
    modulus. The modulus finally used is returned."""
    max_rows = FIT_SAMPLE_MAX_VALUES // DIM
    if k > max_rows:
        raise ValueError(
            f"k={k} exceeds the {max_rows} rows FIT_SAMPLE_MAX_VALUES={FIT_SAMPLE_MAX_VALUES} lets a fit collect"
        )
    mod = max(1, sample_mod)
    got = _collect_bounded(_sample_gate(df, id_col, mod), id_col, vec_col)
    if got is None:
        n = _sample_gate(df, id_col, mod).count()
        mod *= max(2, -(-n * 16 // (max_rows * 15)))
        while (got := _collect_bounded(_sample_gate(df, id_col, mod), id_col, vec_col)) is None:
            mod *= 2
        logging.getLogger(__name__).warning(
            "fit sample over %d values at sample_mod=%d; fitted at sample_mod=%d",
            FIT_SAMPLE_MAX_VALUES, sample_mod, mod,
        )
        if len(got[0]) < k:
            raise ValueError(
                f"the fit sample that fits FIT_SAMPLE_MAX_VALUES={FIT_SAMPLE_MAX_VALUES} "
                f"(sample_mod={mod}) has {len(got[0])} rows; need k={k} seeds"
            )
    return (*got, mod)


def _seed_rows(ids: list, tag: str, k: int) -> list[int]:
    """Row positions of the k smallest (md5(tag || ':' || id), id) — the
    deterministic, data-independent seed pick."""
    keys = [(md5_long_py(f"{tag}:{i}"), i) for i in ids]
    return heapq.nsmallest(k, range(len(keys)), key=keys.__getitem__)


def _farthest_rows(ids: list, X, first: int, k: int) -> list[int]:
    """Gonzalez farthest-point traversal from row ``first``: k-1 times pick
    argmax_x min_c d²(x, c) under the fold distance; NaN distances first
    (Spark sorts NaN above every double), ties to the lowest id."""
    import numpy as np

    rows = [first]
    best = _fold_sqdists(X, X[first : first + 1])[:, 0]
    for _ in range(k - 1):
        nan_rows = np.flatnonzero(np.isnan(best))
        cand = nan_rows if len(nan_rows) else np.flatnonzero(best == best.max())
        rows.append(min(cand, key=lambda j: ids[j]))
        best = np.minimum(best, _fold_sqdists(X, X[rows[-1] : rows[-1] + 1])[:, 0])
    return rows


@dataclass
class KMeansModel:
    centroids: list[list[float]]  # k x dim
    n_iter: int  # iterations actually run
    inertia: list[float]  # per-iteration total inertia (pre-update)
    sizes: dict[int, int]  # final cluster -> row count
    converged: bool  # centroids reached an exact fixed point
    sample_mod: int = 1  # hash-sample modulus the fit trained on


def _lloyd(
    ids: list,
    X,
    *,
    k: int,
    max_iter: int,
    seed_tag: str = "km",
    init: str = "hash",
    sample_mod: int = 1,
) -> KMeansModel:
    """Lloyd's k-means on the driver over a collected sample (``ids`` and
    the rows × dim array ``X``) — the algorithm ``kmeans_fit`` documents.
    Centroid sums are exact int64 fixed-point (module docstring)."""
    import numpy as np

    if len(X) < k:
        raise ValueError(f"corpus has only {len(X)} rows; need k={k} seeds")
    seeds = _seed_rows(ids, seed_tag, k)
    if init == "farthest":
        seeds = _farthest_rows(ids, X, seeds[0], k)
    elif init != "hash":
        raise ValueError(f"unknown init: {init!r}")
    C = X[seeds]
    Q = np.floor(X * COMP_SCALE + 0.5).astype(np.int64)
    inertia: list[float] = []
    sizes: dict[int, int] = {}
    converged, n_iter = False, 0
    for n_iter in range(1, max_iter + 1):
        cl, mind = _nearest(X, C)
        inertia.append(int(np.floor(mind * INERTIA_SCALE + 0.5).astype(np.int64).sum()) / INERTIA_SCALE)
        counts = np.bincount(cl, minlength=k)
        full = np.flatnonzero(counts)  # empty clusters keep their centroid
        starts = np.cumsum(counts)[full] - counts[full]
        sums = np.add.reduceat(Q[np.argsort(cl, kind="stable")], starts, axis=0)
        sizes = {int(j): int(counts[j]) for j in full}
        new = C.copy()
        new[full] = sums / (COMP_SCALE * counts[full])[:, None]
        if np.array_equal(new, C):
            converged = True
            break
        C = new
    return KMeansModel(C.tolist(), n_iter, inertia, sizes, converged, sample_mod)


def kmeans_fit(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = SD_K,
    max_iter: int = SD_ITERS,
    sample_mod: int = 1,
    seed_tag: str = "km",
    init: str = "hash",
) -> KMeansModel:
    """Lloyd's k-means on an ``array<float|double>`` column of ANY length
    (``seed_tag`` de-correlates the seed picks of fits over one id
    space). One Spark job: the (``sample_mod``-gated) frame is collected
    once (``_collect_fit_sample``) and everything after runs in numpy.

    Seeds (``init="hash"``, the default every checked-in fixture pins):
    the k rows with the smallest md5(seed_tag || ':' || id) —
    deterministic and data-independent. That is a uniform pick, and on a
    corpus with well-separated macro clusters it fails the classic way:
    two seeds land in one cluster and Lloyd's never un-merges them
    (measured on the planted 8-cluster probe: cell sizes [5000, 5000,
    2500, ...], BENCH_SCALE_r09 ``ivfpq_clustered``). ``init="farthest"``
    is the deterministic fix: Gonzalez farthest-point traversal (the
    k-center heuristic; the derandomized cousin of k-means++'s D²
    sampling) — first seed is the hash-smallest row, each next seed is
    the row MAXIMIZING distance to its nearest chosen seed (ties: lowest
    id). It costs k passes over the sample — the right trade for coarse
    quantizers (small k); the k≈n/512 semantic-cell fits keep uniform
    seeding (cells there are a partition dial, not a structure claim).
    ``ivfpq_fit`` passes "farthest" at small k.

    Each iteration assigns every sample row to its nearest centroid and
    rebuilds centroids from exact fixed-point sums (module docstring).
    Empty clusters keep their previous centroid. Stops early when the
    quantized centroids reach an exact fixed point."""
    ids, X, sample_mod = _collect_fit_sample(df, id_col=id_col, vec_col=vec_col, sample_mod=sample_mod, k=k)
    return _lloyd(ids, X, k=k, max_iter=max_iter, seed_tag=seed_tag, init=init, sample_mod=sample_mod)


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    out_col: str = "cluster",
    path: str | None = None,
) -> DataFrame:
    """Add the nearest-centroid cell id — a zero-shuffle map either way.
    ``path`` picks the physical shape: ``"expr"`` (unrolled JVM folds —
    zero Python, right at small k), ``"pandas"`` (Arrow-batched numpy
    argmin — right at production-SemDeDup k), or None to switch on
    ``KM_EXPR_MAX_K``. Both paths produce bit-identical ids
    (equality-tested). Also the trained coarse-quantizer upgrade path for
    ``q_sim_ivf``'s hash-sampled cells (same probe, better-placed cells).

    The pandas path round-trips every input column through Arrow, so it
    expects Arrow-compatible schemas (all of ours are)."""
    if path is None:
        path = "expr" if _expr_path_ok(centroids) else "pandas"
    if path == "expr":
        cluster, _ = _assignment_cols(F.col(vec_col), centroids)
        return df.withColumn(out_col, cluster)
    if path != "pandas":
        raise ValueError(f"unknown assignment path: {path!r}")
    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(list(df.schema.fields) + [StructField(out_col, IntegerType())])
    return df.mapInPandas(_batch_assign_fn(centroids, vec_col, out_col), out_schema)


def _probe_cells(vec: Column, centroids: list[list[float]], nprobe: int) -> Column:
    """Array of the nprobe NEAREST cell ids: (distance, index) structs sorted
    ascending — array_sort orders struct fields lexicographically, so ties in
    distance break on the lower cell index, deterministically and identically
    to the DuckDB twin's list_sort over the same structs."""
    dists = F.array(*[_sqdist(vec, c) for c in centroids])
    ranked = F.array_sort(
        F.transform(
            F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
            lambda j: F.struct(F.element_at(dists, j + F.lit(1)).alias("d"), j.alias("i")),
        )
    )
    return F.slice(F.transform(ranked, lambda s: s.getField("i")), 1, nprobe)


def _batch_probe_fn(centroids: list[list[float]], vec_col: str, cell_col: str, nprobe: int):
    """mapInPandas generator for the multi-probe expansion at large k:
    nprobe output rows per input row, cells = the nprobe nearest centroids.
    Stable argsort ties break on the lower cell index — exactly the
    (distance, index) struct sort of ``_probe_cells``; distances are the
    left fold (``_fold_sqdists``)."""
    import numpy as np

    def probe(batches):
        C = np.asarray(centroids, dtype=np.float64)
        # clamp to the cell count (ADVICE r15): matches the expression
        # branch, whose F.slice degrades to "all k cells" for nprobe > k
        np_eff = min(nprobe, len(C))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            order = np.argsort(_fold_sqdists(X, C), axis=1, kind="stable")[:, :np_eff]
            out = pdf.loc[pdf.index.repeat(np_eff)].copy()
            out[cell_col] = order.astype(np.int32).ravel()
            yield out

    return probe


def probe_assignments(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    nprobe: int = SD_NPROBE,
    path: str | None = None,
    out_col: str = "cell",
) -> DataFrame:
    """One row per (vector, probed cell) — the multi-probe inverted-list
    expansion (still a zero-shuffle map; the fan-out is nprobe, not k).
    Physical path switches on ``KM_EXPR_MAX_K`` like ``assign_clusters``:
    the sorted-struct expression at small k, the Arrow-batched stable
    argsort above it (identical cells — equality-tested). ``out_col``
    names the probed-cell column (round-10 advice fix: callers like
    ``ivfpq_search`` take a configurable cell column and must be able to
    pass it through instead of getting an AnalysisException downstream)."""
    if path is None:
        path = "expr" if _expr_path_ok(centroids) else "pandas"
    if path == "expr":
        return df.withColumn(out_col, F.explode(_probe_cells(F.col(vec_col), centroids, nprobe)))
    if path != "pandas":
        raise ValueError(f"unknown probe path: {path!r}")
    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(list(df.schema.fields) + [StructField(out_col, IntegerType())])
    return df.mapInPandas(_batch_probe_fn(centroids, vec_col, out_col, nprobe), out_schema)


# ---------------------------------------------------------------------------
# SemDeDup: k-means cells -> within-cell cosine near-dup pairs
# ---------------------------------------------------------------------------


# Peak float64 elements per Gram block (~128 MB): the blocked loop below
# bounds executor memory for ANY cell size — sd_cells_for bounds the
# AVERAGE cell, but Lloyd's puts no ceiling on a hot cell over a dense
# semantic region, and an unblocked m x m gram at m=100k would be 80 GB.
# (The PAIR volume of a hot cell is still quadratic — that is SemDeDup's
# within-cell semantics, not a memory property.)
GRAM_BLOCK_ELEMS = 1 << 24


def _cell_screen_fn(margin_threshold: float):
    """Per-cell candidate SCREEN for the oracle-exact join path (round 15):
    like ``_gram_cell_pairs`` but emits only (vec_a, vec_b) id pairs at the
    margin-lowered threshold — the exact fold cosine, final filter and
    rounding happen downstream in the JVM on the survivors, so the screen
    only needs to be conservative, never exact. Same blocked-gram memory
    bound as the gram path."""

    def fn(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"vec_a": [], "vec_b": []}).astype(
            {"vec_a": "int64", "vec_b": "int64"}
        )
        m = len(pdf)
        if m < 2:
            return empty
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        x /= pdf["norm"].to_numpy()[:, None]
        cols = np.arange(m)
        block = max(1, GRAM_BLOCK_ELEMS // m)
        parts = []
        for i0 in range(0, m - 1, block):
            i1 = min(i0 + block, m)
            g = x[i0:i1] @ x.T
            keep = (g >= margin_threshold) & (cols[None, :] > np.arange(i0, i1)[:, None])
            bi, bj = np.nonzero(keep)
            if len(bi):
                parts.append(pd.DataFrame({"vec_a": ids[bi + i0], "vec_b": ids[bj]}))
        return pd.concat(parts, ignore_index=True) if parts else empty

    return fn


def _gram_cell_pairs(asg: DataFrame, *, threshold: float) -> DataFrame:
    """(vec_id, embedding, norm, cell) → (vec_a, vec_b, cosine): per-cell
    Gram-matrix pair generation (the ``path="gram"`` physics — see
    ``semantic_pairs``). One Arrow batch per cell; the strict upper
    triangle of the normalized gram is thresholded in numpy, in row
    blocks of ≤GRAM_BLOCK_ELEMS elements so memory stays bounded on
    skewed cells. Surviving cosines are quantized with the repo's
    standard ``floor(x·1e6 + 0.5)/1e6`` fixed-point rounding (the _dsum
    quantizer — deliberately NOT numpy's half-even ``np.round``, which
    diverges from the join path's HALF_UP contract on dyadic midpoints),
    and the quantized value is identical whichever probed cell a pair is
    seen in, so the cross-cell dedup can aggregate MIN(cosine) safely.
    Gram↔join pair equality is pinned in tests/test_clustering.py."""

    def fn(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
            {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
        )
        m = len(pdf)
        if m < 2:
            return empty
        # sort by vec_id so col > row always means id_a < id_b
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        x /= pdf["norm"].to_numpy()[:, None]
        cols = np.arange(m)
        block = max(1, GRAM_BLOCK_ELEMS // m)
        parts = []
        for i0 in range(0, m - 1, block):
            i1 = min(i0 + block, m)
            g = x[i0:i1] @ x.T  # (i1-i0) x m
            keep = (g >= threshold) & (cols[None, :] > np.arange(i0, i1)[:, None])
            bi, bj = np.nonzero(keep)
            if len(bi):
                # sign-aware HALF_UP (round-9 advice fix): floor(x*1e6+0.5)
                # matches Spark's HALF_UP round only for x >= 0; a negative
                # threshold would let negative midpoint cosines through and
                # diverge from the join path's F.round
                v = g[bi, bj]
                cos = np.copysign(np.floor(np.abs(v) * 1e6 + 0.5), v) / 1e6
                parts.append(
                    pd.DataFrame(
                        {"vec_a": ids[bi + i0], "vec_b": ids[bj], "cosine": cos}
                    )
                )
        return pd.concat(parts, ignore_index=True) if parts else empty

    return (
        asg.groupBy("cell")
        .applyInPandas(fn, "vec_a long, vec_b long, cosine double")
        .groupBy("vec_a", "vec_b")
        .agg(F.min("cosine").alias("cosine"))
    )


def semantic_pairs(
    corpus: DataFrame,
    *,
    k: int = SD_K,
    max_iter: int = SD_ITERS,
    threshold: float = SD_THRESHOLD,
    nprobe: int = SD_NPROBE,
    path: str = "join",
    fit_sample_mod: int = 1,
) -> DataFrame:
    """(vec_id, embedding, norm) → near-dup pairs (vec_a, vec_b, cosine):
    fit k-means on the corpus's own geometry, expand every vector to its
    nprobe nearest cells, report pairs sharing any probed cell with cosine
    >= threshold. The reusable transform behind ``q_semantic_dedup`` and
    the curation funnel's ``near_dedup="semantic"`` stage
    (``plans/curation.py``). The fit runs eagerly (one bounded collect,
    then Lloyd's in numpy on the driver — ``kmeans_fit``); the pair plan
    is lazy.

    ``path`` picks the within-cell pair physics:

    - ``"join"`` (default): a per-cell Gram screen, then a JVM fold
      cosine per surviving candidate. Oracle-exact (the fold is the same
      left-associative sum the DuckDB twin unrolls) — the registry
      query's path.
    - ``"gram"``: one Arrow batch per cell via ``applyInPandas``; the
      cell's cosines come from one numpy Gram matmul. Same pairs (numpy
      dot vs the fold differ only in last-ulp association; both round to
      6 decimals — equality-tested in tests/test_clustering.py), vastly
      faster once cells hold hundreds of members: the join path pays a
      ~10 µs Catalyst lambda fold PER CANDIDATE PAIR (measured 216 s for
      ~20 M candidates at sf1) while the matmul amortizes to nanoseconds.
      Executor memory is the cell's m x m gram — bounded by design
      because ``sd_cells_for`` keeps m ~ SD_CELL_TARGET. The curation
      funnel's production path.

    ``fit_sample_mod``: forwarded to ``kmeans_fit(sample_mod=...)`` — fit
    the cells on a deterministic hash-sample, then assign the FULL corpus
    once (``sd_fit_mod_for`` computes the funnel's dial; 1 = exact
    previous behavior, the registry/oracle default)."""
    model = kmeans_fit(corpus, k=k, max_iter=max_iter, sample_mod=fit_sample_mod)
    # The probe expansion takes the pandas path explicitly: the k=8 × dim=64
    # geometry sits exactly AT the 512-term expression budget of the auto
    # path, and the sorted-struct expression probe measured 1.31 s for
    # 2 400 corpus rows at sf0.1 (~0.55 ms/row interpreted) vs ~0.35 s
    # through Arrow. Cells are identical (stable argsort ≡ the (distance,
    # index) struct sort of the DuckDB twin).
    asg = probe_assignments(corpus, model.centroids, nprobe=nprobe, path="pandas")
    if path == "gram":
        return _gram_cell_pairs(asg, threshold=threshold)
    if path != "join":
        raise ValueError(f"unknown semantic_pairs path: {path!r}")
    # The within-cell candidate pairs come from a per-cell Gram SCREEN at
    # threshold − 1e-9 (one numpy matmul per cell instead of an
    # interpreted 64-term fold per candidate pair — ~3 M folds at sf0.1,
    # measured 26.4 s → ~3 s), and the handful of screen survivors then
    # flow through the exact verify: the 0.0-seeded left-fold dot, norm
    # division, ≥ threshold filter and HALF_UP round. No pair can be lost
    # — prenormalized GEMM vs fold/(na·nb) differ ≤ ~2·DIM·eps ≈ 1e-12 on
    # cosines, 1000× inside the margin — and false positives are dropped
    # by the exact filter, so rows equal the DuckDB twin's
    # shared-cell join (hash-verified at every SF).
    cand = (
        asg.select("cell", "vec_id", "embedding", "norm")
        .groupBy("cell")
        .applyInPandas(_cell_screen_fn(threshold - 1e-9), "vec_a long, vec_b long")
        .distinct()  # a pair can collide in up to nprobe shared cells
    )
    a = corpus.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("_ea"), F.col("norm").alias("_na"))
    b = corpus.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("_eb"), F.col("norm").alias("_nb"))
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn("_cos", _dot(F.col("_ea"), F.col("_eb")) / (F.col("_na") * F.col("_nb")))
        .filter(F.col("_cos") >= threshold)
        .select("vec_a", "vec_b", F.round(F.col("_cos"), 6).alias("cosine"))
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dedup over the planted-near-dup corpus
    (``similarity._augmented_corpus``): ``semantic_pairs`` at the module
    defaults. Output schema matches ``q_emb_near_dup`` exactly
    (vec_a, vec_b, cosine) so recall against the all-pairs baseline is a
    set comparison.

    Same detection bar as the baseline; candidates only narrower, so the
    result is always a subset — tests measure the recall and the pruning
    factor. Survivor selection on the reported pairs is
    ``operators/graph.cluster_survivors`` — identical downstream contract
    to the MinHash path."""
    return semantic_pairs(_augmented_corpus(spark, sf_dir))


def semantic_dedup_pairs_sql(centroids: list[list[float]]) -> str:
    """DuckDB twin of the post-fit stages of ``q_semantic_dedup`` — given
    the fitted centroids as literals, re-derives the multi-probe cell
    expansion, the shared-cell join, and the cosine filter entirely in SQL
    (the fit itself is differentially tested against the numpy reference
    in ``tests/test_clustering.py``). float repr round-trips exactly and
    the distance sums associate identically, so the sorted (distance,
    cell) structs — and therefore the probed cells — cannot disagree."""
    from .similarity import NEAR_VEC_OFFSET, PERTURB_DELTA  # cycle-free local import

    dists = ", ".join(_sqdist_sql("embedding", c) for c in centroids)
    return f"""
WITH aug AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {NEAR_VEC_OFFSET},
         list_transform(range(len(embedding)), i ->
           CASE WHEN i = vec_id % {DIM}
                THEN CAST(embedding[i+1] AS DOUBLE) + {PERTURB_DELTA}
                ELSE CAST(embedding[i+1] AS DOUBLE) END)
  FROM embeddings WHERE vec_id % 5 = 0
), ranked AS (
  SELECT vec_id, embedding,
         list_sort(list_transform(range({len(centroids)}),
                                  j -> {{'d': dl[j + 1], 'i': j}})) AS rk
  FROM (SELECT *, list_value({dists}) AS dl FROM aug)
), assigned AS (
  SELECT vec_id, embedding, unnest(list_transform(rk[1:{SD_NPROBE}], s -> s.i)) AS cell
  FROM ranked
), pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_cosine_sql("a.embedding", "b.embedding")} AS cos
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, round(cos, 6) AS cosine FROM pairs WHERE cos >= {SD_THRESHOLD}
"""


def oracle_semantic_dedup(sf_name: str = "sf0.01") -> str:
    """Static driver oracle for ``semantic_dedup``: the post-fit DuckDB twin
    rendered from the checked-in fitted centroids for ``sf_name``
    (``_semantic_centroids.py``, generated by tools/gen_semantic_oracle.py).
    Valid because the runtime fit is bit-deterministic on a fixed sf dir —
    exact-equality-guarded in tests/test_clustering.py, so the literals can
    only go stale together with a failing test."""
    from ._semantic_centroids import CENTROIDS_BY_SF

    return semantic_dedup_pairs_sql(CENTROIDS_BY_SF[sf_name])


QUERIES = {"semantic_dedup": q_semantic_dedup}
ORACLES = {"semantic_dedup": oracle_semantic_dedup("sf0.01")}

